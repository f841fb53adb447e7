"""Every evaluator emits the one violation-row schema (engine.VIOLATION_SCHEMA):
same names, same order, same types — row rules over nested collections, the
conditional, every table kind, strict and drift, the multi-manifest fused
path and the plugin surface."""

from __future__ import annotations

import pandas as pd
import pytest

from schema_enforcer_spark.engine import VIOLATION_COLUMNS, VIOLATION_SCHEMA, ValidationEngine, validate_many
from schema_enforcer_spark.manifest import manifest_from_dict
from schema_enforcer_spark.plugins import PandasValidator, run_validator

_ROWS = [
    ("a", 0, "user", 1.0, 10, ["ok"], {"ab": 1.0}),
    ("a", 0, "bogus", 2.0, 5, ["toolong"], {"zz": 9.0}),
    ("b", 0, "assistant", 1000.0, 7, None, None),
    ("b", 3, "user", 1.5, 8, ["ok"], {"ab": 2.0}),
]
_DDL = (
    "conv_id string, turn_idx int, role string, score double, ts long, "
    "tags array<string>, attrs map<string,double>"
)

# kind label → the manifest's rules; each fires on _ROWS
CASES = {
    "enum": [{"kind": "enum", "column": "role", "values": ["user", "assistant"]}],
    "items": [{"kind": "items", "column": "tags", "check": "enum", "values": ["ok"]}],
    "prefix_items": [
        {"kind": "prefix_items", "column": "tags", "checks": [{"kind": "enum", "values": ["ok"]}]}
    ],
    "pattern_properties": [
        {"kind": "pattern_properties", "column": "attrs", "pattern": "^a", "additional_properties": False}
    ],
    "property_names": [{"kind": "property_names", "column": "attrs", "check": "pattern", "pattern": "^a"}],
    "conditional": [
        {"kind": "conditional", "when": {"column": "role", "equals": "assistant"},
         "then": {"column": "tags", "required": True}}
    ],
    "unique": [{"kind": "unique", "columns": ["conv_id", "turn_idx"]}],
    "ordering": [
        {"kind": "ordering", "column": "turn_idx", "partition_by": ["conv_id"], "order_by": ["ts"]}
    ],
    "contiguous": [{"kind": "contiguous", "column": "turn_idx", "partition_by": ["conv_id"]}],
    "sequence": [
        {"kind": "sequence", "column": "role", "partition_by": ["conv_id"], "order_by": ["ts"],
         "allowed_transitions": [["user", "assistant"]], "allowed_start": ["user"]}
    ],
    "unique_fused": [
        {"kind": "contiguous", "column": "turn_idx", "partition_by": ["conv_id"]},
        {"kind": "unique", "columns": ["conv_id", "turn_idx"]},
    ],
    "referential": [
        {"kind": "referential", "columns": ["role"], "ref_table": "roles", "ref_columns": ["name"]}
    ],
    "cardinality": [
        {"kind": "cardinality", "columns": ["conv_id"], "ref_table": "convs", "ref_columns": ["id"],
         "min_count": 1}
    ],
    "equals_table_direct": [
        {"kind": "equals_table", "columns": ["conv_id", "turn_idx"], "compare": ["role"],
         "ref_table": "ref", "compare_mode": "direct"}
    ],
    "equals_table_hash": [
        {"kind": "equals_table", "columns": ["conv_id", "turn_idx"], "compare": ["role"],
         "ref_table": "ref", "compare_mode": "hash"}
    ],
    "functional_dependency": [{"kind": "functional_dependency", "columns": ["conv_id"], "dependent": "role"}],
    "outlier": [{"kind": "outlier", "column": "score", "exact": True}],
    "rate_limit": [
        {"kind": "rate_limit", "partition_by": ["conv_id"], "order_by": ["ts"], "window_seconds": 100,
         "max_count": 1}
    ],
    "aggregate": [
        {"kind": "aggregate", "group_by": ["conv_id"], "left": {"fn": "count"}, "operator": "lte", "right": 1}
    ],
    "strict_columns": [{"kind": "strict_columns", "columns": ["conv_id", "turn_idx"]}],
    "drift": [
        {"kind": "drift", "column": "score", "metric": "psi", "threshold": 0.1,
         "baseline": {"lo": 0.0, "hi": 10.0, "bins": 2, "counts": [0, 0, 0, 100]}}
    ],
}


class _LowScore(PandasValidator):
    id = "plugins/low_score"
    key_columns = ["conv_id", "turn_idx"]

    def validate(self, pdf: pd.DataFrame) -> pd.DataFrame:
        return self.fail(pdf, pdf["score"] < 2.0, "score", "score below 2")


def _names_and_types(schema):
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


@pytest.fixture(scope="module")
def frames(spark):
    df = spark.createDataFrame(_ROWS, _DDL)
    refs = {
        "roles": spark.createDataFrame([("user",), ("assistant",)], "name string"),
        "convs": spark.createDataFrame([("a",)], "id string"),
        "ref": spark.createDataFrame([("a", 0, "user"), ("c", 0, "user")], "conv_id string, turn_idx int, role string"),
    }
    return df, refs


def _engine(label, rules):
    m = manifest_from_dict({"id": f"schemas/{label}", "rules": rules})
    return ValidationEngine(m, key_columns=["conv_id", "turn_idx"], instance_expr="conv_id")


@pytest.mark.parametrize("label", sorted(CASES))
def test_evaluator_emits_shared_schema(frames, label):
    df, refs = frames
    out = _engine(label, CASES[label]).violations(df, refs)
    assert _names_and_types(out.schema) == _names_and_types(VIOLATION_SCHEMA)
    assert out.count() > 0, f"{label}: the fixture must make the rule fire"


def test_fused_manifests_emit_shared_schema(frames):
    df, refs = frames
    engines = [_engine("items", CASES["items"]), _engine("conditional", CASES["conditional"])]
    report = validate_many(engines, df, refs, cache_violations=False)
    assert _names_and_types(report.violations.schema) == _names_and_types(VIOLATION_SCHEMA)
    assert report.violations.count() > 0


def test_plugin_emits_shared_schema(frames):
    df, _ = frames
    out = run_validator(df, _LowScore())
    assert out.columns == VIOLATION_COLUMNS
    assert _names_and_types(out.schema) == _names_and_types(VIOLATION_SCHEMA)
    assert out.count() > 0


def test_no_applicable_rule_emits_shared_schema(spark):
    """The only rule names a column the input lacks, so no evaluator runs:
    the empty frame still carries the schema."""
    df = spark.createDataFrame([("a", 0)], "conv_id string, turn_idx int")
    out = _engine("empty", [{"kind": "enum", "column": "absent", "values": ["x"]}]).violations(df)
    assert _names_and_types(out.schema) == _names_and_types(VIOLATION_SCHEMA)
    assert out.count() == 0
