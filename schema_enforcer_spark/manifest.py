"""Constraint-manifest model + loader (the reference's "schema" analogue).

A manifest is the declarative rule set the engine compiles to Catalyst
expressions — the role JSONSchema documents play in the reference
(/root/reference/schema_enforcer/schemas/jsonschema.py:18-34: ``$id``-keyed,
loaded from YAML/JSON). Like the reference, the manifest is itself validated
against a meta-schema before any data work, failing fast
(/root/reference/schema_enforcer/schemas/manager.py:75-77 →
InvalidJSONSchema, exceptions.py:23-38).

Rule kinds cover the reference's Draft-7 surface (SURVEY.md §2.2 P5-P13)
plus the table-grain rules the north star mandates (U1 uniqueness, J4
referential, W1 ordering, A1/A2 aggregate thresholds, A8 drift).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from typing import Any

import jsonschema
import yaml

from schema_enforcer_spark.formats import SUPPORTED_FORMATS


class InvalidManifest(Exception):
    """Manifest failed meta-validation — raised before any Spark job
    (mirrors the reference's InvalidJSONSchema fail-fast,
    /root/reference/schema_enforcer/exceptions.py:23-38)."""

    def __init__(self, errors: list[str]):
        self.errors = errors
        super().__init__("\n".join(errors))


ROW_RULE_KINDS = {
    "type",          # P5
    "required",      # P6
    "format",        # P7
    "pattern",       # P8
    "enum",          # P9
    "range",         # P10  (minimum/maximum/exclusive*)
    "length",        # P11  (minLength/maxLength)
    "multiple_of",   # P11
    "unique_items",  # P13  (array column: elements distinct within the cell)
    "not_empty",     # convenience: required + minLength 1
    "any_of",        # Draft-7 anyOf: value valid under >=1 of the sub-checks
    "all_of",        # Draft-7 allOf: value valid under every sub-check
    "one_of",        # Draft-7 oneOf: valid under exactly 1 sub-check
    "not",           # Draft-7 not: must NOT be valid under the sub-check
    "const",         # Draft-6 const: value must equal the literal
    "contains",      # Draft-6 contains: array holds >=1 element passing check
    "dependent_required",  # Draft-2019 dependentRequired: col present => others present
    "property_names",  # Draft-7 propertyNames over a MAP column: every key
                     # must satisfy `check` (length/pattern/enum/...);
                     # completes the object-keyword family with
                     # pattern_properties + strict_columns
    "property_count",  # Draft-7 minProperties/maxProperties over a MAP
                     # column: entry count within [min_properties,
                     # max_properties], jsonschema message parity
                     # ("does not have enough properties" /
                     # "has too many properties")
    "pattern_properties",  # Draft-7 patternProperties over a MAP column:
                     # entries whose key matches `pattern` get `check`
                     # applied to the value (or value `field`); with
                     # additional_properties: false, non-matching keys are
                     # violations (the reference's interface-name maps,
                     # examples/ansible/schema/schemas/interfaces.yml:9-16)
    "jmespath",      # X2 literal-string parity: the reference's
                     # JmesPathModelValidation expressions verbatim
                     # (validator.py:65-88; fixture check_interfaces.py:15-23)
                     # — `left` (JMESPath string) compared per ROW against
                     # `right` literal or `right_expr` (second expression);
                     # falsy LHS passes, ordering ops compare as ints.
                     # Compiled to one Catalyst HOF expression (map_values/
                     # transform/filter/flatten), rides the zero-shuffle
                     # row-rule projection; unsupported constructs are
                     # rejected at manifest compile time.
    "prefix_items",  # Draft-7 TUPLE form of items (`items: [s0, s1, ...]`
                     # + additionalItems): positional checks on an array
                     # column — element p validated against checks[p];
                     # additional_items: false rejects extra elements with
                     # jsonschema's exact aggregate message, a check dict
                     # validates every element past the prefix
    "items",         # P12/P5 nested: per-element check on an array column
                     # (optionally on a struct field of each element) — the
                     # reference's items/properties walk re-expressed as one
                     # transform() over the array, violations carry the
                     # element index in absolute_path (["dns_servers","0",
                     # "address"] parity, tests/test_jsonschema.py:84-91)
    "expression",    # X2 Spark-native twin of the reference's custom
                     # validators (validator.py:90-117 subclasses write
                     # arbitrary Python over the row): a declarative SQL
                     # boolean over any columns of the row (`expr`),
                     # compiled by Catalyst onto the same zero-shuffle
                     # row-rule projection. SQL CHECK-constraint null
                     # semantics: a NULL predicate passes (enforce
                     # non-null operands with a required rule). `column`
                     # optionally names which column to render as the
                     # failing value.
}

TABLE_RULE_KINDS = {
    "unique",        # U1: (cols...) unique across the table
    "referential",   # J4: cols must exist in a reference table
    "ordering",      # W1: order_by strictly monotonic per partition_by
    "contiguous",    # W1: column must equal 0..n-1 per partition_by
    "aggregate",     # A1/A2: left <op> right per group
    "strict_columns",  # P12: additionalProperties false at table grain
    "conditional",   # tool non-null iff role='tool' style implications
    "drift",         # A8: KS/PSI vs a baseline histogram
    "sequence",      # W1 extension: allowed value transitions per partition
                     # (e.g. role alternation in a transcript: user→assistant)
    "cardinality",   # J4 extension: FK multiplicity — key must match
                     # [min_count, max_count] rows of ref_table
    "rate_limit",    # W1 extension: trailing event-time window count cap
                     # (burst detection per partition key)
    "outlier",       # profiling-grade anomaly flag: rows whose numeric
                     # column falls outside the Tukey IQR fence
                     # [q1 - k*IQR, q3 + k*IQR]; bounds from the data
                     # itself (approx_percentile sketch by default — the
                     # scale path; `exact: true` for the R-7 interpolated
                     # exact quantile, oracle-portable)
    "functional_dependency",  # profiling-grade FD: determinant columns
                     # must map to exactly one value of `dependent`
                     # (NULL counts as a value, SQL GROUP-BY semantics);
                     # one violation row per offending determinant group
    "equals_table",  # north-star per-row invariant (BASELINE.json
                     # input_hint: per-turn text equality under stable turn
                     # ordering): full-diff vs a reference table on the key
                     # columns — value mismatches per compared column, rows
                     # missing from the reference, reference rows missing
                     # from the input; direct mode = ONE full-outer value
                     # join, hash mode = xxhash64 precompare join + broadcast
                     # fetch-back of the mismatch keys (wide columns)
}

RULE_KINDS = ROW_RULE_KINDS | TABLE_RULE_KINDS

_COMPARISON_OPS = {"gt", "gte", "eq", "lt", "lte", "contains"}  # validator.py:70-86 parity

# Meta-schema for manifests — plays the role of the reference's Draft-7
# meta-schema check (/root/reference/schema_enforcer/schemas/jsonschema.py:136-172).
MANIFEST_META_SCHEMA: dict[str, Any] = {
    "type": "object",
    "required": ["id", "rules"],
    "properties": {
        "id": {"type": "string", "minLength": 1},
        "table": {"type": "string"},
        "columns": {"type": "array", "items": {"type": "string"}},
        "strict": {"type": "boolean"},
        "include": {"type": "array", "items": {"type": "string"}},
        "applies_to": {"type": "array", "items": {"type": "string"}},
        "rules": {
            "type": "array",
            "minItems": 1,
            "items": {
                "type": "object",
                "required": ["kind"],
                "properties": {
                    "kind": {"enum": sorted(RULE_KINDS)},
                    "column": {"type": "string"},
                    "columns": {"type": "array", "items": {"type": "string"}},
                    "type": {"enum": ["string", "integer", "number", "boolean", "timestamp", "null", "array", "object"]},
                    "values": {"type": "array"},
                    "pattern": {"type": "string"},
                    "format": {"enum": SUPPORTED_FORMATS},
                    "minimum": {"type": "number"},
                    "maximum": {"type": "number"},
                    "exclusive_minimum": {"type": "number"},
                    "exclusive_maximum": {"type": "number"},
                    "min_length": {"type": "integer"},
                    "max_length": {"type": "integer"},
                    "multiple_of": {"type": "number"},
                    "ref_table": {"type": "string"},
                    "ref_columns": {"type": "array", "items": {"type": "string"}},
                    # equals_table: the value columns that must match the
                    # reference row under the join keys
                    "compare": {"type": "array", "minItems": 1, "items": {"type": "string"}},
                    # functional_dependency: the column the determinant
                    # `columns` must map to exactly one value of
                    "dependent": {"type": "string", "minLength": 1},
                    # outlier: Tukey fence multiplier + exact-quantile flag
                    "k": {"type": "number", "minimum": 0},
                    "exact": {"type": "boolean"},
                    # enum: append a levenshtein-closest repair hint to the
                    # violation message (off by default — the bare message
                    # is the jsonschema-parity surface)
                    "suggest": {"type": "boolean"},
                    "broadcast": {"type": "boolean"},
                    "normalize_keys": {"type": "boolean"},
                    "partition_by": {"type": "array", "items": {"type": "string"}},
                    "order_by": {"type": "array", "items": {"type": "string"}},
                    "strictly": {"type": "boolean"},
                    "group_by": {"type": "array", "items": {"type": "string"}},
                    "salt": {"type": "integer", "minimum": 2},
                    "left": {},
                    "operator": {"enum": sorted(_COMPARISON_OPS)},
                    "right": {},
                    # expression rule: a single SQL boolean over the row
                    "expr": {"type": "string", "minLength": 1},
                    "when": {"type": "object"},
                    "then": {"type": "object"},
                    "otherwise": {"type": "object"},
                    "checks": {
                        "type": "array",
                        "minItems": 1,
                        "items": {"type": "object", "required": ["kind"]},
                    },
                    "allowed_transitions": {
                        "type": "array",
                        "minItems": 1,
                        "items": {"type": "array", "minItems": 2, "maxItems": 2},
                    },
                    "allowed_start": {"type": "array"},
                    "metric": {"enum": ["ks", "psi"]},
                    "threshold": {"type": "number"},
                    "baseline": {},
                    "lo": {"type": "number"},
                    "hi": {"type": "number"},
                    "bins": {"type": "integer"},
                    "message": {"type": "string"},
                    "id": {"type": "string"},
                    "field": {"type": "string"},
                    "check": {"type": "string"},
                    "value": {},
                    "requires": {"type": "array", "minItems": 1, "items": {"type": "string"}},
                    "min_count": {"type": "integer", "minimum": 0},
                    "max_count": {"type": "integer", "minimum": 0},
                    "min_properties": {"type": "integer", "minimum": 0},
                    "max_properties": {"type": "integer", "minimum": 0},
                    "window_seconds": {"type": "integer", "minimum": 1},
                    "additional_properties": {"type": "boolean"},
                    # prefix_items tail policy: false (reject extras) or a
                    # sub-check object applied to every element past the
                    # prefix; true = Draft-7 default (anything allowed)
                    "additional_items": {"type": ["boolean", "object"]},
                    "value_pattern": {"type": "string"},
                    "right_expr": {"type": "string"},
                    # equals_table physical strategy: direct = one full-outer
                    # value join; hash = xxhash64 precompare + broadcast
                    # fetch-back (wide columns); auto picks by compare dtype
                    "compare_mode": {"enum": ["auto", "direct", "hash"]},
                    "max_fetch_keys": {"type": "integer", "minimum": 1},
                },
                "additionalProperties": False,
            },
        },
    },
    "additionalProperties": False,
}

_PER_KIND_REQUIRED = {
    "type": ["column", "type"],
    "required": ["column"],
    "format": ["column", "format"],
    "pattern": ["column", "pattern"],
    "enum": ["column", "values"],
    "range": ["column"],
    "length": ["column"],
    "multiple_of": ["column", "multiple_of"],
    "unique_items": ["column"],
    "not_empty": ["column"],
    "items": ["column", "check"],
    "prefix_items": ["column", "checks"],
    "jmespath": ["left", "operator"],
    "pattern_properties": ["column", "pattern"],
    "property_names": ["column", "check"],
    "property_count": ["column"],
    "unique": ["columns"],
    "referential": ["columns", "ref_table", "ref_columns"],
    "ordering": ["column", "partition_by", "order_by"],
    "contiguous": ["column", "partition_by"],
    "aggregate": ["left", "operator", "right"],
    "strict_columns": [],
    "conditional": ["when", "then"],
    # baseline may instead come from a stored baseline file (--baseline);
    # a custom check below requires either inline baseline or lo+hi bounds
    "drift": ["column", "metric", "threshold"],
    "sequence": ["column", "partition_by", "order_by", "allowed_transitions"],
    "any_of": ["column", "checks"],
    "all_of": ["column", "checks"],
    "one_of": ["column", "checks"],
    "not": ["column", "checks"],
    "const": ["column", "value"],
    "contains": ["column", "check"],
    "dependent_required": ["column", "requires"],
    "expression": ["expr"],
    "cardinality": ["columns", "ref_table", "ref_columns"],
    "rate_limit": ["partition_by", "order_by", "window_seconds", "max_count"],
    "equals_table": ["columns", "ref_table", "compare"],
    "functional_dependency": ["columns", "dependent"],
    "outlier": ["column"],
}

# Sub-schema kinds allowed inside any_of/all_of/one_of/not `checks` entries:
# scalar row checks only (no nesting, no items/contains — the composition
# predicate must stay a plain boolean expression over one column).
_COMPOSABLE_CHECK_KINDS = ROW_RULE_KINDS - {
    "jmespath",
    "expression",
    "items",
    "pattern_properties",
    "property_names",
    "property_count",
    "contains",
    "any_of",
    "all_of",
    "one_of",
    "not",
    "dependent_required",
}


@dataclass(frozen=True)
class Rule:
    kind: str
    params: dict[str, Any] = field(default_factory=dict)

    def __getattr__(self, name: str) -> Any:  # convenience: rule.column etc.
        try:
            return self.params[name]
        except KeyError:
            raise AttributeError(name) from None

    def get(self, name: str, default: Any = None) -> Any:
        return self.params.get(name, default)

    def schema_id(self, manifest_id: str, key: str) -> str:
        """The violation ``schema_id``: the rule's declared ``id``, else
        ``<manifest id>/<kind>/<key>``."""
        return self.params.get("id") or f"{manifest_id}/{self.kind}/{key}"

    @property
    def is_row_rule(self) -> bool:
        return self.kind in ROW_RULE_KINDS


@dataclass(frozen=True)
class Manifest:
    """Compiled-ready rule set; ``id`` plays the role of JSONSchema ``$id``."""

    id: str
    rules: tuple[Rule, ...]
    table: str = "transcripts"
    columns: tuple[str, ...] = ()      # declared column set (for strict mode)
    strict: bool = False
    # J3 decorator-mapping analogue: tables this manifest explicitly applies
    # to (the reference marks validators with the data they bind to,
    # /root/reference/schema_enforcer/instances/file.py:122-145); consulted
    # by ManifestRegistry.bind alongside automap/static/declared.
    applies_to: tuple[str, ...] = ()

    @property
    def row_rules(self) -> list[Rule]:
        return [r for r in self.rules if r.is_row_rule]

    @property
    def table_rules(self) -> list[Rule]:
        return [r for r in self.rules if not r.is_row_rule]

    def rule_set_hash(self) -> str:
        """Stable content hash — checkpoint lineage key component, so a
        changed manifest invalidates prior per-partition verdicts."""
        blob = json.dumps(
            {
                "id": self.id,
                "table": self.table,
                "columns": list(self.columns),
                "strict": self.strict,
                "applies_to": list(self.applies_to),
                "rules": [{"kind": r.kind, **r.params} for r in self.rules],
            },
            sort_keys=True,
            default=str,
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


def validate_manifest_dict(raw: dict[str, Any]) -> list[str]:
    """Meta-validate; returns error strings (empty = valid)."""
    validator = jsonschema.Draft7Validator(MANIFEST_META_SCHEMA)
    errors = [
        f"{'/'.join(str(p) for p in e.absolute_path) or '<root>'}: {e.message}"
        for e in validator.iter_errors(raw)
    ]
    rules = raw.get("rules", [])
    if not isinstance(rules, list):
        return errors
    for i, rule in enumerate(rules):
        if not isinstance(rule, dict):
            continue
        kind = rule.get("kind")
        if not isinstance(kind, str):
            # a non-string kind (list/dict/int) is already reported by the
            # meta-schema enum check above; dict.get on an unhashable value
            # would raise TypeError instead of collecting errors (fuzz find)
            continue
        for req in _PER_KIND_REQUIRED.get(kind, []):
            if req not in rule:
                errors.append(f"rules/{i}: kind {kind!r} requires field {req!r}")
        if kind == "items":
            check = rule.get("check")
            if check not in (ROW_RULE_KINDS - {"items"}):
                errors.append(f"rules/{i}: items 'check' must be a scalar row-rule kind, got {check!r}")
            else:
                # the sub-check's own required params apply to the items rule
                for req in _PER_KIND_REQUIRED.get(check, []):
                    if req != "column" and req not in rule:
                        errors.append(f"rules/{i}: items check {check!r} requires field {req!r}")
                if check == "format" and rule.get("format") == "regex":
                    errors.append(
                        f"rules/{i}: format 'regex' is a Python-UDF check and cannot run "
                        "inside an array-element lambda; explode the array and use a "
                        "plain format rule instead"
                    )
        if kind == "prefix_items":
            if isinstance(rule.get("checks"), list):
                for j, spec in enumerate(rule["checks"]):
                    if not isinstance(spec, dict):
                        continue
                    sub = spec.get("kind")
                    if sub not in _COMPOSABLE_CHECK_KINDS:
                        errors.append(
                            f"rules/{i}: prefix_items checks/{j} must be a scalar row-rule kind, got {sub!r}"
                        )
                        continue
                    for req in _PER_KIND_REQUIRED.get(sub, []):
                        if req != "column" and req not in spec:
                            errors.append(
                                f"rules/{i}: prefix_items checks/{j} kind {sub!r} requires field {req!r}"
                            )
                    if sub == "format" and spec.get("format") == "regex":
                        errors.append(
                            f"rules/{i}: format 'regex' is a Python-UDF check and cannot run "
                            "inside an array-element lambda; explode the array and use a "
                            "plain format rule instead"
                        )
            add = rule.get("additional_items")
            if isinstance(add, dict):
                sub = add.get("kind")
                if sub not in _COMPOSABLE_CHECK_KINDS:
                    errors.append(
                        f"rules/{i}: prefix_items additional_items must be false, true, or a "
                        f"scalar row-rule check object, got kind {sub!r}"
                    )
                else:
                    for req in _PER_KIND_REQUIRED.get(sub, []):
                        if req != "column" and req not in add:
                            errors.append(
                                f"rules/{i}: prefix_items additional_items kind {sub!r} requires field {req!r}"
                            )
        if kind in ("any_of", "all_of", "one_of", "not") and isinstance(rule.get("checks"), list):
            for j, spec in enumerate(rule["checks"]):
                if not isinstance(spec, dict):
                    continue
                sub = spec.get("kind")
                if sub not in _COMPOSABLE_CHECK_KINDS:
                    errors.append(
                        f"rules/{i}: {kind} checks/{j} must be a scalar row-rule kind, got {sub!r}"
                    )
                    continue
                for req in _PER_KIND_REQUIRED.get(sub, []):
                    if req != "column" and req not in spec:
                        errors.append(f"rules/{i}: {kind} checks/{j} kind {sub!r} requires field {req!r}")
                if sub == "range" and not (
                    {"minimum", "maximum", "exclusive_minimum", "exclusive_maximum"} & spec.keys()
                ):
                    errors.append(f"rules/{i}: {kind} checks/{j} range needs at least one bound")
                if sub == "length" and not ({"min_length", "max_length"} & spec.keys()):
                    errors.append(f"rules/{i}: {kind} checks/{j} length needs min_length or max_length")
        if kind == "contains":
            check = rule.get("check")
            if check not in _COMPOSABLE_CHECK_KINDS:
                errors.append(f"rules/{i}: contains 'check' must be a scalar row-rule kind, got {check!r}")
            else:
                for req in _PER_KIND_REQUIRED.get(check, []):
                    if req != "column" and req not in rule:
                        errors.append(f"rules/{i}: contains check {check!r} requires field {req!r}")
                if check == "format" and rule.get("format") == "regex":
                    errors.append(
                        f"rules/{i}: format 'regex' is a Python-UDF check and cannot run "
                        "inside an array-element lambda; explode the array and use a "
                        "plain format rule instead"
                    )
        if kind == "property_names":
            check = rule.get("check")
            if check is not None and check not in _COMPOSABLE_CHECK_KINDS:
                errors.append(
                    f"rules/{i}: property_names 'check' must be a scalar row-rule "
                    f"kind, got {check!r}"
                )
            elif check is not None:
                for req in _PER_KIND_REQUIRED.get(check, []):
                    if req != "column" and req not in rule:
                        errors.append(
                            f"rules/{i}: property_names check {check!r} requires field {req!r}"
                        )
                if check == "format" and rule.get("format") == "regex":
                    errors.append(
                        f"rules/{i}: format 'regex' is a Python-UDF check and cannot "
                        "run inside a map-key lambda; explode the map and use a "
                        "plain format rule instead"
                    )
        if kind == "jmespath":
            if not isinstance(rule.get("left"), str):
                errors.append(f"rules/{i}: jmespath 'left' must be a JMESPath string")
            if ("right" in rule) == ("right_expr" in rule):
                errors.append(
                    f"rules/{i}: jmespath rule needs exactly one of 'right' "
                    "(literal) or 'right_expr' (second JMESPath expression)"
                )
            # parse + subset-check the expression strings now — an
            # unsupported construct must fail at manifest compile, not
            # mid-job (reference parity: validators are imported/compiled
            # before any data is read, validator.py:170-190)
            from schema_enforcer_spark.jmespath_compat import UnsupportedJmesPath, parse_checked

            for fld in ("left", "right_expr"):
                if isinstance(rule.get(fld), str):
                    try:
                        parse_checked(rule[fld])
                    except UnsupportedJmesPath as exc:
                        errors.append(f"rules/{i}: {fld}: {exc}")
        if kind == "expression":
            # full parse/resolution happens at compile time against the
            # input schema (needs a session); here reject the shapes that
            # can never compile
            ex = rule.get("expr")
            if not isinstance(ex, str) or not ex.strip():
                errors.append(f"rules/{i}: expression 'expr' must be a non-empty SQL string")
            elif ";" in ex:
                errors.append(
                    f"rules/{i}: expression 'expr' must be a single SQL boolean "
                    "expression, not a statement list"
                )
        if kind == "pattern_properties":
            check = rule.get("check")
            if check is None and not (rule.get("additional_properties") is False):
                errors.append(
                    f"rules/{i}: pattern_properties needs 'check' (validate matching "
                    "values) and/or 'additional_properties: false' (reject "
                    "non-matching keys) — with neither it checks nothing"
                )
            if check is not None:
                if check not in _COMPOSABLE_CHECK_KINDS:
                    errors.append(
                        f"rules/{i}: pattern_properties 'check' must be a scalar "
                        f"row-rule kind, got {check!r}"
                    )
                else:
                    for req in _PER_KIND_REQUIRED.get(check, []):
                        if req != "column" and req not in rule:
                            errors.append(
                                f"rules/{i}: pattern_properties check {check!r} requires field {req!r}"
                            )
                    # `pattern` is this rule's KEY-matching regex; a value
                    # sub-check would silently reuse it, validating values
                    # against the key regex — require the dedicated param
                    if check == "pattern" and "value_pattern" not in rule:
                        errors.append(
                            f"rules/{i}: pattern_properties check 'pattern' needs "
                            "'value_pattern' (the rule's own 'pattern' matches KEYS; "
                            "reusing it for values is almost never intended)"
                        )
                    if check == "format" and rule.get("format") == "regex":
                        errors.append(
                            f"rules/{i}: format 'regex' is a Python-UDF check and cannot "
                            "run inside a map-entry lambda; explode the map and use a "
                            "plain format rule instead"
                        )
        # range/length bound requirements apply whether the check is the rule
        # kind itself or an items/contains/pattern_properties sub-check
        effective = (
            rule.get("check")
            if kind in ("items", "contains", "pattern_properties", "property_names")
            else kind
        )
        if effective == "range" and not ({"minimum", "maximum", "exclusive_minimum", "exclusive_maximum"} & rule.keys()):
            errors.append(f"rules/{i}: range rule needs at least one bound")
        if effective == "length" and not ({"min_length", "max_length"} & rule.keys()):
            errors.append(f"rules/{i}: length rule needs min_length or max_length")
        if kind == "drift" and "baseline" not in rule and not ({"lo", "hi"} <= rule.keys()):
            errors.append(
                f"rules/{i}: drift rule needs an inline 'baseline' histogram or "
                "'lo'+'hi' bucket bounds (for the stored-baseline flow)"
            )
        if kind == "cardinality" and not ({"min_count", "max_count"} & rule.keys()):
            errors.append(f"rules/{i}: cardinality rule needs min_count and/or max_count")
        if kind == "functional_dependency" and rule.get("dependent") in (rule.get("columns") or []):
            errors.append(
                f"rules/{i}: functional_dependency dependent column "
                f"{rule.get('dependent')!r} is part of the determinant — the "
                "rule would hold trivially and check nothing"
            )
        if kind == "property_count":
            bounds = {k: rule.get(k) for k in ("min_properties", "max_properties") if k in rule}
            if not bounds:
                errors.append(
                    f"rules/{i}: property_count rule needs min_properties and/or max_properties"
                )
            for k, v in bounds.items():
                if not isinstance(v, int) or isinstance(v, bool) or v < 0:
                    errors.append(f"rules/{i}: property_count {k} must be a non-negative integer")
            if (
                isinstance(bounds.get("min_properties"), int)
                and isinstance(bounds.get("max_properties"), int)
                and bounds["min_properties"] > bounds["max_properties"]
            ):
                errors.append(
                    f"rules/{i}: property_count min_properties > max_properties can never pass"
                )
        if kind == "strict_columns" and rule.get("column") and not rule.get("columns"):
            errors.append(
                f"rules/{i}: strict_columns on a struct column needs the declared "
                "'columns' field set (an empty declaration would silently check nothing)"
            )
    return errors


def manifest_from_dict(raw: dict[str, Any]) -> Manifest:
    errors = validate_manifest_dict(raw)
    if errors:
        raise InvalidManifest(errors)
    rules = tuple(
        Rule(kind=r["kind"], params={k: v for k, v in r.items() if k != "kind"})
        for r in raw["rules"]
    )
    return Manifest(
        id=raw["id"],
        rules=rules,
        table=raw.get("table", "transcripts"),
        columns=tuple(raw.get("columns", ())),
        strict=bool(raw.get("strict", False)),
        applies_to=tuple(raw.get("applies_to", ())),
    )


def _inline_includes(
    raw: dict[str, Any],
    base_dir: str,
    seen: frozenset[str],
    inlined: set[str] | None = None,
) -> dict[str, Any]:
    """Schema composition — the $ref-inlining analogue (the reference eagerly
    replaces $refs at load time, /root/reference/schema_enforcer/schemas/
    manager.py:71-72 via jsonref). ``include:`` names fragment YAML files
    (relative to the including file) whose rules are prepended and whose
    declared columns are unioned; fragments may include further fragments.
    Cycles (the fragment is an ANCESTOR of itself: `seen`) fail fast;
    diamonds (A includes B and C, both include common.yml: `inlined`, shared
    across the whole pass) inline the shared fragment ONCE — inlining it per
    path would duplicate its rules and double every violation count.
    Meta-validation runs AFTER inlining, so a manifest may consist entirely
    of shared fragments."""
    import os

    if inlined is None:
        inlined = set()
    fragments_rules: list[Any] = []
    columns = list(raw.get("columns", ()))
    for rel in raw.get("include") or []:
        p = rel if os.path.isabs(rel) else os.path.join(base_dir, rel)
        rp = os.path.realpath(p)
        if rp in seen:
            raise InvalidManifest([f"include cycle: {rel!r} already inlined"])
        if rp in inlined:
            continue  # diamond: already inlined elsewhere in this pass
        inlined.add(rp)
        try:
            with open(rp, encoding="utf-8") as fh:
                frag = yaml.safe_load(fh)
        except OSError as e:
            raise InvalidManifest([f"include {rel!r}: {e}"]) from None
        if not isinstance(frag, dict):
            raise InvalidManifest([f"include {rel!r}: fragment must be a mapping"])
        frag = _inline_includes(frag, os.path.dirname(rp), seen | {rp}, inlined)
        fragments_rules.extend(frag.get("rules", ()))
        for c in frag.get("columns", ()):
            if c not in columns:
                columns.append(c)
    out = dict(raw)
    out.pop("include", None)
    out["rules"] = fragments_rules + list(raw.get("rules", ()))
    if columns:
        out["columns"] = columns
    return out


MANIFEST_EXTENSIONS = ("yml", "yaml", "json")


def find_manifest_file(path: str, extensions: tuple[str, ...] = MANIFEST_EXTENSIONS) -> str:
    """Resolve a manifest path with extension probing — the reference's
    ``find_file`` first-hit semantics (/root/reference/schema_enforcer/
    utils.py:408-446): an exact path wins; otherwise probe
    ``<path>.{yml,yaml,json}`` in order and return the first that exists.
    Raises FileNotFoundError listing everything probed."""
    import os

    if os.path.isfile(path):
        return path
    probed = [path]
    for ext in extensions:
        cand = f"{path}.{ext}"
        probed.append(cand)
        if os.path.isfile(cand):
            return cand
    raise FileNotFoundError(f"no manifest found; probed {probed}")


def load_manifest(path: str) -> Manifest:
    """Load + meta-validate a YAML/JSON manifest file (driver-side; the
    analogue of the reference's schema-file load,
    /root/reference/schema_enforcer/utils.py:367-386), inlining any
    ``include:`` fragments first. A path without an extension is probed as
    ``<path>.{yml,yaml,json}`` first-hit (utils.py:408-446 parity), so
    ``--manifest manifests/base`` resolves by directory convention."""
    import os

    path = find_manifest_file(path)
    with open(path, encoding="utf-8") as fh:
        raw = yaml.safe_load(fh)
    if not isinstance(raw, dict):
        raise InvalidManifest([f"{path}: manifest must be a mapping, got {type(raw).__name__}"])
    raw = _inline_includes(raw, os.path.dirname(os.path.abspath(path)), frozenset({os.path.realpath(path)}))
    return manifest_from_dict(raw)
