"""Oracle parity for a slice of the driver-contract queries: runs
tools/check_oracles.py (Spark vs its DuckDB oracle_sql twin, representation
sensitive) on the sf0.01 testdata for six entries that exercise the
jmespath, prefixItems, dedup, simhash, salted-aggregate and set-op paths."""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = [
    "q10_jmespath_interfaces",
    "q19_prefix_items",
    "q50_dedup_materialize",
    "q52_simhash",
    "q53_salted_agg",
    "q54_set_ops",
]


def _testdata_dir(sf: str) -> str:
    # TESTDATA.md is the data contract: one table row per scale factor,
    # "| <sf> | `<dir>/` | ..."
    with open(os.path.join(REPO, "TESTDATA.md")) as f:
        m = re.search(rf"^\| {re.escape(sf)} \| `([^`]+)` \|", f.read(), re.M)
    assert m, f"TESTDATA.md lists no sf{sf} directory"
    return m.group(1).rstrip("/")


SF_DIR = _testdata_dir("0.01")


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason=f"testdata {SF_DIR} absent")
def test_oracles_match():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_oracles.py"), SF_DIR, *QUERIES],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=900,
    )
    out = proc.stdout
    assert proc.returncode == 0, out + proc.stderr[-4000:]
    for q in QUERIES:
        assert re.search(rf"^{q}: MATCH \(", out, re.M), out
    assert "ALL MATCH" in out
