"""Registry-integrity gate (ADVICE r3 #2).

The driver's per-round correctness gate only reaches ~50 of the
registry's entries, so a regression in a displaced entry could ship
unnoticed. Two layers of defense, both committed here:

1. Structural checks that ALWAYS run with the suite: every query has a
   callable, names are unique, every oracle key targets a registered
   query, and the entries no driver round has certified sit at the head
   of the dict (where the gate will reach them).
2. The full 112-entry driver-replica gate (tools/check_correctness.py),
   which takes ~3 min of Spark+DuckDB work — gated behind
   RUN_FULL_GATE=1 so `pytest tests/ -x -q` stays fast, and exercised
   every round by the committed tools/ entry point.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry


def test_every_query_is_callable_and_unique():
    qs = entry.queries()
    assert len(qs) >= 112
    assert all(callable(f) for f in qs.values())
    # dict construction dedupes silently; catch copy-paste dupes at the
    # source by re-parsing the literal keys
    import re

    src = open(os.path.join(ROOT, "__spark_entry__.py")).read()
    m = re.search(r"def queries\(\).*?base = \{(.*?)\n    \}", src, re.S)
    keys = re.findall(r'"([a-z0-9_]+)":', m.group(1))
    assert len(keys) == len(set(keys)), "duplicate key in queries() literal"
    # the returned dict is the literal reordered by the rotation block:
    # same key set, new entries still first, rotation block right behind
    assert set(qs.keys()) == set(keys)
    n_new = 0  # r13 adds no new queries (mirrors queries()'s n_new)
    head = list(qs.keys())[: len(entry.ROTATION_R13) + n_new]
    assert head[n_new:] == entry.ROTATION_R13
    # the rotation must be exactly the 50 stalest driver certifications
    # (ties broken alphabetically) so the gate window re-certifies the
    # oldest evidence first
    assert len(entry.ROTATION_R13) == 50
    assert len(set(entry.ROTATION_R13)) == 50


def test_every_oracle_targets_a_registered_query():
    qs, os_ = entry.queries(), entry.oracle_sql()
    missing = set(os_) - set(qs)
    assert not missing, f"oracles without queries: {sorted(missing)}"
    # queries WITHOUT an oracle get only the weaker rows-only driver
    # check — keep that set explicit so additions are deliberate
    # none remain: r9 gave image_phash_pairs an arithmetic SQL oracle
    declared_rows_only: set[str] = set()
    rows_only = sorted(set(qs) - set(os_) - declared_rows_only)
    assert rows_only == [], f"undeclared rows-only queries: {rows_only}"


def test_never_certified_entries_lead_the_gate_order():
    """The 12 entries with no green driver row before r4 must occupy the
    head of the registry until a driver round certifies them."""
    import json

    # image_phash_pairs was declared rows-only through r8 (it gained a
    # full oracle in r9); its historical rows+schema rows still count
    rows_only = {"image_phash_pairs"}
    certified = set()
    for fn in sorted(os.listdir(ROOT)):
        if fn.startswith("CORRECTNESS_r") and fn.endswith(".json"):
            d = json.load(open(os.path.join(ROOT, fn)))
            for k, v in d.items():
                if (
                    v.get("rows_match")
                    and v.get("schema_match")
                    and v.get("hash_match", True)
                ):
                    certified.add(k)
                elif k in rows_only and v.get("spark_rows") is not None:
                    # the driver records rows-only entries as
                    # err='no_oracle' with the spark row count — that IS
                    # their full (weaker, declared) certification
                    certified.add(k)
    keys = list(entry.queries().keys())
    never = [k for k in keys if k not in certified]
    gate_window = keys[:50]
    missed = [k for k in never if k not in gate_window]
    assert not missed, (
        f"never-certified queries outside the 50-row gate window: {missed}; "
        "move them to the head of queries()"
    )


def test_local_gate_comparator_is_dtype_strict():
    """Regression (VERDICT r4 #3): the local gate compared cells with
    Python equality, where 123.0 == 123, so DuckDB's HUGEINT->float64
    SUM columns passed locally while the driver's hash failed them.
    The comparator must now distinguish int from float both per-cell
    and per-column-dtype."""
    import pandas as pd

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_correctness as cc

    spark_df = pd.DataFrame({"n": [123, 4]})  # int64
    oracle_df = pd.DataFrame({"n": [123.0, 4.0]})  # float64 (HUGEINT path)
    scols, sdts, srows = cc.frame_key(spark_df)
    ocols, odts, orows = cc.frame_key(oracle_df)
    assert scols == ocols
    assert sdts != odts, "dtype classes must differ (int vs float)"
    assert srows != orows, "cells 123 vs 123.0 must NOT compare equal"
    # equal frames still compare equal
    assert cc.frame_key(oracle_df.copy()) == (ocols, odts, orows)


@pytest.mark.skipif(
    os.environ.get("RUN_FULL_GATE") != "1",
    reason="full 112-query oracle gate (~3 min); set RUN_FULL_GATE=1",
)
def test_full_registry_oracle_gate():
    proc = subprocess.run(
        [sys.executable, "tools/check_correctness.py"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    tail = "\n".join(proc.stdout.splitlines()[-5:])
    assert proc.returncode == 0, f"full gate failed:\n{tail}\n{proc.stderr[-2000:]}"
