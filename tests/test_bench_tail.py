"""Compact-tail assembly gate (VERDICT r12 #1 / ADVICE r12 #1).

The r12 round shipped a compact bench tail whose diagnostic lists
(query_window_suspect + noisy_queries) consumed the whole 1800-char
budget before any queries_head row landed: PERF_r12 came back with
per_query={}, n_common=0, geomean=null — the driver flew blind. These
Spark-free tests pin the repaired priority order: head rows first
(>=30 in a realistic artifact), lists capped, worst case never exceeds
the driver's 2000-char stdout tail window.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import compact_tail


def _realistic_out() -> dict:
    # the committed full artifact is the realistic shape: 201 queries
    # with real registry names, full throughput block
    with open(os.path.join(ROOT, "bench_full.json")) as f:
        return json.load(f)


def test_tail_carries_30_plus_head_rows_realistic():
    out = _realistic_out()
    compact = compact_tail(out, "bench_full.json")
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) <= 1950, len(line)
    assert len(compact["queries_head"]) >= 30, len(compact["queries_head"])
    # every emitted row is verbatim from the artifact
    for nm, sec in compact["queries_head"].items():
        assert out["queries"][nm] == sec
    assert compact["full_artifact"] == "bench_full.json"
    assert compact["n_queries"] == len(out["queries"])
    # throughput passes through untouched (the probe keys the judge reads)
    assert compact["throughput"] == out["throughput"]


def test_tail_lists_capped_and_marked():
    out = _realistic_out()
    out = dict(out)
    out["noisy_queries"] = [f"some_rather_long_query_name_{i:02d}" for i in range(20)]
    out["query_window_suspect"] = list(out["queries"])[:46]
    compact = compact_tail(out, "bench_full.json")
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) <= 1950
    # capped at 5 + "...more" marker, never the full lists
    assert len(compact["noisy_queries"]) <= 6
    assert len(compact["query_window_suspect"]) <= 6
    if len(compact["noisy_queries"]) == 6:
        assert compact["noisy_queries"][-1] == "...more"
    # the r12 failure mode: the lists must NOT crowd out the head
    assert len(compact["queries_head"]) >= 30


def test_tail_worst_case_fits_and_parses():
    # pathological registry: every name 48 chars, both lists saturated
    queries = {f"q_{'x' * 44}{i:03d}"[:48]: round(1.0 + i / 997, 3) for i in range(201)}
    out = {
        "metric": "total_query_wall_seconds",
        "value": 333.333,
        "unit": "sec",
        "sf": 0.1,
        "queries": queries,
        "throughput": _realistic_out()["throughput"],
        "noisy_queries": list(queries)[:40],
        "query_window_suspect": list(queries)[40:120],
    }
    compact = compact_tail(out, "bench_full_c32.json")
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) <= 1950, len(line)
    assert json.loads(line)  # parseable
    assert compact["queries_head"]  # still carries rows
    assert compact["full_artifact"] == "bench_full_c32.json"


def test_tail_skips_oversized_names_instead_of_stopping():
    # one absurd name early must not end the fill loop: later short
    # names still land (the r12 code broke at the first overflow)
    tp = _realistic_out()["throughput"]
    queries = {"a" * 1600: 1.0}
    for i in range(100):
        queries[f"short_{i:02d}"] = 0.5
    out = {
        "metric": "total_query_wall_seconds",
        "value": 51.0,
        "unit": "sec",
        "sf": 0.1,
        "queries": queries,
        "throughput": tp,
        "noisy_queries": [],
        "query_window_suspect": [],
    }
    compact = compact_tail(out, "bench_full.json")
    assert "a" * 1600 not in compact["queries_head"]
    assert len(compact["queries_head"]) >= 30
    assert len(json.dumps(compact, separators=(",", ":"))) <= 1950
