"""Consistency gate for bench_floors.json (r12 floors machinery).

bench.py adjudicates every throughput probe's and every query row's
floor against the committed best-known settled floors; a floors table
that drifts out of sync with the registry (renamed query, stale probe
name, wrong metadata types) would silently disable that adjudication
for the drifted rows. Spark-free structural checks, always run.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry

PROBE_KEYS = {
    "raw_delivery",
    "ingest_commit",
    "stat_rawscan",
    "stat_via_rollup",
    "minhash_lsh",
    "exact_dedup",
    "exact_substring",
    "ann_lsh",
    "total_query_wall_seconds",
}


def _floors() -> dict:
    with open(os.path.join(ROOT, "bench_floors.json")) as f:
        return json.load(f)


def test_floors_metadata_and_probe_keys():
    d = _floors()
    # recording context: adjudication only applies at >= this core count
    # and at exactly this scale factor (the driver's lower-core scaling
    # run and any non-sf0.1 smoke must skip it)
    assert isinstance(d["cpus"], int) and d["cpus"] >= 1
    assert float(d["sf"]) == 0.1
    for k in PROBE_KEYS:
        assert isinstance(d[k], (int, float)) and d[k] > 0, k
    # no unknown top-level keys masquerading as probes
    extra = set(d) - PROBE_KEYS - {"_comment", "cpus", "sf", "queries"}
    assert not extra, extra


def test_query_floors_match_registry():
    d = _floors()
    qs = set(entry.queries())
    floors = d["queries"]
    stale = set(floors) - qs
    assert not stale, f"floors for queries not in the registry: {sorted(stale)}"
    for name, sec in floors.items():
        assert isinstance(sec, (int, float)) and sec > 0, name
    # every registered query should have a floor once it has appeared in
    # a committed solo artifact; allow new-this-round entries to lag but
    # not wholesale drift
    missing = qs - set(floors)
    assert len(missing) <= 10, f"floors table far behind registry: {sorted(missing)[:20]}"
