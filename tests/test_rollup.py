"""Rollup ladder: hierarchical answers must equal raw-point answers
exactly (the reference's core invariant — qtree2_test.go:35-145 checks
window stats across all pointwidths)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from btrdb_spark.operators.windows import aligned_windows
from btrdb_spark.plans import rollup as ru


@pytest.fixture(scope="module")
def pts(make_points):
    import random

    rng = random.Random(42)
    rows = []
    t = 0
    for i in range(4096):
        t += rng.randint(1, 2 * 60 * 10**9)
        rows.append(("a" if i % 3 else "b", t, rng.random() * 100, 10))
    # negative-time stream
    rows += [("n", -(1 << 41) + i * (1 << 33), 1.0 * i, 10) for i in range(64)]
    return make_points(rows)


def _key(df):
    return {
        (r["uuid"], r["bucket_start"]): (r["cnt"], r["vmin"], r["vmean"], r["vmax"])
        for r in df.collect()
    }


@pytest.mark.parametrize("pw", [38, 44, 50])
def test_rollup_equals_raw(pts, pw, spark, tmp_path):
    ladder = ru.RollupLadder(spark, str(tmp_path / "ladder"), levels=(32, 38, 44))
    ladder.ingest_batch(pts)
    lo, hi = -(1 << 42), (1 << 44)
    got = ladder.aligned_windows(None, lo, hi, pw)
    want = aligned_windows(pts, None, lo, hi, pw)
    assert _key(got) == _key(want)


def test_partials_combine_across_batches(pts, spark, tmp_path):
    ladder = ru.RollupLadder(spark, str(tmp_path / "ladder2"), levels=(38, 44))
    b1 = pts.filter(F.col("time") % 2 == 0)
    b2 = pts.filter(F.col("time") % 2 != 0)
    ladder.ingest_batch(b1)
    ladder.ingest_batch(b2)
    got = ladder.aligned_windows(None, -(1 << 42), 1 << 44, 44)
    want = aligned_windows(pts, None, -(1 << 42), 1 << 44, 44)
    assert _key(got) == _key(want)
    # compaction must not change answers
    ladder.compact()
    got2 = ladder.aligned_windows(None, -(1 << 42), 1 << 44, 44)
    assert _key(got2) == _key(want)


def test_route_level():
    assert ru.route_level(44, (20, 26, 32)) == 32
    assert ru.route_level(26, (20, 26, 32)) == 26
    assert ru.route_level(19, (20, 26, 32)) is None


def test_invalidate_buckets_after_delete(pts, spark, tmp_path):
    ladder = ru.RollupLadder(spark, str(tmp_path / "ladder3"), levels=(38, 44))
    ladder.ingest_batch(pts.withColumn("version", F.lit(1).cast("long")))
    # delete a middle range of every stream at version 2, then append the
    # touched buckets' snapshots from the delete-filtered points
    dlo, dhi = 1 << 40, 1 << 42
    remaining = pts.filter(~((F.col("time") >= dlo) & (F.col("time") < dhi)))
    ru.invalidate_buckets_multi(
        ladder, remaining, [(u, dlo, dhi) for u in "abn"], {u: 2 for u in "abn"}
    )
    lo, hi = -(1 << 42), 1 << 44
    got = ladder.aligned_windows(None, lo, hi, 44)
    want = aligned_windows(remaining, None, lo, hi, 44)
    assert _key(got) == _key(want)
    # a read pinned before the delete still combines the original partials
    before = ladder.aligned_windows(None, lo, hi, 44, version=1)
    assert _key(before) == _key(aligned_windows(pts, None, lo, hi, 44))
    assert _key(before) != _key(want)

@pytest.mark.parametrize(
    "start,width",
    [
        (0, 3_600_000_000_000),            # 1h windows, non-power-of-two
        (-(1 << 41), 7 * 10**12 + 13),     # negative anchor, odd width
        (12345, 1 << 44),                  # power-of-two width, unaligned anchor
    ],
)
def test_hybrid_windows_equals_raw(pts, spark, tmp_path, start, width):
    """windows_from_rollup must be EXACT for arbitrary width/anchor —
    interior buckets from the ladder + edge buckets from raw points."""
    from btrdb_spark.operators.windows import windows

    ladder = ru.RollupLadder(spark, str(tmp_path / "ladder3"), levels=(32, 38))
    ladder.ingest_batch(pts)
    end = start + 11 * width + width // 3  # exercises end-rounding too
    got = ladder.windows(pts, None, start, end, width)
    want = windows(pts, None, start, end, width)
    kg = {(r["uuid"], r["window_start"]): (r["cnt"], r["vmin"], r["vmean"], r["vmax"]) for r in got.collect()}
    kw = {(r["uuid"], r["window_start"]): (r["cnt"], r["vmin"], r["vmean"], r["vmax"]) for r in want.collect()}
    assert kg == kw


def test_hybrid_windows_routes_none_when_too_fine(pts, spark, tmp_path):
    ladder = ru.RollupLadder(spark, str(tmp_path / "ladder4"), levels=(38,))
    assert ladder.windows(pts, None, 0, 1 << 40, 1 << 37) is None


def test_windows_approx_depth_knob(pts, spark, tmp_path):
    """The depth knob conserves total count; it is exact when window edges
    align with the level grid (the reference's 'atomic subtree' rule)."""
    from btrdb_spark.operators.windows import windows

    ladder = ru.RollupLadder(spark, str(tmp_path / "ladderD"), levels=(32, 38))
    ladder.ingest_batch(pts)
    start, width = 0, 3_600_000_000_000  # unaligned width
    end = start + 12 * width
    approx = ladder.windows(pts, None, start, end, width, depth=32).collect()
    exact = windows(pts, None, start, end, width).collect()
    tot = lambda rows: sum(r["cnt"] for r in rows)
    assert tot(approx) == tot(exact)  # nothing lost, only re-attributed
    # aligned case: width = 2^38, start on the 2^38 grid -> approx == exact
    start2, width2 = 0, 1 << 38
    end2 = start2 + 20 * width2
    a2 = {(r["uuid"], r["window_start"]): (r["cnt"], r["vmin"], r["vmean"], r["vmax"])
          for r in ladder.windows(pts, None, start2, end2, width2, depth=38).collect()}
    e2 = {(r["uuid"], r["window_start"]): (r["cnt"], r["vmin"], r["vmean"], r["vmax"])
          for r in windows(pts, None, start2, end2, width2).collect()}
    assert a2 == e2


def test_hybrid_windows_after_delete_invalidation(spark, make_points, tmp_path):
    """DeleteRange -> invalidate_buckets_multi -> hybrid windows answers
    match the raw path over the delete-filtered points."""
    from btrdb_spark.engine import BTrDBEngine
    from btrdb_spark.operators.windows import windows

    eng = BTrDBEngine(spark, str(tmp_path / "hwd"), ladder=True)
    u = eng.create_stream("hw/del")
    eng.insert(u, [(i * 10**9, float(i)) for i in range(1000)])
    eng.flush(u)
    eng.delete_range(u, 200 * 10**9, 400 * 10**9)
    live = eng.raw_values(u, 0, 1 << 62)
    width = 37 * 10**9  # odd width
    got = eng.ladder.windows(live.select("uuid", "time", "value"), u, 0, 999 * 10**9, width)
    want = windows(live, u, 0, 999 * 10**9, width)
    kg = {(r["uuid"], r["window_start"]): (r["cnt"], r["vmin"], r["vmean"], r["vmax"]) for r in got.collect()}
    kw = {(r["uuid"], r["window_start"]): (r["cnt"], r["vmin"], r["vmean"], r["vmax"]) for r in want.collect()}
    assert kg == kw
