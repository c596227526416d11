"""Superdense duplicate-timestamp parity (spirit of qtree/qtree2_test.go:
190-229: >1000 points at ONE timestamp must survive insert/query).

Documented tie rules under test (ARCHITECTURE.md / operator docstrings):
- raw scan keeps EVERY duplicate point (no collapse);
- window aggregates count every duplicate in cnt/vsum/vmin/vmax;
- Nearest returns the max-value duplicate (reference returns stored-order
  — documented divergence, deterministic here);
- align/CSV collapses duplicates to the max value, one row per time;
- as-of join: the max-value duplicate wins at the boundary.
"""

from __future__ import annotations

import pytest

from btrdb_spark.engine import BTrDBEngine
from btrdb_spark.operators import align as align_ops
from btrdb_spark.operators import asof as asof_ops
from btrdb_spark.operators import raw as raw_ops
from btrdb_spark.operators import windows as win_ops

N = 1200
T = 1000  # every superdense point lands here


@pytest.fixture(scope="module")
def dense(make_points):
    rows = [("sd", T, float(i), 10) for i in range(N)]
    rows += [("sd", 10, 7.0, 10), ("sd", 2000, 5.0, 10)]
    return make_points(rows)


def test_raw_keeps_every_duplicate(dense):
    got = raw_ops.raw_values(dense, "sd", 0, 3000).collect()
    assert len(got) == N + 2
    at_t = [r["value"] for r in got if r["time"] == T]
    assert at_t == [float(i) for i in range(N)]  # all present, value-ordered


def test_windows_count_every_duplicate(dense):
    # pw=10 -> width 1024: bucket 0 holds t=10 and all N duplicates at t=1000
    got = win_ops.aligned_windows(dense, "sd", 0, 3000, pw=10).collect()
    b0 = next(r for r in got if r["bucket_start"] == 0)
    assert b0["cnt"] == N + 1
    assert b0["vmin"] == 0.0 and b0["vmax"] == float(N - 1)
    expected_mean = (sum(range(N)) + 7.0) / (N + 1)
    assert b0["vmean"] == pytest.approx(expected_mean, rel=1e-12)


def test_nearest_ties_pick_max_value(dense):
    before = raw_ops.nearest_all(dense, T + 1, backward=True).first()
    assert (before["time"], before["value"]) == (T, float(N - 1))
    after = raw_ops.nearest_all(dense, T, backward=False).first()
    assert (after["time"], after["value"]) == (T, float(N - 1))


def test_align_collapses_to_max(dense):
    got = align_ops.align_streams(dense, ["sd"], 0, 3000).collect()
    assert len(got) == 3  # one row per DISTINCT time
    row = next(r for r in got if r["time"] == T)
    assert row["v_sd"] == float(N - 1)


def test_asof_boundary_max_value_wins(dense, spark):
    probes = spark.createDataFrame([("sd", T + 1), ("sd", T)], "uuid string, t long")
    back = asof_ops.asof_join(dense, probes, forward=False).collect()
    by_t = {r["t"]: r for r in back}
    assert (by_t[T + 1]["asof_time"], by_t[T + 1]["asof_value"]) == (T, float(N - 1))
    assert (by_t[T]["asof_time"], by_t[T]["asof_value"]) == (10, 7.0)  # strict <
    fwd = asof_ops.asof_join(dense, probes, forward=True).collect()
    by_t = {r["t"]: r for r in fwd}
    assert (by_t[T]["asof_time"], by_t[T]["asof_value"]) == (T, float(N - 1))  # inclusive


def test_engine_roundtrip_superdense(spark, tmp_path):
    """Insert N duplicates through the engine across several flush commits
    (multiple versions at one timestamp) and read every one back."""
    eng = BTrDBEngine(spark, str(tmp_path / "sdb"), flush_threshold=10**9)
    u = eng.create_stream("c/superdense")
    chunk = N // 4
    for b in range(4):
        eng.insert(u, [(T, float(b * chunk + i)) for i in range(chunk)], sync=True)
    got = eng.raw_values(u, 0, 3000).collect()
    assert [r["value"] for r in got] == [float(i) for i in range(N)]
    aw = eng.aligned_windows(u, 0, 2048, pw=11).collect()
    assert aw[0]["cnt"] == N and aw[0]["vmax"] == float(N - 1)


def test_engine_single_stream_order_matches_multi_stream_sort(spark, tmp_path):
    """The single-stream raw read sorts inside one partition; it must give
    the rows, in order, that the multi-stream range sort gives for that
    stream — over duplicates spread across two cold flush files, the hot
    buffer and a delete."""
    from pyspark.sql import functions as F

    eng = BTrDBEngine(spark, str(tmp_path / "ord"), flush_threshold=10**9)
    u, other = eng.create_stream("c/order"), eng.create_stream("c/order2")
    eng.insert(u, [(T, float(i % 50)) for i in range(300)] + [(100, 3.0), (100, 1.0)], sync=True)
    eng.insert(
        u, [(T, float(-i)) for i in range(300)] + [(100, 2.0), (2000, 5.0), (2000, 5.0)], sync=True
    )
    eng.insert(other, [(T, 1.0), (T, 0.5)], sync=True)
    eng.delete_range(u, 50, 150)  # hides every committed point at t=100
    # buffered after the delete, so visible
    eng.insert(u, [(T, 0.25), (T, 7.0), (100, 9.0), (2000, 5.0)])
    eng.insert(other, [(T, 2.0)])

    got = [(r["time"], r["value"]) for r in eng.raw_values(u, 0, 3000).collect()]
    pts, dels = eng._queryable(None)
    multi = raw_ops.raw_values(pts, None, 0, 3000, deletes=dels).filter(F.col("uuid") == u)
    assert got == [(r["time"], r["value"]) for r in multi.collect()]
    assert len(got) == 302 + 303 - 3 + 4
    assert got == sorted(got)
    assert [v for t, v in got if t == 100] == [9.0]
    assert got.count((2000, 5.0)) == 3
