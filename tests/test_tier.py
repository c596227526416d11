"""The driver's Arrow tier (btrdb_spark/tier.py) against Spark.

``tier.dec6`` must equal Spark's ``cast(v as decimal(38,6))`` on every
double: random magnitudes of both signs, zeros, subnormals and values a few
ulps either side of the tie points (k + 1/2)·1e-6. The Windows, Nearest
and buffered AlignedWindows readers must equal the Spark plans they stand
in for, exactly, on random histories: a bulk load, an insert+flush, a
batched delete whose tombstone empties a whole time bucket, duplicate
timestamps, both zeros, buffered rows (some nearer than any cold point)
and a stream obliterated with deferred GC. Answers compare with ``==``,
which equates -0.0 and 0.0 (Spark's min and max do not tell them apart).
"""

from __future__ import annotations

import functools
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from btrdb_spark import tier
from btrdb_spark.engine import BTrDBEngine
from btrdb_spark.operators.raw import nearest_all
from btrdb_spark.plans.rollup import LEVELS
from btrdb_spark.schemas import MAX_TIME, MIN_TIME
from btrdb_spark.service import BTrDBService

PW = 47  # the engine's time partition width: 2^47 ns per time bucket
LO, HI = -(1 << 50), 1 << 50
STAT = ["cnt", "vmin", "vmean", "vmax"]


# ---------------------------------------------------------------- the kernel

def _kernel_inputs(rng: np.random.Generator) -> np.ndarray:
    mags = 10 ** rng.uniform(-9, np.log10(9e12), 200_000)
    rand = mags * rng.choice([-1.0, 1.0], len(mags))
    # the doubles nearest the tie points (k + 1/2)·1e-6, and 3 ulps either
    # side, over magnitudes 1e-6 .. 9e12
    k = np.floor(10 ** rng.uniform(0, 18.9, 3000))
    up = down = (2 * k + 1) / 2e6
    ties = [up]
    for _ in range(3):
        up, down = np.nextafter(up, np.inf), np.nextafter(down, -np.inf)
        ties += [up, down]
    near = np.concatenate(ties)
    near = np.concatenate([near, -near])
    tiny = np.nextafter(0.0, 1.0)
    special = np.array([
        0.0, -0.0, tiny, -tiny, tiny * 12345, 2.2250738585072014e-308, -2.2250738585072014e-308,
        5e-7, 1.0000015, 1234567.0000005, -5e-7, 2.5e-7, 1.5e-6, 9e12, -9e12, 2e23, 1e31,
    ])
    return np.concatenate([rand, near, special])


def test_dec6_equals_spark_cast(spark, tmp_path):
    v = _kernel_inputs(np.random.default_rng(7))
    mine = tier.dec6(v, spark)
    path = str(tmp_path / "kernel.parquet")
    pq.write_table(pa.table({"i": np.arange(len(v)), "v": v, "mine": mine}), path)
    df = spark.read.parquet(path).withColumn("spark", F.col("v").cast("decimal(38,6)"))
    bad = df.filter(~F.col("mine").eqNullSafe(F.col("spark"))).limit(5).collect()
    assert bad == [] and df.count() == len(v) > 200_000
    # the four values where Spark's digits and the binary value disagree
    got = [str(d) for d in tier.dec6(np.array([5e-7, 1.0000015, 1234567.0000005, -5e-7]), spark).to_pylist()]
    assert got == ["0.000001", "1.000002", "1234567.000001", "-0.000001"]


def test_dec6_raises_past_decimal_38_6(spark):
    with pytest.raises(OverflowError):
        tier.dec6(np.array([1.0, 1e32]), spark)


# ---------------------------------------------------------------- histories

def _value(rng: random.Random) -> float:
    """Full-precision values, both zeros, and values a hair from a tie of
    the sixth decimal (the cast kernel's per-row path)."""
    return rng.choice([
        rng.uniform(-1e3, 1e3), rng.uniform(-5, 5), 0.0, -0.0,
        round(rng.uniform(-10, 10), 6) + 5e-7,
    ])


def _points(rng: random.Random, n: int) -> list[tuple[int, float]]:
    """Dense runs (1..2^22 ns apart) at random places over about eight
    time buckets, plus duplicate timestamps."""
    pts: list[tuple[int, float]] = []
    while len(pts) < n:
        t = rng.randint(-(1 << 49), 1 << 49)
        step = 1 << rng.randint(0, 22)
        for _ in range(40):
            t += rng.randint(1, step)
            pts.append((t, _value(rng)))
    pts += [(t, _value(rng)) for t, _ in rng.sample(pts, n // 10)]
    return pts


@pytest.fixture(scope="module", params=[1, 2])
def history(request, spark, tmp_path_factory):
    """Four streams on the full ladder, bulk-loaded at version 10:
    ``flushed`` then gets an insert+flush (version 11) and buffered rows,
    some one ns before or exactly on its cold points; ``deleted`` gets a
    batched delete of two ranges (version 11), one of them a whole time
    bucket that held its points, then buffered rows; ``plain`` stays
    committed and delete-free; ``gone`` is obliterated with deferred GC.
    Returns (engine, {name: uuid}, {uuid: committed versions}, the
    emptied bucket)."""
    seed = request.param
    rng = random.Random(seed)
    eng = BTrDBEngine(spark, str(tmp_path_factory.mktemp("tier") / "db"), flush_threshold=10**9, ladder=True)
    names = ["flushed", "deleted", "plain", "gone"]
    us = {n: eng.create_stream(f"tier/{seed}/{n}") for n in names}
    loaded = {u: _points(rng, 400) for u in us.values()}
    rows = [(u, t, v) for u, pts in loaded.items() for t, v in pts]
    eng.bulk_load(spark.createDataFrame(rows, "uuid string, time long, value double"), version=10)
    versions = {u: [10] for u in us.values()}
    f, d = us["flushed"], us["deleted"]
    versions[f].append(eng.insert(f, _points(rng, 150), sync=True)[0])
    times = sorted(t for t, _ in loaded[d])
    emptied = sorted({t >> PW for t in times})[1]
    a = rng.randint(-(1 << 49), 0)
    versions[d].append(eng.delete_ranges(
        [(d, emptied << PW, (emptied + 1) << PW), (d, a, a + (1 << 46))]
    )[d])
    cold = rng.sample(sorted(t for t, _ in loaded[f]), 20)
    eng.insert(f, [(t - 1, _value(rng)) for t in cold[:10]] + [(t, _value(rng)) for t in cold[10:]]
               + _points(rng, 40))
    eng.insert(d, _points(rng, 40))
    eng.obliterate(us["gone"], defer_gc=True)
    return eng, us, versions, emptied


def _union(frames: list[DataFrame], cols: list[str]) -> list[list[tuple]]:
    """Each frame's rows (``cols``) sorted by the first column, collected
    as one union job."""
    tagged = [df.select(F.lit(i).alias("read"), *cols) for i, df in enumerate(frames)]
    out: list[list[tuple]] = [[] for _ in frames]
    for r in functools.reduce(DataFrame.unionByName, tagged).collect():
        out[r["read"]].append(tuple(r[c] for c in cols))
    return [sorted(rows, key=lambda r: r[0]) for rows in out]


def _rows(tbl: pa.Table, cols: list[str]) -> list[tuple]:
    return [tuple(r[c] for c in cols) for r in tbl.to_pylist()]


# ------------------------------------------------------------------ Windows

def test_windows_tier_equals_spark(history):
    """Windows of the committed, delete-free stream at widths that route
    to each ladder level, over ranges inside dense runs, across time
    buckets and over no data at all, against the ladder's hybrid plan."""
    eng, us, _versions, emptied = history
    u = us["plain"]
    rng = random.Random(emptied)
    times = sorted(r["time"] for r in eng.raw_values_rows(u, MIN_TIME, MAX_TIME))
    reads = []
    for lvl in LEVELS:
        width = rng.randint(1 << lvl, min((1 << (lvl + 6)) - 1, 1 << 59))
        n = rng.randint(1, max(1, min(300, (1 << 60) // width)))
        for start in (rng.choice(times) - rng.randint(0, n * width // 2), times[0] - width // 3):
            reads.append((start, start + n * width + rng.randint(0, width - 1), width))
    reads.append((1 << 55, (1 << 55) + 40 * (1 << 30), 1 << 30))  # no data
    cols = ["window_start", *STAT]
    want = _union([eng.windows(u, s, e, w) for s, e, w in reads], cols)
    assert eng._windows_route(u, reads[0][2], None) is False
    for (s, e, w), rows in zip(reads, want):
        tbl = tier.windows(eng, u, s, e, w)
        assert tbl is not None, (s, e, w)
        got = _rows(tbl, cols)
        assert got == rows, (s, e, w)
        assert [(r["window_start"], *(r[c] for c in STAT)) for r in eng.windows_rows(u, s, e, w)] == rows
    assert any(any(r[1] == 0 for r in rows) for rows in want)  # empty windows
    assert any(sum(r[1] for r in rows) > 100 for rows in want)
    assert want[-1] == []


def test_windows_tier_declines_to_spark(history, monkeypatch):
    """Reads the Windows tier leaves on Spark still answer through
    windows_rows: buffered, deleted and pending-GC streams, ``depth``, a
    pinned version, and a slice over the row bound."""
    eng, us, versions, _emptied = history
    width = 1 << 45
    assert eng._windows_route(us["flushed"], width, None) is None  # buffered
    assert eng._windows_route(us["deleted"], width, None) is None  # buffered, deleted
    assert eng._windows_route(us["gone"], width, None) is None
    assert eng._windows_route(us["plain"], width, 10) is None
    monkeypatch.setattr(tier, "ARROW_MAX_ROWS", 5)
    u = us["plain"]
    assert tier.windows(eng, u, LO, HI, width) is None
    cols = ["window_start", *STAT]
    reads = [(u, None, None), (u, None, 44), (u, 10, None), (us["flushed"], None, None),
             (us["gone"], None, None)]
    want = _union([eng.windows(x, LO, HI, width, version=v, depth=dp) for x, v, dp in reads], cols)
    for (x, v, dp), rows in zip(reads, want):
        got = [tuple(r[c] for c in cols) for r in eng.windows_rows(x, LO, HI, width, version=v, depth=dp)]
        assert got == rows, (x, v, dp)
    assert want[0] and not want[-1]
    with pytest.raises(ValueError):
        eng.windows_rows(u, LO, HI, 0)
    with pytest.raises(ValueError):
        eng.windows_rows(u, LO, LO + width - 1, width)


# ------------------------------------------------------------------ Nearest

def _pick(rows: list[tuple[int, float]], t: int, backward: bool):
    """operators.raw._nearest_pick's rule over materialized rows."""
    side = [r for r in rows if (r[0] < t if backward else r[0] >= t)]
    if not side:
        return None
    at = max(r[0] for r in side) if backward else min(r[0] for r in side)
    return at, max(v for tt, v in side if tt == at)


def test_nearest_tier_equals_spark(history):
    """Nearest at latest and at every committed version, both directions:
    t on a point, between points, before the first and after the last,
    MIN_TIME and MAX_TIME, inside and just past the bucket a tombstone
    emptied, and next to hot rows nearer than any cold point. The Spark
    raw plan's rows give the answer; nearest_all checks the pick rule on
    Spark for a share of the queries."""
    eng, us, versions, emptied = history
    rng = random.Random(emptied)
    reads = [(u, v) for u, vs in versions.items() for v in (None, *vs)]
    spark_rows = _union(
        [eng.raw_values(u, MIN_TIME, MAX_TIME, version=v) for u, v in reads], ["time", "value"]
    )
    queries = []
    for (u, v), rows in zip(reads, spark_rows):
        ts = [t for t, _ in rows]
        qs = [MIN_TIME, MAX_TIME, emptied << PW, ((emptied + 1) << PW) + 1]
        if ts:
            qs += [ts[0], ts[0] - 1, ts[-1], ts[-1] + 1, *rng.sample(ts, min(8, len(ts)))]
            qs += [rng.randint(ts[0], ts[-1]) for _ in range(4)]
        hot = [r["time"] for r in eng.hot.filter(F.col("uuid") == u).select("time").collect()] if v is None else []
        qs += [t + dt for t in rng.sample(hot, min(6, len(hot))) for dt in (0, 1)]
        for t in qs:
            for backward in (True, False):
                got = eng.nearest(u, t, backward, version=v)
                assert got == _pick(rows, t, backward), (u, v, t, backward)
                queries.append((u, v, t, backward, got))
    # the answers include hot rows, the emptied bucket and no-point cases
    assert any(g is None for *_, g in queries) and any(g is not None for *_, g in queries)
    sample = rng.sample(queries, 24)
    frames = []
    for u, v, t, backward, _got in sample:
        pts, dels = eng._queryable(v, u)
        frames.append(nearest_all(pts.filter(F.col("uuid") == u), t, backward, version=v, deletes=dels))
    for (u, v, t, backward, got), rows in zip(sample, _union(frames, ["time", "value"])):
        assert (rows[0] if rows else None) == got, (u, v, t, backward)


def test_nearest_reads_one_bucket(history, monkeypatch):
    """A Nearest visits the time_bucket directories that hold files,
    outward from t, and stops at the first with a live point of the
    stream: from MAX_TIME backward and MIN_TIME forward it steps through
    no bucket without a directory, and past the bucket a tombstone emptied
    it reads that bucket and goes on."""
    eng, us, versions, emptied = history
    u = us["deleted"]
    cases = []
    for v in versions[u]:
        dirs = tier._Slice(eng, u, v).time_buckets()
        owned = {r["time"] >> PW for r in eng.raw_values_rows(u, MIN_TIME, MAX_TIME, version=v)}
        for t, backward in ((MAX_TIME, True), (MIN_TIME, False), ((emptied + 1) << PW, True),
                            (emptied << PW, False)):
            side = [b for b in dirs if (b <= (t - 1) >> PW if backward else b >= t >> PW)]
            want = []
            for b in (reversed(side) if backward else side):
                want.append(b)
                if b in owned:
                    break
            cases.append((v, t, backward, want))
    seen = []
    orig = tier._Slice.cold_batches

    def spy(self, lo, hi):
        assert lo >> PW == hi >> PW  # one bucket per read
        seen.append(lo >> PW)
        return orig(self, lo, hi)

    monkeypatch.setattr(tier._Slice, "cold_batches", spy)
    for v, t, backward, want in cases:
        seen.clear()
        eng.nearest(u, t, backward, version=v)
        assert seen == want, (v, t, backward)
    monkeypatch.undo()
    assert emptied not in owned and emptied in dirs  # the tombstone emptied it
    assert eng.nearest(us["gone"], 0, True) is None and eng.nearest(us["gone"], 0, False, version=10) is None


# ---------------------------------------------------- buffered AlignedWindows

def test_buffered_aligned_windows_equal_hot_merge(history):
    """A latest AlignedWindows of a buffered stream without tombstones, at
    every ladder level: the tier's level partials plus hot unit partials
    equal the Spark hot merge (A5/A6). A buffered stream with tombstones
    stays on Spark."""
    eng, us, _versions, _emptied = history
    u = us["flushed"]
    rng = random.Random(7)
    reads = []
    for lvl in LEVELS:
        pw = lvl + rng.randint(0, 5)
        a = rng.randint(-(1 << 49), 0)
        reads += [(LO, HI, pw), (a, a + rng.randint(1 << min(lvl + 4, 49), 1 << 50), pw)]
    routes = [eng._ladder_route(u, pw, None) for _s, _e, pw in reads]
    assert all(r is not None and not r[1] and r[2] for r in routes)
    cols = ["bucket_start", *STAT]
    want = _union([eng._aligned_windows_plan(r, u, s, e, pw, None) for r, (s, e, pw) in zip(routes, reads)], cols)
    for route, (s, e, pw), rows in zip(routes, reads, want):
        tbl = eng._arrow_tier(route, u, s, e, pw, None)
        assert tbl is not None and _rows(tbl, cols) == rows, (s, e, pw)
    assert sum(r[1] for r in want[0]) == len(list(eng.raw_values_rows(u, LO, HI)))
    d = us["deleted"]
    route = eng._ladder_route(d, 32, None)
    assert route is not None and route[1] and route[2]
    assert eng._arrow_tier(route, d, LO, HI, 32, None) is None


def test_service_reads_the_windows_label_before_the_rows():
    """rpc_Windows reads the reply's versionMajor before the tier reads the
    rows, so a commit racing the RPC can only make the data newer than its
    label."""
    calls = []

    class Engine:
        def stream_version(self, uuid):
            calls.append("version")
            return 7, 0

        def windows_rows(self, uuid, start, end, width, version=None, depth=None):
            calls.append("rows")
            return iter([{"window_start": 0, "cnt": 1, "vmin": 2.0, "vmean": 2.0, "vmax": 2.0}])

    meta, batches = BTrDBService(Engine()).rpc_Windows(
        {"uuid": "u", "start": 0, "end": 1 << 30, "width": 1 << 30}
    )
    assert calls == ["version", "rows"] and meta == {"versionMajor": 7}
    assert list(batches) == [[{"time": 0, "count": 1, "vmin": 2.0, "vmean": 2.0, "vmax": 2.0}]]
