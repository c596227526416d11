"""The driver-side Arrow tier for AlignedWindows against the Spark ladder
path it replaces.

The tier (BTrDBEngine._arrow_tier over btrdb_spark/tier.py
aligned_windows) answers a single-stream AlignedWindows from ladder
partials, plus the hot rows of a buffered stream at latest, with pyarrow,
without a Spark job. Its answer must equal RollupLadder.aligned_windows
(or the hot merge) exactly (time, count, vmin, vmean, vmax) at every
ladder level, at latest and at pinned versions, and every read the tier
does not serve must come back None so that it keeps its Spark plan.
"""

from __future__ import annotations

import functools
import random

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from btrdb_spark import tier
from btrdb_spark.engine import BTrDBEngine
from btrdb_spark.plans.rollup import LEVELS, RollupLadder
from btrdb_spark.service import BTrDBHttpClient, BTrDBService, RpcError

LO, HI = -(1 << 45), 1 << 61
COLS = ["bucket_start", "cnt", "vmin", "vmean", "vmax"]


def _engine(spark, path, levels=LEVELS) -> BTrDBEngine:
    """A ladder engine. The routing cases pass a shorter ladder: each
    commit writes one file set per level, and seven levels cost seconds."""
    eng = BTrDBEngine(spark, str(path), flush_threshold=10**9, ladder=True)
    if levels != LEVELS:
        eng.ladder = RollupLadder(spark, eng.ladder.base, levels=levels, backend=eng.store)
    return eng


def _tier(eng, uuid, start, end, pw, version=None):
    """The tier's table for a read routed as the engine routes it."""
    route = eng._ladder_route(uuid, pw, version)
    return eng._arrow_tier(route, uuid, start, end, pw, version)


def _points(rng: random.Random, n: int) -> list[tuple[int, float]]:
    """Clustered and scattered times (negative ones too), full-precision
    values: sums exercise the decimal path and means the float rounding."""
    base = rng.randint(-(1 << 36), 1 << 36)
    pts = [(base + i * rng.randint(1 << 16, 1 << 22), rng.uniform(-1e6, 1e6)) for i in range(n)]
    pts += [(rng.randint(-(1 << 44), 1 << 44), rng.uniform(-10, 10)) for _ in range(n // 10)]
    return pts


@pytest.fixture(scope="module")
def history(spark, tmp_path_factory):
    """A random history on an engine with the full ladder: one bulk_load
    of both streams at version 10, then an insert+flush of one random
    stream at version 11. (The buffered case is a routing case below.)"""
    rng = random.Random(20261017)
    eng = _engine(spark, tmp_path_factory.mktemp("arrow") / "db")
    us = [eng.create_stream(f"arrow/{i}") for i in range(2)]
    rows = [(u, t, v) for u in us for t, v in _points(rng, 1500)]
    eng.bulk_load(spark.createDataFrame(rows, "uuid string, time long, value double"), version=10)
    flushed = rng.choice(us)
    eng.insert(flushed, _points(rng, 400), sync=True)
    return eng, {u: [10] + ([11] if u == flushed else []) for u in us}


def _spark_frames(eng, reads) -> dict:
    """The Spark ladder path's answers to (uuid, start, end, pw, version)
    reads, collected as one union job."""
    frames = [
        eng.ladder.aligned_windows(u, s, e, pw, version=v, include_rebase=False).select(
            F.lit(i).alias("read"), *COLS
        )
        for i, (u, s, e, pw, v) in enumerate(reads)
    ]
    out = {i: [] for i in range(len(reads))}
    for r in functools.reduce(DataFrame.unionByName, frames).collect():
        out[r["read"]].append(tuple(r[c] for c in COLS))
    return {i: sorted(rows) for i, rows in out.items()}


@pytest.mark.parametrize("lvl", LEVELS)
def test_arrow_tier_equals_spark_ladder(history, lvl):
    eng, versions = history
    rng = random.Random(lvl)
    # a pw that routes to this level: the level itself or a coarser grid
    pw = lvl + rng.choice([0, rng.randint(1, 5)])
    reads = []
    for u, vs in versions.items():
        for v in [None] + vs:
            reads.append((u, LO, HI, pw, v))
            a, b = sorted(rng.randint(-(1 << 40), 1 << 40) for _ in range(2))
            reads.append((u, a, b, pw, v))
    want = _spark_frames(eng, reads)
    for i, (u, s, e, pw_, v) in enumerate(reads):
        tbl = _tier(eng, u, s, e, pw_, v)
        assert tbl is not None, (u, v)
        assert tbl.column_names == COLS
        got = [tuple(r[c] for c in COLS) for r in tbl.to_pylist()]
        assert got == want[i], (u, s, e, pw_, v)  # sorted by bucket, exactly equal
    assert any(want.values())


def test_arrow_tier_declines_spark_only_reads(spark, tmp_path, monkeypatch):
    """Reads the tier must leave on Spark: pending GC, pw finer than the
    ladder, and a slice over the row bound. A buffered stream's read is
    the tier's, pinned and at latest; at latest it equals the Spark hot
    merge."""
    eng = _engine(spark, tmp_path / "db", levels=(20, 26))
    plain, hot, gone = (eng.create_stream(f"decline/{i}") for i in range(3))
    rows = [(u, i << 22, float(i % 17)) for u in (plain, hot, gone) for i in range(400)]
    eng.bulk_load(spark.createDataFrame(rows, "uuid string, time long, value double"), version=10)
    eng.insert(hot, [(5, 1.0)])
    eng.obliterate(gone, defer_gc=True)

    assert _tier(eng, plain, LO, HI, 26) is not None
    route = eng._ladder_route(hot, 26, None)
    assert route[2]  # buffered at latest: the hot merge
    merged = [tuple(r[c] for c in COLS) for r in eng._aligned_windows_plan(
        route, hot, LO, HI, 26, None).collect()]
    assert [tuple(r[c] for c in COLS) for r in _tier(eng, hot, LO, HI, 26).to_pylist()] == merged
    assert _tier(eng, hot, LO, HI, 26, 10) is not None
    assert _tier(eng, gone, LO, HI, 26) is None
    assert _tier(eng, gone, LO, HI, 26, 10) is None
    assert _tier(eng, plain, LO, HI, 10) is None

    # level 20 holds one row per point of all three streams; the bound
    # counts only the rows the read's filter keeps (plain's 400, or the
    # 10 of a sub-range)
    assert eng.ladder.level(20).count() == 1200
    monkeypatch.setattr(tier, "ARROW_MAX_ROWS", 400)
    assert _tier(eng, plain, LO, HI, 20) is not None
    monkeypatch.setattr(tier, "ARROW_MAX_ROWS", 399)
    assert _tier(eng, plain, LO, HI, 20) is None
    assert _tier(eng, plain, 0, 10 << 22, 20) is not None
    monkeypatch.undo()


def test_arrow_tier_declines_deleted_stream(spark, tmp_path):
    eng = _engine(spark, tmp_path / "db", levels=(32,))
    u = eng.create_stream("decline/deleted")
    eng.insert(u, [(i << 22, float(i % 17)) for i in range(400)], sync=True)
    assert _tier(eng, u, LO, HI, 32) is not None
    v = eng.delete_range(u, 0, 100 << 22)
    for version in (None, v, v - 1):
        assert _tier(eng, u, LO, HI, 32, version) is None
    counts = {r["bucket_start"]: r["cnt"] for r in eng.aligned_windows(u, LO, HI, 32).collect()}
    assert sum(counts.values()) == 300


def test_service_and_client_take_the_tier(spark, tmp_path):
    """The AlignedWindows RPC and client.Stream.aligned_windows answer
    from the tier exactly as the DataFrame path does, and an unknown
    uuid keeps its status codes: 404 at latest, an empty 200 pinned."""
    from btrdb_spark.client import BTrDB

    eng = _engine(spark, tmp_path / "db", levels=(26,))
    u = eng.create_stream("svc/tier")
    eng.insert(u, [(i << 21, i * 0.1) for i in range(3000)], sync=True)
    want = [
        (r["bucket_start"], r["cnt"], r["vmin"], r["vmean"], r["vmax"])
        for r in eng.aligned_windows(u, LO, HI, 26).collect()
    ]
    assert _tier(eng, u, LO, HI, 26) is not None

    stream = BTrDB(eng).stream_from_uuid(u)
    assert [(p.time, p.count, p.min, p.mean, p.max) for p in stream.aligned_windows(LO, HI, 26)] == want

    svc = BTrDBService(eng)
    cli = BTrDBHttpClient("127.0.0.1", svc.start())
    try:
        meta, rows = cli.rows("AlignedWindows", uuid=u, start=LO, end=HI, pointWidth=26)
        assert meta["versionMajor"] == 10
        assert [(r["time"], r["count"], r["vmin"], r["vmean"], r["vmax"]) for r in rows] == want
        with pytest.raises(RpcError) as err:
            cli.call("AlignedWindows", uuid="no-such-uuid", start=LO, end=HI, pointWidth=26)
        assert err.value.code == 404
        meta, rows = cli.rows(
            "AlignedWindows", uuid="no-such-uuid", start=LO, end=HI, pointWidth=26, versionMajor=10
        )
        assert (meta["versionMajor"], rows) == (10, [])
    finally:
        svc.stop()


def test_service_reads_the_label_before_the_rows():
    """The reply's versionMajor is read before the tier reads the data,
    so a commit racing the RPC can only make the data newer than its
    label: a client that caches by version then asks ChangedRanges from
    that label and sees the change."""
    calls = []

    class Engine:
        def stream_version(self, uuid):
            calls.append("version")
            return 7, 0

        def aligned_windows_rows(self, uuid, start, end, pw, version=None):
            calls.append("rows")
            return iter([{"bucket_start": 0, "cnt": 1, "vmin": 2.0, "vmean": 2.0, "vmax": 2.0}])

    meta, batches = BTrDBService(Engine()).rpc_AlignedWindows(
        {"uuid": "u", "start": 0, "end": 1 << 30, "pointWidth": 26}
    )
    assert calls == ["version", "rows"] and meta == {"versionMajor": 7}
    assert list(batches) == [[{"time": 0, "count": 1, "vmin": 2.0, "vmean": 2.0, "vmax": 2.0}]]
