"""Commits on the driver, against the seeded history and the Spark plans.

Every flush runs on the driver (BTrDBEngine.flush): it reads the stream's
buffered rows in batches of at most ``tier.ARROW_MAX_ROWS`` rows, writes
each batch's cold points (one time-sorted file per time_bucket) and every
ladder level's partials (tier.level_partials, one file per level) with
pyarrow, and publishes the hot table without the stream's rows
(store.drop_key). Each seeded history here is replayed on one engine. The
histories hold late and out-of-order points across time buckets (negative
times too), duplicate timestamps, values on and one ulp either side of a
tie of the sixth decimal, both zeros, values at the edge of the read
tier's fold domain (just under tier.MAX_FOLD_ABS), hot files that mix two
streams of one uuid_bucket, and buffered rows at the end. The store must
hold the history's points, each at the version of the flush that
committed it; every level's combined partials must equal the Spark
ingest's own math (rollup_points at the finest level, then coarsen level
to level) over the same store's points; and every read the engine serves
(raw, aligned windows, windows, nearest; at latest and at every committed
version) must equal the Spark plan over the same store. Answers compare
with ``==``, which equates -0.0 and 0.0 (Spark's min and max do not tell
them apart either).
"""

from __future__ import annotations

import functools
import os
import random
from decimal import Decimal
from typing import NamedTuple

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from btrdb_spark import store, tier
from btrdb_spark.engine import BTrDBEngine
from btrdb_spark.operators.raw import nearest_all
from btrdb_spark.plans.rollup import LEVELS, coarsen, combine, rollup_points
from btrdb_spark.schemas import HOT_POINTS_SCHEMA, MAX_TIME, MIN_TIME

TB = 1 << 47  # one time bucket
EDGE = float(np.nextafter(tier.MAX_FOLD_ABS, 0.0))  # largest |v| the read tier folds
STAT = ["cnt", "vmin", "vmean", "vmax"]
LEVEL_COLS = ["uuid", "bucket_start", "version", "cnt", "vmin", "vmax", "vsum"]


def _jobs(spark, fn):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    out = fn()
    return dag.nextJobId() - j0, out


def _value(rng: random.Random) -> float:
    tie = round(rng.uniform(-10, 10), 6) + 5e-7
    return rng.choice([
        rng.uniform(-1e3, 1e3), rng.uniform(-1e3, 1e3), 0.0, -0.0, tie,
        float(np.nextafter(tie, np.inf)), float(np.nextafter(tie, -np.inf)),
        EDGE, -EDGE, rng.uniform(-1, 1) * EDGE,
    ])


def _batch(rng: random.Random, n: int, late: list[int]) -> list[tuple[int, float]]:
    """Out-of-order points over four time buckets around 0, some landing
    late inside committed history (``late`` holds committed times), and
    duplicate timestamps."""
    pts = [(rng.randint(-2 * TB, 2 * TB), _value(rng)) for _ in range(n)]
    pts += [(t + rng.choice([0, 1, -1]), _value(rng)) for t in rng.sample(late, min(len(late), n // 5))]
    pts += [(t, _value(rng)) for t, _ in rng.sample(pts, n // 10)]
    rng.shuffle(pts)
    return pts


def _same_bucket_uuids(eng: BTrDBEngine, seed: int) -> tuple[str, str, str]:
    """Two uuids that share a uuid_bucket and a third that does not."""
    first: dict[int, str] = {}
    for i in range(10_000):
        u = f"dw-{seed}-{i}"
        b = eng._bucket_of(u)
        if b in first:
            other = next(x for bb, x in first.items() if bb != b)
            return first[b], u, other
        first[b] = u
    raise AssertionError("no two uuids share a bucket")


def _mixed_append(spark, eng: BTrDBEngine, rows: list[tuple[str, int, float]]) -> None:
    """A Spark micro-batch into the hot table, as the streaming sink
    writes one: one file holds rows of several streams."""
    eng.append_hot(
        spark.createDataFrame(
            [(u, t, v, i, 0) for i, (u, t, v) in enumerate(rows)], HOT_POINTS_SCHEMA
        ).coalesce(1)
    )


def _union(frames: list[DataFrame], cols: list[str], chunk: int = 8) -> list[list[tuple]]:
    """Each frame's rows (``cols``), sorted, collected ``chunk`` frames to
    a union job: a plan of a hundred branches costs the driver JVM
    gigabytes of heap to analyze."""
    out: list[list[tuple]] = []
    for i in range(0, len(frames), chunk):
        part = frames[i:i + chunk]
        tagged = [df.select(F.lit(j).alias("read"), *cols) for j, df in enumerate(part)]
        rows: list[list[tuple]] = [[] for _ in part]
        for r in functools.reduce(DataFrame.unionByName, tagged).collect():
            rows[r["read"]].append(tuple(r[c] for c in cols))
        out += [sorted(x) for x in rows]
    return out


def _points(eng: BTrDBEngine) -> list[tuple]:
    return sorted(tuple(r) for r in eng.points.select("uuid", "time", "value", "version").collect())


def _assert_ladder_is_the_spark_ingest(eng: BTrDBEngine) -> None:
    """Every level's combined partials equal rollup_points of the store's
    points at the finest level, coarsened level to level: the math of the
    Spark ingest (RollupLadder.ingest_batch)."""
    ref = rollup_points(eng.points, LEVELS[0], versioned=True)
    frames = []
    for i, pw in enumerate(LEVELS):
        if i:
            ref = coarsen(ref, LEVELS[i - 1], pw)
        frames += [combine(eng.ladder.level(pw)), ref]
    rows = _union(frames, LEVEL_COLS)
    for i, pw in enumerate(LEVELS):
        assert rows[2 * i] == rows[2 * i + 1] and rows[2 * i], pw


def _files(directory: str) -> list[str]:
    return [os.path.join(r, f) for r, f in store._parquet_files(directory)]


@pytest.fixture(autouse=True)
def _return_heap(spark):
    """A full GC after each test: the Spark plans compared here grow the
    driver JVM's heap by gigabytes of garbage, which G1 returns to the
    system only after a full collection, and the rest of the suite shares
    that JVM."""
    yield
    spark._jvm.System.gc()


class History(NamedTuple):
    eng: BTrDBEngine
    us: tuple[str, str, str]
    versions: dict[str, list[int]]  # each stream's committed versions
    points: list[tuple]  # committed (uuid, time, value, version)
    buffered: dict[str, list[tuple[int, float]]]  # (time, value) in hot


@pytest.fixture(scope="module", params=[1, 2])
def history(request, spark, tmp_path_factory):
    """One seeded history on one engine; every flush ran no Spark job."""
    seed = request.param
    eng = BTrDBEngine(spark, str(tmp_path_factory.mktemp(f"dw{seed}") / "db"),
                      flush_threshold=10**9, ladder=True)
    us = _same_bucket_uuids(eng, seed)
    for i, u in enumerate(us):
        eng.create_stream(f"dw/{seed}/{i}", uuid=u)
    rng = random.Random(seed)
    versions: dict[str, list[int]] = {u: [] for u in us}
    buffered: dict[str, list[tuple[int, float]]] = {u: [] for u in us}
    points: list[tuple] = []
    committed: list[int] = [0]

    def mixed(n):
        rows = [(u, t, v) for u in us[:2] for t, v in _batch(rng, n, committed)]
        _mixed_append(spark, eng, rows)
        for u, t, v in rows:
            buffered[u].append((t, v))

    def flush(u):
        n, (major, minor) = _jobs(spark, lambda: eng.flush(u))
        assert (n, minor) == (0, 0), u
        points.extend((u, t, v, major) for t, v in buffered[u])
        buffered[u].clear()
        versions[u].append(major)

    for step in range(3):
        for u in us:
            if rng.random() < 0.8:
                batch = _batch(rng, rng.randint(20, 150), committed)
                eng.insert(u, batch)
                buffered[u] += batch
                committed += [t for t, _ in batch]
        mixed(30)
        # flush the first stream only: the mixed hot file is rewritten
        # with the second stream's rows kept
        for u in (us[0], us[2]) if step == 0 else us:
            flush(u)
    # buffered rows at the end, one file of them mixed
    for u in us[:2]:
        batch = _batch(rng, 40, committed)
        eng.insert(u, batch)
        buffered[u] += batch
    mixed(10)
    assert eng.stream_version(us[0])[1] > 0 and all(len(v) >= 2 for v in versions.values())
    return History(eng, us, versions, points, buffered)


def _reads(h: History):
    """Every (uuid, version) a read is made at: latest and each committed
    version of each stream."""
    return [(u, v) for u in h.us for v in (None, *h.versions[u])]


def test_commits_write_the_history(history):
    """The points table holds the history's committed points at their
    versions; every level's combined partials are the Spark ingest's; a
    driver-written file carries Spark's schema in its footer and every
    hot generation but the newest two is condemned."""
    eng = history.eng
    got = _points(eng)
    assert got == sorted(history.points) and len(got) > 500
    _assert_ladder_is_the_spark_ingest(eng)
    files = _files(eng._data_dir("points"))
    assert files and all(store._spark_footer_schema(f) is not None for f in files)
    hot = sorted(
        (d for d in os.listdir(eng.base) if d.startswith("hot.g")),
        key=lambda d: int(d.rsplit(".g", 1)[1]),
    )
    assert all(os.path.exists(os.path.join(eng.base, d, ".condemned")) for d in hot[:-2])


def test_raw_values_equal(history):
    """The tier's rows equal the Spark plan's and the history's: the
    points committed at or before the version, plus the buffered rows at
    latest."""
    eng, points, buffered = history.eng, history.points, history.buffered
    reads = _reads(history)
    plans = _union([eng.raw_values(u, MIN_TIME, MAX_TIME, version=v) for u, v in reads], ["time", "value"])
    for (u, v), plan in zip(reads, plans):
        want = sorted([(t, x) for uu, t, x, ver in points if uu == u and (v is None or ver <= v)]
                      + (buffered[u] if v is None else []))
        got = [(r["time"], r["value"]) for r in eng.raw_values_rows(u, MIN_TIME, MAX_TIME, version=v)]
        assert got == plan == want, (u, v)
    assert any(plans)


def test_aligned_windows_equal(history):
    """Served answers at a level width (20), re-bucketed ones (33, 47) and
    the root (56) equal the Spark plans."""
    eng = history.eng
    cols = ["bucket_start", *STAT]
    reads = [(u, v, pw) for u, v in _reads(history) for pw in (20, 33, 47, 56)]
    plans = _union([eng.aligned_windows(u, MIN_TIME, MAX_TIME, pw, version=v) for u, v, pw in reads], cols)
    for (u, v, pw), plan in zip(reads, plans):
        got = [tuple(r[c] for c in cols) for r in eng.aligned_windows_rows(u, MIN_TIME, MAX_TIME, pw, version=v)]
        assert got == plan and got, (u, v, pw)


def test_windows_equal(history):
    """windows_rows equals the Spark plan at every read; the tier serves
    the committed stream without buffered rows at latest."""
    eng, us = history.eng, history.us
    width = (1 << 44) + 12345
    start, end = -2 * TB - 7, 2 * TB + 40 * width
    cols = ["window_start", *STAT]
    reads = _reads(history)
    assert [(u, v) for u, v in reads if eng._windows_route(u, width, v) is False] == [(us[2], None)]
    plans = _union([eng.windows(u, start, end, width, version=v) for u, v in reads], cols)
    for (u, v), plan in zip(reads, plans):
        got = [tuple(r[c] for c in cols) for r in eng.windows_rows(u, start, end, width, version=v)]
        assert got == plan and got, (u, v)


def _pick(rows: list[tuple[int, float]], t: int, backward: bool):
    """operators.raw._nearest_pick's rule over materialized rows."""
    side = [r for r in rows if (r[0] < t if backward else r[0] >= t)]
    if not side:
        return None
    at = max(r[0] for r in side) if backward else min(r[0] for r in side)
    return at, max(v for tt, v in side if tt == at)


def test_nearest_equal(history):
    """Nearest against the Spark raw plan's rows under the pick rule, and,
    for a sample, against nearest_all's Spark plan."""
    eng = history.eng
    rng = random.Random(3)
    reads = _reads(history)
    rows = _union([eng.raw_values(u, MIN_TIME, MAX_TIME, version=v) for u, v in reads], ["time", "value"])
    queries = []
    for (u, v), got in zip(reads, rows):
        for t in (MIN_TIME, MAX_TIME, 0, 5, 6, *(rng.randint(-2 * TB, 2 * TB) for _ in range(4))):
            for backward in (True, False):
                want = _pick(got, t, backward)
                assert eng.nearest(u, t, backward, version=v) == want, (u, v, t, backward)
                queries.append((u, v, t, backward, want))
    assert any(q[-1] is None for q in queries) and any(q[-1] is not None for q in queries)
    sample = rng.sample(queries, 16)
    frames = []
    for u, v, t, backward, _want in sample:
        pts, dels = eng._queryable(v, u)
        frames.append(nearest_all(pts.filter(F.col("uuid") == u), t, backward, version=v, deletes=dels))
    for (u, v, t, backward, want), got in zip(sample, _union(frames, ["time", "value"])):
        assert (got[0] if got else None) == want, (u, v, t, backward)


def test_crash_before_the_hot_publish_keeps_the_buffer(spark, tmp_path, monkeypatch):
    """A driver commit that dies at its last step, the publish of the hot
    table without the stream's rows, loses no buffered row: the cold rows
    and ladder partials are already appended, the buffer is still whole
    (at-least-once), and the next flush commits it again."""
    eng = BTrDBEngine(spark, str(tmp_path / "db"), flush_threshold=10**9, ladder=True)
    u = eng.create_stream("dw/crash")
    eng.insert(u, [(i, float(i)) for i in range(5)])
    real = store.PosixStore.publish

    def publish(self, base, name, gen, expected=None):
        if name == "hot":
            raise RuntimeError("crash")
        return real(self, base, name, gen, expected)

    monkeypatch.setattr(store.PosixStore, "publish", publish)
    with pytest.raises(RuntimeError, match="crash"):
        eng.flush(u)
    monkeypatch.undo()
    assert sorted(r["time"] for r in eng.hot.collect()) == list(range(5))
    assert eng.stream_version(u)[1] == 5
    assert eng.flush(u) == (eng.stream_version(u)[0], 0)
    got = [r["time"] for r in eng.raw_values_rows(u, MIN_TIME, MAX_TIME)]
    assert set(got) == set(range(5))
    assert sum(r["cnt"] for r in eng.aligned_windows_rows(u, MIN_TIME, MAX_TIME, 20)) == len(got)


def test_buffer_larger_than_the_bound_commits_in_batches(spark, tmp_path, monkeypatch):
    """A buffer of more than ARROW_MAX_ROWS rows commits in several
    batches with no Spark job: each batch appends its own cold files and
    one partials file per level, and the store reads back the buffer."""
    monkeypatch.setattr(tier, "ARROW_MAX_ROWS", 50)
    eng = BTrDBEngine(spark, str(tmp_path / "db"), flush_threshold=10**9, ladder=True)
    u = eng.create_stream("dw/batches")
    pts = _batch(random.Random(5), 150, [])
    eng.insert(u, pts)
    n, (major, minor) = _jobs(spark, lambda: eng.flush(u))
    assert (n, minor) == (0, 0)
    batches = -(-len(pts) // 50)
    assert batches >= 3
    cold = [pq.read_metadata(f).num_rows for f in _files(eng._data_dir("points"))]
    assert len(cold) >= batches and max(cold) <= 50
    for pw in LEVELS:
        assert len(_files(eng.ladder.store.resolve(eng.ladder.base, eng.ladder._name(pw)))) == batches, pw
    assert _points(eng) == sorted((u, t, v, major) for t, v in pts)
    _assert_ladder_is_the_spark_ingest(eng)
    assert [(r["time"], r["value"]) for r in eng.raw_values_rows(u, MIN_TIME, MAX_TIME)] == sorted(pts)
    cols = ["bucket_start", *STAT]
    served = [tuple(r[c] for c in cols) for r in eng.aligned_windows_rows(u, MIN_TIME, MAX_TIME, 44)]
    assert served == _union([eng.aligned_windows(u, MIN_TIME, MAX_TIME, 44)], cols)[0]


def test_large_mixed_hot_file_is_rewritten_in_batches(spark, tmp_path, monkeypatch):
    """A stream whose buffer shares a hot file of more than ARROW_MAX_ROWS
    rows with another stream (a streaming sink's micro-batch) commits with
    no Spark job: the file is rewritten in row groups of at most that many
    rows, and the other stream's buffered rows stay whole."""
    monkeypatch.setattr(tier, "ARROW_MAX_ROWS", 50)
    eng = BTrDBEngine(spark, str(tmp_path / "db"), flush_threshold=10**9, ladder=True)
    a, b, _ = _same_bucket_uuids(eng, 0)
    for i, u in enumerate((a, b)):
        eng.create_stream(f"dw/mixed/{i}", uuid=u)
    _mixed_append(spark, eng, [(a, t, 1.0) for t in range(5)] + [(b, t, 2.0) for t in range(120)])
    eng.insert(a, [(10, 3.0)])
    n, (major, minor) = _jobs(spark, lambda: eng.flush(a))
    assert (n, minor) == (0, 0)
    assert [(r["time"], r["value"]) for r in eng.raw_values_rows(a, MIN_TIME, MAX_TIME)] == [
        *((t, 1.0) for t in range(5)), (10, 3.0)
    ]
    assert eng.stream_version(a) == (major, 0)
    assert eng.stream_version(b)[1] == 120
    assert [(r["time"], r["value"]) for r in eng.raw_values_rows(b, MIN_TIME, MAX_TIME)] == [
        (t, 2.0) for t in range(120)
    ]
    groups = [
        meta.row_group(i).num_rows
        for meta in map(pq.read_metadata, _files(eng._data_dir("hot")))
        for i in range(meta.num_row_groups)
    ]
    assert sum(groups) == 120 and max(groups) <= 50


def test_values_past_the_read_tiers_fold_commit_once(spark, tmp_path):
    """A buffer holding |v| >= MAX_FOLD_ABS commits on the driver with no
    Spark job and exactly once: the ladder's decimal sums equal Python's,
    and the served AlignedWindows equal the Spark ladder plan. A value
    past decimal(38,6) is refused at insert and changes no version."""
    eng = BTrDBEngine(spark, str(tmp_path / "db"), flush_threshold=10**9, ladder=True)
    u = eng.create_stream("dw/big")
    pts = [(5, 1e13), (6, 1.0), (7, -1e13), (8, 1e13), (1 << 20, -1e13), ((1 << 20) + 1, 0.5)]
    eng.insert(u, pts)
    n, (major, minor) = _jobs(spark, lambda: eng.flush(u))
    assert (n, minor) == (0, 0)
    assert [(r["time"], r["value"]) for r in eng.raw_values_rows(u, MIN_TIME, MAX_TIME)] == pts
    want: dict[int, Decimal] = {}
    for t, v in pts:
        want[t >> 20 << 20] = want.get(t >> 20 << 20, Decimal(0)) + Decimal(v)
    got = {r["bucket_start"]: r["vsum"] for r in combine(eng.ladder.level(20)).collect()}
    assert got == want == {0: Decimal(10000000000001), 1 << 20: Decimal("-9999999999999.5")}
    cols = ["bucket_start", *STAT]
    served = [tuple(r[c] for c in cols) for r in eng.aligned_windows_rows(u, MIN_TIME, MAX_TIME, 20)]
    assert served == _union([eng.aligned_windows(u, MIN_TIME, MAX_TIME, 20)], cols)[0]
    assert served[0][:2] == (0, 4)
    with pytest.raises(ValueError):
        eng.insert(u, [(1, 1e32)])
    assert eng.stream_version(u) == (major, 0)
