"""Commits written on the driver against commits written by Spark.

A flush of a buffer of at most ``tier.ARROW_MAX_ROWS`` rows runs on the
driver: the cold points, every ladder level's partials and the hot clear
are written with pyarrow (BTrDBEngine._flush_arrow). A larger buffer runs
the Spark flush. Each random history here is replayed on two engines with
the same uuids and the same operations; the second one commits every flush
through the Spark path, because the test lowers the bound to -1 around
them. The histories hold late and out-of-order points across time buckets
(negative times too), duplicate timestamps, values on and one ulp either
side of a tie of the sixth decimal, both zeros, values at the edge of the
ladder fold's domain (tier.MAX_FOLD_ABS), hot files that mix two streams of
one uuid_bucket, and buffered rows at the end. The two stores must hold
equal points and equal combined partials at every ladder level, and every
read (raw, aligned windows, windows, nearest; at latest and at every
committed version; through the Arrow tier and through the Spark plans)
must give equal answers. Answers compare with ``==``, which equates -0.0
and 0.0 (Spark's min and max do not tell them apart either).
"""

from __future__ import annotations

import functools
import random

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from btrdb_spark import tier
from btrdb_spark.engine import BTrDBEngine
from btrdb_spark.operators.raw import nearest_all
from btrdb_spark.plans.rollup import LEVELS, combine
from btrdb_spark.schemas import HOT_POINTS_SCHEMA, MAX_TIME, MIN_TIME

TB = 1 << 47  # one time bucket
EDGE = float(np.nextafter(tier.MAX_FOLD_ABS, 0.0))  # largest |v| the driver folds
STAT = ["cnt", "vmin", "vmean", "vmax"]


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


@pytest.fixture(autouse=True)
def _return_heap(spark):
    """A full GC after each test: the Spark plans compared here grow the
    driver JVM's heap by gigabytes of garbage, which G1 returns to the
    system only after a full collection, and the rest of the suite shares
    that JVM."""
    yield
    spark._jvm.System.gc()


@pytest.fixture(scope="module", params=[1, 2])
def pair(request, spark, tmp_path_factory):
    """(driver engine, Spark-path engine, the three uuids, {uuid: committed
    versions}) after one seeded history replayed on both."""
    seed = request.param
    root = tmp_path_factory.mktemp(f"dw{seed}")
    drv = BTrDBEngine(spark, str(root / "driver"), flush_threshold=10**9, ladder=True)
    spk = BTrDBEngine(spark, str(root / "spark"), flush_threshold=10**9, ladder=True)
    us = _same_bucket_uuids(drv, seed)
    engines = (drv, spk)
    for eng in engines:
        for i, u in enumerate(us):
            eng.create_stream(f"dw/{seed}/{i}", uuid=u)
    rng = random.Random(seed)
    versions = {u: [] for u in us}
    committed: list[int] = [0]

    def flush(u, *, driver_jobs):
        n, got = _jobs(spark, lambda: drv.flush(u))
        assert driver_jobs(n), (u, n)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(tier, "ARROW_MAX_ROWS", -1)
            assert spk.flush(u) == got
        versions[u].append(got[0])

    for step in range(3):
        for u in us:
            if rng.random() < 0.8:
                batch = _batch(rng, rng.randint(20, 150), committed)
                for eng in engines:
                    eng.insert(u, batch)
                committed += [t for t, _ in batch]
        mixed = [(u, t, v) for u in us[:2] for t, v in _batch(rng, 30, committed)]
        for eng in engines:
            _mixed_append(spark, eng, mixed)
        # flush the first stream only: the mixed hot file is rewritten
        # with the second stream's rows kept
        for u in (us[0], us[2]) if step == 0 else us:
            flush(u, driver_jobs=lambda n: n == 0)
    # a value past the driver fold's domain: that flush runs on Spark
    for eng in engines:
        eng.insert(us[2], [(5, tier.MAX_FOLD_ABS), (6, 1.0)])
    flush(us[2], driver_jobs=lambda n: n > 0)
    # buffered rows at the end, one file of them mixed
    for u in us[:2]:
        batch = _batch(rng, 40, committed)
        for eng in engines:
            eng.insert(u, batch)
    mixed = [(u, t, v) for u in us[:2] for t, v in _batch(rng, 10, committed)]
    for eng in engines:
        _mixed_append(spark, eng, mixed)
    assert drv.stream_version(us[0])[1] > 0 and all(len(v) >= 2 for v in versions.values())
    return drv, spk, us, versions


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


def _reads(pair):
    """Every (uuid, version) a read is made at: latest and each committed
    version of each stream."""
    _drv, _spk, us, versions = pair
    return [(u, v) for u in us for v in (None, *versions[u])]


def test_driver_commit_writes_what_spark_writes(pair):
    """Equal points rows and equal combined partials at every ladder
    level; a driver-written file carries Spark's schema in its footer and
    every hot generation but the newest two is condemned."""
    import os

    from btrdb_spark import store

    drv, spk, _us, _versions = pair
    cols = ["uuid", "time", "value", "version"]
    got, want = _union([drv.points, spk.points], cols)
    assert got == want and len(got) > 500
    for pw in LEVELS:
        lvl_cols = ["uuid", "bucket_start", "version", "cnt", "vmin", "vmax", "vsum"]
        got, want = _union([combine(drv.ladder.level(pw)), combine(spk.ladder.level(pw))], lvl_cols)
        assert got == want, pw
    files = [os.path.join(r, f) for r, f in store._parquet_files(drv._data_dir("points"))]
    assert files and all(store._spark_footer_schema(f) is not None for f in files)
    hot = sorted(
        (d for d in os.listdir(drv.base) if d.startswith("hot.g")),
        key=lambda d: int(d.rsplit(".g", 1)[1]),
    )
    assert all(os.path.exists(os.path.join(drv.base, d, ".condemned")) for d in hot[:-2])


def test_raw_values_equal(pair):
    drv, spk, _us, _versions = pair
    reads = _reads(pair)
    frames = [e.raw_values(u, MIN_TIME, MAX_TIME, version=v) for e in (drv, spk) for u, v in reads]
    plans = _union(frames, ["time", "value"])
    for i, (u, v) in enumerate(reads):
        arrow = [[(r["time"], r["value"]) for r in e.raw_values_rows(u, MIN_TIME, MAX_TIME, version=v)]
                 for e in (drv, spk)]
        assert arrow[0] == arrow[1] == plans[i] == plans[len(reads) + i], (u, v)
    assert any(plans)


def test_aligned_windows_equal(pair):
    """Served answers at four widths; the Spark plans at a level width
    (20) and a re-bucketed one (47), the plans of the other two adding
    gigabytes to the driver JVM's heap and nothing the first two miss."""
    drv, spk, _us, _versions = pair
    cols = ["bucket_start", *STAT]
    served = {
        (u, v, pw): [
            [tuple(r[c] for c in cols) for r in e.aligned_windows_rows(u, MIN_TIME, MAX_TIME, pw, version=v)]
            for e in (drv, spk)
        ]
        for u, v in _reads(pair) for pw in (20, 33, 47, 56)
    }
    for read, (got, want) in served.items():
        assert got == want, read
    planned = [read for read in served if read[2] in (20, 47)]
    frames = [e.aligned_windows(u, MIN_TIME, MAX_TIME, pw, version=v) for e in (drv, spk) for u, v, pw in planned]
    plans = _union(frames, cols)
    for i, read in enumerate(planned):
        assert served[read][0] == plans[i] == plans[len(planned) + i], read


def test_windows_equal(pair):
    """windows_rows of both engines are equal; a read the tier serves (the
    committed stream without buffered rows, at latest) also equals the
    Spark plan on both stores, and every other read was served by that
    plan already."""
    drv, spk, us, _versions = pair
    width = (1 << 44) + 12345
    start, end = -2 * TB - 7, 2 * TB + 40 * width
    cols = ["window_start", *STAT]
    served = {
        (u, v): [[tuple(r[c] for c in cols) for r in e.windows_rows(u, start, end, width, version=v)]
                 for e in (drv, spk)]
        for u, v in _reads(pair)
    }
    for read, (got, want) in served.items():
        assert got == want, read
    tiered = [(u, v) for u, v in served if drv._windows_route(u, width, v) is False]
    assert tiered == [(us[2], None)]
    plans = _union([e.windows(u, start, end, width, version=v) for e in (drv, spk) for u, v in tiered], cols)
    for i, read in enumerate(tiered):
        assert served[read][0] == plans[i] == plans[len(tiered) + i], read


def _pick(rows: list[tuple[int, float]], t: int, backward: bool):
    """operators.raw._nearest_pick's rule over materialized rows."""
    side = [r for r in rows if (r[0] < t if backward else r[0] >= t)]
    if not side:
        return None
    at = max(r[0] for r in side) if backward else min(r[0] for r in side)
    return at, max(v for tt, v in side if tt == at)


def test_nearest_equal(pair):
    """Nearest of both engines against the Spark raw plan's rows under the
    pick rule, and, for a sample, against nearest_all's Spark plan."""
    drv, spk, _us, _versions = pair
    rng = random.Random(3)
    reads = _reads(pair)
    rows = _union([spk.raw_values(u, MIN_TIME, MAX_TIME, version=v) for u, v in reads], ["time", "value"])
    queries = []
    for (u, v), got in zip(reads, rows):
        for t in (MIN_TIME, MAX_TIME, 0, 5, 6, *(rng.randint(-2 * TB, 2 * TB) for _ in range(4))):
            for backward in (True, False):
                want = _pick(got, t, backward)
                assert drv.nearest(u, t, backward, version=v) == spk.nearest(u, t, backward, version=v) == want, (
                    u, v, t, backward)
                queries.append((u, v, t, backward, want))
    assert any(q[-1] is None for q in queries) and any(q[-1] is not None for q in queries)
    sample = rng.sample(queries, 16)
    frames = []
    for u, v, t, backward, _want in sample:
        pts, dels = drv._queryable(v, u)
        frames.append(nearest_all(pts.filter(F.col("uuid") == u), t, backward, version=v, deletes=dels))
    for (u, v, t, backward, want), got in zip(sample, _union(frames, ["time", "value"])):
        assert (got[0] if got else None) == want, (u, v, t, backward)


def test_crash_before_the_hot_publish_keeps_the_buffer(spark, tmp_path, monkeypatch):
    """A driver commit that dies at its last step, the publish of the hot
    table without the stream's rows, loses no buffered row: the cold rows
    and ladder partials are already appended, the buffer is still whole
    (at-least-once, as for the Spark commit), and the next flush commits
    it again."""
    from btrdb_spark import store

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


def test_large_mixed_hot_file_commits_with_spark(spark, tmp_path, monkeypatch):
    """A stream whose buffer shares hot files of more than ARROW_MAX_ROWS
    rows in all with other streams (a streaming sink's micro-batch)
    commits with Spark, which rewrites those files off the driver; the
    other stream's buffered rows stay whole."""
    monkeypatch.setattr(tier, "ARROW_MAX_ROWS", 50)
    eng = BTrDBEngine(spark, str(tmp_path / "db"), flush_threshold=10**9)
    a, b, _ = _same_bucket_uuids(eng, 0)
    for i, u in enumerate((a, b)):
        eng.create_stream(f"dw/mixed/{i}", uuid=u)
    _mixed_append(spark, eng, [(a, t, 1.0) for t in range(5)] + [(b, t, 2.0) for t in range(100)])
    eng.insert(a, [(10, 3.0)])
    n, (major, minor) = _jobs(spark, lambda: eng.flush(a))
    assert n > 0 and minor == 0
    assert [(r["time"], r["value"]) for r in eng.raw_values_rows(a, MIN_TIME, MAX_TIME)] == [
        *((t, 1.0) for t in range(5)), (10, 3.0)
    ]
    assert eng.stream_version(a) == (major, 0)
    assert eng.stream_version(b)[1] == 100
    assert [r["time"] for r in eng.raw_values_rows(b, MIN_TIME, MAX_TIME)] == list(range(100))
