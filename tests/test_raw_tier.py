"""The driver-side Arrow tier for RawValues against the Spark plan it
replaces.

BTrDBEngine.raw_values_rows answers a single-stream raw read on the driver
with pyarrow (btrdb_spark/tier.py raw): cold points pruned to the stream's
partition directories, the hot overlay at latest, tombstones and pending
GC applied, sorted by (time, value). Its rows must equal
``raw_values(...).collect()`` in order, at latest and at every committed
version, over random insert/flush/delete_range/re-insert histories.
The partition bucket it reads is computed by a driver-side XXH64, which
must equal Spark's ``pmod(xxhash64(uuid), n)``.
"""

from __future__ import annotations

import functools
import math
import random
import uuid as uuidlib

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from btrdb_spark import tier
from btrdb_spark.engine import BTrDBEngine, uuid_bucket, uuid_bucket_of
from btrdb_spark.service import BTrDBService

# 2^47 ns time buckets: this span covers about 16 of them
LO, HI = -(1 << 50), 1 << 50


def _batch(rng: random.Random, n: int) -> list[tuple[int, float]]:
    """Points over several time buckets with duplicate timestamps,
    duplicate (time, value) pairs and both zeros."""
    base = rng.randint(-(1 << 49), 0)
    pts = [
        (base + rng.randint(0, 1 << 49), rng.choice([rng.uniform(-5, 5), 0.0, -0.0, 1.5]))
        for _ in range(n)
    ]
    pts += rng.sample(pts, n // 8)
    pts += [(t, rng.uniform(-5, 5)) for t, _ in rng.sample(pts, n // 8)]
    return pts


@pytest.fixture(scope="module", params=[1, 2])
def history(request, spark, tmp_path_factory):
    """A random history of two streams: a bulk load at version 10, then
    three random steps among insert+flush, a delete_range of each stream
    (one batched commit) and a re-insert into a deleted range; then
    buffered rows on one stream, some inside a tombstoned range. A third
    stream is obliterated with deferred GC. Returns (engine, {uuid:
    committed versions}, reads, raw_values' answers to them)."""
    seed = request.param
    rng = random.Random(seed)
    eng = BTrDBEngine(spark, str(tmp_path_factory.mktemp("raw") / "db"), flush_threshold=10**9)
    us = [eng.create_stream(f"raw/{seed}/{i}") for i in range(3)]
    rows = [(u, t, v) for u in us for t, v in _batch(rng, 300)]
    eng.bulk_load(spark.createDataFrame(rows, "uuid string, time long, value double"), version=10)
    gone, us = us[2], us[:2]
    versions = {u: [10] for u in (*us, gone)}
    deleted: dict[str, tuple[int, int]] = {}
    for _ in range(3):
        op = rng.choice(["insert", "delete"] + (["reinsert"] if deleted else []))
        if op == "delete":
            for u in us:
                a = rng.randint(-(1 << 49), 0)
                deleted[u] = (a, a + rng.randint(1 << 46, 1 << 48))
            for u, v in eng.delete_ranges([(u, *deleted[u]) for u in us]).items():
                versions[u].append(v)
        else:
            u = rng.choice(sorted(deleted) if op == "reinsert" else us)
            if op == "reinsert":
                a, b = deleted[u]
                pts = [(rng.randint(a, b - 1), rng.choice([0.0, -0.0, 2.5])) for _ in range(60)]
            else:
                pts = _batch(rng, 200)
            versions[u].append(eng.insert(u, pts, sync=True)[0])
    hot = rng.choice(us)
    eng.insert(hot, _batch(rng, 80) + [(t, -0.0) for t in deleted.get(hot, (0, 1))])
    eng.obliterate(gone, defer_gc=True)

    # raw_values' answer to every full read, and to one sub-range read per
    # stream at latest and pinned; the tier's other sub-range reads are
    # checked against the full answer filtered to their range
    reads = [(u, LO, HI, v) for u, vs in versions.items() for v in [None, *vs]]
    for u, vs in versions.items():
        for v in (None, vs[-1]):
            a = rng.randint(-(1 << 49), 0)
            reads.append((u, a, a + rng.randint(1 << 46, 1 << 49), v))
    return eng, versions, reads, _spark_rows(eng, reads)


def _spark_rows(eng, reads) -> list[list[tuple]]:
    """raw_values' answers to (uuid, start, end, version) reads, in order,
    collected as one union job (each read is one sorted partition)."""
    frames = [
        eng.raw_values(u, s, e, version=v).select(F.lit(i).alias("read"), "time", "value")
        for i, (u, s, e, v) in enumerate(reads)
    ]
    out: list[list[tuple]] = [[] for _ in reads]
    for r in functools.reduce(DataFrame.unionByName, frames).collect():
        out[r["read"]].append((r["time"], r["value"]))
    return out


def _signed(rows):
    """The rows as a multiset that tells -0.0 from 0.0."""
    return sorted((t, v, math.copysign(1.0, v)) for t, v in rows)


def _tier_rows(eng, u, s, e, v):
    return [(r["time"], r["value"]) for r in eng.raw_values_rows(u, s, e, version=v)]


def _assert_same(got, want, read):
    # == equates the zeros, whose relative order Spark leaves to scan
    # order; the multiset check tells them apart
    assert got == want, read
    assert _signed(got) == _signed(want), read


def test_raw_tier_equals_spark(history):
    eng, versions, reads, want = history
    for read, rows in zip(reads, want):
        assert tier.raw(eng, *read) is not None, read
        _assert_same(_tier_rows(eng, *read), rows, read)
    full = {(u, v): rows for (u, s, e, v), rows in zip(reads, want) if (s, e) == (LO, HI)}
    rng = random.Random(len(reads))
    for (u, v), rows in full.items():
        # bounds past int64 clamp to it
        _assert_same(_tier_rows(eng, u, -(1 << 64), 1 << 64, v), rows, (u, v))
        assert _tier_rows(eng, u, 1 << 63, 1 << 64, v) == []
        for _ in range(4):  # sub-ranges that cross time buckets, and empty ones
            a = rng.randint(-(1 << 49), 0)
            b = a + rng.choice([0, -5, rng.randint(1 << 44, 1 << 49)])
            _assert_same(_tier_rows(eng, u, a, b, v), [r for r in rows if a <= r[0] < b], (u, a, b, v))
    gone = [u for u in versions if not full[(u, None)]]
    assert len(gone) == 1 and not any(full[(gone[0], v)] for v in versions[gone[0]])
    assert any(len(set(rows)) < len(rows) for rows in full.values())  # duplicates kept


def test_raw_tier_skips_an_uncommitted_deletes_generation(spark, tmp_path):
    """The first delete_range publishes an empty deletes generation before
    its Spark write commits; until then the generation holds only
    ``_temporary/`` staging. A raw read racing it must see no tombstones,
    as the Spark plan does, not fail on an empty dataset."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    eng = BTrDBEngine(spark, str(tmp_path / "db"), flush_threshold=10**9)
    u = eng.create_stream("raw/racing")
    eng.insert(u, [(i, float(i)) for i in range(20)], sync=True)
    want = list(eng.raw_values_rows(u, 0, 100))
    staged = tmp_path / "db" / "deletes.g0" / "_temporary" / "0" / "task_0"
    staged.mkdir(parents=True)
    eng.store.publish(eng.base, "deletes", str(tmp_path / "db" / "deletes.g0"))
    pq.write_table(  # a task's staged tombstone over the whole stream
        pa.table({"uuid": [u], "start": [0], "end": [100], "version": [1 << 40]}),
        str(staged / "part-0.parquet"),
    )
    assert len(want) == 20 and list(eng.raw_values_rows(u, 0, 100)) == want
    assert eng._scan_memo("deletes") is None and eng._dataset("deletes") is None
    assert [r.asDict() for r in eng.raw_values(u, 0, 100).select("time", "value").collect()] == want


def test_python_bucket_equals_spark(spark):
    rng = random.Random(42)
    strs = [str(uuidlib.UUID(int=rng.getrandbits(128))) for _ in range(1200)]
    strs += [
        "".join(
            chr(rng.choice([rng.randint(32, 126), rng.randint(128, 0xD7FF), rng.randint(0x10000, 0x10FFFF)]))
            for _ in range(rng.randint(0, 80))
        )
        for _ in range(1200)
    ]
    df = spark.createDataFrame(list(enumerate(strs)), "i int, s string")
    rows = df.select(
        "i", uuid_bucket(F.col("s"), 16).alias("b16"), uuid_bucket(F.col("s"), 64).alias("b64")
    ).collect()
    assert len(rows) == len(strs)
    for r in rows:
        s = strs[r["i"]]
        assert (uuid_bucket_of(s, 16), uuid_bucket_of(s, 64)) == (r["b16"], r["b64"]), s


def test_service_reads_the_raw_label_before_the_rows():
    """rpc_RawValues reads the reply's versionMajor before the tier reads
    the rows, so a commit racing the RPC can only make the data newer than
    its label."""
    calls = []

    class Engine:
        def stream_version(self, uuid):
            calls.append("version")
            return 7, 0

        def raw_values_rows(self, uuid, start, end, version=None):
            calls.append("rows")
            return iter([{"time": 5, "value": 1.0}])

    meta, batches = BTrDBService(Engine()).rpc_RawValues({"uuid": "u", "start": 0, "end": 10})
    assert calls == ["version", "rows"] and meta == {"versionMajor": 7}
    assert list(batches) == [[{"time": 5, "value": 1.0}]]
