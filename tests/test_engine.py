"""Engine write-path semantics — mirrors the reference's e2e tests
(pqm_test/main_test.go:53-143: insert/flush visibility, version numbers,
merge-on-read) plus delete/obliterate/CAS behavior."""

from __future__ import annotations

import pytest

from btrdb_spark.engine import BTrDBEngine


@pytest.fixture()
def engine(spark, tmp_path):
    return BTrDBEngine(spark, str(tmp_path / "db"), flush_threshold=100)


def test_version_lifecycle(engine):
    u = engine.create_stream("campus/b1", tags={"unit": "kw"})
    assert engine.stream_version(u) == (9, 0)          # created-but-empty
    maj, mino = engine.insert(u, [(10, 1.0), (20, 2.0)])
    assert (maj, mino) == (9, 2)                        # buffered, not committed
    maj, mino = engine.flush(u)
    assert (maj, mino) == (10, 0)                       # first data version
    maj, mino = engine.insert(u, [(30, 3.0)], sync=True)
    assert (maj, mino) == (11, 0)                       # +1 per flush


def test_info(engine):
    base = engine.info()
    assert base["engine"] == "btrdb_spark" and base["healthy"]
    assert base["reference_api"] == "4.15" and base["n_streams"] == 0
    u = engine.create_stream("campus/b9")
    assert engine.info()["n_streams"] == 1
    engine.obliterate(u)
    assert engine.info()["n_streams"] == 0


def test_merge_on_read_and_version_pinning(engine):
    u = engine.create_stream("campus/b2")
    engine.insert(u, [(10, 1.0)], sync=True)            # committed @10
    engine.insert(u, [(20, 2.0)])                       # buffered only
    latest = [(r["time"], r["value"]) for r in engine.raw_values(u, 0, 100).collect()]
    assert latest == [(10, 1.0), (20, 2.0)]             # buffer merged in
    pinned = [(r["time"], r["value"]) for r in engine.raw_values(u, 0, 100, version=10).collect()]
    assert pinned == [(10, 1.0)]                        # pinned read skips buffer


def test_auto_flush_at_threshold(spark, tmp_path):
    eng = BTrDBEngine(spark, str(tmp_path / "db2"), flush_threshold=5)
    u = eng.create_stream("c")
    maj, mino = eng.insert(u, [(i, float(i)) for i in range(5)])
    assert (maj, mino) == (10, 0)                       # threshold hit -> flushed


def test_delete_range_versioned(engine):
    u = engine.create_stream("campus/b3")
    engine.insert(u, [(10, 1.0), (20, 2.0), (30, 3.0)], sync=True)   # @10
    v = engine.delete_range(u, 15, 25)                   # @11
    assert v == 11
    now = [r["time"] for r in engine.raw_values(u, 0, 100).collect()]
    assert now == [10, 30]
    before = [r["time"] for r in engine.raw_values(u, 0, 100, version=10).collect()]
    assert before == [10, 20, 30]
    ranges = engine.changed_ranges(u, 10, 11, resolution=2).collect()
    assert [(r["range_start"], r["range_end"]) for r in ranges] == [(12, 28)]


def test_out_of_order_and_late_inserts(engine):
    u = engine.create_stream("campus/b4")
    engine.insert(u, [(100, 1.0)], sync=True)
    engine.insert(u, [(50, 0.5)], sync=True)             # arbitrarily late
    got = [r["time"] for r in engine.raw_values(u, 0, 200).collect()]
    assert got == [50, 100]


def test_insert_validation(engine):
    u = engine.create_stream("campus/b5")
    with pytest.raises(ValueError):
        engine.insert(u, [(0, float("nan"))])
    with pytest.raises(ValueError):
        engine.insert(u, [(1 << 63 - 1, 1.0)])
    with pytest.raises(KeyError):
        engine.insert("nonexistent", [(0, 1.0)])


def test_create_uniqueness_and_obliterate(engine):
    u = engine.create_stream("campus/b6", tags={"name": "x"})
    with pytest.raises(ValueError):
        engine.create_stream("campus/b6", tags={"name": "x"})   # dup tagset
    engine.create_stream("campus/b6", tags={"name": "y"})       # ok
    engine.insert(u, [(10, 1.0)], sync=True)
    engine.obliterate(u)
    with pytest.raises(KeyError):
        engine.stream_version(u)
    with pytest.raises(ValueError):
        engine.create_stream("campus/b7", uuid=u)               # uuid never reused


def test_annotation_cas(engine):
    u = engine.create_stream("campus/b8", annotations={"a": "1"})
    engine.set_annotations(u, 1, {"b": "2", "a": None})
    row = engine.streams.filter(f"uuid = '{u}'").collect()[0]
    assert row["annotations"] == {"b": "2"} and row["annotation_version"] == 2
    with pytest.raises(ValueError):
        engine.set_annotations(u, 1, {"c": "3"})                # stale version


def test_changed_ranges_latest_includes_buffer(spark, tmp_path):
    """V2 at latest: unflushed buffer contributes its touched buckets
    (pqm.go:357-381)."""
    from btrdb_spark.engine import BTrDBEngine

    eng = BTrDBEngine(spark, str(tmp_path / "crhot"))
    u = eng.create_stream("cr/hot")
    eng.insert(u, [(1000 + i, float(i)) for i in range(10)])
    eng.flush(u)
    # buffered-only write far away in time
    eng.insert(u, [(10**15, 1.0)])
    committed = eng.changed_ranges(u, 0, 10, resolution=10).collect()
    latest = eng.changed_ranges(u, 0, None, resolution=10).collect()
    assert len(committed) == 1
    assert len(latest) == 2
    assert any(r["range_start"] <= 10**15 < r["range_end"] for r in latest)


def test_compact_points_preserves_answers(spark, tmp_path):
    """Compaction shrinks file count and changes no query answer."""
    import glob

    from btrdb_spark.engine import BTrDBEngine

    eng = BTrDBEngine(spark, str(tmp_path / "cp"), ladder=True)
    u = eng.create_stream("cp/a")
    for b in range(5):  # 5 flush commits -> >= 5 files in the partition
        eng.insert(u, [(b * 10**6 + i, float(b * 100 + i)) for i in range(50)])
        eng.flush(u)
    from btrdb_spark import store

    before = eng.raw_values(u, 0, 10**12).collect()
    ver_before = eng.stream_version(u)
    base = str(tmp_path / "cp")
    nfiles_before = len(
        glob.glob(store.DEFAULT.resolve(base, "points") + "/**/*.parquet", recursive=True)
    )
    eng.compact_points()
    nfiles_after = len(
        glob.glob(store.DEFAULT.resolve(base, "points") + "/**/*.parquet", recursive=True)
    )
    assert nfiles_after < nfiles_before
    assert eng.raw_values(u, 0, 10**12).collect() == before
    assert eng.stream_version(u) == ver_before
    agg = eng.aligned_windows(u, 0, 1 << 30, pw=20)
    assert agg.count() > 0


def test_aligned_windows_collection(spark, tmp_path):
    """Fleet-wide stat query: one plan over every stream matching a
    metadata predicate equals per-stream queries unioned."""
    from btrdb_spark.engine import BTrDBEngine

    eng = BTrDBEngine(spark, str(tmp_path / "fleet"))
    us = {}
    for i in range(4):
        coll = f"campus/b{i % 2}/m{i}"
        us[i] = eng.create_stream(coll, tags={"unit": "kw" if i % 2 else "v"})
        eng.insert(us[i], [(j * 10**6, float(i * 10 + j)) for j in range(100)])
        eng.flush(us[i])
    got = eng.aligned_windows_collection("campus/b1", 0, 10**9, pw=25)
    rows = got.collect()
    matched = {us[1], us[3]}  # b1 streams
    assert {r["uuid"] for r in rows} == matched
    for u in matched:
        per = {
            (r["bucket_start"],): (r["cnt"], r["vmin"], r["vmax"])
            for r in eng.aligned_windows(u, 0, 10**9, pw=25).collect()
        }
        fleet = {
            (r["bucket_start"],): (r["cnt"], r["vmin"], r["vmax"])
            for r in rows
            if r["uuid"] == u
        }
        assert per == fleet
    # tag predicate narrows further
    kw_only = eng.aligned_windows_collection("campus", 0, 10**9, pw=25, tags={"unit": "kw"})
    assert {r["uuid"] for r in kw_only.collect()} == {us[1], us[3]}


def test_create_clash_check_equals_spark_and_runs_no_job(engine, spark):
    """create_stream's clash check (one Arrow read of the catalog) gives
    the answer of the Spark check it replaced, with no Spark job: a uuid
    clashes with a live or a tombstoned stream, a tagset clashes with a
    live stream of the collection whatever the insertion order of its
    tags, a tombstoned stream's tagset can be reused, and non-ASCII
    collections and values compare as Spark compares them. Tag keys are
    ASCII by validation, and a null tag value is refused at create."""
    from pyspark.sql import functions as F

    from btrdb_spark import metadata as md

    live = engine.create_stream("campus/ü", tags={"b": "ß", "a.b": "1", "a_b": "2"}, uuid="u-live")
    dead = engine.create_stream("campus/dead", tags={"k": "v"})
    with pytest.raises(ValueError):
        engine.create_stream("campus/null", tags={"n": None, "k": "v"})
    engine.obliterate(dead, defer_gc=True)

    def spark_check(uuid, collection, tags):
        existing = engine.streams
        if existing.filter(F.col("uuid") == uuid).count():
            return "uuid"
        canon = F.array_join(
            F.transform(
                F.array_sort(F.map_entries(F.col("tags"))),
                lambda e: F.concat(e["key"], F.lit("="), e["value"]),
            ),
            ",",
        )
        clash = (
            md.live(existing).filter(F.col("collection") == collection)
            .filter(canon == F.lit(",".join(f"{k}={v}" for k, v in sorted(tags.items()))))
            .count()
        )
        return "tagset" if clash else None

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    cases = [
        (live, "elsewhere", {}), (dead, "elsewhere", {}),
        ("n1", "campus/ü", {"a_b": "2", "a.b": "1", "b": "ß"}),
        ("n1", "campus/ü", {"a.b": "1", "a_b": "2", "b": "ss"}),
        ("n1", "campus/ü", {"a.b": "1", "a_b": "2"}),
        ("n1", "campus/u", {"a_b": "2", "a.b": "1", "b": "ß"}),
        ("n1", "campus/dead", {"k": "v"}),
    ]
    got = []
    for case in cases:
        j0 = dag.nextJobId()
        msg = engine._clash(*case)
        assert dag.nextJobId() == j0, case
        got.append(None if msg is None else msg.split()[0].strip("(,"))
    want = [spark_check(*case) for case in cases]
    assert [{"uuid": "uuid", "duplicate": "tagset"}.get(g) for g in got] == want
    assert want == ["uuid", "uuid", "tagset", None, None, None, None]
    assert engine.create_stream("campus/dead", tags={"k": "v"})  # tombstoned tagset reused
    with pytest.raises(ValueError):
        engine.create_stream("campus/ü", tags={"a_b": "2", "b": "ß", "a.b": "1"})
    with pytest.raises(ValueError):
        engine.create_stream("campus/ü", tags={"ä": "1"})
