"""Scheduled background GC (VERDICT r2 #8): engine.maintain reaps
superseded table generations (the quasar.go:119-137 GC-loop analog) while
readers inside the keep-window survive, and the streaming ingest trigger
runs it on an interval."""

from __future__ import annotations

import os
import re
import threading
import time

from pyspark.sql import functions as F

import btrdb_spark.engine as engine_mod
from btrdb_spark.engine import BTrDBEngine
from btrdb_spark.streaming.ingest import attach_ingest

_GEN = re.compile(r"\.g\d+$")


def _gens(base: str, name: str) -> list[str]:
    return sorted(
        d for d in os.listdir(base) if d.startswith(f"{name}.g") and _GEN.search(d)
    )


def test_maintain_reaps_generations_and_keep_window_reader_survives(spark, tmp_path):
    base = str(tmp_path / "db")
    eng = BTrDBEngine(spark, base, flush_threshold=10_000, ladder=True)
    u = eng.create_stream("gc/a")
    # every sync insert = one flush = one new hot generation (clear is a
    # generation rewrite); each flush condemns the hot generations older
    # than the one it superseded and reaps them only HOT_GC_GRACE_S later,
    # so six quick flushes leave them condemned, not yet reaped
    for b in range(5):
        eng.insert(u, [(b * 1000 + i, float(i)) for i in range(10)], sync=True)
    eng.insert(u, [(5000 + i, float(i)) for i in range(10)])
    expect = [tuple(r) for r in eng.raw_values(u, 0, 10**9).collect()]

    # a reader resolved BEFORE the last flush and maintenance, against the
    # live generation (inside any keep>=1 window)
    reader = eng.raw_values(u, 0, 10**9)
    eng.flush(u)
    before = sorted(_gens(base, "hot"), key=lambda g: int(g.rsplit(".g", 1)[1]))
    assert len(before) >= 3
    assert all(os.path.exists(os.path.join(base, g, ".condemned")) for g in before[:-2])

    out = eng.maintain(keep=2)
    assert out["reaped"].get("hot", 0) >= 1
    after = _gens(base, "hot")
    assert len(after) <= 2
    # the keep-window reader still collects, and fresh reads are intact
    assert [tuple(r) for r in reader.collect()] == expect
    assert [tuple(r) for r in eng.raw_values(u, 0, 10**9).collect()] == expect

    # compaction cadence: maintain(compact=True) folds the points table
    # into a fresh generation and GC keeps the window bounded
    out2 = eng.maintain(keep=2, compact=True)
    assert out2["compacted"]
    assert [tuple(r) for r in eng.raw_values(u, 0, 10**9).collect()] == expect
    assert len(_gens(base, "points")) <= 2


def test_reader_survives_two_commits_of_another_stream(spark, tmp_path):
    """A DataFrame planned over the hot table still collects after two
    commits of another stream: the generation it resolved is condemned by
    the second commit and reaped only HOT_GC_GRACE_S later."""
    base = str(tmp_path / "db")
    eng = BTrDBEngine(spark, base, flush_threshold=10_000)
    a, b = eng.create_stream("gc/a"), eng.create_stream("gc/b")
    eng.insert(a, [(i, float(i)) for i in range(10)])
    expect = [tuple(r) for r in eng.raw_values(a, 0, 10**9).collect()]
    reader = eng.raw_values(a, 0, 10**9)
    for k in range(2):
        eng.insert(b, [(k * 100 + i, float(i)) for i in range(10)], sync=True)
    assert [tuple(r) for r in reader.collect()] == expect


def test_commit_reaps_condemned_hot_generations(spark, tmp_path, monkeypatch):
    """With no grace, a commit reaps what the previous commit condemned:
    the hot table holds at most the newest two generations plus the one
    the last commit condemned, however many commits ran."""
    monkeypatch.setattr(engine_mod, "HOT_GC_GRACE_S", 0.0)
    base = str(tmp_path / "db")
    eng = BTrDBEngine(spark, base, flush_threshold=10_000)
    u = eng.create_stream("gc/a")
    for b in range(6):
        eng.insert(u, [(b * 1000 + i, float(i)) for i in range(10)], sync=True)
        assert len(_gens(base, "hot")) <= 3
    assert [r["time"] for r in eng.raw_values_rows(u, 0, 10**9)] == [
        b * 1000 + i for b in range(6) for i in range(10)
    ]


def test_streaming_trigger_runs_interval_gc(spark, tmp_path):
    base = str(tmp_path / "db")
    # tiny flush threshold: the stream flushes constantly, each flush
    # spawning a hot generation — exactly the pile-up GC must bound
    eng = BTrDBEngine(spark, base, flush_threshold=20)
    eng.create_stream("gc/s", uuid="gcs1")
    src = (
        spark.readStream.format("rate").option("rowsPerSecond", "200").load()
        .select(
            F.lit("gcs1").alias("uuid"),
            (F.col("value") * 1000).alias("time"),
            F.col("value").cast("double").alias("value"),
        )
    )
    q = attach_ingest(
        src, eng, str(tmp_path / "ckpt"), maintenance_interval_s=0.0, vacuum_keep=2
    )
    try:
        deadline = time.time() + 90
        # wait until >=8 flush commits happened (points versions advance
        # per flush), so without GC generations would clearly pile up
        while time.time() < deadline:
            vmax = eng.points.agg(F.max("version")).collect()[0][0]
            if vmax is not None and vmax >= 17:
                break
            time.sleep(1)
        assert vmax is not None and vmax >= 17, f"too few flushes (vmax={vmax})"
    finally:
        q.stop()
    # the per-batch GC kept the hot-table generation window bounded: far
    # fewer directories than flush commits (each flush creates one);
    # slack for flushes between the last GC call and the stop
    n_flushes = vmax - 9
    assert len(_gens(base, "hot")) <= 5 < n_flushes
    # and the data survived: committed rows all readable
    assert eng.raw_values("gcs1", 0, 10**12).count() > 0


def test_deferred_obliterate_reclaimed_by_background_loop(spark, tmp_path):
    """VERDICT r3 #6: obliterate(defer_gc=True) tombstones + journals in
    one metadata write; the stream vanishes from every query path
    immediately; the MaintenanceLoop reclaims the storage WITHOUT any
    explicit gc call; the journal survives an engine reopen."""
    from btrdb_spark.maintenance import MaintenanceLoop

    base = str(tmp_path / "db")
    eng = BTrDBEngine(spark, base, flush_threshold=10_000, ladder=True)
    keep_u = eng.create_stream("m/keep")
    dead_u = eng.create_stream("m/dead")
    eng.insert(keep_u, [(i * 1000, float(i)) for i in range(50)], sync=True)
    eng.insert(dead_u, [(i * 1000, 9.0) for i in range(50)], sync=True)
    keep_rows = [tuple(r) for r in eng.raw_values(keep_u, 0, 10**9).collect()]

    eng.obliterate(dead_u, defer_gc=True)
    # gone from queries NOW, before any GC ran
    assert eng.raw_values(dead_u, 0, 10**9).count() == 0
    assert eng.aligned_windows(dead_u, 0, 10**9, 14).count() == 0
    assert eng.windows(dead_u, 0, 10**9, 16384).count() == 0
    # but the bytes are still on disk (data reap deferred)
    assert eng.points.filter(F.col("uuid") == dead_u).count() > 0
    # journal is durable: a fresh engine on the same store also hides it
    eng2 = BTrDBEngine(spark, base, flush_threshold=10_000, ladder=True)
    assert eng2.raw_values(dead_u, 0, 10**9).count() == 0

    loop = MaintenanceLoop(eng, interval_s=0.2, keep=2, compact_every=1000)
    with loop:
        deadline = time.time() + 60
        while time.time() < deadline:
            if loop.passes >= 1 and eng.points.filter(F.col("uuid") == dead_u).count() == 0:
                break
            time.sleep(0.3)
    assert loop.last_error is None, loop.last_error
    assert loop.passes >= 1
    # storage reclaimed by the background pass, no explicit call
    assert eng.points.filter(F.col("uuid") == dead_u).count() == 0
    assert eng._pending_gc == set()
    # the surviving stream is untouched
    assert [tuple(r) for r in eng.raw_values(keep_u, 0, 10**9).collect()] == keep_rows


def test_writes_during_maintenance_pass_stay_query_correct(spark, tmp_path):
    """A writer thread keeps inserting while the maintenance loop runs
    aggressive GC+compaction passes: every acknowledged write must read
    back exactly afterwards (the write-lock serialization contract)."""
    from btrdb_spark.maintenance import MaintenanceLoop

    base = str(tmp_path / "db")
    eng = BTrDBEngine(spark, base, flush_threshold=40, ladder=True)
    u = eng.create_stream("m/live")
    # a doomed stream so the loop's obliterate-GC half also exercises
    doomed = eng.create_stream("m/doomed")
    eng.insert(doomed, [(i, 1.0) for i in range(30)], sync=True)
    eng.obliterate(doomed, defer_gc=True)

    written: list[tuple[int, float]] = []
    errors: list[BaseException] = []

    def writer():
        try:
            for b in range(12):
                batch = [(b * 100_000 + i * 100, float(b * 1000 + i)) for i in range(50)]
                eng.insert(u, batch, sync=(b % 3 == 0))
                written.extend(batch)
        except BaseException as exc:  # surface in the main thread
            errors.append(exc)

    loop = MaintenanceLoop(eng, interval_s=0.05, keep=2, compact_every=3)
    t = threading.Thread(target=writer)
    with loop:
        t.start()
        t.join(timeout=300)
    assert not t.is_alive(), "writer deadlocked"
    assert errors == [], errors
    assert loop.last_error is None, loop.last_error
    assert loop.passes >= 2, f"loop barely ran ({loop.passes} passes)"
    eng.flush(u)
    got = sorted(
        (r["time"], r["value"]) for r in eng.raw_values(u, 0, 1 << 60).collect()
    )
    assert got == sorted(written)
    # the doomed stream's storage went away in the background
    assert eng.points.filter(F.col("uuid") == doomed).count() == 0


def test_age_based_flush_commits_trickle_stream(spark, tmp_path):
    """VERDICT r4 #4 / pqm.go:29-35 MaxPQMBufferAge: a trickle-rate
    stream's rows must reach cold storage + the rollup ladder via the
    age trigger without ever hitting the 32,768-point size trigger, and
    the age flush must reset the minor version to 0 (pqm.go:264-297)."""
    eng = BTrDBEngine(
        spark,
        str(tmp_path / "db"),
        flush_threshold=10**9,  # size trigger can never fire
        ladder=True,
        max_buffer_age_s=0.0,  # everything is instantly "old"
    )
    u = eng.create_stream("trickle/a")
    eng.insert(u, [(i, float(i)) for i in range(5)])
    assert eng.hot.count() == 5

    from btrdb_spark.maintenance import MaintenanceLoop

    out = MaintenanceLoop(eng).run_once()
    assert out.get("age_flushed") == [u]
    major, minor = eng.stream_version(u)
    assert minor == 0, "age flush must reset minor to 0"
    assert eng.hot.count() == 0
    assert eng.points.filter(F.col("uuid") == u).count() == 5
    # the flushed batch reached the ladder too
    assert eng.ladder.level(eng.ladder.levels[0]).agg(
        F.sum("cnt").alias("c")
    ).collect()[0]["c"] == 5


def test_age_based_flush_spares_fresh_buffers(spark, tmp_path):
    eng = BTrDBEngine(
        spark,
        str(tmp_path / "db"),
        flush_threshold=10**9,
        max_buffer_age_s=3600.0,  # an hour: nothing here is old
    )
    u = eng.create_stream("fresh/a")
    eng.insert(u, [(i, float(i)) for i in range(5)])
    assert eng.flush_aged() == []
    assert eng.hot.count() == 5
    _, minor = eng.stream_version(u)
    assert minor == 5
