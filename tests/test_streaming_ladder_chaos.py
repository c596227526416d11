"""Crash-equivalence of streaming ladder maintenance (VERDICT r3 #9).

The reference replays its insert journal after a crash and the
version-guard skips already-committed entries (pqm.go:152-188). The
streaming sink's analog: kill the process between the hot append and
the ladder merge — or between any two ladder level appends — then
replay the epoch, and every ladder level must hold EXACTLY the batch's
rollup: no lost levels, no double counts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from btrdb_spark import store
from btrdb_spark.engine import BTrDBEngine
from btrdb_spark.plans.rollup import RollupLadder
from btrdb_spark.streaming.ingest import make_batch_processor, stream_seq


class Boom(RuntimeError):
    pass


def _mk(spark, tmp_path, levels=(12, 18)):
    eng = BTrDBEngine(spark, str(tmp_path / "db"), flush_threshold=10**9)
    eng.create_stream("c/a", uuid="ca")
    ladder = RollupLadder(spark, str(tmp_path / "ladder"), levels=levels)
    proc = make_batch_processor(eng, str(tmp_path / "ckpt"), ladder=ladder)
    return eng, ladder, proc


def _batch(spark, n=500, base=0):
    return spark.createDataFrame(
        [("ca", base + i * 7, float(i)) for i in range(n)],
        "uuid string, time long, value double",
    )


def _level_totals(ladder, pw):
    rows = (
        ladder.level(pw)
        .agg(
            F.sum("cnt").alias("cnt"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.sum(F.col("vsum").cast("double")).alias("vsum"),
        )
        .collect()[0]
    )
    return (rows["cnt"], rows["vmin"], rows["vmax"], rows["vsum"])


def _expected_totals(n):
    return (n, 0.0, float(n - 1), float(sum(range(n))))


def _rewind(ckpt, epoch_id):
    """Move the sink's batch watermark back below ``epoch_id``, so the
    next call of that epoch runs as a full replay."""
    store.mark_epoch(store.DEFAULT, ckpt, "batch", (store.query_key(ckpt), epoch_id - 1))


def _level_epoch(ladder, pw, ckpt):
    return store.committed_epoch(
        ladder.store, ladder.base, ladder._name(pw), store.query_key(ckpt)
    )


def test_kill_between_hot_append_and_ladder_merge_replays_exact(spark, tmp_path, monkeypatch):
    eng, ladder, proc = _mk(spark, tmp_path)
    b = _batch(spark)

    real_ingest = ladder.ingest_batch
    monkeypatch.setattr(
        ladder, "ingest_batch", lambda *a, **k: (_ for _ in ()).throw(Boom())
    )
    with pytest.raises(Boom):
        proc(b, 7)  # hot committed, ladder never started, no marker
    assert eng.hot.count() == 500

    monkeypatch.setattr(ladder, "ingest_batch", real_ingest)
    proc(b, 7)  # the replay

    # hot: exactly once
    assert eng.hot.count() == 500
    ckpt = str(tmp_path / "ckpt")
    seq = stream_seq(store.query_key(ckpt), 7)
    assert eng.hot.filter(F.col("seq") == seq).count() == 500
    # every level: exactly the batch's rollup
    for pw in ladder.levels:
        assert _level_totals(ladder, pw) == _expected_totals(500), f"level {pw}"
    # a SECOND full replay (batch watermark rewound) changes nothing anywhere
    _rewind(ckpt, 7)
    proc(b, 7)
    assert eng.hot.count() == 500
    for pw in ladder.levels:
        assert _level_totals(ladder, pw) == _expected_totals(500), f"level {pw}"


def test_mixed_insert_and_streaming_seq_namespaces_disjoint(spark, tmp_path):
    """Regression (ADVICE r4, high): insert() stamps seq from the
    per-stream minor counter (0,1,2,...). A first-time streaming batch
    whose epoch_id collided with a buffered insert seq used to be
    mistaken for a replay and silently dropped from the hot table."""
    eng, ladder, proc = _mk(spark, tmp_path)
    eng.insert("ca", [(10 + i, float(i)) for i in range(5)])  # seqs 0..4
    assert eng.hot.count() == 5

    proc(_batch(spark, 100, base=1_000_000), 2)  # epoch_id=2 collides with seq 2

    ckpt = str(tmp_path / "ckpt")
    assert eng.hot.count() == 105
    assert eng.hot.filter(F.col("seq") == stream_seq(store.query_key(ckpt), 2)).count() == 100
    # and the replay guard still works in the streaming namespace
    # (batch watermark rewound so the existence probe itself must catch it)
    _rewind(ckpt, 2)
    proc(_batch(spark, 100, base=1_000_000), 2)
    assert eng.hot.count() == 105


def test_kill_between_level_appends_replays_only_missing_levels(spark, tmp_path, monkeypatch):
    eng, ladder, proc = _mk(spark, tmp_path)
    b = _batch(spark)

    # kill AFTER level 0's append+watermark, before level 1's append
    real_mark = store.mark_epoch
    calls = {"n": 0}

    def mark_then_die(*args):
        real_mark(*args)
        calls["n"] += 1
        if calls["n"] == 1:
            raise Boom()

    monkeypatch.setattr(store, "mark_epoch", mark_then_die)
    with pytest.raises(Boom):
        proc(b, 3)
    ckpt = str(tmp_path / "ckpt")
    assert _level_epoch(ladder, ladder.levels[0], ckpt) == 3
    assert _level_epoch(ladder, ladder.levels[1], ckpt) is None

    monkeypatch.setattr(store, "mark_epoch", real_mark)
    proc(b, 3)  # replay: level 0 skipped, level 1 appended
    for pw in ladder.levels:
        assert _level_totals(ladder, pw) == _expected_totals(500), f"level {pw}"
        assert _level_epoch(ladder, pw, ckpt) == 3


def test_multi_epoch_stream_with_mid_crash_totals_exact(spark, tmp_path, monkeypatch):
    """Three epochs; the middle one dies between hot and ladder and is
    replayed — final ladder state equals the rollup of all three batches
    at every level, and the ladder answers aligned windows exactly."""
    eng, ladder, proc = _mk(spark, tmp_path)
    proc(_batch(spark, 300, base=0), 0)

    real_ingest = ladder.ingest_batch
    monkeypatch.setattr(
        ladder, "ingest_batch", lambda *a, **k: (_ for _ in ()).throw(Boom())
    )
    with pytest.raises(Boom):
        proc(_batch(spark, 300, base=10_000_000), 1)
    monkeypatch.setattr(ladder, "ingest_batch", real_ingest)
    proc(_batch(spark, 300, base=10_000_000), 1)  # replay
    proc(_batch(spark, 300, base=20_000_000), 2)

    for pw in ladder.levels:
        cnt, vmin, vmax, vsum = _level_totals(ladder, pw)
        assert cnt == 900 and vmin == 0.0 and vmax == 299.0
        assert vsum == 3.0 * sum(range(300))
        assert _level_epoch(ladder, pw, str(tmp_path / "ckpt")) == 2
    # ladder-served stats match the raw hot data exactly
    served = ladder.aligned_windows("ca", 0, 1 << 40, 18).agg(
        F.sum("cnt").alias("c")
    ).collect()[0]["c"]
    assert served == 900


def test_fresh_checkpoint_query_keeps_its_first_batches(spark, tmp_path):
    """Epoch ids restart at 0 for every new query. A second query (fresh
    checkpoint) into the same stream and ladder must not take its epoch
    0 for a replay of the first query's epoch 0: neither the hot seq
    probe nor the ladder watermarks may drop its batch."""
    eng, ladder, proc1 = _mk(spark, tmp_path)
    proc1(_batch(spark, 100, base=0), 0)
    proc1(_batch(spark, 100, base=1_000_000), 1)
    proc2 = make_batch_processor(eng, str(tmp_path / "ckpt2"), ladder=ladder)
    proc2(_batch(spark, 100, base=2_000_000), 0)

    assert eng.hot.count() == 300
    for pw in ladder.levels:
        assert _level_totals(ladder, pw)[0] == 300, f"level {pw}"
    # each query's replay of its own epoch 0 is still skipped
    proc2(_batch(spark, 100, base=2_000_000), 0)
    proc1(_batch(spark, 100, base=0), 0)
    assert eng.hot.count() == 300
    for pw in ladder.levels:
        assert _level_totals(ladder, pw)[0] == 300, f"level {pw}"
