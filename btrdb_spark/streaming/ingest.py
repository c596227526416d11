"""Structured Streaming ingest — the journaled-buffer (PQM/S2) analog.

Reference semantics (pqm.go:29-35, 510-625): inserts are journaled and
buffered per stream; queries at latest see the buffer merged in; a flush
(or buffer pressure) commits the buffer to primary storage at major+1.
There is NO watermark: data may be arbitrarily late (SURVEY.md §2.9), so
correctness-critical aggregation happens at read/compaction time, never in
streaming window state.

Spark mapping:
- ``readStream`` on a source -> ``foreachBatch`` append into the engine's
  hot table. The streaming checkpoint is the WAL: a batch is acked only
  after its parquet commit (at-least-once), and a committed-epoch
  watermark makes replay after failure skip epochs whose data commit
  completed — the version-guarded journal replay of pqm.go:152-188. Every
  guard (the batch watermark, the hot rows' seq and the ladder's per-level
  watermarks) is keyed by (query, epoch), the (queryId, epochId) pair of
  a Delta/Iceberg transactional append: epoch ids restart at 0 for every
  new query, and the query key (store.query_key) is a random id written
  once into the query's checkpoint directory, so a new query's first
  batches are never mistaken for an earlier query's replays. The residual
  window (crash between the data commit and the watermark flip)
  re-appends one batch; closing it entirely requires a transactional
  table format, which is what this sink becomes on a cluster.
- Flush/compaction runs inside the same foreachBatch once a stream's
  buffer exceeds the threshold — exactly the reference's size-triggered
  commit (pqm.go:568-600). The per-stream count check is bounded: one row
  per active stream in the micro-batch, never the whole buffer.
- Optionally each batch also appends rollup-ladder partials
  (plans/rollup.py), which is how the materialized rollup stays fresh
  under continuous ingest. The ladder here must NOT be the engine's own
  ladder: engine.flush() ingests the flushed batch into engine.ladder at
  its commit version, so wiring the same ladder in both places would
  double-count every point (guarded below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import store
from ..engine import BTrDBEngine
from ..plans.rollup import RollupLadder

# Streaming rows live in their own seq namespace. engine.insert() stamps
# seq from the per-stream buffered minor counter (engine.py:489 — small
# ints 0,1,2,...), which would collide with small micro-batch epoch ids:
# a first-time batch whose epoch_id matched any buffered insert seq would
# be treated as a replay and silently dropped from the hot table. The
# offset is far above any reachable minor (minor < flush_threshold +
# MAX_INSERT_SIZE << 2^61). Above it, the query key takes the bits from
# 32 up and the epoch id the 32 below, so two queries' rows never share
# a seq; the largest seq, 2^61 + 2^62, is below int64 overflow.
STREAM_SEQ_BASE = 1 << 61


def stream_seq(query: int, epoch_id: int) -> int:
    """The hot-table seq of streaming query ``query``'s epoch ``epoch_id``
    (epoch ids below 2^32: 136 years of one batch a second)."""
    return STREAM_SEQ_BASE + (query << 32) + epoch_id


def attach_ingest(
    stream_df: DataFrame,
    engine: BTrDBEngine,
    checkpoint_dir: str,
    ladder: RollupLadder | None = None,
    trigger_seconds: int = 1,
    maintenance_interval_s: float | None = None,
    vacuum_keep: int = 2,
):
    """Wire a streaming (uuid, time, value) DataFrame into the engine.

    ``maintenance_interval_s`` arms the background GC loop (the
    quasar.go:119-137 analog, which the reference runs on a 1-minute
    ticker): at most once per interval, after the batch's commits, the
    trigger calls engine.maintain(keep=vacuum_keep) to reap superseded
    table generations. Readers within the newest ``vacuum_keep``
    generations survive a concurrent reap (the MVCC window). Compaction
    is intentionally NOT run per-trigger — call engine.maintain(
    compact=True) at a coarser cadence.

    Returns the StreamingQuery. Caller owns awaitTermination/stop.
    """
    if ladder is not None and ladder is engine.ladder:
        raise ValueError(
            "pass ladder=None: engine.flush() already maintains engine.ladder "
            "at commit time; wiring it here too would double-count every batch"
        )
    process_batch = make_batch_processor(
        engine,
        checkpoint_dir,
        ladder=ladder,
        maintenance_interval_s=maintenance_interval_s,
        vacuum_keep=vacuum_keep,
    )
    return (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def make_batch_processor(
    engine: BTrDBEngine,
    checkpoint_dir: str,
    ladder: RollupLadder | None = None,
    maintenance_interval_s: float | None = None,
    vacuum_keep: int = 2,
):
    """The foreachBatch body, exposed so crash/replay semantics are
    directly testable (tests/test_streaming_ladder_chaos.py drives it
    with crafted epochs and injected kills).

    Exactly-once across replays (scoped: assumes the parquet append
    itself is all-or-nothing — Spark's job-level commit protocol on a
    normal run. A hard kill INSIDE the append job can leave a partially
    visible append that the existence probe then pins; closing that
    residual window takes a transactional table format, per the module
    docstring). Every guard is keyed by (query, epoch_id), the query
    being ``store.query_key(checkpoint_dir)``:
    - hot table: rows carry seq=stream_seq(query, epoch_id) (a namespace
      disjoint from insert()'s minor-counter seqs and from every other
      query's, so neither mixed insert()+streaming traffic nor a new
      query can fake a replay); a replayed epoch whose rows already
      landed is detected with one pruned existence probe over the
      batch's own uuids and skipped;
    - ladder: ingest_batch(epoch=(query, epoch_id)) guards each level
      with an atomic per-level watermark (store.mark_epoch) — a kill
      between the hot append and the ladder merge, or between any two
      level appends, replays into appends of only the missing levels;
    - the batch watermark in the checkpoint directory then gates the
      whole batch; flush/GC after it are version-guarded engine ops,
      safe to repeat.
    """
    query = store.query_key(checkpoint_dir)
    last_maintain = [float("-inf")]  # monotonic seconds of the last GC run

    def process_batch(batch: DataFrame, epoch_id: int) -> None:
        epoch = (query, int(epoch_id))
        if store.epoch_done(store.DEFAULT, checkpoint_dir, "batch", epoch):
            return  # crashed-then-replayed epoch: data commit already done
        seq = stream_seq(*epoch)
        batch = batch.select(
            "uuid",
            F.col("time").cast("long"),
            F.col("value").cast("double"),
            F.lit(seq).cast("long").alias("seq"),
        )
        touched = [r["uuid"] for r in batch.select("uuid").distinct().collect()]
        hot_done = (
            engine.hot.filter(
                F.col("uuid").isin(touched) & (F.col("seq") == seq)
            )
            .limit(1)
            .count()
            > 0
        )
        if not hot_done:
            engine.append_hot(batch)
        if ladder is not None:
            ladder.ingest_batch(batch.select("uuid", "time", "value"), epoch=epoch)
        store.mark_epoch(store.DEFAULT, checkpoint_dir, "batch", epoch)
        # size-triggered flush per stream (pqm.go:568-600); only streams
        # present in THIS batch can have crossed the threshold
        counts = (
            engine.hot.filter(F.col("uuid").isin(touched))
            .groupBy("uuid")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= engine.flush_threshold)
            .collect()
        )
        for row in counts:
            engine.flush(row["uuid"])
        # interval-throttled background GC (quasar.go:119-137 ticker
        # analog): reap generations older than the vacuum_keep MVCC window
        if maintenance_interval_s is not None:
            import time as _time

            now = _time.monotonic()
            if now - last_maintain[0] >= maintenance_interval_s:
                last_maintain[0] = now
                engine.maintain(keep=vacuum_keep)

    return process_batch
