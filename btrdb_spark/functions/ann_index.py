"""Persistent incremental ANN index — O(new vectors) similarity search
and maintenance over a growing embedding corpus.

The one-shot ANN operators (``similarity.ann_ivf_topk`` and friends)
re-assign every corpus vector to its IVF cell per run: at 100 TB that is
a full corpus scan + coarse-quantization to answer today's queries. This
module persists the IVF state those operators rebuild each time — the
coarse-quantizer centroids and the (vec_id, cell, embedding) posting
table — maintained incrementally (one ``update()`` per ingest
micro-batch, the exact pattern of functions/dedup_index.py, itself the
plans/rollup.py ``ingest_batch`` pattern).

Snapshot layout (r10, VERDICT r9 #4 + ADVICE r9 #4): the WHOLE index is
ONE store table named ``state``; each generation directory holds both
``centroids/`` and ``cells/`` (posting table, partitioned by cell).
Every mutation — ``set_centroids``, ``update``, ``retrain`` — builds a
NEW generation (unchanged files carried by hardlink, O(#files) metadata
ops, zero data copied) and flips the pointer with a store CAS
(``EXPECT_ABSENT`` for the very first publish; the lifecycle is
store.SnapshotIndex, shared with DedupIndex). Readers resolve the
pointer ONCE per query and read both subdirectories from that single
generation, so a concurrent probe sees a whole committed batch or none
of it — never centroids from one commit with postings from another, and
never a torn in-place append. The previous design appended into the
LIVE generation (and ``set_centroids`` overwrote it in place), which a
concurrent reader could observe half-written.

``probe(batch, k, nprobe)`` answers top-k cosine neighbors for the NEW
vectors touching only:

- O(batch) assignment work — nprobe nearest cells for the batch alone
  (centroids are tiny and broadcast);
- the posting-table partitions of the probed cells. At cluster scale the
  posting table is written partitioned BY CELL, so the cell equi-join
  is partition-pruned: a probe reads ~nprobe/n_centroids of the index
  and never the raw corpus table.

``retrain()`` closes the measured scale hole of a FIXED quantizer
(ARCHITECTURE.md "r10 retrain lifecycle": a 10x-grown corpus under the
bootstrap centroids degrades the 1k-vec probe ~3x because per-cell
posting mass grows 10x): it re-trains the coarse quantizer from the
indexed postings themselves (driver-bounded spherical k-means — the
faiss ``train()`` contract: k*dim floats on the driver, assignment at
scale), rewrites every posting under the new cells, and publishes the
whole thing as ONE atomic generation flip. ``cell_stats()`` /
``imbalance_factor()`` are the drift gauges that trigger it.

Equivalence contract (oracle-gated): ``probe(batch)`` over an index
built incrementally from ``corpus`` (any update batching, retrained or
not) == ``similarity.ann_ivf_topk(corpus, batch, centroids=<current>)``
bit-exact, because cell assignment and cosine are pure functions of the
vectors and the persisted centroids.

Reference parity note: the reference engine has no vector surface; this
is a training-data-pipeline extension (SURVEY.md §6) — the embedding
analog of the r9 DedupIndex.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import store
from ..store import SnapshotIndex, has_parquet
from .similarity import _dot, _norm, ivf_cells


class AnnIndex(SnapshotIndex):
    """IVF index over an embedding corpus behind one atomic snapshot
    pointer (store.SnapshotIndex).

    Each ``state`` generation holds:

    - ``centroids/`` : (vec_id long, embedding array<double>) — the
      coarse quantizer (trained once on a bootstrap sample, replaced
      wholesale by ``retrain()``).
    - ``cells/``     : (vec_id long, cell, embedding) — posting table,
      written ``partitionBy("cell")`` so probes prune to their cells.
    - ``cell_counts.json`` : the tracked cell-mass gauge (below).

    vec_ids must be unique across the corpus (ingest contract); crash
    replay of an epoch is guarded like DedupIndex.update.
    """

    TRAIN_CAP = 16384  # driver-bounded trainer sample (faiss-style)
    # maintain() re-fires a retrain only after this much corpus growth
    # since the last one (ADVICE r10: residual k-means skew must not
    # become a rewrite-per-batch loop)
    RETRAIN_GROWTH_REFIRE = 1.2

    # ---- tracked cell-mass gauge (VERDICT r10 #3) ----
    #
    # maintain()'s gauges used to come from cell_stats() — an O(corpus)
    # dedup+groupBy over ALL postings, which the streaming sink then ran
    # after EVERY micro-batch just to read a scalar. Instead, each
    # generation carries a tiny ``cell_counts.json`` running tally:
    # update() folds its batch's (already-computed) cell assignments in,
    # retrain() resets it exactly from the rewrite, and maintain() reads
    # the JSON — zero Spark jobs on the no-alarm path. The tally counts
    # appended rows, so a crash-replayed batch (the epoch-guard residual
    # window) OVERcounts slightly: the gauge is an upper bound that can
    # only fire a retrain early, and the retrain rewrites exact counts.
    # Every writer of a generation writes the tally (compact links it).

    _META = "cell_counts.json"
    PLAN = {"centroids": "link", "cells": "partitioned", _META: "link"}

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        backend=None,
    ):
        super().__init__(spark, base_dir, backend)
        self.id_col = id_col
        self.vec_col = vec_col

    def _read_meta(self, snap: str | None) -> dict | None:
        if snap is None:
            return None
        import json

        with open(os.path.join(snap, self._META)) as f:
            raw = json.load(f)
        return {
            "counts": {int(k): int(v) for k, v in raw.get("counts", {}).items()},
            "n_at_retrain": raw.get("n_at_retrain"),
        }

    def _write_meta(
        self, gen: str, counts: dict[int, int], n_at_retrain: int | None
    ) -> None:
        import json

        with open(os.path.join(gen, self._META), "w") as f:
            json.dump(
                {
                    "counts": {str(k): int(v) for k, v in counts.items()},
                    "n_at_retrain": n_at_retrain,
                },
                f,
            )

    def tracked_cell_counts(self) -> dict[int, int] | None:
        """The running per-cell posting tally of the live generation, or
        None before the first generation."""
        meta = self._read_meta(self._snapshot())
        return None if meta is None else meta["counts"]

    # ---- build / maintain ----

    def set_centroids(self, centroids: DataFrame) -> None:
        """Persist the coarse quantizer (once, before the first update).
        Builds a new generation and CAS-publishes it — never an in-place
        overwrite of a live generation (ADVICE r9 #4). Raises on an index
        that already has postings: replacing the quantizer under carried
        postings would leave their cell partitioning reflecting STALE
        assignments, silently breaking probe()'s one-shot-equivalence
        contract (ADVICE r10) — retrain() is the lifecycle verb that
        re-assigns and rewrites postings atomically."""
        cur = self._snapshot()
        if cur is not None and has_parquet(os.path.join(cur, "cells")):
            raise RuntimeError(
                "AnnIndex.set_centroids: index already has postings; "
                "use retrain() to replace the quantizer (postings must "
                "be re-assigned under the new cells)"
            )
        gen = self._new_gen_from(cur, carry=())
        cdir = os.path.join(gen, "centroids")
        centroids.select(
            F.col(self.id_col).alias("vec_id"),
            F.col(self.vec_col).cast("array<double>").alias("embedding"),
        ).coalesce(1).write.parquet(cdir)
        self._write_meta(gen, {}, None)
        self._publish(gen, cur)

    def centroids(self) -> DataFrame:
        c = self._read(self._snapshot(), "centroids")
        if c is None:
            raise RuntimeError("AnnIndex: set_centroids() before use")
        return c

    def update(
        self, new_vecs: DataFrame, epoch: tuple[int, int] | None = None
    ) -> None:
        """Append posting rows for ``new_vecs`` — O(batch) compute: one
        broadcast-centroid assignment of the batch, one partitioned
        append into a fresh generation (prior files hardlinked), one
        atomic pointer flip. (query, epoch) replay guard as in
        DedupIndex.update; a replayed crash-window batch re-appends
        rows, and probe() dedups posting rows on vec_id so replay
        degrades cost, never correctness. A concurrent reader resolves either the old or the
        new generation — whole batch or nothing."""
        if epoch is not None and store.epoch_done(self.store, self.base, "state", epoch):
            return
        cur = self._snapshot()
        cents = self._read(cur, "centroids")
        if cents is None:
            raise RuntimeError("AnnIndex: set_centroids() before update()")
        # materialize the batch assignment ONCE (O(batch) small rows):
        # both consumers — the posting write's join and the tally fold
        # below — read the checkpointed result instead of re-executing
        # the assignment lineage (source re-read + broadcast join) as a
        # second Spark job per micro-batch (ADVICE r11 #3)
        assign = ivf_cells(
            new_vecs, cents, self.id_col, self.vec_col, nprobe=1
        ).select("vec_id", "cell").localCheckpoint()
        rows = new_vecs.select(
            F.col(self.id_col).alias("vec_id"),
            F.col(self.vec_col).cast("array<double>").alias("embedding"),
        ).join(assign, "vec_id")
        gen = self._new_gen_from(cur)
        rows.write.mode("append").partitionBy("cell").parquet(
            os.path.join(gen, "cells")
        )
        # fold the batch's cell masses into the running gauge — one tiny
        # O(batch) agg (k rows on the driver), replacing the O(corpus)
        # cell_stats() scan the streaming sink used to pay per trigger
        meta = self._read_meta(cur)
        counts = dict(meta["counts"])
        for r in assign.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect():
            c = int(r["cell"])
            counts[c] = counts.get(c, 0) + int(r["n"])
        self._write_meta(gen, counts, meta["n_at_retrain"])
        self._publish(gen, cur)
        if epoch is not None:
            store.mark_epoch(self.store, self.base, "state", epoch)

    def retrain(
        self,
        n_centroids: int | None = None,
        n_iter: int = 10,
        seed: int = 0,
        train_cap: int | None = None,
    ) -> int:
        """Recluster the coarse quantizer from the indexed postings and
        rewrite every posting under the new cells — the lifecycle answer
        to quantizer drift (VERDICT r9 #1: a fixed bootstrap quantizer on
        a 10x-grown corpus probes ~3x slower because per-cell posting
        mass grows with the corpus).

        Mechanics: a deterministic driver-bounded sample of the postings
        (first ``train_cap`` vec_ids — k*dim floats on the driver, the
        faiss ``train()`` shape) feeds the spherical k-means trainer
        (similarity.train_kmeans_centroids); every posting is then
        re-assigned at scale through ivf_cells and REWRITTEN (which also
        compacts crash-replay duplicate rows away). New centroids and new
        postings land in ONE new generation and one CAS pointer flip —
        a concurrent probe sees the old quantizer with the old postings
        or the new with the new, never a mix. Returns the new cell
        count."""
        import numpy as np

        from .similarity import centroids_df, train_kmeans_centroids

        cur = self._snapshot()
        postings = self._read(cur, "cells")
        if postings is None:
            raise RuntimeError("AnnIndex: nothing indexed; retrain() needs postings")
        postings = postings.dropDuplicates(["vec_id"]).select(
            "vec_id", "embedding"
        )
        if n_centroids is None:
            n_centroids = self.centroids().count()
        cap = int(train_cap or self.TRAIN_CAP)
        sample = postings.orderBy("vec_id").limit(cap).collect()
        emb = np.asarray([r["embedding"] for r in sample], dtype=np.float64)
        cents = train_kmeans_centroids(
            emb, k=int(n_centroids), n_iter=n_iter, seed=seed
        )
        cdf = centroids_df(self.spark, cents).localCheckpoint()
        gen = self._new_gen_from(cur, carry=())
        cdf.coalesce(1).write.parquet(os.path.join(gen, "centroids"))
        assign = ivf_cells(postings, cdf, "vec_id", "embedding", nprobe=1).select(
            "vec_id", "cell"
        )
        postings.join(assign, "vec_id").write.partitionBy("cell").parquet(
            os.path.join(gen, "cells")
        )
        # reset the running gauge EXACTLY from the rewrite (replay
        # overcount, if any, is compacted away with the duplicate rows).
        # Counts come from the written files' parquet footers — O(#files)
        # driver-side metadata, no second corpus-wide assignment job.
        counts = self._footer_cell_counts(os.path.join(gen, "cells"))
        self._write_meta(gen, counts, sum(counts.values()))
        self._publish(gen, cur)
        return int(n_centroids)

    @staticmethod
    def _footer_cell_counts(cells_dir: str) -> dict[int, int]:
        import glob as _glob

        import pyarrow.parquet as _pq

        counts: dict[int, int] = {}
        for d in os.listdir(cells_dir) if os.path.isdir(cells_dir) else []:
            if not d.startswith("cell="):
                continue
            c = int(float(d.split("=", 1)[1]))
            n = sum(
                _pq.ParquetFile(f).metadata.num_rows
                for f in _glob.glob(os.path.join(cells_dir, d, "*.parquet"))
            )
            if n:
                counts[c] = counts.get(c, 0) + n
        return counts

    def merge_from(self, other: "AnnIndex") -> None:
        """Shard consolidation (r11), the ANN twin of
        DedupIndex.merge_from: adopt ``other``'s postings (built by a
        different crawler over a DISJOINT vec_id population) by
        hardlinking its cell partition files into a fresh generation and
        CAS-publishing once — zero data copied, zero Spark jobs. Sound
        ONLY when both shards assign under the SAME quantizer (identical
        centroids — otherwise cell partitions mean different regions),
        so it verifies that driver-side (k x dim rows) and raises on
        mismatch; retrain() remains the verb for re-quantizing a merged
        corpus. Tracked tallies sum per cell; probes over the merged
        index == one index over the union corpus
        (``ann_index_probe_merged`` oracle row)."""
        osnap = other._snapshot()
        if osnap is None:
            return
        cur = self._snapshot()

        def _cents(idx, snap):
            c = idx._read(snap, "centroids")
            if c is None:
                raise RuntimeError("AnnIndex.merge_from: missing centroids")
            return sorted(
                (int(r["vec_id"]), tuple(float(x) for x in r["embedding"]))
                for r in c.collect()
            )

        if _cents(self, cur) != _cents(other, osnap):
            raise ValueError(
                "AnnIndex.merge_from: shards were quantized under "
                "different centroids; retrain() the union instead"
            )
        gen = self._new_gen_from(cur)
        self._link_subs(osnap, gen, ("cells",), skip_existing=True)
        mine = self._read_meta(cur)
        counts = dict(mine["counts"])
        for c, n in other._read_meta(osnap)["counts"].items():
            counts[c] = counts.get(c, 0) + n
        self._write_meta(gen, counts, mine["n_at_retrain"])
        self._publish(gen, cur)

    # ---- query ----

    def probe(self, batch_vecs: DataFrame, k: int = 5, nprobe: int = 2) -> DataFrame:
        """Top-k cosine neighbors among the INDEXED corpus for each batch
        vector: (query_id, neighbor_id, rank, cosine) — bit-identical to
        ann_ivf_topk(corpus, batch, centroids=index.centroids()) with
        the same nprobe. The batch side (assignments + vectors) is
        broadcast; the posting table streams only its probed cells. Both
        tables come from ONE resolved snapshot: concurrent updates or a
        retrain cannot tear the view."""
        snap = self._snapshot()
        cents = self._read(snap, "centroids")
        if cents is None:
            raise RuntimeError("AnnIndex: set_centroids() before use")
        probe_cells = ivf_cells(
            batch_vecs, cents, self.id_col, self.vec_col, nprobe=nprobe
        ).select(F.col("vec_id").alias("query_id"), "cell")
        p = (
            batch_vecs.select(
                F.col(self.id_col).alias("query_id"),
                F.col(self.vec_col).cast("array<double>").alias("pvec"),
            )
            .withColumn("pnorm", _norm(F.col("pvec")))
            .join(probe_cells, "query_id")
        )
        idx = self._read(snap, "cells")
        if idx is None:
            return p.select(
                "query_id",
                F.lit(None).cast("long").alias("neighbor_id"),
                F.lit(None).cast("long").alias("rank"),
                F.lit(None).cast("double").alias("cosine"),
            ).filter(F.lit(False))
        # crash-replay residue tolerance: posting rows dedup on vec_id
        # WITHIN the probed cells only (partition-pruned), never corpus-wide
        c = (
            idx.join(
                F.broadcast(probe_cells.select("cell").distinct()), "cell"
            )
            .dropDuplicates(["vec_id"])
            .select(
                F.col("vec_id").alias("neighbor_id"),
                "cell",
                F.col("embedding").alias("cvec"),
            )
            .withColumn("cnorm", _norm(F.col("cvec")))
        )
        scored = (
            c.join(F.broadcast(p), "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                (
                    _dot(F.col("cvec"), F.col("pvec"))
                    / (F.col("cnorm") * F.col("pnorm"))
                ).alias("cosine"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                "neighbor_id",
                F.col("rank").cast("long").alias("rank"),
                "cosine",
            )
            .orderBy("query_id", "rank")
        )

    def cell_stats(self) -> DataFrame:
        """Posting-list balance per IVF cell: (cell, n_vecs, frac) — THE
        operational gauge for an IVF index. probe() cost is proportional
        to the probed cells' posting mass, so a skewed quantizer (one
        cell holding half the corpus) silently turns nprobe=2 into a
        half-corpus scan; watch max(frac)*n_cells and retrain() when it
        drifts (the faiss imbalance_factor readout). Duplicate posting
        rows (crash-replay residue) are deduped on vec_id before
        counting, so the gauge reads logical corpus size."""
        idx = self._read(self._snapshot(), "cells")
        if idx is None:
            return self.spark.createDataFrame(
                [], "cell long, n_vecs long, frac double"
            )
        per = (
            idx.dropDuplicates(["vec_id"])
            .groupBy(F.col("cell").cast("long").alias("cell"))
            .agg(F.count(F.lit(1)).alias("n_vecs"))
        )
        total = per.agg(F.sum("n_vecs").alias("_t"))
        return (
            per.crossJoin(F.broadcast(total))
            .select(
                "cell",
                "n_vecs",
                (F.col("n_vecs").cast("double") / F.col("_t").cast("double")).alias(
                    "frac"
                ),
            )
            .orderBy("cell")
        )

    def imbalance_factor(self) -> float:
        """max(frac) * n_cells over the live postings — 1.0 is perfectly
        balanced. This is the SKEW alarm: it fires when one cell hoards
        the corpus. It deliberately does NOT fire under uniform growth
        (measured, ARCHITECTURE.md "r10 retrain lifecycle": a fixed
        16-cell quantizer on a 10x corpus probes ~5x slower with
        imbalance still ~1.1) —
        pair it with max_cell_mass() against the per-cell posting budget
        to catch that case."""
        rows = self.cell_stats().agg(
            (F.max("frac") * F.count(F.lit(1))).alias("imb")
        ).collect()
        v = rows[0]["imb"] if rows else None
        return float(v) if v is not None else 0.0

    def maintain(
        self,
        target_cell_mass: int,
        skew_limit: float = 8.0,
        n_iter: int = 10,
        seed: int = 0,
    ) -> int | None:
        """The retrain trigger wired to its gauges: retrain when either
        drift alarm fires — GROWTH (max posting mass above
        ``target_cell_mass``: probes scan that mass per probed cell) or
        SKEW (imbalance_factor above ``skew_limit``: one cell hoards the
        corpus). On retrain, n_centroids is re-sized to
        ceil(corpus / target_cell_mass) — the faiss corpus/target-mass
        sizing rule — so the trigger self-heals rather than thrashing.
        Returns the new cell count, or None when no alarm fired. Run it
        from the same maintenance cadence as flush_aged()/GC; the
        retrain itself is one atomic generation flip, so probes are
        never disturbed.

        Gauge source: the generation's tracked cell tally (VERDICT r10
        #3 — a driver-side JSON read, ZERO Spark jobs, which is what
        makes a per-micro-batch maintain() check affordable at streaming
        cadence; the tally is an upper bound under crash replay, which
        can only fire the retrain early). An empty tally (no postings)
        fires nothing.

        Thrash guard (ADVICE r10): when k-means skew keeps max cell mass
        above target even at the self-sized k, re-firing the alarm would
        rewrite the whole posting table every batch for no gain — so
        after a retrain, the alarms are suppressed until the corpus has
        grown by ``RETRAIN_GROWTH_REFIRE`` (default 1.2x) since it."""
        meta = self._read_meta(self._snapshot())
        if meta is None or not meta["counts"]:
            return None
        vals = meta["counts"].values()
        m, n = max(vals), sum(vals)
        imb = (m / n) * len(vals) if n else 0.0
        n_last = meta["n_at_retrain"]
        if m <= int(target_cell_mass) and imb <= float(skew_limit):
            return None
        if n_last is not None and n < n_last * self.RETRAIN_GROWTH_REFIRE:
            return None
        import math

        k = max(1, math.ceil(n / int(target_cell_mass)))
        return self.retrain(n_centroids=k, n_iter=n_iter, seed=seed)

    def max_cell_mass(self) -> int:
        """Largest per-cell posting count — the GROWTH alarm: probe cost
        is proportional to probed posting mass, so when this exceeds the
        deployment's per-cell budget (corpus_target / n_cells at train
        time), retrain() with a proportionally larger n_centroids. The
        faiss sizing rule (n_cells ~ sqrt(corpus) or corpus/target_mass)
        expressed as a monitorable scalar."""
        rows = self.cell_stats().agg(F.max("n_vecs").alias("m")).collect()
        v = rows[0]["m"] if rows else None
        return int(v) if v is not None else 0


def retrained_probe_oracle_sql(
    parquet_path: str,
    n_centroids: int = 16,
    k: int = 5,
    nprobe: int = 2,
    train_cap: int = AnnIndex.TRAIN_CAP,
    seed: int = 0,
) -> str:
    """DuckDB oracle for ``probe()`` AFTER ``retrain()`` over the
    mod-10 corpus split: re-derives the retrained quantizer exactly —
    same deterministic training sample (corpus = vec_id % 10 != 0,
    sorted by vec_id, first ``train_cap`` rows, float32 widened exactly
    to float64) through the same seeded spherical k-means — and embeds
    the centroids as DOUBLE[] literals (shortest-repr floats round-trip
    exactly), then replays the IVF probe arithmetic in SQL. This gates
    the retrain lifecycle end-to-end: if the posting rewrite or the
    atomic flip corrupted anything, the hash comparison fails."""
    import numpy as np
    import pyarrow.parquet as pq

    from .similarity import train_kmeans_centroids

    t = pq.read_table(parquet_path, columns=["vec_id", "embedding"])
    dfp = t.to_pandas()
    dfp = dfp[dfp["vec_id"] % 10 != 0].sort_values("vec_id").head(train_cap)
    emb = np.asarray(dfp["embedding"].tolist(), dtype=np.float64)
    cents = train_kmeans_centroids(emb, k=int(n_centroids), seed=seed)
    vals = ", ".join(
        f"({i}, [{', '.join(repr(float(v)) for v in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
        WITH vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))) AS nrm
            FROM embeddings
        ), cents AS (
            SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cnrm
            FROM (VALUES {vals}) AS t(cell, cv)
        ), assign AS (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY list_dot_product(vecs.v, cents.cv)
                                / (vecs.nrm * cents.cnrm) DESC,
                                cell ASC) AS cell_rank
            FROM vecs CROSS JOIN cents
        ), corpus_cells AS (
            SELECT vec_id, cell FROM assign
            WHERE cell_rank = 1 AND vec_id % 10 != 0
        ), probe_cells AS (
            SELECT vec_id, cell FROM assign
            WHERE cell_rank <= {nprobe} AND vec_id % 10 = 0
        ), scored AS (
            SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_dot_product(c.v, p.v) / (c.nrm * p.nrm) AS cosine
            FROM probe_cells pc
            JOIN corpus_cells cc ON cc.cell = pc.cell
            JOIN vecs p ON p.vec_id = pc.vec_id
            JOIN vecs c ON c.vec_id = cc.vec_id AND c.vec_id <> p.vec_id
        ), ranked AS (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
        FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
    """


def attach_embedding_ingest(
    stream_df: DataFrame,
    index: AnnIndex,
    checkpoint_dir: str,
    target_cell_mass: int | None = None,
    skew_limit: float = 8.0,
    maintenance_interval_s: float | None = None,
    gc_keep: int = 2,
    gc_grace_s: float = 300.0,
):
    """foreachBatch sink maintaining the ANN index from a streaming
    embedding source — the similarity twin of
    dedup_index.attach_document_ingest: exactly-once via the (query,
    epoch) guard, the query keyed by ``checkpoint_dir``, restart-durable
    via the checkpoint.

    With ``target_cell_mass`` set, every micro-batch ends with a
    ``maintain()`` check, so the quantizer retrains itself as the
    streamed corpus outgrows its cells — the full ingest-time lifecycle
    with zero operator intervention. The retrain is one atomic
    generation flip, so concurrent probes are never disturbed; a crash
    between update and retrain just defers the retrain to the next
    batch (maintain is idempotent on a healthy index).

    The per-batch maintain() check reads the generation's tracked cell
    tally — a driver-side JSON, no Spark job — so checking every trigger
    is free (VERDICT r10 #3; it used to run an O(corpus) cell_stats scan
    per batch). With ``maintenance_interval_s`` set, the sink also runs
    compact() + gc(keep=gc_keep, min_age_s=gc_grace_s) on that cadence
    so generations and per-batch small files stay bounded over a long
    crawl; the gc grace window (condemn-then-reap, VERDICT r11 #2)
    protects concurrent cross-process probers — size ``gc_grace_s`` to
    the maximum expected probe duration."""
    import time as _time

    last_maintain = [_time.monotonic()]
    query = store.query_key(checkpoint_dir)

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        # stabilize: read the (possibly non-deterministic) batch source
        # once, so the posting write and the tally fold inside update()
        # see the same rows (ADVICE r11 #3; the dedup sink already does
        # this)
        batch_df = batch_df.localCheckpoint()
        index.update(batch_df, epoch=(query, int(epoch_id)))
        if target_cell_mass is not None:
            index.maintain(target_cell_mass, skew_limit=skew_limit)
        if maintenance_interval_s is not None:
            now = _time.monotonic()
            if now - last_maintain[0] >= maintenance_interval_s:
                last_maintain[0] = now
                index.compact()
                index.gc(keep=gc_keep, min_age_s=gc_grace_s)

    return (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
