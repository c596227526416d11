"""Cross-stream correlation over aligned time buckets.

The reference has no cross-stream analytics at all — its users pull
AlignedWindows per stream and correlate client-side (the distribution
grid use case: find electrically-coupled feeders from voltage phasor
correlation). Here it is ONE distributed plan:

1. bucket means per (uuid, 2^pw bucket) — the AlignedWindows shape, so
   at 100 TB this stage can read the rollup ladder instead of raw points
   (cost ~ output buckets, not points);
2. self-join on bucket (uuid_a < uuid_b) — pairs exist only where both
   streams have data in the same bucket;
3. one groupBy (uuid_a, uuid_b) accumulating the Pearson sufficient
   statistics; correlation assembled from them.

Determinism contract (the repo-wide convention): bucket means are
quantized to 2^-20 and the sufficient statistics are summed EXACTLY —
longs where the bound allows (sx, sy), decimal(38,0)-of-long for the
product sums (sxy, sxx, syy) — so the aggregation is order-independent
and the DuckDB oracle matches bit-for-bit. The final correlation is the
same fixed IEEE double expression in both engines. Quantization costs
~1e-6 relative error on the correlation — far below any analytical
significance, and deterministic.

Scale notes: the bucket self-join fans out S^2/2 rows per bucket for S
streams sharing it; that IS the problem size (every pair must be
measured). Skewed buckets split fine under AQE. min_overlap drops pairs
with too few common buckets to be meaningful.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.timeops import bucket_start

_Q = float(1 << 20)


def stream_correlations(
    points: DataFrame,
    pw: int = 42,
    min_overlap: int = 8,
) -> DataFrame:
    """Pairwise Pearson correlation of per-bucket mean values.

    Output: (uuid_a, uuid_b, n_buckets, corr), uuid_a < uuid_b, only
    pairs with n_buckets >= min_overlap and nonzero variance on both
    sides, ordered by (uuid_a, uuid_b).
    """
    width = 1 << pw
    from ..functions import decsum

    m = (
        points.withColumn("bucket", bucket_start(F.col("time"), width))
        .groupBy("uuid", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"), *decsum.sum_aggs(F.col("value")))
        .select(
            "uuid",
            "bucket",
            F.floor(
                (decsum.vsum().cast("double") / F.col("cnt")) * F.lit(_Q)
            ).cast("long").alias("mq"),
        )
    )
    return correlations_from_bucket_means(m, min_overlap)


def stream_correlations_via_rollup(
    rollup: DataFrame,
    level_pw: int,
    pw: int = 42,
    min_overlap: int = 8,
) -> DataFrame:
    """stream_correlations answered from a rollup-ladder level instead of
    raw points — the 100 TB path: the ladder's decimal vsum/cnt partials
    fold to the SAME exact per-bucket means as a raw scan (the OpReduce
    combine is exact and associative), so this is bit-identical to
    stream_correlations(points, pw) while reading ~64^k fewer rows.
    ``rollup`` is RollupLadder.level(level_pw) with level_pw <= pw.
    """
    from ..plans.rollup import coarsen, combine

    assert level_pw <= pw
    width = 1 << pw
    df = rollup
    if "version" in df.columns:
        df = df.drop("version")
    folded = coarsen(combine(df), level_pw, pw)
    m = folded.select(
        "uuid",
        F.col("bucket_start").alias("bucket"),
        F.floor(
            (F.col("vsum").cast("double") / F.col("cnt")) * F.lit(_Q)
        ).cast("long").alias("mq"),
    )
    return correlations_from_bucket_means(m, min_overlap)


def correlations_from_bucket_means(m: DataFrame, min_overlap: int = 8) -> DataFrame:
    """Pearson over a (uuid, bucket, mq) quantized-bucket-means frame."""
    # The self-join consumes m TWICE and Spark does not reuse the
    # upstream scan+agg across the aliased sides; localCheckpoint
    # materializes the (tiny — one row per stream-bucket) means frame so
    # the raw scan and bucket aggregation run ONCE (measured 14s -> 3s on
    # the sf0.1 fixture). Same lineage-truncation tool neardup_clusters
    # uses; at cluster scale the frame is executor-storage-resident and
    # its size is output-shaped (streams x buckets), not points-shaped.
    m = m.localCheckpoint()
    # The checkpointed means land in very few partitions (AQE coalesces
    # the small post-agg shuffle), which would serialize the pair
    # fan-out's probe side onto one core; fan it back out so the
    # many-to-many bucket join runs at full parallelism.
    m = m.repartition(m.sparkSession.sparkContext.defaultParallelism)
    a = m.select(
        F.col("uuid").alias("uuid_a"), "bucket", F.col("mq").alias("xa")
    )
    b = m.select(
        F.col("uuid").alias("uuid_b"), F.col("bucket").alias("bucket_b"), F.col("mq").alias("xb")
    )
    paired = a.join(
        b,
        (F.col("bucket") == F.col("bucket_b")) & (F.col("uuid_a") < F.col("uuid_b")),
    )
    return _pearson_from_pairs(paired, ["uuid_a", "uuid_b"], min_overlap)


def _pearson_from_pairs(paired: DataFrame, keys: list[str], min_overlap: int) -> DataFrame:
    """Shared Pearson tail over a (keys..., xa, xb) pair frame.

    Product sums on primitive longs (the decsum convention): each int64
    product splits into hi = floor(p / 2^30), lo in [0, 2^30), summed as
    longs and reassembled exactly in decimal AFTER the aggregation —
    decimal(38,0) sum buffers here cost BigDecimal churn on millions of
    pair rows (measured >2x on the whole query). Capacity: |p| < 2.8e17
    at the 2^20 mean quantization, so hi sums overflow only past ~3e10
    shared buckets per pair — far beyond any real overlap."""
    from ..functions.timeops import floor_div

    _B = 1 << 30

    def _split_sum(prod, name):
        hi = floor_div(prod, F.lit(_B))
        lo = prod - hi * F.lit(_B)
        return [F.sum(hi).alias(f"{name}_hi"), F.sum(lo).alias(f"{name}_lo")]

    stats = paired.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xa").alias("sx"),
        F.sum("xb").alias("sy"),
        *_split_sum(F.col("xa") * F.col("xb"), "sxy"),
        *_split_sum(F.col("xa") * F.col("xa"), "sxx"),
        *_split_sum(F.col("xb") * F.col("xb"), "syy"),
    )

    def _assemble(name):
        return (
            F.col(f"{name}_hi").cast("decimal(38,0)") * F.lit(_B)
            + F.col(f"{name}_lo").cast("decimal(38,0)")
        ).cast("double")

    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = _assemble("sxy")
    sxx = _assemble("sxx")
    syy = _assemble("syy")
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    corr = (n * sxy - sx * sy) / (F.sqrt(varx) * F.sqrt(vary))
    return (
        stats.filter(F.col("n") >= min_overlap)
        .filter((varx > 0) & (vary > 0))
        .select(
            *keys, F.col("n").cast("long").alias("n_buckets"),
            corr.alias("corr"),
        )
        # no ORDER BY: the output is pair-keyed and tiny, callers sort if
        # they present it; a trailing global sort costs a range-partition
        # sampling pass that re-executes the join
    )


def stream_correlations_topk(
    points: DataFrame,
    pw: int = 42,
    k: int = 3,
    min_overlap: int = 8,
) -> DataFrame:
    """Top-k most-correlated partner streams per stream — the capped
    variant of stream_correlations for large fleets (S in the
    thousands), where the full S^2/2 pair list is itself the problem.

    Two exact cost reducers before the quadratic stage:

    1. **Variance prefilter**: streams whose quantized bucket means take
       a single distinct value are dropped BEFORE pairing. This is
       exact, not a heuristic — zero variance over the full bucket set
       implies zero variance over every common-bucket subset, so every
       pair involving such a stream is discarded by the ``varx > 0``
       filter anyway. In real telemetry fleets (status flags, constant
       setpoints) this removes a large fraction of S before the S^2
       fan-out.
    2. **Output cap**: after the Pearson aggregation, each stream keeps
       only its k strongest partners by |corr| (row_number window,
       deterministic |corr| desc / partner asc order), so the result and
       the final shuffle are S*k-shaped, not S^2-shaped.

    The intermediate pair fan-out remains bucket-keyed (S'^2/2 per
    bucket over the surviving streams) — that is inherent to measuring
    every candidate pair; at 100 TB the means come from the rollup
    ladder (output-shaped input) and AQE splits skewed buckets.

    Output: (uuid, partner, n_buckets, corr, rk), rk in [1, k], one
    row per (stream, kept partner); pairs appear once per direction.
    """
    width = 1 << pw
    from ..functions import decsum

    m = (
        points.withColumn("bucket", bucket_start(F.col("time"), width))
        .groupBy("uuid", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"), *decsum.sum_aggs(F.col("value")))
        .select(
            "uuid",
            "bucket",
            F.floor(
                (decsum.vsum().cast("double") / F.col("cnt")) * F.lit(_Q)
            ).cast("long").alias("mq"),
        )
    )
    # checkpoint BEFORE deriving the prefilter so the points scan runs
    # once — both the ndv aggregate and the join probe read the tiny
    # materialized means frame
    m = m.localCheckpoint()
    live = (
        m.groupBy("uuid")
        .agg(F.count_distinct("mq").alias("_ndv"))
        .filter(F.col("_ndv") > 1)
        .select("uuid")
    )
    m = m.join(F.broadcast(live), "uuid")
    pairs = correlations_from_bucket_means(m, min_overlap)
    return _topk_per_stream(pairs, k)


def stream_correlations_topk_lsh(
    points: DataFrame,
    pw: int = 42,
    k: int = 3,
    min_overlap: int = 8,
    n_planes: int = 8,
    n_tables: int = 8,
) -> DataFrame:
    """Sub-quadratic top-k correlated partners via sign-LSH candidate
    pruning — the escape hatch from the S^2 pair fan-out that the exact
    variants cannot avoid (measured, ARCHITECTURE.md "r9 fleet-correlation
    probe": pair rows scale ~S^2, ~7.6M at the sf0.1 fleet, ~100x that at
    10x streams).

    Key identity: Pearson correlation of two streams' bucket-mean series
    IS the cosine of their mean-centered vectors over the global bucket
    axis (missing buckets imputed at the stream mean, i.e. centered 0).
    So top-|corr| partner search is the ANN problem the embedding stack
    already solves, and the same random-hyperplane LSH applies:

    1. bucket means (uuid, bucket, mq) — exact, rollup-ladder-servable;
    2. center per stream: zq = floor(mq - sx/n) (one IEEE double
       expression, engine-portable), dropping zero-variance streams;
    3. signatures: for plane j, proj_j = sum_b zq_b * coef(bucket, j)
       with 16-bit coefficients md5-derived IN-ENGINE from the bucket
       value; within the operator envelope (|mq| < ~2^31, loudly
       enforced by the Pearson tail under ANSI) each term is < 2^47 so
       the long sum is exact to 2^16 buckets/stream — beyond it ANSI
       fails loud, never silently diverging from the oracle's HUGEINT.
       Sign bits pack into n_tables ids;
    4. candidates: signature equi-join per table — plus a join against
       the BITWISE-COMPLEMENT bucket, so corr ~ -1 pairs (all sign bits
       flipped) are also caught; the complement probe rides the same
       equi-join via a 2-way explode, never a BNLJ;
    5. exact Pearson (identical arithmetic to stream_correlations) on
       candidate pairs only, then per-stream top-k by |corr|.

    Cost: signatures are linear (stream_buckets x planes rows); the
    candidate join is bucket-keyed with collision-probability-sized
    output. Approximation is contained to candidate RECALL — every
    emitted corr value is exact, and the DuckDB oracle replicates the
    candidate generation bit-for-bit (md5 coefficients, same double
    centering), so the gate certifies the whole plan.

    OPERATING ENVELOPE (measured, ARCHITECTURE.md "r9 fleet-correlation
    probe"): the cosine identity holds on the GLOBAL bucket axis with
    missing buckets imputed at the stream mean, while pairwise Pearson uses each pair's
    COMMON buckets only. On truly coupled streams — shared bucket
    support, correlated everywhere, the coupled-feeder shape this
    operator exists to find — recall is measured PERFECT: 6000 planted
    corr=1.0 sibling pairs, top-3 recall 1.0 and 100% of top-1 partners
    are the sibling. What it deliberately does NOT chase are
    small-sample flukes: on the random fixture, pairs that hit
    |corr|>=0.9 on ~8 shared buckets are near-orthogonal over the
    global axis (pw=42 density ~11%) and collide rarely (recall 0.09) —
    use the exact variants when sparse accidental overlaps matter.
    Timing at sf0.1: all-pairs 8.3 s at 1500 streams -> 275 s at 6000
    (the S^2 cliff); this operator 31 -> 46 -> 121 s at 1x/4x/10x —
    3.9x cost for 10x streams.

    Output: (uuid, partner, n_buckets, corr, rk) like
    stream_correlations_topk, restricted to LSH candidates.
    """
    width = 1 << pw
    from ..functions import decsum

    m = (
        points.withColumn("bucket", bucket_start(F.col("time"), width))
        .groupBy("uuid", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"), *decsum.sum_aggs(F.col("value")))
        .select(
            "uuid",
            "bucket",
            F.floor(
                (decsum.vsum().cast("double") / F.col("cnt")) * F.lit(_Q)
            ).cast("long").alias("mq"),
        )
    ).localCheckpoint()
    return _topk_lsh_from_bucket_means(m, k, min_overlap, n_planes, n_tables)


def stream_correlations_topk_lsh_via_rollup(
    rollup: DataFrame,
    level_pw: int,
    pw: int = 42,
    k: int = 3,
    min_overlap: int = 8,
    n_planes: int = 8,
    n_tables: int = 8,
) -> DataFrame:
    """stream_correlations_topk_lsh answered from a rollup-ladder level
    instead of raw points — the 100 TB read path for the sub-quadratic
    variant (VERDICT r9 #7), same head as stream_correlations_via_rollup:
    the ladder's decimal vsum/cnt partials fold (coarsen∘combine) to the
    SAME exact quantized bucket means a raw scan produces, so signatures,
    candidates and the exact Pearson tail are all bit-identical to the
    points-fed variant while reading output-shaped rows (~64^k fewer).
    ``rollup`` is RollupLadder.level(level_pw) with level_pw <= pw.
    """
    from ..plans.rollup import coarsen, combine

    assert level_pw <= pw
    df = rollup
    if "version" in df.columns:
        df = df.drop("version")
    folded = coarsen(combine(df), level_pw, pw)
    m = folded.select(
        "uuid",
        F.col("bucket_start").alias("bucket"),
        F.floor(
            (F.col("vsum").cast("double") / F.col("cnt")) * F.lit(_Q)
        ).cast("long").alias("mq"),
    ).localCheckpoint()
    return _topk_lsh_from_bucket_means(m, k, min_overlap, n_planes, n_tables)


def _topk_lsh_from_bucket_means(
    m: DataFrame,
    k: int,
    min_overlap: int,
    n_planes: int,
    n_tables: int,
) -> DataFrame:
    """Signature -> candidate -> exact-Pearson tail of the LSH top-k
    operators over a materialized (uuid, bucket, mq) means frame."""
    P, T = n_planes, n_tables
    tot = m.groupBy("uuid").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("mq").alias("sxs"),
        F.count_distinct("mq").alias("ndv"),
    )
    zc = m.join(F.broadcast(tot.filter(F.col("ndv") > 1)), "uuid").select(
        "uuid",
        "bucket",
        F.floor(
            F.col("mq").cast("double")
            - F.col("sxs").cast("double") / F.col("nb").cast("double")
        ).cast("long").alias("zq"),
    )
    # Engine-portable 16-bit coefficients per (bucket, plane), computed
    # ONCE over the distinct buckets (~timespan/2^pw rows * P*T md5
    # evaluations, 38k at the fixture) and broadcast as a per-bucket
    # coefficient ARRAY — not per exploded (row, plane) pair (6M md5s,
    # measured 2x the whole operator). Projections then fold in a single
    # uuid-keyed groupBy with P*T integer sum buffers; integer addition
    # is order-independent, so the values (and the oracle) are unchanged.
    def _coef(bucket_col, j_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "_",
                            bucket_col.cast("string"),
                            j_col.cast("string"),
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            - F.lit(1 << 15)
        )

    # r13: the per-bucket coefficient array is computed INLINE via
    # transform(sequence(0, P*T-1)) over the distinct buckets — the prior
    # shape (crossJoin with a P*T plane frame, then groupBy(bucket)
    # collect_list/array_sort) shuffled #buckets x P*T rows just to
    # reassemble an array that is a pure function of (bucket, j).
    # Same md5 evaluations, zero crossJoin, one Exchange removed from the
    # coefficient leg; outputs proven row-identical (exceptAll 0/0 both
    # ways) and A/B-measured faster despite transform being interpreted
    # (0.20 s vs 0.30/0.38 s bracketed — OPTIMIZATION_r13.md §9a).
    coefs_arr = m.select("bucket").distinct().select(
        "bucket",
        F.transform(
            F.sequence(F.lit(0), F.lit(P * T - 1)),
            lambda j: _coef(F.col("bucket"), j),
        ).alias("cs"),
    )
    # Projection-sum exactness (ADVICE r9 #3, resolved by BOUND, not by
    # splitting): within the operator's envelope — |mq| < ~2^31, which
    # the shared Pearson tail's xa*xb int64 multiply already enforces
    # LOUDLY under ANSI — |zq| <= |mq| + |mean(mq)| < 2^32, each term
    # |zq*coef| < 2^47, so the plain long sum is exact for up to 2^16
    # buckets per stream (89 years of data at pw=42). Beyond the
    # envelope, ANSI mode raises ARITHMETIC_OVERFLOW on the multiply and
    # the sum rather than silently diverging from the oracle's HUGEINT.
    # A non-ANSI deployment must keep ANSI on for this operator or apply
    # the decsum hi/lo split — that split was tried and A/B-measured a
    # 5-8x stage slowdown (the 128-array-buffer agg blows up codegen;
    # the input is only stream-bucket-sized, so the cost is all plan
    # compilation): the bound is both the exact and the fast answer.
    terms = zc.join(F.broadcast(coefs_arr), "bucket").select(
        "uuid",
        F.transform(F.col("cs"), lambda c: c * F.col("zq")).alias("t"),
    )
    proj = terms.groupBy("uuid").agg(
        *[F.sum(F.col("t")[j]).alias(f"p{j}") for j in range(P * T)]
    )
    sig_cols = []
    for t in range(T):
        bits = None
        for b in range(P):
            bit = F.when(
                F.col(f"p{t * P + b}") >= 0, F.lit(1 << b).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            bits = bit if bits is None else bits + bit
        sig_cols.append(bits.alias(f"s{t}"))
    sig = (
        proj.select("uuid", *sig_cols)
        .select(
            "uuid",
            F.posexplode(F.array(*[F.col(f"s{t}") for t in range(T)])),
        )
        .select(
            "uuid",
            F.col("pos").cast("long").alias("tbl"),
            F.col("col").alias("sig"),
        )
    )
    mask = (1 << P) - 1
    a = sig.select(F.col("uuid").alias("uuid_a"), "tbl", F.col("sig").alias("ba"))
    b = sig.select(
        F.col("uuid").alias("uuid_b"),
        F.col("tbl").alias("tbl_b"),
        F.explode(
            F.array(F.col("sig"), F.lit(mask).cast("long") - F.col("sig"))
        ).alias("probe"),
    )
    cand = (
        a.join(
            b,
            (F.col("tbl") == F.col("tbl_b"))
            & (F.col("ba") == F.col("probe"))
            & (F.col("uuid_a") < F.col("uuid_b")),
        )
        .select("uuid_a", "uuid_b")
        .distinct()
    )
    pa = m.select(F.col("uuid").alias("uuid_a"), "bucket", F.col("mq").alias("xa"))
    pb = m.select(
        F.col("uuid").alias("_ub"),
        F.col("bucket").alias("bucket_b"),
        F.col("mq").alias("xb"),
    )
    paired = (
        cand.join(pa, "uuid_a")
        .join(
            pb,
            (F.col("uuid_b") == F.col("_ub"))
            & (F.col("bucket") == F.col("bucket_b")),
        )
        .drop("_ub")
    )
    pairs = _pearson_from_pairs(paired, ["uuid_a", "uuid_b"], min_overlap)
    return _topk_per_stream(pairs, k)


def _topk_per_stream(pairs: DataFrame, k: int) -> DataFrame:
    """Symmetrize a (uuid_a, uuid_b, n_buckets, corr) pair frame and keep
    each stream's k strongest partners by |corr| (deterministic
    |corr| desc / partner asc order)."""
    both = pairs.select(
        F.col("uuid_a").alias("uuid"), F.col("uuid_b").alias("partner"),
        "n_buckets", "corr",
    ).unionByName(
        pairs.select(
            F.col("uuid_b").alias("uuid"), F.col("uuid_a").alias("partner"),
            "n_buckets", "corr",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("uuid").orderBy(F.abs(F.col("corr")).desc(), "partner")
    return (
        both.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def correlations_topk_lsh_oracle_sql(
    points_sql: str,
    pw: int = 42,
    k: int = 3,
    min_overlap: int = 8,
    n_planes: int = 8,
    n_tables: int = 8,
) -> str:
    """DuckDB mirror of stream_correlations_topk_lsh: identical md5
    coefficients, centering doubles, signature packing, complement
    probe, exact Pearson tail."""
    width = 1 << pw
    P, T = n_planes, n_tables
    mask = (1 << P) - 1
    return f"""
        WITH m AS (
            SELECT uuid,
                   (time // {width}) * {width} AS bucket,
                   CAST(FLOOR((CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)) * {_Q!r}) AS BIGINT) AS mq
            FROM {points_sql} p GROUP BY 1, 2
        ), tot AS (
            SELECT uuid, COUNT(*) AS nb, SUM(mq) AS sxs,
                   COUNT(DISTINCT mq) AS ndv
            FROM m GROUP BY 1
        ), zc AS (
            SELECT m.uuid, m.bucket,
                   CAST(FLOOR(CAST(mq AS DOUBLE)
                        - CAST(sxs AS DOUBLE) / CAST(nb AS DOUBLE)) AS BIGINT) AS zq
            FROM m JOIN tot ON m.uuid = tot.uuid WHERE tot.ndv > 1
        ), pj AS (
            SELECT generate_series AS j FROM generate_series(0, {P * T - 1})
        ), proj AS (
            SELECT uuid, j,
                   SUM(zq * (('0x' || substr(md5(CAST(bucket AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 4))::BIGINT - 32768)) AS proj
            FROM zc CROSS JOIN pj GROUP BY 1, 2
        ), sig AS (
            SELECT uuid, j // {P} AS tbl,
                   SUM(CASE WHEN proj >= 0
                       THEN (CAST(1 AS BIGINT) << CAST(j % {P} AS INT))
                       ELSE 0 END) AS sig
            FROM proj GROUP BY 1, 2
        ), cand AS (
            SELECT DISTINCT a.uuid AS uuid_a, b.uuid AS uuid_b
            FROM sig a JOIN sig b
              ON a.tbl = b.tbl AND a.uuid < b.uuid
             AND (a.sig = b.sig OR a.sig = {mask} - b.sig)
        ), paired AS (
            SELECT c.uuid_a, c.uuid_b, ma.mq AS xa, mb.mq AS xb
            FROM cand c
            JOIN m ma ON ma.uuid = c.uuid_a
            JOIN m mb ON mb.uuid = c.uuid_b AND mb.bucket = ma.bucket
        ), stats AS (
            SELECT uuid_a, uuid_b, COUNT(*) AS n,
                   SUM(xa) AS sx, SUM(xb) AS sy,
                   SUM(xa * xb) AS sxy, SUM(xa * xa) AS sxx, SUM(xb * xb) AS syy
            FROM paired GROUP BY 1, 2
        ), corr_rows AS (
            SELECT uuid_a, uuid_b, CAST(n AS BIGINT) AS n_buckets,
                   (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr
            FROM stats
            WHERE n >= {min_overlap}
              AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
              AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
        ), both_dir AS (
            SELECT uuid_a AS uuid, uuid_b AS partner, n_buckets, corr
            FROM corr_rows
            UNION ALL
            SELECT uuid_b AS uuid, uuid_a AS partner, n_buckets, corr
            FROM corr_rows
        ), ranked AS (
            SELECT uuid, partner, n_buckets, corr,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY uuid
                       ORDER BY ABS(corr) DESC, partner) AS BIGINT) AS rk
            FROM both_dir
        )
        SELECT uuid, partner, n_buckets, corr, rk
        FROM ranked WHERE rk <= {k}
    """


def correlations_topk_oracle_sql(
    points_sql: str, pw: int = 42, k: int = 3, min_overlap: int = 8
) -> str:
    """DuckDB mirror of stream_correlations_topk: full-pair CTE (the
    prefilter is exact, so the oracle needs no equivalent), both
    directions, row_number by |corr| desc / partner asc."""
    base = correlations_oracle_sql(points_sql, pw, min_overlap)
    return f"""
        WITH pairs AS ({base}),
        both_dir AS (
            SELECT uuid_a AS uuid, uuid_b AS partner, n_buckets, corr
            FROM pairs
            UNION ALL
            SELECT uuid_b AS uuid, uuid_a AS partner, n_buckets, corr
            FROM pairs
        ), ranked AS (
            SELECT uuid, partner, n_buckets, corr,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY uuid
                       ORDER BY ABS(corr) DESC, partner) AS BIGINT) AS rk
            FROM both_dir
        )
        SELECT uuid, partner, n_buckets, corr, rk
        FROM ranked WHERE rk <= {k}
    """


def lag_correlations(
    points: DataFrame,
    pw: int = 42,
    max_lag: int = 3,
    min_overlap: int = 8,
) -> DataFrame:
    """Lead-lag finder: Pearson correlation of per-bucket means where
    stream B is shifted by ``lag`` buckets, for every lag in
    [-max_lag, max_lag] — positive corr at positive lag means A LEADS B
    by that many buckets (the cross-sensor causality probe run after
    stream_correlations flags a related pair; standard PMU/telemetry
    diagnostics).

    Output: (uuid_a, uuid_b, lag, n_buckets, corr), uuid_a < uuid_b.
    Exact arithmetic identical to stream_correlations (quantized means,
    split-long product sums); the lag fan-out is a (2*max_lag+1)-way
    explode on the probe side of the bucket equi-join, so the join stays
    keyed and the work scales linearly in the lag window.
    """
    width = 1 << pw
    from ..functions import decsum

    m = (
        points.withColumn("bucket", bucket_start(F.col("time"), width))
        .groupBy("uuid", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"), *decsum.sum_aggs(F.col("value")))
        .select(
            "uuid",
            "bucket",
            F.floor(
                (decsum.vsum().cast("double") / F.col("cnt")) * F.lit(_Q)
            ).cast("long").alias("mq"),
        )
    )
    m = m.localCheckpoint()
    m = m.repartition(m.sparkSession.sparkContext.defaultParallelism)
    lags = F.array(*[F.lit(l) for l in range(-max_lag, max_lag + 1)])
    a = m.select(F.col("uuid").alias("uuid_a"), "bucket", F.col("mq").alias("xa"))
    b = m.select(
        F.col("uuid").alias("uuid_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("mq").alias("xb"),
    ).select(
        "uuid_b", "bucket_b", "xb", F.explode(lags).alias("lag")
    ).withColumn("lag", F.col("lag").cast("long"))
    paired = a.join(
        b,
        (F.col("bucket") == F.col("bucket_b") - F.col("lag") * F.lit(width))
        & (F.col("uuid_a") < F.col("uuid_b")),
    )
    return _pearson_from_pairs(paired, ["uuid_a", "uuid_b", "lag"], min_overlap)


def lag_correlations_oracle_sql(
    points_sql: str, pw: int = 42, max_lag: int = 3, min_overlap: int = 8
) -> str:
    width = 1 << pw
    return f"""
        WITH m AS (
            SELECT uuid,
                   (time // {width}) * {width} AS bucket,
                   CAST(FLOOR((CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)) * {_Q!r}) AS BIGINT) AS mq
            FROM {points_sql} p GROUP BY 1, 2
        ), paired AS (
            SELECT a.uuid AS uuid_a, b.uuid AS uuid_b, l.lag AS lag,
                   a.mq AS xa, b.mq AS xb
            FROM m a
            JOIN (SELECT generate_series AS lag
                  FROM generate_series({-max_lag}, {max_lag})) l ON TRUE
            JOIN m b ON a.bucket = b.bucket - l.lag * {width} AND a.uuid < b.uuid
        ), stats AS (
            SELECT uuid_a, uuid_b, lag, COUNT(*) AS n,
                   SUM(xa) AS sx, SUM(xb) AS sy,
                   SUM(xa * xb) AS sxy, SUM(xa * xa) AS sxx, SUM(xb * xb) AS syy
            FROM paired GROUP BY 1, 2, 3
        )
        SELECT uuid_a, uuid_b, CAST(lag AS BIGINT) AS lag,
               CAST(n AS BIGINT) AS n_buckets,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr
        FROM stats
        WHERE n >= {min_overlap}
          AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
          AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
    """


def correlations_oracle_sql(points_sql: str, pw: int = 42, min_overlap: int = 8) -> str:
    """DuckDB mirror — identical quantization, exact integer sums, and
    double expression structure."""
    width = 1 << pw
    return f"""
        WITH m AS (
            SELECT uuid,
                   (time // {width}) * {width} AS bucket,
                   CAST(FLOOR((CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)) * {_Q!r}) AS BIGINT) AS mq
            FROM {points_sql} p GROUP BY 1, 2
        ), paired AS (
            SELECT a.uuid AS uuid_a, b.uuid AS uuid_b, a.mq AS xa, b.mq AS xb
            FROM m a JOIN m b ON a.bucket = b.bucket AND a.uuid < b.uuid
        ), stats AS (
            SELECT uuid_a, uuid_b, COUNT(*) AS n,
                   SUM(xa) AS sx, SUM(xb) AS sy,
                   SUM(xa * xb) AS sxy, SUM(xa * xa) AS sxx, SUM(xb * xb) AS syy
            FROM paired GROUP BY 1, 2
        )
        SELECT uuid_a, uuid_b, CAST(n AS BIGINT) AS n_buckets,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr
        FROM stats
        WHERE n >= {min_overlap}
          AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
          AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
        ORDER BY uuid_a, uuid_b
    """


def stream_autocorr(
    points: DataFrame,
    pw: int = 42,
    lags: tuple[int, ...] = (1, 2, 3),
    min_overlap: int = 8,
) -> DataFrame:
    """Per-stream autocorrelation of bucket means at the given lags —
    the periodicity probe (daily/weekly seasonality of a sensor) that
    reference users run client-side over AlignedWindows pulls, as one
    distributed plan.

    For each stream and each lag L, Pearson correlation between the
    bucket-mean series x[b] and x[b + L] over all buckets where both
    exist. Output: (uuid, lag, n_buckets, corr), only rows with
    n_buckets >= min_overlap and nonzero variance on both sides.

    Same determinism contract as stream_correlations: 2^-20-quantized
    bucket means, exact long/decimal sufficient-statistic sums, one
    fixed IEEE double expression at the end.

    Plan shape: bucket means once (map-side-combinable groupBy, can read
    the rollup ladder at scale), localCheckpoint so the self-join reads
    the tiny means frame twice without re-scanning points, equi-join on
    (uuid, bucket+L*width == bucket) fanned out by a broadcast lag
    frame, then one groupBy (uuid, lag). Join fan-out is n_buckets x
    n_lags per stream — output-shaped, not points-shaped.
    """
    width = 1 << pw
    from ..functions import decsum
    from ..functions.timeops import bucket_start as _bs

    m = (
        points.withColumn("bucket", _bs(F.col("time"), width))
        .groupBy("uuid", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"), *decsum.sum_aggs(F.col("value")))
        .select(
            "uuid",
            "bucket",
            F.floor(
                (decsum.vsum().cast("double") / F.col("cnt")) * F.lit(_Q)
            ).cast("long").alias("mq"),
        )
    ).localCheckpoint()
    m = m.repartition(m.sparkSession.sparkContext.defaultParallelism)

    spark = m.sparkSession
    lag_df = spark.createDataFrame([(int(l),) for l in lags], "lag long")
    a = m.crossJoin(F.broadcast(lag_df)).select(
        "uuid", "lag",
        (F.col("bucket") + F.col("lag") * F.lit(width)).alias("bucket_b"),
        F.col("mq").alias("xa"),
    )
    b = m.select(
        F.col("uuid").alias("uuid_b"), F.col("bucket").alias("bucket_b"),
        F.col("mq").alias("xb"),
    )
    paired = a.join(
        b, (F.col("uuid") == F.col("uuid_b")) & (a["bucket_b"] == b["bucket_b"])
    )

    from ..functions.timeops import floor_div

    _B = 1 << 30

    def _split_sum(prod, name):
        hi = floor_div(prod, F.lit(_B))
        lo = prod - hi * F.lit(_B)
        return [F.sum(hi).alias(f"{name}_hi"), F.sum(lo).alias(f"{name}_lo")]

    stats = paired.groupBy("uuid", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xa").alias("sx"),
        F.sum("xb").alias("sy"),
        *_split_sum(F.col("xa") * F.col("xb"), "sxy"),
        *_split_sum(F.col("xa") * F.col("xa"), "sxx"),
        *_split_sum(F.col("xb") * F.col("xb"), "syy"),
    )

    def _assemble(name):
        return (
            F.col(f"{name}_hi").cast("decimal(38,0)") * F.lit(_B)
            + F.col(f"{name}_lo").cast("decimal(38,0)")
        ).cast("double")

    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = _assemble("sxy")
    sxx = _assemble("sxx")
    syy = _assemble("syy")
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    corr = (n * sxy - sx * sy) / (F.sqrt(varx) * F.sqrt(vary))
    return (
        stats.filter(F.col("n") >= min_overlap)
        .filter((varx > 0) & (vary > 0))
        .select("uuid", "lag", F.col("n").cast("long").alias("n_buckets"), corr.alias("corr"))
    )


def autocorr_oracle_sql(
    points_sql: str,
    pw: int = 42,
    lags: tuple[int, ...] = (1, 2, 3),
    min_overlap: int = 8,
) -> str:
    """DuckDB mirror of stream_autocorr (same quantization/sums)."""
    width = 1 << pw
    lag_list = ", ".join(f"({int(l)})" for l in lags)
    return f"""
        WITH m AS (
            SELECT uuid,
                   (time // {width}) * {width} AS bucket,
                   CAST(FLOOR((CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)) * {_Q!r}) AS BIGINT) AS mq
            FROM {points_sql} p GROUP BY 1, 2
        ), lagf(lag) AS (VALUES {lag_list}),
        paired AS (
            SELECT a.uuid, CAST(l.lag AS BIGINT) AS lag, a.mq AS xa, b.mq AS xb
            FROM m a CROSS JOIN lagf l
            JOIN m b ON b.uuid = a.uuid AND b.bucket = a.bucket + l.lag * {width}
        ), stats AS (
            SELECT uuid, lag, COUNT(*) AS n,
                   SUM(xa) AS sx, SUM(xb) AS sy,
                   SUM(xa * xb) AS sxy, SUM(xa * xa) AS sxx, SUM(xb * xb) AS syy
            FROM paired GROUP BY 1, 2
        )
        SELECT uuid, lag, CAST(n AS BIGINT) AS n_buckets,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr
        FROM stats
        WHERE n >= {min_overlap}
          AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
          AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
    """
