"""Physical-plan audit: asserts the plan properties that matter at 100 TB.

For each audited query we check the formatted explain output for:
- time-range predicates pushed to the parquet scan (PushedFilters) where
  the query has one;
- dimension joins executed as BroadcastHashJoin (never a shuffled SMJ on
  a small side, never a CartesianProduct);
- aggregates running partial+final (map-side combine);
- no Python row-at-a-time UDF in any hot path (BatchEvalPython).

Run: python tools/explain_audit.py   (exits non-zero on violation)
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.1"

# query -> (must_contain, must_not_contain) fragments of the formatted plan
RULES: dict[str, tuple[list[str], list[str]]] = {
    # r8: batch-tombstone anti-join stays a broadcast (tombstones are a
    # tiny dim), never a nested loop over points x tombstones rows
    "raw_values_after_batch_delete": (
        [],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # r8: cumulative-CDF window partitioned by event_type; all counts
    # integer, no Python, no pair explosion
    "ks_value_drift": (
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r8: daily reduction first (partial_count), lag pairs by EQUI-join
    # on (event_type, day+lag); the 3-row lag grid broadcast-fans (the
    # spectral_power grid shape) — days x days explosion forbidden via
    # the equi-join requirement on day_b
    "acf_daily_counts": (
        ["partial_count", "day_b"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # r8: LEAD window keyed by user_id; vocab-sized from-totals broadcast
    "event_transitions": (
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython",
         "SinglePartition"],
    ),
    # r8: both ANN legs bound their scan (broadcast probe set / nprobe
    # cells); the audit join is keyed on (query_id, neighbor_id). The
    # exact leg's probe broadcast is a BNLJ by design (the
    # hybrid_rrf_topk precedent) — CartesianProduct and Python stay out
    "ann_recall_audit": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # r8: customer dim broadcast, decimal revenue partial-agg'd on the
    # join key; the one shuffle is orders->lineitem
    "tpch_q3": (
        ["BroadcastHashJoin", "partial_sum"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r8: the EXISTS is a LEFT-SEMI join (each order tested once), never
    # an inner join that would duplicate orders per matching lineitem
    "tpch_q4": (
        ["LeftSemi", "partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r8: nation-tagged supplier/customer dims broadcast; the one real
    # shuffle is orders->lineitem on orderkey
    "tpch_q7": (
        ["BroadcastHashJoin", "partial_sum"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r8: one hash-keyed groupBy + doc-sized join back; no pair
    # expansion anywhere
    "source_dup_rates": (
        ["partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r8: aggregate-then-max-of-aggregate — both final-join sides are
    # supplier-sized, broadcast; the fact reduces in one keyed agg
    "tpch_q15": (
        ["BroadcastHashJoin", "partial_sum"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # r8: brand dim broadcast prunes the fact FIRST; the correlated avg
    # becomes one keyed aggregate equi-joined back
    "tpch_q17": (
        ["BroadcastHashJoin", "partial_sum"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r8: one keyed groupBy, integer partial sums, no joins
    "tokenizer_fertility": (
        ["partial_sum"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r8: source-sized window (bounded single partition is by design,
    # the value_quantile_sketch precedent), counts partial-agg'd
    "gini_source_concentration": (
        ["Window", "partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r9: incremental probe — the batch band-set BROADCASTS so the
    # corpus-sized index side never shuffles; no pair explosion
    "dedup_incremental": (
        ["BroadcastHashJoin", "partial_min"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r9: md5-membership probe — broadcast batch hashes vs streamed index
    "dedup_incremental_exact": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r9: correlated-MIN shape — dims broadcast, both aggregates keyed
    "tpch_q2": (
        ["BroadcastHashJoin", "partial_min"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r9: part/supplier/nation broadcast; one real shuffle (orderkey)
    "tpch_q9": (
        ["BroadcastHashJoin", "partial_sum"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r9: CASE conditional aggregation over one orderkey join
    "tpch_q12": (
        ["partial_sum"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r9: the NOT IN is a broadcast LEFT-ANTI, never a per-row subquery
    "tpch_q16": (
        ["LeftAnti", "BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r9: disjunctive bracket predicate stays inside ONE broadcast join
    "tpch_q19": (
        ["BroadcastHashJoin", "partial_sum"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r9: nested correlated IN = keyed agg + HAVING feeding a LEFT-SEMI
    "tpch_q20": (
        ["LeftSemi", "partial_sum"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r9: EXISTS -> left-semi, NOT EXISTS -> left-anti, both hashed on
    # orderkey with the suppkey inequality as a residual condition
    "tpch_q21": (
        ["LeftSemi", "LeftAnti"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r9: scalar-subquery threshold broadcasts as a 1-row frame (that
    # BNLJ is the hybrid_rrf_topk precedent — by design); the NOT
    # EXISTS is a left-anti on custkey
    "tpch_q22": (
        ["LeftAnti", "partial_sum"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # r9: market-share — dims broadcast; the two fact joins (orders->
    # customer, lineitem->orders) are the only shuffles
    "tpch_q8": (
        ["BroadcastHashJoin", "partial_sum"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r9: scalar-threshold compare rides a broadcast 1-row frame (the
    # tpch_q22/hybrid_rrf precedent); value agg is keyed + partial
    "tpch_q11": (
        ["partial_sum"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # r9: exact top-k partners — prefilter broadcast, bucket equi-join
    # pair stage, one window over S*k rows; never a nested loop
    "stream_correlations_topk": (
        ["partial_count", "Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r9: LSH-pruned top-k — the plane fan-out is a broadcast of a tiny
    # literal frame (sanctioned BNLJ, the centroid_classify precedent);
    # candidate and Pearson joins are hash equi-joins
    "stream_correlations_topk_lsh": (
        ["BroadcastHashJoin", "partial_sum", "Window"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # r10: ladder-served LSH variant — same plan contract as the
    # points-fed one; the means head is the coarsen∘combine fold
    "stream_correlations_topk_lsh_via_rollup": (
        ["BroadcastHashJoin", "partial_sum", "Window"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # r9: incremental IVF probe — centroid assignment broadcasts the
    # quantizer (sanctioned BNLJ), the posting join is a hash equi-join
    # on cell with the batch side broadcast
    "ann_index_probe": (
        ["BroadcastHashJoin", "Window"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # r10: probe after retrain — same plan contract (the retrain itself
    # is maintenance, not a query; its product is the same probe shape)
    "ann_index_probe_retrained": (
        ["BroadcastHashJoin", "Window"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # r10: incremental SemDeDup rides the probe plan (rank-1 + threshold)
    "semantic_dedup_incremental": (
        ["BroadcastHashJoin", "Window"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # fixture adapter truncates ts -> µs (oracle parity), which blocks scan
    # pushdown there; the engine-native layout is audited separately below
    "raw_values": ([], ["Exchange hashpartitioning"]),
    "aligned_windows": (["partial_count", "partial_min", "partial_max"], ["BatchEvalPython"]),
    "windows_1h_hybrid": (["partial_count"], ["CartesianProduct", "BatchEvalPython"]),
    "segment_revenue": (["BroadcastHashJoin"], ["CartesianProduct", "BatchEvalPython"]),
    "tpch_q1": (["partial_sum", "LessThanOrEqual(l_shipdate"], ["BatchEvalPython"]),
    "tpch_q6": (["partial_sum", "GreaterThanOrEqual(l_shipdate"], ["BatchEvalPython", "Exchange hashpartitioning"]),
    "tpch_q5": (["partial_sum", "BroadcastHashJoin"], ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"]),
    "csv_windows": (["partial_max"], ["BatchEvalPython"]),
    "csv_windows_arb": (["partial_max"], ["CartesianProduct", "BatchEvalPython"]),
    "ann_lsh_topk": (["BroadcastHashJoin"], ["CartesianProduct", "BatchEvalPython"]),
    "ann_lsh_multiprobe_topk": (["BroadcastHashJoin"], ["CartesianProduct", "BatchEvalPython"]),
    "minhash_lsh_pairs": (["partial_min"], ["CartesianProduct", "BatchEvalPython"]),
    # pigeonhole-banded: candidates via (band, band-value) equi-join, never
    # an all-pairs broadcast loop
    "simhash_pairs": (
        ["partial_sum"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    "cosine_topk": (["BroadcastNestedLoopJoin"], ["BatchEvalPython"]),  # intended exact scan
    # decimation is ONE map-side-combinable groupBy (struct min/max), no window
    "decimate_minmax": (["partial_min", "partial_max"], ["Window", "CartesianProduct", "BatchEvalPython"]),
    # r4 ops: pure codegen scan-project (gopher), keyed shuffles only
    # (counter/lttb — every Window partitioned, no SinglePartition on the
    # data path), snapshot = one map-side-combinable max_by groupBy
    "gopher_quality": ([], ["BatchEvalPython", "Exchange hashpartitioning", "CartesianProduct"]),
    "counter_increase": (["partial_sum"], ["Exchange SinglePartition", "BatchEvalPython", "CartesianProduct"]),
    "stream_snapshot": (["partial_max"], ["Window", "BatchEvalPython", "CartesianProduct"]),
    "lttb_downsample": (["partial_count"], ["Exchange SinglePartition", "BatchEvalPython", "CartesianProduct"]),
    "domain_stats": (["partial_count"], ["Exchange SinglePartition", "BatchEvalPython", "CartesianProduct"]),
    # autocorr: the 3-row lag frame fans out via broadcast crossJoin (a
    # BNLJ by construction, like the resample grids); the bucket match
    # itself must stay an equi-join (BroadcastHashJoin on uuid+bucket)
    "stream_autocorr": (["partial_count", "BroadcastHashJoin"], ["CartesianProduct", "BatchEvalPython"]),
    # gram-hash dedup: longs over the shuffle, plain hash aggregation + join
    "exact_substring_spans": (["partial_count", "xxhash64"], ["CartesianProduct", "BatchEvalPython", "Window"]),
    # PQ: encode = integer Arrow kernel (ArrowEvalPython — the justified
    # vectorized-UDF case, like the LSH signatures), codebook/probe sides
    # broadcast; never a row-at-a-time Python UDF
    "ann_pq_topk": (["BroadcastHashJoin", "ArrowEvalPython"], ["CartesianProduct", "BatchEvalPython"]),
    # IVF-PQ: cell routing + code scan, probe side broadcast on the cell key
    "ann_ivfpq_topk": (["BroadcastHashJoin", "ArrowEvalPython"], ["CartesianProduct", "BatchEvalPython"]),
    "ann_ivfpq_residual_topk": (["BroadcastHashJoin", "ArrowEvalPython"], ["CartesianProduct", "BatchEvalPython"]),
    # r9: exact rerank — the shortlist (queries x 50 rows) broadcasts
    # into the corpus join, full vectors fetched for candidates only
    "ann_ivfpq_rerank_topk": (["BroadcastHashJoin", "ArrowEvalPython"], ["CartesianProduct", "BatchEvalPython"]),
    "ann_rerank_recall_ladder": (["BroadcastHashJoin"], ["CartesianProduct", "BatchEvalPython"]),
    # CUSUM: sequential kernel is the documented Arrow case; mean frame broadcast
    "cusum_alarms": (["MapInPandas", "BroadcastHashJoin"], ["BatchEvalPython", "CartesianProduct"]),
    # SAX: bucket-mean groupBy + broadcast stats + lead window + top-k window
    "sax_motifs": (["BroadcastHashJoin", "partial_count"], ["CartesianProduct", "BatchEvalPython", "MapInPandas"]),
    # Holt: bucket-mean groupBy feeds the sequential kernel; no joins at all
    "holt_forecast": (["MapInPandas", "partial_count"], ["BatchEvalPython", "CartesianProduct", "Join"]),
    # seasonal anomaly: 24-key baseline broadcast back; no window functions
    "seasonal_anomaly": (["BroadcastHashJoin", "partial_count"], ["BatchEvalPython", "CartesianProduct", "Window"]),
    # funnel: one global conditional-sum aggregation, no per-stage re-scan loops
    "pipeline_funnel": (["partial_count"], ["CartesianProduct", "BatchEvalPython"]),
    # availability: one lag window + two stream-count frames joined
    "stream_availability": (["Window", "partial_count"], ["CartesianProduct", "BatchEvalPython"]),
    # peaks: one window pass, zero joins
    "find_peaks": (["Window"], ["Join", "CartesianProduct", "BatchEvalPython"]),
    # windowed quantiles: window rank + map-side-combinable conditional-min agg
    "window_quantiles": (["Window", "partial_min"], ["Join", "CartesianProduct", "BatchEvalPython"]),
    # LOCF integral: lead() window + bounded explode + partial-agg fold
    "time_weighted_mean": (["Window", "partial_sum"], ["CartesianProduct", "BatchEvalPython"]),
    # gram contrast: hash-keyed gram stats + hash join; no pair generation.
    # (the xxhash64 projection runs BEFORE the localCheckpoint boundary, so
    # it is not visible in this plan string)
    "gram_contrast_topk": (["partial_sum"], ["CartesianProduct", "BatchEvalPython", "BroadcastNestedLoopJoin"]),
    "dedup_exact": (["partial_min", "partial_count"], ["BatchEvalPython"]),
    "ann_ivf_topk": (["BroadcastHashJoin"], ["BatchEvalPython"]),
    # trained-quantizer IVF: same join shape as ann_ivf_topk (centroids
    # broadcast into the scoring cross, cells equi-joined)
    "ann_ivf_kmeans_topk": (["BroadcastHashJoin"], ["BatchEvalPython"]),
    # lexicon is KBs: the word match and the 1-row fallback must both be
    # broadcast — a shuffled join on the token key would shuffle the corpus
    "lang_id_lexicon_join": (["BroadcastHashJoin"], ["BatchEvalPython", "SortMergeJoin"]),
    # stop-shingle cap adds one small aggregate + join, still no cartesian
    "ngram_jaccard_pairs_capped": ([], ["CartesianProduct", "BatchEvalPython"]),
    # centroids are KBs: scoring side must broadcast
    "centroid_classify": (["BroadcastNestedLoopJoin"], ["BatchEvalPython"]),
    # tf/df/dl joins: df is term-count-sized (broadcast); partial aggs
    "bm25_topk": (["BroadcastHashJoin", "partial_count"], ["CartesianProduct", "BatchEvalPython"]),
    # pure scan-project-filter: no shuffle at all before the output sort
    "stratified_sample": ([], ["Exchange hashpartitioning", "BatchEvalPython"]),
    # two window passes + joins of stream-sized frames (broadcast)
    "value_mad_outliers": (["BroadcastHashJoin"], ["CartesianProduct", "BatchEvalPython"]),
    # bucket self-join is an equi-join on bucket, never a nested loop
    "stream_correlations": (["partial_count"], ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"]),
    # sequential recurrences: the sanctioned Arrow group kernel, one uuid
    # shuffle, never a row-at-a-time Python UDF
    # per-partition Arrow kernels (mapInPandas over a uuid-hash repartition)
    "ewma": (["MapInPandas"], ["BatchEvalPython", "CartesianProduct"]),
    "sdt_compress": (["MapInPandas"], ["BatchEvalPython", "CartesianProduct"]),
    # pure scan-project: codegen regex, no shuffle before the output sort
    "pii_scrub": ([], ["Exchange hashpartitioning", "BatchEvalPython"]),
    "corpus_clean": (["BroadcastHashJoin"], ["CartesianProduct", "BatchEvalPython"]),
    "aligned_windows_at_version_via_rollup": (["partial_count"], ["BatchEvalPython"]),
    # split is a pure projection: the only exchange is the output sort
    "train_val_test_split": ([], ["Exchange hashpartitioning", "BatchEvalPython"]),
    "value_quantiles": (["partial_min"], ["CartesianProduct", "BatchEvalPython"]),
    # asof: ONE window pass; the BroadcastNestedLoop is the tiny 28-row
    # probe-fixture crossJoin (broadcast), not the operator itself
    "asof_join_backward": (["Window"], ["CartesianProduct", "BatchEvalPython"]),
    # skew-safe variant: the big window must partition by (uuid, chunk),
    # never by uuid alone
    "asof_join_chunked": (
        ["Window", "chunk"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    "resample_locf": (["Window"], ["CartesianProduct", "BatchEvalPython"]),
    # tolerance is a post-projection: same single window pass as asof
    "asof_join_tolerance": (["Window"], ["CartesianProduct", "BatchEvalPython"]),
    # matrix rollup: distinct + tiny groupBy, no joins
    "cohort_retention": (
        ["Window", "partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython", "Join"],
    ),
    "stream_rate": (["Window"], ["CartesianProduct", "BatchEvalPython"]),
    # interval join must run as bucket equi-join, never a nested loop
    "range_join_stats": (
        ["BroadcastHashJoin", "partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # one window pass per source partition, no nested loops
    "pack_token_shards": (
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # pure narrow filter: no shuffle but the output sort, no Python
    "mixture_sample": ([], ["Exchange hashpartitioning", "BatchEvalPython"]),
    # narrow projection + bounded explode; still no shuffle
    "mixture_upsample": (
        ["Generate"],
        ["Exchange hashpartitioning", "BatchEvalPython", "Join"],
    ),
    # Arrow-batched kernels (mapInPandas = ArrowEvalPython-free MapInPandas
    # node), never row-at-a-time BatchEvalPython
    "ppm_resize_exact": (["MapInPandas"], ["BatchEvalPython", "CartesianProduct"]),
    "wav_decode_features": (["MapInPandas"], ["BatchEvalPython"]),
    # survivor pick: label join on doc_id + one window pass, no loops
    "neardup_keep_best": (
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # tf/df: partial-aggregated shuffles; tf x df joins on term (vocab-keyed
    # shuffle join at scale); top-k per doc via window rank
    "tfidf_top_terms": (
        ["partial_count", "Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # pure scan-project-explode: no shuffle but the output sort, no joins
    "doc_chunk": (
        ["Generate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # chunk-hash groupBy is partial-aggregated; join keyed on the hash
    "chunk_dedup_stats": (
        ["partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # per-(doc, gram) counts: partial-aggregated; rollups keyed on doc_id
    "repetition_scores": (
        ["partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # JSON extraction is a codegen'd projection; tiny-key groupBy combines
    # map-side
    "props_extract_stats": (
        ["partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # three stacked windows over ONE user_id exchange
    "event_funnel": (
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # backward + forward as-of both window passes; grid is a broadcast cross
    # of a dimension-sized range (the BroadcastNestedLoop there is intended)
    "resample_linear": (["Window"], ["CartesianProduct", "BatchEvalPython"]),
    # single window pass with a ROWS frame; no joins at all
    "rolling_zscore": (
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython", "Join"],
    ),
    # (uuid, bin)-keyed partial agg, balanced under value skew; no joins
    "value_histogram": (
        ["partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython", "Join"],
    ),
    # catalog side broadcast; points partial-agg per uuid BEFORE the join
    "collection_rollup": (
        ["BroadcastHashJoin", "partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # global top-k must be TakeOrdered (per-partition top-k), not a sort
    "vocab_topk": (
        ["TakeOrderedAndProject"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # bounded explode of covering anchors + ONE partial-aggregated groupBy
    # (never width/hop scan passes, never a range join)
    "windows_sliding": (
        ["Generate", "partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    "find_gaps": (
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython", "Join"],
    ),
    # in-cell pair join is an equi-join on cell (quadratic only in cell
    # size), never an all-pairs loop over the corpus
    "semantic_dedup": (
        ["Window"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # labels x dims keyed partial agg (balanced under label skew)
    "label_centroids": (
        ["partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # per-shard windows, never a global single-partition sort
    "global_shuffle": (
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython",
         "SinglePartition"],
    ),
    # r6/r7: weighted inverse-CDF — bucketed prefix sums (partitioned
    # window); draws route to their bucket via a literal-array codegen
    # scan then EQUI-join on bucket id. The former O(n_docs*n_draws)
    # broadcast nested-loop interval join is forbidden (r6 verdict #2).
    "weighted_sample": (
        ["Window", "partial_sum", "BroadcastHashJoin"],
        ["CartesianProduct", "BatchEvalPython", "BroadcastNestedLoopJoin"],
    ),
    # r6: SymSpell blocking must stay an EQUI-join on variant hashes —
    # never an all-pairs loop
    "fuzzy_prefix_pairs": (
        [],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r6: RRF fusion — bm25 leg broadcasts the term-df dimension; the
    # cosine leg's probe broadcast is a BNLJ by design (exact scan)
    "hybrid_rrf_topk": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # r6: periodogram — coef table broadcast-hash-joined, accumulation
    # partial-agg'd; the 2-row period grid fans out as a broadcast BNLJ
    "spectral_power": (
        ["BroadcastHashJoin", "partial_sum"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    # r6: bottom-k sample quantiles — per-shard window partitioned; the
    # global re-rank runs on <= shards*k surviving rows (bounded by
    # construction, so its SinglePartition exchange is not a data-path
    # violation and is not forbidden here)
    "value_quantile_sketch": (
        ["Window", "partial_"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r6: grouped quantile sketch — every window carries the group key,
    # so NO single-partition stage may appear anywhere
    "doc_len_quantiles_by_lang": (
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython",
         "SinglePartition"],
    ),
    # r6: source-overlap KMV — the source-pair grid fans out as a
    # broadcast BNLJ (intended); the shingle stage must stay partial-agg'd
    "source_jaccard_kmv": (
        ["Window", "partial_"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # r6: rendezvous argmax — one exploded map-side-combinable groupBy
    # over the broadcast shard grid; no window, no shuffled join
    "rendezvous_shards": (
        ["partial_max"],
        ["CartesianProduct", "SortMergeJoin", "Window", "BatchEvalPython"],
    ),
    # r6: collocations — token-keyed count joins (shuffled equi-joins by
    # design: a 100 TB vocab cannot broadcast), partial-agg'd counts
    "collocations_topk": (
        ["partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r7: aggregate-then-probe — lineitem reduced BEFORE any join, the
    # surviving key set broadcasts
    "tpch_q18": (
        ["BroadcastHashJoin", "partial_sum"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r7: two partial-agg profile passes, profile-sized join
    "seasonal_profile_deviation": (
        ["partial_sum"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r7: baskets from sorted arrays, pairs expanded in-bucket (no raw
    # self-join), vocab-sized count legs broadcast
    "association_rules": (
        ["BroadcastHashJoin", "partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r7: day-domain self-join keyed by type, lower-median via
    # type-partitioned window
    "theil_sen_slope": (
        ["Window", "partial_sum"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r7: bounds pass broadcast back, binned counts partial-agg'd
    "value_histogram_auto": (
        ["BroadcastHashJoin", "partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r7: one user-keyed window for transitions; rank iterations join
    # node-sized tables (broadcast)
    "pagerank_event_graph": (
        ["Window", "BroadcastHashJoin"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # r7: source-sized rollup; the 1-row totals dimension joins as a
    # broadcast cross (BNLJ on ONE row — the allowed scalar-join shape)
    "mixture_temperature": (
        ["partial_sum"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # r7: gram-hash shuffle, min-agg first-occurrence, per-doc rollup
    "ngram_novelty": (
        ["partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r7: native sessionization aggregate, user-keyed
    "session_window_stats": (
        ["session_window", "partial_sum"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r7: probes broadcast against the streamed corpus (the bounded-probe
    # exact-scan BNLJ, same contract as cosine_topk), vote via window
    "knn_label_consistency": (
        ["Window", "partial_count"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    # r7: part dim broadcast, decimal conditional sums, no shuffle beyond
    # the one fact aggregation
    "tpch_q14": (
        ["BroadcastHashJoin", "partial_sum"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r7: fact reduced per custkey before the broadcast dims join on
    "tpch_q10": (
        ["BroadcastHashJoin", "partial_sum"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r8 (verdict r7 ask #4): orders pre-aggregated to a per-custkey
    # count table BEFORE the left join — the join input is the
    # aggregate, never raw orders. Structural proxy: the pre-join count
    # is a partial_count, and NO partial_sum may appear (the old
    # join-then-aggregate shape counted orders via sum(CASE ...) over
    # the join output).
    "tpch_q13": (
        ["partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython",
         "partial_sum"],
    ),
    # r7: Arrow kernel for the hash only; banding/verify are JVM equi-join
    # + bit_count — never row-at-a-time Python, never a nested loop
    "image_phash_pairs": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r7: two pair sets full-outer-joined on (doc_a, doc_b)
    "lsh_recall_audit": (
        ["partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    # r7: Arrow decode kernel, per-window rows born executor-side
    "wav_rms_windows": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
}


def main() -> int:
    from btrdb_spark.session import get_spark
    import __spark_entry__ as e

    spark = get_spark("explain_audit", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    qs = e.queries()
    bad = []
    only = set(sys.argv[1:])  # optional subset: audit only the named rules
    for name, (must, must_not) in RULES.items():
        if only and name not in only:
            continue
        plan = qs[name](spark, SF_DIR)._jdf.queryExecution().explainString(mode)
        for frag in must:
            if frag not in plan:
                bad.append(f"{name}: missing {frag!r}")
        for frag in must_not:
            if frag in plan:
                bad.append(f"{name}: contains {frag!r}")
    if only:  # subset mode audits only the named RULES entries
        for b in bad:
            print("VIOLATION", b)
        print(f"{len(bad)} violations across {len(only)} audited plans")
        return 1 if bad else 0

    # engine-native storage: single-stream range read must prune the
    # uuid_bucket partition directories AND push the time range to parquet
    import tempfile

    from pyspark.sql import functions as F

    from btrdb_spark.engine import BTrDBEngine
    from btrdb_spark.sources.tables import events_as_points

    with tempfile.TemporaryDirectory() as tmp:
        eng = BTrDBEngine(spark, tmp)
        pts = events_as_points(spark, SF_DIR).filter(F.col("uuid").isin("1", "2", "3"))
        eng.create_stream("audit/a", uuid="1")
        # go through the public write path: batch insert + flush
        rows = [(r["time"], r["value"]) for r in pts.filter(F.col("uuid") == "1").limit(5000).collect()]
        eng.insert("1", rows)
        eng.flush("1")
        plan = eng.raw_values("1", 0, 1 << 62)._jdf.queryExecution().explainString(mode)
        ok_prune = "PartitionFilters: [isnotnull(uuid_bucket" in plan or "uuid_bucket#" in plan.split("PartitionFilters:")[1][:200] if "PartitionFilters:" in plan else False
        ok_push = "GreaterThanOrEqual(time" in plan and "EqualTo(uuid,1)" in plan
        if not ok_prune:
            bad.append("engine_raw: partition pruning on uuid_bucket missing")
        if not ok_push:
            bad.append("engine_raw: time/uuid predicates not pushed to parquet scan")
        # a BOUNDED range must additionally prune the time_bucket directories
        bounded = eng.raw_values("1", 0, 1 << 48)._jdf.queryExecution().explainString(mode)
        pf = bounded.split("PartitionFilters:")[1][:300] if "PartitionFilters:" in bounded else ""
        if "time_bucket" not in pf:
            bad.append("engine_raw_bounded: time_bucket partition pruning missing")
        # a single-stream read of a delete-free store plans nothing that
        # costs a job of its own: no Python-built empty frame, no range
        # shuffle (and its sampling job), no tombstone broadcast
        for frag in ("Scan ExistingRDD", "rangepartitioning", "BroadcastExchange"):
            if frag in plan:
                bad.append(f"engine_raw_single_stream: contains {frag!r}")

    # DISTIL write path: the seq-stamping row_number must rank within
    # time buckets (data shuffles on the bucket key), never as a global
    # partitionBy-less Window whose Exchange SinglePartition carries the
    # whole recompute. Only the tiny bucket-offset frame may be single-
    # partition, so the one allowed SinglePartition exchange must feed a
    # running-sum Window, not the row_number over the data.
    from btrdb_spark.plans.distill import stamp_seq

    pts2 = events_as_points(spark, SF_DIR).select("time", "value")
    dplan = stamp_seq(pts2, "out-uuid")._jdf.queryExecution().explainString(mode)
    if "hashpartitioning(_tb" not in dplan:
        bad.append("distill_stamp_seq: data row_number not partitioned by time bucket")
    data_windows = [
        seg for seg in dplan.split("Window")[1:] if "row_number" in seg[:400]
    ]
    if any("_tb" not in seg[:400] for seg in data_windows):
        bad.append("distill_stamp_seq: row_number Window missing _tb partition spec")

    # Dedup pair scoring must NOT force-broadcast the signature/sizes
    # relations (VERDICT r4 #4): they are O(N_docs), so an explicit
    # F.broadcast hint is a driver/executor OOM at corpus scale. AQE may
    # still pick broadcast at runtime when the relation is actually small
    # — what we forbid is the unconditional hint in the logical plan.
    from btrdb_spark.functions import dedup as dd

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(0)
    for nm, df in [
        ("ngram_jaccard_pairs", dd.ngram_jaccard_pairs(docs)),
        ("ngram_containment_pairs", dd.ngram_containment_pairs(docs)),
        ("minhash_lsh_pairs", dd.minhash_lsh_pairs(docs)),
    ]:
        analyzed = df._jdf.queryExecution().analyzed().toString()
        if "strategy=broadcast" in analyzed:
            bad.append(f"{nm}: explicit broadcast hint on a doc-sized relation")

    # Ladder read-path invariants (VERDICT r5 wrong #1): a DELETE-FREE
    # stream's rollup-served aligned_windows must plan NO join of any
    # kind — rebase resolution lives in a sidecar that delete-free reads
    # never touch. After a delete the read must still be ladder-routed
    # (vsum partials), now with the sidecar unioned in.
    with tempfile.TemporaryDirectory() as tmp:
        eng = BTrDBEngine(spark, f"{tmp}/lad", flush_threshold=10**9, ladder=True)
        u = eng.create_stream("audit/ladder")
        eng.insert(u, [(i * (1 << 18), float(i % 97)) for i in range(4000)], sync=True)
        clean = eng.aligned_windows(u, 0, 1 << 45, pw=26)
        cplan = clean._jdf.queryExecution().explainString(mode)
        if "Join" in cplan:
            bad.append("ladder_delete_free: rollup read plans a join (rebase leak)")
        if "vsum" not in cplan:
            bad.append("ladder_delete_free: read not served from rollup partials")
        if any("points.g" in f for f in clean.inputFiles()):
            bad.append("ladder_delete_free: read scans the cold points table")
        eng.delete_range(u, 1 << 24, 1 << 27)
        post = eng.aligned_windows(u, 0, 1 << 45, pw=26)
        pplan = post._jdf.queryExecution().explainString(mode)
        if "vsum" not in pplan:
            bad.append("ladder_after_delete: read fell back off the ladder")
        if not any("_rb.g" in f for f in post.inputFiles()):
            bad.append("ladder_after_delete: rebase sidecar not read")

    for b in bad:
        print("VIOLATION", b)
    print(f"{len(bad)} violations across {len(RULES) + 8} audited plans")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
