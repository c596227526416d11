"""Dedup / similarity / text operators on tiny synthetic corpora."""

from __future__ import annotations

import pytest

from btrdb_spark.functions import dedup, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the sleepy dog"),  # near dup
        (4, "completely different text about spark engines and shuffles"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    rows = dedup.exact_duplicates(docs).collect()
    by_keeper = {r["keeper_doc_id"]: r["n_copies"] for r in rows}
    assert by_keeper[1] == 2 and by_keeper[3] == 1 and by_keeper[4] == 1


def test_ngram_jaccard(docs):
    rows = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.4).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
    assert pairs[(1, 2)] == 1.0
    assert 0.4 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_ngram_jaccard_max_df_bounds_skew(spark):
    """Stop-shingle cap (VERDICT r2 #7): a boilerplate sentence shared by
    every doc must not quadratically explode candidates, and the capped
    jaccard is exact over the reduced universe."""
    from pyspark.sql import functions as F

    boiler = "this content is provided as is without any warranty of any kind"
    rows = [(i, f"{boiler} unique{i} filler{i} trail{i} end{i}") for i in range(60)]
    # docs 0/1 additionally share a real near-dup tail
    rows[0] = (0, f"{boiler} alpha beta gamma delta common tail here now")
    rows[1] = (1, f"{boiler} alpha beta gamma delta common tail here soon")
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # uncapped: every doc pairs with every other via boilerplate shingles
    uncapped = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.0)
    assert uncapped.count() == 60 * 59 // 2

    # capped: boilerplate shingles (df=60 > 8) leave the universe; only
    # the genuine near-dup pair survives any positive threshold
    capped = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.3, max_df=8)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in capped.collect()}
    assert set(got) == {(0, 1)}
    # exact over the reduced universe: docs 0/1 keep 10 non-boiler
    # shingles each (12-word unique halves + 2-word overlap into boiler
    # yields shingles of df<=2), sharing the 5 fully-'alpha beta gamma
    # delta common tail here' grams => verify against a hand-computed
    # jaccard on the surviving shingle sets
    sh = dedup.shingle_edges(docs.filter(F.col("doc_id") < 2), 3)
    from collections import Counter

    all_sh = dedup.shingle_edges(docs, 3).collect()
    freq = Counter(r["shingle"] for r in all_sh)
    kept = {}
    for r in sh.collect():
        if freq[r["shingle"]] <= 8:
            kept.setdefault(r["doc_id"], []).append(r["shingle"])
    inter = len(set(kept[0]) & set(kept[1]))
    # bag semantics degrade to set here (no repeated kept shingles)
    expect = inter / (len(kept[0]) + len(kept[1]) - inter)
    assert abs(got[(0, 1)] - expect) < 1e-12


def test_minhash_identical_docs_full_signature_match(docs):
    rows = dedup.minhash_lsh_pairs(docs, n=3, num_hashes=16, bands=4).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in rows}
    assert pairs[(1, 2)] == 1.0
    assert (1, 4) not in pairs  # no band collision for unrelated docs


def test_cosine_topk_self_similarity(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.9, 0.1, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.cosine_topk(emb, emb.filter("vec_id = 0"), k=2).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in out] == [(1, 1), (3, 2)]
    assert out[0]["cosine"] == 1.0


def test_lsh_buckets_deterministic(spark):
    rows = [(0, [1.0] * 64), (1, [1.0] * 64), (2, [-1.0] * 64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    b = {r["vec_id"]: r["bucket"] for r in similarity.lsh_buckets(emb, n_planes=8).collect()}
    assert b[0] == b[1]  # identical vectors -> same bucket
    assert b[0] != b[2]  # opposite vectors -> different bucket


def test_text_quality_and_langid(docs):
    q = {r["doc_id"]: r for r in text.quality_stats(docs).collect()}
    assert q[1]["n_tokens"] == 9
    assert q[1]["stopword_ratio"] == pytest.approx(2 / 9)
    lang = {r["doc_id"]: r["pred_lang"] for r in text.lang_id(docs).collect()}
    assert lang[1] == "en"


def test_fingerprint_stable(docs):
    a = {r["doc_id"]: r["fp"] for r in text.fingerprint(docs).collect()}
    b = {r["doc_id"]: r["fp"] for r in text.fingerprint(docs).collect()}
    assert a == b and a[1] == a[2] and a[1] != a[4]


def test_ann_ivf_invariants(spark):
    from pyspark.sql import functions as F

    from btrdb_spark.functions import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 8)
    cells = similarity.ivf_cells(emb, cents, nprobe=1)
    # every vector in exactly one cell
    assert cells.count() == emb.count()
    assert cells.select("vec_id").distinct().count() == emb.count()
    out = similarity.ann_ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=3, n_centroids=8, nprobe=2)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["cosine"]))
    for q, rs in per_q.items():
        rs.sort()
        assert len(rs) <= 3
        cos = [c for _, c in rs]
        assert cos == sorted(cos, reverse=True)  # cosine monotone in rank


def test_clean_corpus_filters_compose(spark):
    from pyspark.sql import functions as F

    from btrdb_spark.functions import pipeline, text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = pipeline.clean_corpus(docs).collect()
    ids = {r["doc_id"] for r in out}
    assert ids  # something survives
    # survivors satisfy each stage's predicate
    lang = {r["doc_id"]: r["pred_lang"] for r in text.lang_id(docs).collect()}
    qual = {r["doc_id"]: (r["n_tokens"], r["stopword_ratio"]) for r in text.quality_stats(docs).collect()}
    dups = {
        r["keeper_doc_id"]
        for r in docs.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("keeper_doc_id")).collect()
    }
    for i in ids:
        assert lang[i] == "en"
        assert qual[i][0] >= 20 and qual[i][1] >= 0.05
        assert i in dups


def test_neardup_clusters_transitive(spark):
    # chain A~B, B~C where A and C are farther apart: transitive closure
    # must put all three in one cluster even if (A,C) never pair directly
    rows = [
        (10, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (11, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (12, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
        (20, "one two three four five six seven eight nine ten"),
        (21, "one two three four five six seven eight nine ten"),
        (30, "unrelated corpus text with nothing shared at all here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.neardup_clusters(docs, bands=16, min_est_jaccard=0.3).collect()
    cluster = {r["doc_id"]: r["cluster_id"] for r in out}
    assert cluster[10] == cluster[11] == 10
    assert cluster[20] == cluster[21] == 20
    # 12 is a near (not exact) dup of 10/11 -> same component
    assert cluster[12] == 10
    # singleton docs don't appear
    assert 30 not in cluster


def test_train_val_test_split_deterministic(spark):
    from btrdb_spark.functions import pipeline

    docs = spark.createDataFrame([(i, "x") for i in range(500)], "doc_id long, text string")
    a = {r["doc_id"]: r["split"] for r in pipeline.train_val_test_split(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in pipeline.train_val_test_split(docs).collect()}
    assert a == b  # reproducible
    # growing the corpus never moves existing docs
    docs2 = spark.createDataFrame([(i, "x") for i in range(1000)], "doc_id long, text string")
    c = {r["doc_id"]: r["split"] for r in pipeline.train_val_test_split(docs2).collect()}
    assert all(c[i] == a[i] for i in range(500))
    frac = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.7 < frac < 0.9  # roughly the 80% weight


def test_value_quantiles_exact_ranks(spark, make_points):
    from btrdb_spark.operators.quantiles import value_quantiles

    # uuid "1": values 0..99 -> p25=value at idx floor(25*99/100)=24, etc.
    pts = make_points([("1", 1000 + i, float(i), 10) for i in range(100)])
    row = value_quantiles(pts).collect()[0]
    assert row["p25"] == 24.0
    assert row["p50"] == 49.0
    assert row["p90"] == 89.0
    assert row["p99"] == 98.0


def test_value_quantiles_sketch_discrete_ranks(spark, make_points):
    """percentile_approx at exact accuracy returns an ACTUAL data element
    at the nearest rank (its convention is ceil(p*n), one off from
    value_quantiles' floor(p*(n-1))+1 at some n — each op is gated against
    its own oracle; here we pin the sketch's contract directly."""
    import math
    import random

    from btrdb_spark.operators.quantiles import value_quantiles_sketch

    rng = random.Random(7)
    rows = [(str(u), i, rng.uniform(-50, 50), 10) for u in (1, 2) for i in range(257)]
    pts = make_points(rows)
    by_uuid = {}
    for u, _t, v, _ver in rows:
        by_uuid.setdefault(u, []).append(v)
    sk = {r["uuid"]: r for r in value_quantiles_sketch(pts).collect()}
    for u, vals in by_uuid.items():
        vals.sort()
        for p in (25, 50, 90, 99):
            got = sk[u][f"p{p}"]
            assert got == vals[math.ceil(p / 100 * len(vals)) - 1], (u, p)


def test_ngram_contamination(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),  # eval
        (1, "prefix words then alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "totally clean document with no overlapping grams at all whatsoever"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.ngram_contamination(docs, docs.filter("doc_id = 0"), n=8).collect()}
    assert out[0]["contamination_frac"] == 1.0  # eval doc hits itself fully
    assert out[1]["n_gram_hits"] == 3  # the 3 aligned 8-grams survive the prefix
    assert 2 not in out  # clean doc emits nothing


def test_topk_by_tokens_rank_and_tiebreak(spark):
    rows = [
        (1, "the a and of to x"),            # en, 6 tokens
        (2, "the a and of to"),              # en, 5 tokens
        (3, "the a and of to y z"),          # en, 7 tokens
        (4, "el la y de que"),               # es, 5 tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.topk_by_tokens(docs, k=2).collect()
    got = [(r["pred_lang"], r["rank"], r["doc_id"]) for r in out]
    assert got == [("en", 1, 3), ("en", 2, 1), ("es", 1, 4)]


def test_pack_token_shards_stream_packing(spark):
    from btrdb_spark.functions import pipeline

    rows = [
        (0, "a b c", "s1"),        # 3 tokens
        (1, "d e f g", "s1"),      # 4 tokens
        (2, "h i", "s1"),          # 2 tokens
        (3, "j k l m n", "s2"),    # 5 tokens (independent stream)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in pipeline.pack_token_shards(docs, budget_tokens=5).collect()}
    # s1 stream: cum_before 0, 3, 7 -> shards 0, 0, 1; offsets 0, 3, 2
    assert (out[0]["shard_id"], out[0]["offset_in_shard"]) == (0, 0)
    assert (out[1]["shard_id"], out[1]["offset_in_shard"]) == (0, 3)  # straddles
    assert (out[2]["shard_id"], out[2]["offset_in_shard"]) == (1, 2)
    # s2 packs independently of s1
    assert (out[3]["shard_id"], out[3]["offset_in_shard"]) == (0, 0)


def test_mixture_sample_deterministic_and_weighted(spark):
    from btrdb_spark.functions import pipeline

    rows = [(i, "t", "a" if i % 2 == 0 else "b") for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    w = {"a": 1.0, "b": 0.25}
    got1 = pipeline.mixture_sample(docs, w).collect()
    got2 = pipeline.mixture_sample(docs, w, salt="mix-v1").collect()
    assert got1 == got2  # pure function of (salt, id)
    by_src = {}
    for r in got1:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    assert len(by_src["a"]) == 200  # weight 1.0 keeps everything
    assert 20 <= len(by_src["b"]) <= 80  # ~25% of 200, hash-binomial
    assert pipeline.mixture_sample(docs, w, salt="mix-v2").collect() != got1


def test_neardup_keep_best_survivors(spark):
    rows = [
        (10, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (11, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (12, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
        (20, "one two three four five six seven eight nine ten"),
        (21, "one two three four five six seven eight nine ten"),
        (30, "unrelated corpus text with nothing shared at all here now"),
    ]
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "n_chars", F.length("text")
    )
    out = dedup.neardup_keep_best(docs, bands=16, min_est_jaccard=0.3).collect()
    got = {r["doc_id"]: (r["cluster_id"], r["cluster_size"]) for r in out}
    # cluster {10,11,12}: 12 is longest -> survives; {20,21}: tie on length
    # -> min doc_id 20; singleton 30 keeps itself
    assert got == {12: (10, 3), 20: (20, 2), 30: (30, 1)}
    # survivor cluster sizes partition the corpus
    assert sum(cs for _, cs in got.values()) == docs.count()


def test_tfidf_top_terms_rank_and_score(spark):
    rows = [
        (1, "spark spark spark unique"),
        (2, "spark common common"),
        (3, "common other words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["tf"], r["df"], r["score"]))
    # doc 1: 'spark' tf=3 df=2 -> 3*3/2=4.5 beats 'unique' tf=1 df=1 -> 3.0
    assert by_doc[1][0] == (1, "spark", 3, 2, 4.5)
    assert by_doc[1][1] == (2, "unique", 1, 1, 3.0)
    # doc 2: 'common' tf=2 df=2 -> 3.0 ties 'spark' tf=1 df=2 -> 1.5? no:
    # common 2*3/2=3.0, spark 1*3/2=1.5 -> common first
    assert by_doc[2][0][1] == "common" and by_doc[2][0][0] == 1
    # every doc emits at most k rows with contiguous ranks from 1
    for doc, lst in by_doc.items():
        assert [r for r, *_ in sorted(lst)] == list(range(1, len(lst) + 1))


def test_semantic_dedup_greedy_keep_first(spark):
    # two identical vectors + one orthogonal; same cell for identicals
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [1.0, 0.0, 0.0], 0),   # dup of 0 -> dropped (higher id)
        (2, [0.0, 1.0, 0.0], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["vec_id"]: r["kept"] for r in
           similarity.semantic_dedup(emb, n_centroids=3, threshold=0.9).collect()}
    assert out[0] is True and out[1] is False and out[2] is True


def test_label_centroids_means(spark):
    rows = [
        (0, [1.0, 3.0], 7),
        (1, [3.0, 5.0], 7),
        (2, [10.0, 20.0], 8),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {(r["label"], r["dim"]): (r["centroid"], r["n_vectors"])
           for r in similarity.label_centroids(emb).collect()}
    assert out[(7, 0)] == (2.0, 2) and out[(7, 1)] == (4.0, 2)
    assert out[(8, 1)] == (20.0, 1)


def test_mixture_upsample_epochs(spark):
    from btrdb_spark.functions import pipeline

    docs = spark.createDataFrame(
        [(i, "x", "a" if i < 50 else "b") for i in range(100)],
        "doc_id long, text string, source string",
    )
    out = pipeline.mixture_upsample(docs, {"a": 2.0, "b": 0.5}).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["copy"])
    # every 'a' doc appears exactly twice (copies 0,1)
    assert all(sorted(by_doc[i]) == [0, 1] for i in range(50))
    # 'b' docs appear 0 or 1 times, roughly half survive
    b_survivors = sum(1 for i in range(50, 100) if i in by_doc)
    assert 10 < b_survivors < 40
    assert all(by_doc[i] == [0] for i in range(50, 100) if i in by_doc)


def test_pipeline_funnel_monotone_and_consistent(spark):
    from btrdb_spark.functions import pipeline

    documents = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = pipeline.pipeline_funnel(documents).collect()
    assert [r["stage"] for r in out] == [
        "input", "lang", "quality", "exact_dedup", "neardup"
    ]
    docs = [r["n_docs"] for r in out]
    toks = [r["n_tokens"] for r in out]
    # cumulative stages can only shrink
    assert docs == sorted(docs, reverse=True)
    assert toks == sorted(toks, reverse=True)
    assert docs[0] == documents.count()
    # final stage equals the clean_corpus survivor set
    from pyspark.sql import functions as SF

    survivors = pipeline.clean_corpus(documents)
    assert docs[-1] == survivors.count()
    assert toks[-1] == survivors.agg(SF.sum("n_tokens")).first()[0]


def test_clean_corpus_decontam_drops_contaminated(spark):
    from btrdb_spark.functions import pipeline

    documents = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    evald = documents.filter("doc_id < 5")
    base = {r["doc_id"] for r in pipeline.clean_corpus(documents).collect()}
    dec = {
        r["doc_id"]
        for r in pipeline.clean_corpus_decontaminated(documents, evald).collect()
    }
    # decontamination only removes docs, never adds
    assert dec <= base
    # the eval docs themselves never survive (total self-overlap)
    assert dec.isdisjoint(set(range(5)))


def test_spread_skips_payload_shuffle_when_parallel_enough(spark):
    """_spread repartitions a narrow input up to the session parallelism
    (a one-row-group corpus must not serialize the shingle kernel onto
    one core) but must NOT round-robin-shuffle the full document payload
    when the scan already has >= defaultParallelism splits — at corpus
    scale that shuffle moves terabytes of text for zero parallelism
    gain. Output content is identical either way (all consumers
    aggregate by content-derived keys)."""
    par = spark.sparkContext.defaultParallelism
    rows = [(i, f"doc {i} alpha beta gamma delta epsilon zeta eta") for i in range(40)]
    narrow = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    wide = spark.createDataFrame(rows, "doc_id long, text string").repartition(par + 2)

    spread_narrow = dedup._spread(narrow)
    spread_wide = dedup._spread(wide)
    assert spread_narrow.rdd.getNumPartitions() == par
    # already-parallel input passes through untouched: same object, no Exchange
    assert spread_wide is wide

    # identical declared content through the minhash pipeline on both shapes
    a = dedup.minhash_signatures(narrow, n=2, num_hashes=8).orderBy("doc_id").collect()
    b = dedup.minhash_signatures(wide, n=2, num_hashes=8).orderBy("doc_id").collect()
    assert a == b


def test_spread_runs_no_job_on_a_shuffled_input(spark):
    """Building _spread over a groupBy-derived frame submits no Spark job:
    under AQE, probing ``df.rdd`` of a plan with an exchange would run the
    upstream shuffle at build time and again at action time. Such an
    input is spread to the session parallelism with its rows unchanged.
    Jobs are counted as deltas of the DAG scheduler's job id counter."""
    from pyspark.sql import functions as F

    par = spark.sparkContext.defaultParallelism
    rows = [(i, f"doc {i % 7} alpha beta") for i in range(40)]
    grouped = (
        spark.createDataFrame(rows, "doc_id long, text string")
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    spread = dedup._spread(grouped)
    assert dag.nextJobId() - j0 == 0
    assert spread.rdd.getNumPartitions() == par
    assert sorted(spread.collect()) == sorted(grouped.collect())
