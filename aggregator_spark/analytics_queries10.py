"""Catalog batch 10 — late round-6 additions: the bounded time-range
(interval) join, expanding-window anomaly detection, interpolated
bigram LM scoring, and exact duplicated-span removal.

Beyond-reference surface: the reference (cybergreen-net/aggregator
main.py) has no join beyond the equi update-join — the time-join
family (as-of / band / interval) and every document operator here are
the operations SURVEY.md §2.9 lists as absent upstream and a
training-data pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from aggregator_spark.schemas import load_testdata

# clicks counted in the 24h window strictly before each purchase
CLICK_WINDOW_SECONDS = 86_400


def q_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (operators/asof.py:interval_join): for every
    purchase, the number of clicks by the same user in the preceding
    24 hours (half-open: click_ts in [purchase_ts - 24h, purchase_ts)).
    The bucketed equi-join plan — shuffle on (user, time bucket), probe
    replicated to exactly 2 buckets — where a naive SQL inequality join
    would be a per-user cross product."""
    from aggregator_spark.operators.asof import interval_join

    events = load_testdata(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    pairs = interval_join(
        purchases,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="click_ts",
        right_cols=["click_ts"],
        lower_seconds=-CLICK_WINDOW_SECONDS,
        upper_seconds=0,
    )
    counts = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("__n")
    )
    return purchases.join(counts, "event_id", "left").select(
        "event_id",
        "user_id",
        F.coalesce("__n", F.lit(0)).cast("long").alias("n_clicks_24h"),
    )


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user expanding-window outlier flags over event values
    (operators/anomaly.py:expanding_zscore) — exact decimal running
    moments, one shuffle, no self-join."""
    from aggregator_spark.operators.anomaly import expanding_zscore

    events = load_testdata(spark, sf_dir, "events")
    return expanding_zscore(events)


ZSCORE_BUCKET_SECONDS = 86_400


def q_zscore_outliers_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened twin of `zscore_outliers`: the running-moment
    window partitions by (user, day bucket) with exact carry-in
    moments from the buckets-sized summary — bit-identical results
    (same oracle), bounded per-task input under a hyper-hot user
    (operators/anomaly.py:expanding_zscore_bucketed)."""
    from aggregator_spark.operators.anomaly import expanding_zscore_bucketed

    events = load_testdata(spark, sf_dir, "events")
    return expanding_zscore_bucketed(
        events, bucket_seconds=ZSCORE_BUCKET_SECONDS
    )


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM negative log-likelihood per document
    (operators/corpus.py:bigram_logprob) — the CCNet-style LM quality
    prior one order up from unigram_logprob."""
    from aggregator_spark.operators.corpus import bigram_logprob

    docs = load_testdata(spark, sf_dir, "documents")
    return bigram_logprob(docs)


def q_dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span removal with document reconstruction
    (operators/dedup.py:dedup_span_rewrite) — keeps the globally first
    occurrence of every duplicated word 16-gram, excises the rest."""
    from aggregator_spark.operators.dedup import dedup_span_rewrite

    docs = load_testdata(spark, sf_dir, "documents")
    return dedup_span_rewrite(docs)


# fixed probe queries for the BM25 entry (terms from the corpus vocab)
BM25_QUERIES = [
    (0, "spark join hash"),
    (1, "window merge sort"),
    (2, "stream batch filter"),
]


def q_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch round trip (operators/sketches.py): build the
    depth×width counter table over event user_ids, point-estimate
    every distinct user, compare to the exact count. The md5 hash
    family makes the whole sketch deterministic — unlike the HLL
    entries this one HASH-MATCHES its oracle (and the CMS guarantee
    shows up as overcount >= 0 on every row)."""
    from aggregator_spark.operators.sketches import cms_build, cms_estimate

    events = load_testdata(spark, sf_dir, "events")
    counters = cms_build(events, "user_id")
    probes = events.select("user_id").where(
        F.col("user_id").isNotNull()
    ).distinct()
    est = cms_estimate(counters, probes, "user_id")
    true = (
        events.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
    )
    return est.join(true, "user_id").select(
        "user_id",
        "est_cnt",
        "true_cnt",
        (F.col("est_cnt") - F.col("true_cnt")).cast("long").alias("overcount"),
    )


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-5 per probe query over the documents table
    (operators/retrieval.py) — retrieval-based data selection /
    decontamination-by-search. Served from the ingest-time postings
    index (sources/bm25_index.py, `bm25_index_build` bench key);
    results are bit-identical to the inline build (pytest-pinned), so
    the oracle needs no cache knowledge."""
    from aggregator_spark.operators.retrieval import bm25_score
    from aggregator_spark.sources.bm25_index import cached_bm25_index

    idx = cached_bm25_index(spark, sf_dir)
    return bm25_score(
        idx["postings"],
        BM25_QUERIES,
        dfreq=idx["dfreq"],
        scalars=idx["scalars"],
    )


from aggregator_spark.operators.retrieval import TOP_K

RRF_POOL = 20  # BM25 candidate pool per query before re-ranking
RRF_K = 60  # the standard RRF dampening constant (Cormack et al. 2009)


def q_bm25_rrf_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval re-ranking via reciprocal-rank fusion: the BM25
    top-20 candidate pool per query (served from the ingest-time
    index) is fused with a document-quality prior —
    score = Σ 1/(60 + rank) over both rankings — the standard way a
    data-selection pipeline mixes lexical relevance with an
    independent quality signal without calibrating score scales
    (Cormack et al. 2009 RRF).

    Cross-engine exactness: the fusion is computed in INTEGER
    micro-reciprocals (floor(1e9 / (K + rank)) per ranking, summed) —
    rank arithmetic stays in int64 on both engines, so the fused
    ordering has no float-rounding hazard. Quality ranks break ties
    by doc_id (the prior is a coarse heuristic with heavy ties).

    Scale shape: the pool is top-k-bounded per query (WindowGroupLimit
    on the BM25 side), the quality prior joins only the pool rows
    (broadcast pool vs corpus — map-side), and the fusion windows run
    on pool-sized data. The corpus is never shuffled."""
    from aggregator_spark.operators.retrieval import bm25_score
    from aggregator_spark.operators.text import quality_score
    from aggregator_spark.sources.bm25_index import cached_bm25_index

    idx = cached_bm25_index(spark, sf_dir)
    pool = bm25_score(
        idx["postings"],
        BM25_QUERIES,
        dfreq=idx["dfreq"],
        scalars=idx["scalars"],
        top_k=RRF_POOL,
    ).select("query_id", "doc_id", F.col("rank").alias("bm25_rank"))

    docs = load_testdata(spark, sf_dir, "documents")
    qual = docs.select(
        "doc_id", quality_score(F.col("text")).alias("__quality")
    )
    ranked = F.broadcast(pool).join(qual, "doc_id").withColumn(
        "quality_rank",
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy(
                F.col("__quality").desc(), "doc_id"
            )
        )
        .cast("int"),
    )
    recip = lambda rank_col: F.floor(  # noqa: E731
        F.lit(1_000_000_000) / (F.lit(RRF_K) + F.col(rank_col))
    )
    fused = ranked.withColumn(
        "rrf_score",
        (recip("bm25_rank") + recip("quality_rank")).cast("long"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("bm25_rank"), F.col("doc_id")
    )
    return (
        fused.withColumn("final_rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("final_rank") <= TOP_K)
        .select(
            "query_id",
            "doc_id",
            "bm25_rank",
            "quality_rank",
            "rrf_score",
            "final_rank",
        )
        .orderBy("query_id", "final_rank")
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights toward the English sub-corpus
    (operators/corpus.py:dsir_weights) — hashed-unigram importance
    sampling for data selection."""
    from aggregator_spark.operators.corpus import dsir_weights

    docs = load_testdata(spark, sf_dir, "documents")
    return dsir_weights(docs, target_filter=F.col("lang") == "en")


SEMDECON_MOD = 20
SEMDECON_THRESHOLD = 0.4


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination: every 20th vector
    plays a held-out benchmark; corpus vectors report max cosine to
    any probe and flag at >= 0.4 (operators/similarity.py:
    semantic_contamination_flags) — catches paraphrased contamination
    the n-gram `decontaminate_docs` misses."""
    from aggregator_spark.operators.similarity import (
        semantic_contamination_flags,
    )

    emb = load_testdata(spark, sf_dir, "embeddings")
    return semantic_contamination_flags(
        emb, probe_mod=SEMDECON_MOD, threshold=SEMDECON_THRESHOLD
    )


PMI_WINDOW = 2  # skip-gram context width (offsets 1..2)
PMI_MIN_COUNT = 5
PMI_TOP_K = 50


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocations — the count statistic
    word2vec/GloVe factorize: unordered token pairs co-occurring
    within a ±2 window, PMI = ln((c_ab/P) / ((c_a/N)(c_b/N))), pairs
    with count >= 5, top 50 by (rounded PMI desc, pair asc).

    Scale shape: pair generation is a JVM higher-order transform (two
    offset passes, no Python); pair counts collapse map-side; the
    unigram model joins back on the token keys (vocab-keyed, not
    broadcast); the two 1-row totals broadcast; top-k cuts on the
    ROUNDED score so the boundary is engine-independent."""
    from aggregator_spark.operators.text import word_tokens

    docs = load_testdata(spark, sf_dir, "documents")
    toks = docs.select(word_tokens(F.col("text")).alias("ts"))

    def offset_pairs(d: int):
        return F.transform(
            F.sequence(F.lit(1), F.size("ts") - d),
            lambda i: F.struct(
                F.least(
                    F.element_at("ts", i), F.element_at("ts", i + d)
                ).alias("l_tok"),
                F.greatest(
                    F.element_at("ts", i), F.element_at("ts", i + d)
                ).alias("r_tok"),
            ),
        )

    pair_arrays = [
        toks.filter(F.size("ts") > d).select(
            F.explode(offset_pairs(d)).alias("p")
        )
        for d in range(1, PMI_WINDOW + 1)
    ]
    pairs = pair_arrays[0]
    for extra in pair_arrays[1:]:
        pairs = pairs.unionByName(extra)
    pair_counts = (
        pairs.select("p.l_tok", "p.r_tok")
        .filter(F.col("l_tok") != F.col("r_tok"))
        .groupBy("l_tok", "r_tok")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= PMI_MIN_COUNT)
    )
    uni = (
        toks.select(F.explode("ts").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = pair_counts.agg(F.sum("pair_count").alias("p_total")).crossJoin(
        F.broadcast(uni.agg(F.sum("c").alias("n_total")))
    )
    scored = (
        pair_counts.join(
            uni.select(F.col("tok").alias("l_tok"), F.col("c").alias("c_l")),
            "l_tok",
        )
        .join(
            uni.select(F.col("tok").alias("r_tok"), F.col("c").alias("c_r")),
            "r_tok",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "l_tok",
            "r_tok",
            F.col("pair_count").cast("long").alias("pair_count"),
            F.round(
                F.log(
                    (F.col("pair_count") / F.col("p_total"))
                    / (
                        (F.col("c_l") / F.col("n_total"))
                        * (F.col("c_r") / F.col("n_total"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), "l_tok", "r_tok"
    ).limit(PMI_TOP_K)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (operators/bpe.py): the first 8 learned
    merges over the documents corpus — an ITERATIVE trainer whose
    rounds hash-match an unrolled relational oracle exactly (the
    sentinel-string trick makes greedy merge application a literal
    replace-all on both engines). Served from the ingest-time
    dictionary cache (sources/bpe_index.py, `bpe_dict_build` bench
    key) — training is a train-once artifact; cache-vs-fresh equality
    is pytest-pinned, so the oracle needs no cache knowledge."""
    from aggregator_spark.sources.bpe_index import cached_bpe_merges

    return cached_bpe_merges(spark, sf_dir)


def q_bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the trained BPE dictionary: token
    instances join the word→symbols table; per-doc token/symbol counts
    plus the full encoded stream (operators/bpe.py:bpe_encode)."""
    from aggregator_spark.operators.bpe import bpe_encode
    from aggregator_spark.sources.bpe_index import cached_bpe_index

    docs = load_testdata(spark, sf_dir, "documents")
    return bpe_encode(docs, cached_bpe_index(spark, sf_dir)["dict"])


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit report: per-source BPE fertility (BPE tokens per
    word — the standard "how well does the vocabulary fit this
    source" metric) and bytes-per-BPE-token compression, from the
    already-oracled encode pass (``bpe_encode_docs``) joined back to
    the corpus for source + raw length. A training team reads this
    per-source table to decide whether the trained vocabulary
    under-serves a stratum (fertility ≫ corpus mean ⇒ re-train or
    re-weight). Two shuffles total: the encode's dictionary join and
    the |sources|-row aggregate. Returns (source, n_docs, n_words,
    n_bpe_tokens, fertility, chars_per_token)."""
    from aggregator_spark.operators.bpe import bpe_encode
    from aggregator_spark.sources.bpe_index import cached_bpe_index

    docs = load_testdata(spark, sf_dir, "documents")
    enc = bpe_encode(docs, cached_bpe_index(spark, sf_dir)["dict"])
    return (
        enc.join(
            docs.select(
                "doc_id", "source", F.length("text").alias("len_chars")
            ),
            "doc_id",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_words"),
            F.sum("n_symbols").cast("long").alias("n_bpe_tokens"),
            F.round(F.sum("n_symbols") / F.sum("n_tokens"), 6).alias(
                "fertility"
            ),
            F.round(F.sum("len_chars") / F.sum("n_symbols"), 6).alias(
                "chars_per_token"
            ),
        )
    )


ANALYTICS10_QUERIES = {
    "clicks_before_purchase": q_clicks_before_purchase,
    "zscore_outliers": q_zscore_outliers,
    "zscore_outliers_bucketed": q_zscore_outliers_bucketed,
    "bigram_logprob": q_bigram_logprob,
    "dedup_span_rewrite": q_dedup_span_rewrite,
    "cms_user_counts": q_cms_user_counts,
    "bm25_search": q_bm25_search,
    "bm25_rrf_rerank": q_bm25_rrf_rerank,
    "dsir_weights": q_dsir_weights,
    "pmi_collocations": q_pmi_collocations,
    "semantic_decontaminate": q_semantic_decontaminate,
    "bpe_merges": q_bpe_merges,
    "bpe_encode_docs": q_bpe_encode_docs,
    "bpe_fertility": q_bpe_fertility,
}
