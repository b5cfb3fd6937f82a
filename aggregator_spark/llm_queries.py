"""LLM-training-data pipeline query catalog over documents/embeddings
(the beyond-reference operator surface: dedup, similarity search, text
analysis — BASELINE.json north star)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from aggregator_spark.operators import corpus as C
from aggregator_spark.operators import dedup as D
from aggregator_spark.operators import similarity as S
from aggregator_spark.operators import text as X
from aggregator_spark.schemas import load_testdata

ANN_QUERY_IDS = list(range(8))
ANN_K = 3
JACCARD_THRESHOLD = 0.5
EMB_DUP_THRESHOLD = 0.4
MAX_DF = 5  # skew cap for the capped jaccard variant

# corpus-mixing rates (per-lang keep fraction, quantized to 1/256ths)
MIX_RATES = {"en": 0.5, "de": 0.25, "fr": 0.125}
MIX_DEFAULT = 0.0625


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("long").alias("len_chars"),
        F.round(X.avg_token_len(F.col("text")), 6).alias("avg_token_len"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(X.stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
        X.quality_score(F.col("text")).alias("quality"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir, "documents")
    return docs.select("doc_id", X.lang_id(F.col("text")).alias("lang_pred"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", X.fingerprint(F.col("text")).alias("fingerprint")
    )


def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleanup pass: deterministic regexp chain (operators/text.py
    clean_text) with post-clean length."""
    docs = load_testdata(spark, sf_dir, "documents")
    cleaned = X.clean_text(F.col("text"))
    return docs.select(
        "doc_id",
        cleaned.alias("clean"),
        F.length(cleaned).cast("long").alias("clean_len"),
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (64-token chunks, stride 48) —
    the doc → training-sequence explode step (operators/corpus.py)."""
    docs = load_testdata(spark, sf_dir, "documents")
    return C.doc_chunks(docs)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing of the chunk stream into
    256-token training bins within deterministic pack groups — window
    per group, never a global sort (operators/corpus.py)."""
    docs = load_testdata(spark, sf_dir, "documents")
    return C.pack_sequences(C.doc_chunks(docs))


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style word-shape quality filter signals + pass flag
    (operators/text.py:gopher_metrics)."""
    docs = load_testdata(spark, sf_dir, "documents")
    m = X.gopher_metrics(F.col("text"))
    return docs.select("doc_id", *[m[k].alias(k) for k in m])


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/phone masking with redaction counts
    (operators/text.py:pii_redact) — scan-speed JVM regexes."""
    docs = load_testdata(spark, sf_dir, "documents")
    r = X.pii_redact(F.col("text"))
    return docs.select("doc_id", *[r[k].alias(k) for k in r])


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language corpus mixing: md5-prefix thresholds
    per stratum (operators/corpus.py:stratified_sample)."""
    docs = load_testdata(spark, sf_dir, "documents")
    return C.stratified_sample(docs, MIX_RATES, MIX_DEFAULT).select(
        "doc_id", "lang", "source"
    )


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram negative log-likelihood per document against the
    corpus's own unigram distribution (operators/corpus.py)."""
    docs = load_testdata(spark, sf_dir, "documents")
    return C.unigram_logprob(docs)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir, "documents")
    return D.exact_dup_clusters(docs)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, threshold=JACCARD_THRESHOLD)


def q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-capped variant: shingles seen in more than MAX_DF docs
    are dropped BEFORE the self-join — the kill switch for hot-shingle
    quadratic blowup at scale (operators/dedup.py doc_shingles)."""
    docs = load_testdata(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(
        docs, threshold=JACCARD_THRESHOLD, max_df=MAX_DF
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir, "documents")
    return D.minhash_signatures(docs)


def _mh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The content-stamped MinHash bucket index (built once at ingest,
    sources/minhash_index.py) — deterministic md5 construction, so
    reading the cache is bit-identical to recomputing and the oracles
    need no knowledge of it."""
    from aggregator_spark.sources.minhash_index import cached_minhash_buckets

    return cached_minhash_buckets(spark, sf_dir)


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir, "documents")
    return D.lsh_candidate_pairs(docs, buckets=_mh_buckets(spark, sf_dir))


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative connected-components dedup resolution over the
    MinHash-LSH candidate pairs (operators/components.py); oracle is a
    recursive-CTE fixpoint over the same pairs."""
    from aggregator_spark.operators.components import dedup_clusters

    docs = load_testdata(spark, sf_dir, "documents")
    pairs = D.lsh_candidate_pairs(docs, buckets=_mh_buckets(spark, sf_dir))
    return dedup_clusters(docs, pairs, algorithm="propagate").orderBy("doc_id")


def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same dedup resolution as ``dedup_components`` but via the
    alternating large-star/small-star algorithm (O(log²) rounds vs
    O(diameter) — the deep-chain scale path). Identical output, same
    recursive-CTE oracle."""
    from aggregator_spark.operators.components import dedup_clusters

    docs = load_testdata(spark, sf_dir, "documents")
    pairs = D.lsh_candidate_pairs(docs, buckets=_mh_buckets(spark, sf_dir))
    return dedup_clusters(docs, pairs, algorithm="star").orderBy("doc_id")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir, "documents")
    return D.simhash64(docs)


def q_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-norm embeddings (operators/similarity.py:l2_normalize) —
    pure array algebra, no shuffle. The catalog wrapper serializes the
    unit vector to a comma-joined micro-unit integer string: the driver
    canonicalizer sorts output columns and raw arrays are unhashable
    there, and integer micro-units are float-repr-proof across engines
    (the operator itself returns the real array column)."""
    emb = load_testdata(spark, sf_dir, "embeddings")
    unit = S.l2_normalize(emb)
    # NULL-faithful serialization: concat_ws would turn a NULL array into
    # '' while the oracle's array_to_string propagates NULL
    return unit.select(
        "vec_id",
        F.when(F.col("unit_vec").isNull(), F.lit(None).cast("string"))
        .otherwise(
            F.concat_ws(
                ",",
                F.transform(
                    "unit_vec",
                    lambda x: F.round(x * 1e6).cast("bigint").cast("string"),
                ),
            )
        )
        .alias("unit_vec"),
    )


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization with dequant scale
    (operators/similarity.py:quantize_int8). Catalog wrapper serializes
    the int8 code array to a comma-joined string (driver canonicalizer
    can't sort array columns)."""
    emb = load_testdata(spark, sf_dir, "embeddings")
    q = S.quantize_int8(emb)
    return q.select(
        "vec_id",
        F.when(F.col("q_vec").isNull(), F.lit(None).cast("string"))
        .otherwise(
            F.concat_ws(",", F.transform("q_vec", lambda x: x.cast("string")))
        )
        .alias("q_vec"),
        "scale",
    )


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids in (label, dim, centroid) long form
    (operators/similarity.py:label_centroids)."""
    emb = load_testdata(spark, sf_dir, "embeddings")
    return S.label_centroids(emb)


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd half-step: nearest-centroid reassignment against the
    label partition's centroids (operators/similarity.py:kmeans_assign)
    — broadcast centroids, corpus never shuffles."""
    emb = load_testdata(spark, sf_dir, "embeddings")
    return S.kmeans_assign(emb)


KMEANS_ITERATIONS = 2


def q_kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration Lloyd k-means initialized from the label column
    (operators/similarity.py:kmeans_fit); the oracle unrolls the same
    rounds as a CTE chain."""
    emb = load_testdata(spark, sf_dir, "embeddings")
    return S.kmeans_fit(emb, iterations=KMEANS_ITERATIONS)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir, "embeddings")
    return S.ann_topk_bruteforce(emb, query_ids=ANN_QUERY_IDS, k=ANN_K)


PQ_BLOCKS = 4  # 64-dim embeddings → 4 sub-quantizers of 16 dims


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (operators/similarity.py:
    pq_encode — Jégou et al. 2011): label-initialized per-block
    codebooks, nearest codeword per (vector, block) under rounded L2.
    The 100-TB ANN memory story: D doubles → n_blocks small ints.
    Fully deterministic, so unlike the LSH/IVF routing entries this
    compression path is DuckDB-oracled, not rows-only."""
    emb = load_testdata(spark, sf_dir, "embeddings")
    return S.pq_encode(emb, n_blocks=PQ_BLOCKS).orderBy("vec_id", "block")


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over the PQ codes (operators/similarity.py:
    pq_adc_topk): per-query (block, code) lookup table, corpus touched
    only through its codes, per-pair distance = decimal-summed LUT
    entries. The search half of the PQ pair; deterministic → oracled."""
    emb = load_testdata(spark, sf_dir, "embeddings")
    return S.pq_adc_topk(
        emb, query_ids=ANN_QUERY_IDS, k=ANN_K, n_blocks=PQ_BLOCKS
    ).orderBy("query_id", "rank")


IVFPQ_NPROBE = 3  # of the 10 label cells — the 30%-scan routing point


def q_ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (operators/similarity.py:ann_topk_ivfpq —
    Jégou et al. 2011 §IVFADC): deterministic label-centroid routing
    (kmeans_assign's cells, round-6 argmin) + ADC scoring over the PQ
    codes INSIDE the nprobe probed cells only. The production ANN
    shape — inverted lists bound the scan, codes bound the memory —
    and, because both halves are the catalog's deterministic variants,
    the FULL composition is DuckDB-oracled (the rows-only
    ann_topk_ivf grades the geometric-kmeans routing quality
    separately)."""
    emb = load_testdata(spark, sf_dir, "embeddings")
    return S.ann_topk_ivfpq(
        emb,
        query_ids=ANN_QUERY_IDS,
        k=ANN_K,
        nprobe=IVFPQ_NPROBE,
        n_blocks=PQ_BLOCKS,
    ).orderBy("query_id", "rank")


# LSH geometry shared by the cached index build AND the query routing —
# one source of truth so the cache key always matches the probe logic
LSH_GEOM = {"n_tables": 12, "planes_per_table": 5, "n_dims": 64}


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # approximate scale path — rows-only check (no SQL oracle: candidate
    # set depends on the LSH bucketing, not expressible as plain SQL
    # without reimplementing the planes; the exact baseline above IS
    # oracle-checked). Signatures come from the cached offline index
    # (sources/lsh_index.py) — the query pays bucket join + re-rank.
    # Both sides take LSH_GEOM, so validate_index=False skips the
    # eager one-row geometry probe and keeps plan construction lazy.
    from aggregator_spark.operators.accuracy import attach_gate, recall_check
    from aggregator_spark.sources.lsh_index import cached_lsh_index

    idx = cached_lsh_index(spark, sf_dir, **LSH_GEOM)
    approx = S.ann_topk_lsh(
        None,
        query_ids=ANN_QUERY_IDS,
        k=ANN_K,
        indexed=idx,
        validate_index=False,
        **LSH_GEOM,
    )
    # Driver-visible accuracy contract: no SQL oracle can check the
    # candidate set, so the plan itself asserts recall@k vs the exact
    # scorer (fail loudly at action time instead of silently degrading
    # — e.g. from a stale or mis-keyed signature index). Floor matches
    # the pytest contract (test_llm_ops.py:test_ann_recall_floors).
    emb = load_testdata(spark, sf_dir, "embeddings")
    exact = S.ann_topk_bruteforce(emb, query_ids=ANN_QUERY_IDS, k=ANN_K)
    return attach_gate(
        approx, recall_check(approx, exact, ANN_K, 0.4, "ann_topk_lsh")
    )


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF scale path — rows-only check (candidate set depends on the
    # coarse quantization; ann_topk is the oracle-checked exact twin).
    # The coarse-quantizer fit is an INGEST cost: the cached (id,
    # cluster) index (sources/ivf_index.py) amortizes it the way real
    # ANN systems build IVF offline; the query pays only routing.
    from aggregator_spark.operators.accuracy import attach_gate, recall_check
    from aggregator_spark.sources.ivf_index import cached_ivf_assignment

    emb = load_testdata(spark, sf_dir, "embeddings")
    idx = cached_ivf_assignment(spark, sf_dir)
    clustered = emb.join(idx, "vec_id")
    # nprobe=5: measured recall@3 0.67 (sf0.001) / 0.71 (sf0.01) vs
    # 0.375/0.58 at the nprobe=3 default — the default sat under the
    # 0.4 contract floor at sf0.001. Cost is ~nprobe/n_clusters of the
    # corpus per query; latency was flat at these SFs.
    approx = S.ann_topk_ivf(
        clustered,
        query_ids=ANN_QUERY_IDS,
        k=ANN_K,
        cluster_col="cluster",
        nprobe=5,
    )
    # Same driver-visible contract as the LSH path: assert recall@k vs
    # the exact scorer inside the plan (a degraded cached IVF
    # assignment fails the action instead of returning bad neighbors).
    exact = S.ann_topk_bruteforce(emb, query_ids=ANN_QUERY_IDS, k=ANN_K)
    return attach_gate(
        approx, recall_check(approx, exact, ANN_K, 0.4, "ann_topk_ivf")
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir, "embeddings")
    return S.embedding_near_dup_pairs(emb, threshold=EMB_DUP_THRESHOLD)


DECONTAM_N = 8
DECONTAM_MOD = 97  # every 97th doc plays the held-out benchmark


def benchmark_probes(docs: DataFrame) -> DataFrame:
    """Stand-in held-out benchmark probe set: the first DECONTAM_N-gram
    of every DECONTAM_MOD-th document of ``docs`` — one (probe) row per
    distinct probe. Shared by the decontamination entry, the composed
    pipeline gate, and the persisted prepared-corpus index (where the
    probes derive from the EXISTING corpus and serve every arriving
    batch)."""
    toks = docs.select("doc_id", X.word_tokens(F.col("text")).alias("ts"))
    return (
        toks.filter(
            (F.col("doc_id") % DECONTAM_MOD == 0)
            & (F.size("ts") >= DECONTAM_N)
        )
        .select(F.concat_ws(" ", F.slice("ts", 1, DECONTAM_N)).alias("probe"))
        .distinct()
    )


def q_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/text.py:contamination_flags):
    the probe set is the first 8-gram of every 97th document (a stand-in
    held-out benchmark); every doc containing any probe 8-gram is
    flagged. Broadcast probe join, map-side filter — corpus text never
    shuffles."""
    docs = load_testdata(spark, sf_dir, "documents")
    return X.contamination_flags(
        docs, benchmark_probes(docs), n=DECONTAM_N
    )


SEMDEDUP_THRESHOLD = 0.4
TEMP_ALPHA = 0.5
TEMP_TARGET = 0.25


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/similarity.py:
    semantic_dedup): nearest-centroid clustering confines the quadratic
    cosine comparison to within-cluster pairs; one survivor (lowest
    vec_id) per duplicate group."""
    emb = load_testdata(spark, sf_dir, "embeddings")
    return S.semantic_dedup(emb, threshold=SEMDEDUP_THRESHOLD)


SEMDEDUP_CAP = 512  # target cell capacity for the capped scale path


def q_semantic_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capacity-bounded scale path of ``semantic_dedup`` (r8): when
    cluster count is pinned (label-initialized k) while the corpus
    grows, exact within-cluster comparison is quadratic in cluster
    size — measured 10.6 s (sf1) → 298 s (sf10), the one super-linear
    key of the r8 scaling sweep. This variant hash-splits every
    cluster into ceil(size/{cap}) md5 cells and compares within cells
    only, capping per-task work forever; drops are a SUBSET of the
    exact drops (pytest-pinned), the standard SemDeDup recall trade.
    Same exact-baseline/scale-path pairing as ngram_jaccard vs LSH."""
    emb = load_testdata(spark, sf_dir, "embeddings")
    return S.semantic_dedup(
        emb, threshold=SEMDEDUP_THRESHOLD, max_cluster=SEMDEDUP_CAP
    )


def q_dedup_fuzzy_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end production fuzzy dedup (operators/dedup.py:
    minhash_dedup_keep): LSH candidates -> exact-Jaccard verification on
    candidates only -> connected components -> keep-one flag."""
    docs = load_testdata(spark, sf_dir, "documents")
    return D.minhash_dedup_keep(
        docs,
        threshold=JACCARD_THRESHOLD,
        buckets=_mh_buckets(spark, sf_dir),
    ).orderBy("doc_id")


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (operators/dedup.py:
    simhash_near_dup — Manku WWW'07): 16-bit-band candidates (pigeonhole-
    exact for Hamming ≤ 3) + JVM bit_count verification. Complements
    the MinHash family: SimHash catches small-edit near-dups whose
    shingle Jaccard already collapsed."""
    docs = load_testdata(spark, sf_dir, "documents")
    return D.simhash_near_dup(docs).orderBy("doc_a", "doc_b")


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware fuzzy-dedup survivor selection: the same verified
    LSH → exact-Jaccard → connected-components clusters as
    `dedup_fuzzy_keep`, but the kept representative per cluster is the
    best-QUALITY member — gopher_pass first, then n_words, doc_id as
    the deterministic tiebreak — instead of min-id. This is what a
    production cleaner actually keeps: when a boilerplate-laden copy
    and a clean copy are near-duplicates, min-id keeps whichever
    crawled first; quality-aware keep retains the clean one. One extra
    doc_id-keyed join (quality signals are per-doc, no shuffle beyond
    the join) + a per-component window over cluster-sized groups."""
    docs = load_testdata(spark, sf_dir, "documents")
    comp = D.minhash_dedup_keep(
        docs,
        threshold=JACCARD_THRESHOLD,
        buckets=_mh_buckets(spark, sf_dir),
    ).select("doc_id", "component")
    m = X.gopher_metrics(F.col("text"))
    quality = docs.select(
        "doc_id",
        m["gopher_pass"].alias("gopher_pass"),
        m["n_words"].alias("n_words"),
    )
    w = Window.partitionBy("component").orderBy(
        F.col("gopher_pass").desc(), F.col("n_words").desc(), F.col("doc_id")
    )
    return (
        comp.join(quality, "doc_id")
        .withColumn("keep_best", F.row_number().over(w) == 1)
        .select("doc_id", "component", "gopher_pass", "n_words", "keep_best")
        .orderBy("doc_id")
    )


def q_dedup_fuzzy_keep_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-candidate fuzzy dedup (operators/dedup.py:
    fuzzy_dedup_keep_union): verified MinHash-LSH edges UNION SimHash
    near-dup edges (complementary recall — the production
    configuration), connected components over the union, min-id
    survivor. The union keep-list is pinned a subset of each
    single-family keep-list (tests/test_llm_ops.py)."""
    docs = load_testdata(spark, sf_dir, "documents")
    return D.fuzzy_dedup_keep_union(
        docs,
        threshold=JACCARD_THRESHOLD,
        buckets=_mh_buckets(spark, sf_dir),
    ).orderBy("doc_id")


def q_dedup_family_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-family overlap report — the evidence table behind the
    union configuration (`dedup_fuzzy_keep_union`): how many verified
    near-dup pairs each family finds, how many they agree on, and how
    many each contributes alone. A large `*_only` count on either side
    is the quantitative case for running both families; ~zero means
    one family subsumes the other at this corpus's duplication
    profile. One full-outer join of two pair relations orders smaller
    than the corpus, then a single global rollup (1 row)."""
    docs = load_testdata(spark, sf_dir, "documents")
    # the LSH candidate checkpoint and the SimHash signature checkpoint
    # (inside simhash_near_dup) are independent eager materializations —
    # overlap them on driver threads (guide §2.6, the
    # fuzzy_dedup_keep_union pattern; safe since r13's per-DataFrame
    # checkpoint tracking)
    from aggregator_spark.parallel import run_jobs

    cand, sim = run_jobs([
        lambda: D.lsh_candidate_pairs(
            docs, buckets=_mh_buckets(spark, sf_dir)
        ).localCheckpoint(eager=True),
        lambda: D.simhash_near_dup(docs).select(
            "doc_a", "doc_b", F.lit(1).alias("in_sim")
        ),
    ])
    jac = D.verified_jaccard_pairs(
        docs, cand, threshold=JACCARD_THRESHOLD
    ).select("doc_a", "doc_b", F.lit(1).alias("in_jac"))
    both = jac.join(sim, ["doc_a", "doc_b"], "full_outer")
    return both.agg(
        F.count("in_jac").cast("long").alias("n_jaccard"),
        F.count("in_sim").cast("long").alias("n_simhash"),
        F.sum(
            (F.col("in_jac").isNotNull() & F.col("in_sim").isNotNull())
            .cast("long")
        ).cast("long").alias("n_both"),
        F.sum(
            (F.col("in_jac").isNotNull() & F.col("in_sim").isNull())
            .cast("long")
        ).cast("long").alias("n_jaccard_only"),
        F.sum(
            (F.col("in_jac").isNull() & F.col("in_sim").isNotNull())
            .cast("long")
        ).cast("long").alias("n_simhash_only"),
        F.count(F.lit(1)).cast("long").alias("n_union"),
    )


def q_contamination_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-SOURCE contamination report: the table that decides whether
    to drop a source vs filter its documents. Rolls the per-doc
    benchmark-decontamination flags (`decontaminate_docs` — broadcast
    probe join, corpus text never shuffles) up by source: docs,
    contaminated docs, contamination rate, total distinct probe-gram
    hits. Pure reuse of the oracled fragment + a |sources|-row
    aggregate over a doc_id-keyed join."""
    docs = load_testdata(spark, sf_dir, "documents")
    flags = X.contamination_flags(docs, benchmark_probes(docs), n=DECONTAM_N)
    return (
        docs.select("doc_id", "source")
        .join(flags, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("contaminated").cast("long"))
            .cast("long")
            .alias("n_contaminated"),
            F.round(
                F.sum(F.col("contaminated").cast("long"))
                / F.count(F.lit(1)),
                6,
            ).alias("contamination_rate"),
            F.sum("n_hits").cast("long").alias("n_hits"),
        )
        .orderBy("source")
    )


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted corpus mixing by source char mass
    (operators/corpus.py:temperature_mix) — alpha<1 flattens the mix
    toward small sources; deterministic md5 selector."""
    docs = load_testdata(spark, sf_dir, "documents")
    return C.temperature_mix(
        docs, alpha=TEMP_ALPHA, target_frac=TEMP_TARGET
    )




LINE_SEG_LEN = 12  # the synthetic corpus's "line": 12 consecutive tokens
LINE_DF_THRESHOLD = 3  # CCNet-style: in >= 3 docs => boilerplate


def q_line_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (operators/dedup.py:
    line_dedup_rewrite, CCNet/Wenzek et al. 2020 §4.1): every segment
    whose exact normalized form occurs in >= 3 documents is deleted
    from ALL of them (no first-occurrence exception) and each doc is
    rebuilt from its surviving segments in order."""
    docs = load_testdata(spark, sf_dir, "documents")
    return D.line_dedup_rewrite(
        docs, seg_len=LINE_SEG_LEN, df_threshold=LINE_DF_THRESHOLD
    )


def q_boilerplate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate mass (operators/dedup.py:
    boilerplate_stats) — the observability twin of the line rewrite:
    which sources are mostly chrome, under the SAME segment/df
    definition the rewrite deletes with."""
    docs = load_testdata(spark, sf_dir, "documents")
    return D.boilerplate_stats(
        docs, seg_len=LINE_SEG_LEN, df_threshold=LINE_DF_THRESHOLD
    )




DUP_SPAN_N = 16


def q_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span stats (operators/dedup.py:
    dup_span_stats) — per-doc count/fraction of word 16-gram positions
    occurring verbatim in another document."""
    docs = load_testdata(spark, sf_dir, "documents")
    return D.dup_span_stats(docs, n=DUP_SPAN_N)


CONTAINMENT_THRESHOLD = 0.8


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup signal (operators/dedup.py:
    ngram_containment_pairs): |∩| / min(|A|,|B|) over word-3-gram sets
    — catches short-inside-long duplication that Jaccard misses."""
    docs = load_testdata(spark, sf_dir, "documents")
    return D.ngram_containment_pairs(
        docs, threshold=CONTAINMENT_THRESHOLD
    ).orderBy("doc_a", "doc_b")


NEW_BATCH_MOD = 5  # doc_id % 5 == 0 plays the "new crawl batch" (~20%)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental fuzzy dedup of a new batch against the existing
    corpus (operators/dedup.py:minhash_dedup_incremental): new docs'
    LSH buckets joined against the full bucket table — existing docs
    are never compared to each other — then exact-Jaccard verify and
    component resolution over new ∪ touched nodes only. The corpus
    side reads the persisted bucket index (only the "new batch" is
    signed fresh — new data is by definition never pre-indexed)."""
    docs = load_testdata(spark, sf_dir, "documents")
    corpus_buckets = _mh_buckets(spark, sf_dir).filter(
        F.col("doc_id") % NEW_BATCH_MOD != 0
    )
    return D.minhash_dedup_incremental(
        docs,
        F.col("doc_id") % NEW_BATCH_MOD == 0,
        threshold=JACCARD_THRESHOLD,
        corpus_buckets=corpus_buckets,
    ).orderBy("doc_id")


def dedup_incremental_batch_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LSH bucket table of the NEW batch only — the one-time signing a
    pipeline does when a crawl batch lands (bench key
    ``dedup_batch_sign``; the deterministic md5 construction makes a
    persisted batch table bit-identical to signing fresh)."""
    docs = load_testdata(spark, sf_dir, "documents")
    return D.lsh_buckets(docs.filter(F.col("doc_id") % NEW_BATCH_MOD == 0))


def q_dedup_incremental_served(
    spark: SparkSession, sf_dir: str, new_buckets: DataFrame
) -> DataFrame:
    """``q_dedup_incremental`` with the batch ALREADY signed — the
    steady-state serving cost (bucket join + candidate-bounded verify +
    component rounds), result-identical to the catalog entry (pinned in
    test_cms_bm25_dsir.py). Bench key ``dedup_incremental_serve``."""
    docs = load_testdata(spark, sf_dir, "documents")
    corpus_buckets = _mh_buckets(spark, sf_dir).filter(
        F.col("doc_id") % NEW_BATCH_MOD != 0
    )
    return D.minhash_dedup_incremental(
        docs,
        F.col("doc_id") % NEW_BATCH_MOD == 0,
        threshold=JACCARD_THRESHOLD,
        corpus_buckets=corpus_buckets,
        new_buckets=new_buckets,
    ).orderBy("doc_id")


DUP_FRAC_MAX = 0.5


def corpus_keep_flags(docs: DataFrame) -> DataFrame:
    """The quality-gate decision layer of a training-data pipeline in
    ONE plan: Gopher word-shape filter AND language identified AND not
    benchmark-contaminated AND duplicated-span fraction under
    threshold. The full production decision is this conjunction ∧
    `dedup_fuzzy_keep` (fuzzy dedup runs as its own stage on the
    quality survivors — kept as a separate catalog entry so each
    stage's cost and correctness are graded on their own).

    Returns (doc_id, gopher_pass, lang_pred, contaminated, dup_frac,
    keep)."""
    from aggregator_spark.operators.text import contamination_flags

    m = X.gopher_metrics(F.col("text"))
    quality = docs.select(
        "doc_id",
        m["gopher_pass"].alias("gopher_pass"),
        X.lang_id(F.col("text")).alias("lang_pred"),
    )
    contam = contamination_flags(
        docs, benchmark_probes(docs), n=DECONTAM_N
    ).select("doc_id", "contaminated")
    spans = D.dup_span_stats(docs, n=DUP_SPAN_N).select("doc_id", "dup_frac")
    return (
        quality.join(contam, "doc_id")
        .join(spans, "doc_id")
        .select(
            "doc_id",
            "gopher_pass",
            "lang_pred",
            "contaminated",
            "dup_frac",
            (
                F.col("gopher_pass")
                & (F.col("lang_pred") != "und")
                & ~F.col("contaminated")
                & (F.col("dup_frac") <= DUP_FRAC_MAX)
            ).alias("keep"),
        )
    )


def q_corpus_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_keep_flags(load_testdata(spark, sf_dir, "documents"))


def corpus_prepare_kept_docs(
    docs: DataFrame,
    buckets: DataFrame,
    embeddings: DataFrame | None = None,
    semantic_max_cluster: int | None = None,
    keep_ids: DataFrame | None = None,
    fuzzy_union: bool = False,
) -> DataFrame:
    """The KEEP decision layers of the composed pipeline — quality
    gate → fuzzy dedup → optional SEMANTIC dedup — returning the
    surviving (doc_id, text) corpus the span/chunk/pack tail runs
    over. Factored out of ``corpus_prepare`` so the semantic variant
    and the subset pin (capped drops ⊆ exact drops ⇒ capped kept ⊇
    exact kept, pinned at THIS layer where the property is exact —
    downstream span df counts change with the kept set, so packed
    rows don't nest) share one definition.

    Semantic stage semantics: only docs that HAVE an embedding row
    can be semantically deduplicated — the stage drops exactly the
    ids ``semantic_dedup`` flags (left-anti), never docs missing
    from the embedding table (at sf0.1 only 2000 of 5000 docs carry
    embeddings; an inner join would silently drop the other 3000).
    The fuzzy-kept id list is localCheckpoint'ed before the semantic
    stage: ``semantic_dedup`` scans its input ≥3× (centroid agg,
    assignment, drop-join) and each scan would otherwise re-run the
    whole gate+LSH+CC sub-plan.

    ``keep_ids`` swaps the quality-gate stage for an externally
    computed (doc_id) keep relation — the seam that lets a run gate
    by the per-source quality PERCENTILE (FineWeb-style top-p%)
    instead of the absolute keep-list conjunction, with every
    downstream stage untouched (None keeps the default gate
    byte-identical).

    ``fuzzy_union`` swaps the DEDUP stage for the union-candidate
    configuration (``fuzzy_dedup_keep_union``: verified MinHash-LSH
    edges UNION SimHash Hamming edges over the gate survivors — the
    complementary-recall production setup); both candidate families
    run over the SURVIVOR corpus, and every other stage is
    byte-identical."""
    if keep_ids is None:
        keep_ids = corpus_keep_flags(docs).filter("keep").select("doc_id")
    keep_ids = keep_ids.localCheckpoint(eager=True)
    survivors = docs.join(keep_ids, "doc_id")
    dedup_fn = D.fuzzy_dedup_keep_union if fuzzy_union else (
        D.minhash_dedup_keep
    )
    fuzzy = dedup_fn(
        survivors,
        threshold=JACCARD_THRESHOLD,
        buckets=buckets.join(keep_ids, "doc_id"),
    )
    kept_ids = fuzzy.filter("keep").select("doc_id")
    if embeddings is not None:
        kept_ids = kept_ids.localCheckpoint(eager=True)
        femb = embeddings.join(
            kept_ids.select(F.col("doc_id").alias("vec_id")), "vec_id"
        )
        sem_dropped = (
            S.semantic_dedup(
                femb,
                threshold=SEMDEDUP_THRESHOLD,
                max_cluster=semantic_max_cluster,
            )
            .filter(~F.col("keep"))
            .select(F.col("vec_id").alias("doc_id"))
        )
        kept_ids = kept_ids.join(sem_dropped, "doc_id", "left_anti")
    return docs.join(kept_ids, "doc_id").select("doc_id", "text")


def corpus_prepare(
    docs: DataFrame,
    buckets: DataFrame,
    embeddings: DataFrame | None = None,
    semantic_max_cluster: int | None = None,
    line_df_threshold: int | None = None,
    keep_ids: DataFrame | None = None,
    fuzzy_union: bool = False,
) -> DataFrame:
    """DataFrame-in form of the composed pipeline (see
    ``q_corpus_prepare_e2e`` for the full stage description; the
    stress harness drives this directly at 500k-doc scale —
    tests/stress_corpus_prepare.py).

    ``embeddings`` (vec_id ≡ doc_id) adds a SEMANTIC dedup stage after
    fuzzy dedup — the SemDeDup placement in a production run (exact
    near-dups die cheaply on shingles first; the embedding stage only
    pays for paraphrase-level survivors). ``semantic_max_cluster``
    bounds the per-task quadratic work (``semantic_dedup``'s md5
    hash-cell split) — the capacity-bounded path the composed pipeline
    MUST run at 100 TB, where fixed-k cluster growth is quadratic by
    semantics (the r8 sf10 finding). Capped drops are a SUBSET of
    exact drops, so composed-capped keeps a superset of composed-exact
    (pytest-pinned on the composed output, test_llm_ops.py).

    ``line_df_threshold`` inserts CCNet-style line-level boilerplate
    removal (``line_dedup_rewrite``) over the kept corpus BEFORE span
    removal — chrome segments die wholesale first, so the span stage's
    df counts run on content, not navigation; the span rewrite then
    consumes the line-cleaned canonical text (structural-parity pin
    vs the hand-composed chain in test_llm_ops.py; the windowed
    composed entry is an r10 candidate)."""
    kept = corpus_prepare_kept_docs(
        docs, buckets, embeddings, semantic_max_cluster, keep_ids,
        fuzzy_union=fuzzy_union,
    )
    if line_df_threshold is not None:
        kept = (
            D.line_dedup_rewrite(
                kept, seg_len=LINE_SEG_LEN, df_threshold=line_df_threshold
            )
            .filter(F.length("clean_text") > 0)
            .select("doc_id", F.col("clean_text").alias("text"))
        )
    rewritten = D.dedup_span_rewrite(kept, n=DUP_SPAN_N)
    nonempty = rewritten.filter(F.length("clean_text") > 0).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    return C.pack_sequences(C.doc_chunks(nonempty)).orderBy(
        "doc_id", "chunk_id"
    )


def q_corpus_prepare_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL corpus-preparation pipeline composed as one plan —
    the composition a training-data run actually executes, chained so
    column collisions, checkpoint placement, and the combined shuffle
    budget are proven together (each stage stays its own graded
    catalog entry):

      quality gate (``corpus_keep_list``: Gopher ∧ lang-id ∧
      not-contaminated ∧ dup-span fraction)
      → fuzzy dedup among the quality survivors (``minhash_dedup_keep``
        over the ingest-time bucket index, filtered to survivors — a
        MinHash signature is per-document, so filtering the persisted
        index equals re-signing the survivor corpus)
      → duplicated-span REMOVAL over the deduped corpus
        (``dedup_span_rewrite``; span df counted within the kept set)
      → sliding-window chunking of the rewritten text (empty rewrites
        drop out — a fully-duplicated doc contributes no sequences)
      → greedy sequence packing into training bins.

    Returns (doc_id, chunk_id, pack_group, seq_bin, n_tokens).

    Scale/checkpoint shape: the quality-gate verdict is reduced to a
    doc_id keep-list and localCheckpoint'ed eagerly — it is referenced
    twice (survivor filter + bucket-index filter) and without the
    checkpoint the gopher/contamination/span-stats sub-plan would run
    twice; the ids are the only thing materialized, never text. Fuzzy
    dedup manages its own candidate/label checkpoints internally."""
    return corpus_prepare(
        load_testdata(spark, sf_dir, "documents"),
        _mh_buckets(spark, sf_dir),
    )


SEMDEDUP_CAP_E2E = 32  # composed-pipeline cell capacity (multi-cell at
# BOTH driver SFs: ~40 fuzzy survivors/cluster at sf0.01 → 2 cells,
# ~200/cluster at sf0.1 → 7 — the cap math is exercised where the
# driver checks it, unlike the standalone entry's production-sized 512)


def q_corpus_prepare_semantic_e2e(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``corpus_prepare_e2e`` with the SEMANTIC dedup stage composed
    in, running the CAPACITY-BOUNDED path — the pipeline shape a
    100 TB run actually executes (VERDICT r8 item 6):

      quality gate → fuzzy MinHash-LSH dedup → SemDeDup over the
      fuzzy survivors' embeddings, hash-cell-capped at
      SEMDEDUP_CAP_E2E (``semantic_dedup(max_cluster=…)`` — per-task
      quadratic work bounded forever; the r8 sf10 sweep measured the
      uncapped stage at ~70×/decade) → span removal → chunk → pack.

    Stage ordering is the production one: exact/near dups die cheaply
    on shingles first, the embedding stage only pays for
    paraphrase-level survivors. Docs without an embedding row pass
    the semantic stage untouched (drop-list anti-join — see
    ``corpus_prepare_kept_docs``). Capped semantic drops are a SUBSET
    of exact drops, so this pipeline's kept corpus is a SUPERSET of
    the exact-semantic pipeline's (pytest-pinned at the kept-docs
    layer, tests/test_llm_ops.py). Returns (doc_id, chunk_id,
    pack_group, seq_bin, n_tokens)."""
    return corpus_prepare(
        load_testdata(spark, sf_dir, "documents"),
        _mh_buckets(spark, sf_dir),
        embeddings=load_testdata(spark, sf_dir, "embeddings"),
        semantic_max_cluster=SEMDEDUP_CAP_E2E,
    )


def batch_keep_flags(batch_docs: DataFrame, probes: DataFrame) -> DataFrame:
    """Quality gate for an ARRIVING batch in the incremental pipeline:
    Gopher word-shape ∧ language identified ∧ not contaminated against
    the PERSISTED benchmark probe set ∧ within-batch duplicated-span
    fraction under threshold. Differences from ``corpus_keep_flags``
    are exactly the steady-state boundaries: probes come from the
    prepared-corpus index (derived once from the existing corpus, not
    re-derived per batch), and span df counts WITHIN the batch only —
    cross-corpus span removal would need a persisted gram index, and
    the per-shard approximation is the documented production trade
    (the fuzzy-dedup stage, not spans, carries the batch-vs-corpus
    duplicate decision). Returns (doc_id, keep)."""
    from aggregator_spark.operators.text import contamination_flags

    m = X.gopher_metrics(F.col("text"))
    quality = batch_docs.select(
        "doc_id",
        m["gopher_pass"].alias("gopher_pass"),
        X.lang_id(F.col("text")).alias("lang_pred"),
    )
    contam = contamination_flags(
        batch_docs, probes, n=DECONTAM_N
    ).select("doc_id", "contaminated")
    spans = D.dup_span_stats(batch_docs, n=DUP_SPAN_N).select(
        "doc_id", "dup_frac"
    )
    return (
        quality.join(contam, "doc_id")
        .join(spans, "doc_id")
        .select(
            "doc_id",
            (
                F.col("gopher_pass")
                & (F.col("lang_pred") != "und")
                & ~F.col("contaminated")
                & (F.col("dup_frac") <= DUP_FRAC_MAX)
            ).alias("keep"),
        )
    )


def incremental_kept_docs(
    batch: DataFrame,
    survivor_docs: DataFrame,
    survivor_buckets: DataFrame,
    probes: DataFrame,
    is_new=None,
) -> DataFrame:
    """The KEEP decision of the incremental batch job — batch quality
    gate (vs the persisted probes) → incremental fuzzy dedup against
    the persisted survivor index — returning the (doc_id, text) batch
    docs a cleaner appends to the corpus. Factored out of
    ``corpus_prepare_incremental`` so the streaming composition
    (streaming/corpus_prepare_stream.py) can append EXACTLY this set
    while the packed tail streams out separately.

    ``is_new`` is the batch-membership Column predicate over doc_id;
    when None (the streaming case, where batch ids follow no residue
    convention) membership is tagged explicitly on the union — the
    predicate becomes a literal column, never a guess."""
    from aggregator_spark.parallel import run_jobs

    # r14 (guide §2.6, VERDICT r13 item 5): the batch SIGNING does not
    # depend on the quality gate — a production pipeline signs a batch
    # at landing — so it runs on a driver thread UNDER the gate chain
    # instead of after it. Signed over the RAW batch (a superset; the
    # ~20% gated-out docs' signatures are wasted work on otherwise
    # idle executors); minhash_dedup_incremental's new_buckets
    # contract semi-joins the table down to the gated ids, so the
    # candidate set is bit-identical to signing post-gate (md5
    # construction is deterministic). Thread-safe with the gate's
    # checkpoint since r13's per-DataFrame _ckpt_ids.
    raw_buckets, bkeep = run_jobs([
        lambda: D.lsh_buckets(
            batch.select("doc_id", "text")
        ).localCheckpoint(eager=True),
        lambda: (
            batch_keep_flags(batch, probes)
            .filter("keep")
            .select("doc_id")
            .localCheckpoint(eager=True)
        ),
    ])
    bsurv = batch.join(bkeep, "doc_id").select("doc_id", "text")
    if is_new is None:
        union_docs = bsurv.withColumn("_is_new", F.lit(True)).unionByName(
            survivor_docs.select("doc_id", "text").withColumn(
                "_is_new", F.lit(False)
            )
        )
        is_new = F.col("_is_new")
    else:
        union_docs = bsurv.unionByName(
            survivor_docs.select("doc_id", "text")
        )
    incr = D.minhash_dedup_incremental(
        union_docs,
        is_new,
        threshold=JACCARD_THRESHOLD,
        corpus_buckets=survivor_buckets,
        new_buckets=raw_buckets,
    )
    return batch.join(
        incr.filter("keep").select("doc_id"), "doc_id"
    ).select("doc_id", "text")


def corpus_prepare_incremental(
    batch: DataFrame,
    survivor_docs: DataFrame,
    survivor_buckets: DataFrame,
    probes: DataFrame,
    is_new=None,
    span_grams: DataFrame | None = None,
) -> DataFrame:
    """DataFrame-in form of the incremental batch-preparation job (see
    ``q_corpus_prepare_incremental`` for the full stage description;
    the stress harness drives this directly —
    tests/stress_corpus_prepare_incremental.py). ``is_new`` is the
    batch-membership Column predicate over doc_id (the batch and the
    survivor corpus must partition on it); None tags membership
    explicitly (see ``incremental_kept_docs``). ``span_grams`` is the
    persisted gram index of the survivor corpus (r8): spans the
    archive already holds are removed from the batch entirely, with
    no first-occurrence exception."""
    from aggregator_spark.parallel import run_jobs

    # r14 (guide §2.6, VERDICT r13 item 5): the archive gram-index
    # probe does not depend on the gate/dedup chain — prefilter the
    # index down to the RAW batch's gram set on a driver thread while
    # the whole keep decision runs. The prefiltered (gh) table is a
    # valid ``corpus_grams`` argument: inside the rewrite it is
    # re-intersected with the KEPT docs' gram set, and
    # kept_gh ⊆ raw_batch_gh makes the covered positions identical to
    # probing the full index (the hit set is batch-proportional
    # either way).
    def probe_hits():
        if span_grams is None:
            return None
        return (
            span_grams.select("gh")
            .join(
                F.broadcast(D.span_gram_hashes(batch, n=DUP_SPAN_N)), "gh"
            )
            .localCheckpoint(eager=True)
        )

    span_hits, kept = run_jobs([
        probe_hits,
        lambda: incremental_kept_docs(
            batch, survivor_docs, survivor_buckets, probes, is_new
        ),
    ])
    # checkpoint the kept batch (batch-proportional (doc_id, text) —
    # the keep-ids checkpoint precedent): the span/chunk/pack tail is
    # ~10 DataFrame constructions over this subtree, and each one
    # re-analyzes the whole gate→dedup plan (measured 4.9 s of pure
    # driver-side analysis + a re-executed keep chain in the final
    # action); against the stored blocks the tail builds in ~2 s and
    # the action reads ints+text (r14, guide §5 plan-truncation note)
    kept = kept.localCheckpoint(eager=True)
    rewritten = D.dedup_span_rewrite(
        kept, n=DUP_SPAN_N, corpus_grams=span_hits
    )
    nonempty = rewritten.filter(F.length("clean_text") > 0).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    return C.pack_sequences(C.doc_chunks(nonempty))


def q_corpus_prepare_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The steady-state daily job at 100 TB (VERDICT r7 item 7): a new
    crawl batch (doc_id % NEW_BATCH_MOD == 0, the ``dedup_incremental``
    convention) arrives against an already-prepared corpus and ONLY the
    batch is prepared:

      batch quality gate (``batch_keep_flags``: Gopher ∧ lang-id ∧
      not-contaminated vs the PERSISTED probe set ∧ within-batch
      dup-span fraction)
      → incremental fuzzy dedup of the gated batch against the
        PERSISTED survivor bucket index (``minhash_dedup_incremental``:
        batch buckets join the survivor table; existing×existing never
        compared; keep = duplicate-free-of-existing ∧ min-id within
        batch-only components)
      → duplicated-span REMOVAL over the kept batch: within-batch
        repeats keep their first occurrence, and (r8) every span
        present in the PERSISTED survivor gram index is removed
        entirely — the archive already holds it
      → chunk → pack, batch only.

    Returns the packed batch stream (doc_id, chunk_id, pack_group,
    seq_bin, n_tokens) — the rows this run would APPEND to the
    training corpus.

    Cost shape: every stage is batch-proportional except the survivor
    bucket join (hash join against the persisted index, the same
    serving cost ``dedup_incremental_serve`` benches); the untouched
    corpus is never re-gated, re-signed, or re-packed. The oracle
    recomputes the survivor set from the raw corpus — the persisted
    artifacts are deterministic md5 constructions, so cache and fresh
    are bit-identical (cache-vs-fresh also pytest-pinned for the
    sibling indexes)."""
    from aggregator_spark.sources.prepared_index import cached_prepared_index

    docs = load_testdata(spark, sf_dir, "documents")
    idx = cached_prepared_index(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % NEW_BATCH_MOD == 0)
    survivor_docs = docs.join(
        idx["survivor_buckets"].select("doc_id").distinct(), "doc_id"
    ).select("doc_id", "text")
    return corpus_prepare_incremental(
        batch,
        survivor_docs,
        idx["survivor_buckets"],
        idx["probes"],
        F.col("doc_id") % NEW_BATCH_MOD == 0,
        span_grams=idx["span_grams"],
    ).orderBy("doc_id", "chunk_id")


CURRICULUM_BINS = 4


def q_curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning for staged training (easy→hard ordering, cf.
    curriculum-learning data schedules): within each source stratum,
    docs rank by the heuristic quality score (``text_quality``'s
    expression, ties broken by doc_id) and NTILE into
    CURRICULUM_BINS quartiles — bin 1 = highest-quality quarter, the
    stage a run trains on first. Since the r9 fourth wave the NTILE
    comes from the bounded-rank core (operators/rankdist.py:
    ntile_bucketed) instead of a per-stratum window: a stratum is a
    whole source, so the plain window was one task per source at
    crawl scale — the bucketed form is bit-identical (pinned vs an
    in-test plain window, tests/test_fourth_wave.py) and the oracle
    is unchanged. Returns (doc_id, stratum, quality, bin)."""
    from aggregator_spark.operators.rankdist import ntile_bucketed

    docs = load_testdata(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.col("source").alias("stratum"),
        X.quality_score(F.col("text")).alias("quality"),
    )
    return ntile_bucketed(
        scored, "stratum", "quality", "doc_id", CURRICULUM_BINS,
        id_bucket=QP_ID_BUCKET,
    ).select("doc_id", "stratum", "quality", "bin")


def q_curriculum_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-curriculum-stage ablation table a training team reads
    before committing a staged run: for every (stratum, bin) of
    ``curriculum_bins``, how many docs the stage holds, how many
    survive the quality gate (``corpus_keep_flags``), the kept token
    mass, and — if the stage's kept docs were packed ALONE (each
    curriculum stage trains as its own packing run) — how many
    training sequences that yields and the fill ratio vs the pack
    budget in micro-units (``pack_efficiency``'s padding-waste
    metric). Pure composition of three already-oracled fragments
    (curriculum NTILE, keep-list conjunction, chunk+pack window);
    the pack window partitions by (stratum, bin, pack_group) — still
    stage-bounded, never a global sort. Returns (stratum, bin,
    n_docs, n_kept, kept_tokens, n_seqs, util_micro); util_micro is
    NULL for a stage with no kept chunks."""
    from aggregator_spark.operators.corpus import DEFAULT_PACK_BUDGET

    docs = load_testdata(spark, sf_dir, "documents")
    bins = q_curriculum_bins(spark, sf_dir).select("doc_id", "stratum", "bin")
    keep = corpus_keep_flags(docs).select("doc_id", "keep")
    # three consumers read membership (stage counts, the kept-doc
    # filter, the chunk labeling) — checkpoint so the bins+gate
    # sub-plan executes once, not once per consumer
    membership = bins.join(keep, "doc_id").localCheckpoint(eager=True)
    counts = membership.groupBy("stratum", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
    )
    # chunk AFTER the keep filter: chunking the whole corpus and
    # joining the (small) survivor set against corpus-sized chunk TEXT
    # was a corpus-scale sort/spill for a survivor-scale result — the
    # one super-linear stage of the r10 sf100 sweep (377.9 s of the
    # 680 s isolated run at 5M docs vs 48.9 s at 500k; SCALE.md
    # §Round-10). Identical output: chunks of kept docs either way.
    kept_membership = membership.filter("keep").select(
        "doc_id", "stratum", "bin"
    )
    kept_docs = docs.select("doc_id", "text").join(
        kept_membership.select("doc_id"), "doc_id"
    )
    kept_chunks = C.doc_chunks(kept_docs).join(kept_membership, "doc_id")
    w = (
        Window.partitionBy("stratum", "bin", "pack_group")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = kept_chunks.withColumn(
        "pack_group", (F.col("doc_id") % C.DEFAULT_PACK_GROUPS).cast("int")
    ).withColumn(
        "seq_bin",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens"))
            / DEFAULT_PACK_BUDGET
        ).cast("int"),
    )
    per_bin = packed.groupBy("stratum", "bin").agg(
        F.sum("n_tokens").cast("long").alias("kept_tokens"),
        F.countDistinct(
            F.col("pack_group").cast("long") * 1_000_000 + F.col("seq_bin")
        )
        .cast("long")
        .alias("n_seqs"),
    )
    return (
        counts.join(per_bin, ["stratum", "bin"], "left")
        .select(
            "stratum",
            "bin",
            "n_docs",
            "n_kept",
            F.coalesce(F.col("kept_tokens"), F.lit(0))
            .cast("long")
            .alias("kept_tokens"),
            F.coalesce(F.col("n_seqs"), F.lit(0))
            .cast("long")
            .alias("n_seqs"),
            F.when(
                F.coalesce(F.col("n_seqs"), F.lit(0)) > 0,
                F.floor(
                    F.lit(1_000_000)
                    * F.col("kept_tokens")
                    / (F.col("n_seqs") * F.lit(DEFAULT_PACK_BUDGET))
                ).cast("long"),
            ).alias("util_micro"),
        )
        .orderBy("stratum", "bin")
    )


QUALITY_TOP_FRAC = 0.1  # FineWeb-edu-style top-p%-per-source gate


def q_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality percentile gating (the FineWeb-edu-style
    "keep the top p% of each source" selection): within each source,
    docs rank by the heuristic quality score (``text_quality``'s
    expression — already hash-matched on its own) with doc_id as the
    total-order tie-break, and ``percent_rank`` marks the top
    QUALITY_TOP_FRAC for keeping. Per-SOURCE windows only — the same
    stratum-bounded-ordering scale contract as ``curriculum_bins``;
    no global sort ever forms. Returns (doc_id, source, quality,
    pct_rank, keep_top)."""
    docs = load_testdata(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        X.quality_score(F.col("text")),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc_nulls_last(), "doc_id"
    )
    pr = F.percent_rank().over(w)
    return scored.select(
        "doc_id",
        "source",
        "quality",
        F.round(pr, 6).alias("pct_rank"),
        (pr <= F.lit(QUALITY_TOP_FRAC)).alias("keep_top"),
    )


QP_ID_BUCKET = 64  # id-range rows per task in the bucketed twin: small
# enough that BOTH driver SFs exercise multi-bucket carry-in (sf0.01's
# tie-groups span several 64-id ranges), same reasoning as
# SEMDEDUP_CAP_E2E — production would run the operator default (100k)


def q_quality_percentile_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``quality_percentile``'s scale-path twin (the zscore/asof
    `_bucketed` family pattern): at crawl scale a "source" is billions
    of docs, so the plain per-source window is one task per source —
    here ranks come from (source, quality, doc_id-range) bounded
    partitions plus carry-in counts off the bucket summary
    (operators/rankdist.py:percent_rank_bucketed), bit-identical to
    the plain window (integer rank equality ⇒ identical doubles;
    pinned vs the plain form in tests/test_fourth_wave.py). Same
    output columns, same oracle SQL."""
    from aggregator_spark.operators.rankdist import percent_rank_bucketed

    docs = load_testdata(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", X.quality_score(F.col("text"))
    )
    pr = percent_rank_bucketed(
        scored, "source", "quality", "doc_id", id_bucket=QP_ID_BUCKET
    )
    return pr.select(
        "doc_id",
        "source",
        "quality",
        F.round("pct_rank", 6).alias("pct_rank"),
        (F.col("pct_rank") <= F.lit(QUALITY_TOP_FRAC)).alias("keep_top"),
    )


CQ_COARSE = 8  # two-level-carry quantization cells per score unit


def q_quality_percentile_continuous(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The per-source percentile gate in the FineWeb-edu FLAGSHIP
    regime: a CONTINUOUS classifier score (here chars-per-token —
    near-unique doubles, the tie-density profile where the discrete
    twin's single-level carry would degenerate to one task per
    source). Runs `percent_rank_bucketed` with the two-level carry
    (score_coarse = floor(score × {CQ_COARSE}) — the coarse rollup is
    |cells|-per-source sized and the fine window is bounded by score
    density within one cell; ADVICE r9 medium). Bit-identical to the
    plain window (pinned in tests/test_fourth_wave.py); the oracle IS
    the plain window. Returns (doc_id, source, cscore, pct_rank,
    keep_top)."""
    from aggregator_spark.operators.rankdist import percent_rank_bucketed

    docs = load_testdata(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        X.avg_token_len(F.col("text")).alias("cscore"),
    )
    pr = percent_rank_bucketed(
        scored,
        "source",
        "cscore",
        "doc_id",
        id_bucket=QP_ID_BUCKET,
        score_coarse=lambda c: F.floor(c * CQ_COARSE),
    )
    return pr.select(
        "doc_id",
        "source",
        F.round("cscore", 6).alias("cscore"),
        F.round("pct_rank", 6).alias("pct_rank"),
        (F.col("pct_rank") <= F.lit(QUALITY_TOP_FRAC)).alias("keep_top"),
    )


def q_corpus_prepare_line_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_prepare_e2e`` with CCNet line-level boilerplate removal
    composed in between the keep decision and span removal — the stage
    order a crawl-scale run wants (chrome segments die wholesale
    FIRST, so the span stage's df counts run on content, not
    navigation; the span rewrite consumes the line-cleaned text):

      quality gate → fuzzy MinHash-LSH dedup → line-dedup rewrite
      (``line_dedup_rewrite`` at LINE_DF_THRESHOLD over the KEPT
      corpus — segment df counted within survivors, exactly what the
      previous stages left) → span removal → chunk → pack.

    The seam (``corpus_prepare(line_df_threshold=…)``) landed with a
    structural-parity pin in r9's third wave
    (test_corpus_prepare_line_stage_parity); this entry is the
    driver-checkable composition. Returns (doc_id, chunk_id,
    pack_group, seq_bin, n_tokens)."""
    return corpus_prepare(
        load_testdata(spark, sf_dir, "documents"),
        _mh_buckets(spark, sf_dir),
        line_df_threshold=LINE_DF_THRESHOLD,
    )


def q_corpus_prepare_topp_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_prepare_e2e`` with the quality gate swapped for the
    per-source PERCENTILE gate (FineWeb-style: keep each source's top
    QUALITY_TOP_FRAC by the heuristic score) — the other production
    gating regime, where selection pressure is relative per stratum
    instead of an absolute conjunction; every downstream stage (fuzzy
    dedup → span removal → chunk → pack) is byte-identical to the
    base pipeline via the ``keep_ids`` seam. Runs the BUCKETED
    percentile form (the scale path — bit-identical to the plain
    window, so the oracle uses the plain SQL). Returns (doc_id,
    chunk_id, pack_group, seq_bin, n_tokens)."""
    gate_ids = (
        q_quality_percentile_bucketed(spark, sf_dir)
        .filter("keep_top")
        .select("doc_id")
    )
    return corpus_prepare(
        load_testdata(spark, sf_dir, "documents"),
        _mh_buckets(spark, sf_dir),
        keep_ids=gate_ids,
    )


def q_corpus_prepare_ppl_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_prepare_e2e`` with the quality gate swapped for the
    CCNet PERPLEXITY gate (analytics_queries11.q_perplexity_gate: keep
    each language's head+middle thirds by bigram-LM nll) — the third
    production gating regime beside the absolute-heuristic and
    percentile gates, selection pressure relative per LANGUAGE and
    driven by a corpus-fit LM instead of surface heuristics. Docs with
    <2 tokens have no LM score and are dropped (CCNet behavior: an
    unscoreable doc never reaches the corpus). Every downstream stage
    (fuzzy dedup → span removal → chunk → pack) is byte-identical to
    the base pipeline via the ``keep_ids`` seam. Returns (doc_id,
    chunk_id, pack_group, seq_bin, n_tokens)."""
    from aggregator_spark.analytics_queries11 import q_perplexity_gate

    gate_ids = (
        q_perplexity_gate(spark, sf_dir).filter("keep").select("doc_id")
    )
    return corpus_prepare(
        load_testdata(spark, sf_dir, "documents"),
        _mh_buckets(spark, sf_dir),
        keep_ids=gate_ids,
    )


DSIR_TOP_FRAC = 0.25  # keep the most target-like quartile per source


def q_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data SELECTION (the deployment step Xie et al. 2023 run
    after weighting): per-source top-p% of documents by the hashed-
    unigram importance weight — the fourth gating regime beside the
    absolute heuristic, the quality percentile, and the CCNet
    perplexity thirds, with selection pressure driven by
    target-DISTRIBUTION fit instead of surface quality. logw is a
    continuous near-unique score, so ranks run on the two-level-carry
    bounded form (score_coarse = floor(logw × {CQ_COARSE})) — no
    source ever lands its membership on one task. The scored relation
    is localCheckpoint'ed once: the bounded-rank plan reads its input
    from local + carry branches, and without the checkpoint the whole
    dsir_weights token-model subtree re-runs per branch (25→10
    exchanges measured — the corpus_prepare_ppl_e2e lesson). Returns
    (doc_id, source, logw, pct_rank, keep)."""
    from aggregator_spark.operators.corpus import dsir_weights
    from aggregator_spark.operators.rankdist import percent_rank_bucketed

    docs = load_testdata(spark, sf_dir, "documents")
    w = dsir_weights(docs, target_filter=F.col("lang") == "en")
    scored = (
        w.join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "logw")
        .localCheckpoint(eager=True)
    )
    pr = percent_rank_bucketed(
        scored,
        "source",
        "logw",
        "doc_id",
        id_bucket=QP_ID_BUCKET,
        score_coarse=lambda s: F.floor(s * CQ_COARSE),
    )
    return pr.select(
        "doc_id",
        "source",
        "logw",
        F.round("pct_rank", 6).alias("pct_rank"),
        (F.col("pct_rank") <= F.lit(DSIR_TOP_FRAC)).alias("keep"),
    )


def q_corpus_prepare_dsir_e2e(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``corpus_prepare_e2e`` with the quality gate swapped for DSIR
    selection (``q_dsir_gate``: keep each source's most target-like
    top-p% by hashed-unigram importance weight) — the fourth
    production gating regime through the ``keep_ids`` seam; every
    downstream stage (fuzzy dedup → span removal → chunk → pack) is
    byte-identical to the base pipeline. Returns (doc_id, chunk_id,
    pack_group, seq_bin, n_tokens)."""
    gate_ids = q_dsir_gate(spark, sf_dir).filter("keep").select("doc_id")
    return corpus_prepare(
        load_testdata(spark, sf_dir, "documents"),
        _mh_buckets(spark, sf_dir),
        keep_ids=gate_ids,
    )


def q_corpus_prepare_union_e2e(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``corpus_prepare_e2e`` with the DEDUP stage swapped for the
    union-candidate configuration (VERDICT r10 item 6): quality gate →
    ``fuzzy_dedup_keep_union`` over the gate survivors (verified
    MinHash-LSH Jaccard edges UNION SimHash Hamming edges, components
    over the union — the complementary-recall production dedup the
    standalone ``dedup_fuzzy_keep_union`` entry grades) → span removal
    → chunk → pack, every non-dedup stage byte-identical to the base
    pipeline via the ``fuzzy_union`` seam. Returns (doc_id, chunk_id,
    pack_group, seq_bin, n_tokens)."""
    return corpus_prepare(
        load_testdata(spark, sf_dir, "documents"),
        _mh_buckets(spark, sf_dir),
        fuzzy_union=True,
    )


def q_span_rewrite_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-corpus span removal in isolation (the r8 stage the
    incremental pipeline composes): the arriving batch
    (doc_id % NEW_BATCH_MOD == 0) has every word-16-gram span that the
    EXISTING corpus already contains removed ENTIRELY (no
    first-occurrence exception — the archive holds it), while
    within-batch repeats keep their first occurrence
    (operators/dedup.py:dedup_span_rewrite with ``corpus_grams`` from
    ``span_gram_hashes``). Probe direction: the batch gram set
    broadcasts against the corpus index — the archive is scanned,
    never shuffled (SCALE.md §incremental preparation)."""
    docs = load_testdata(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % NEW_BATCH_MOD == 0)
    existing = docs.filter(F.col("doc_id") % NEW_BATCH_MOD != 0)
    return D.dedup_span_rewrite(
        batch,
        n=DUP_SPAN_N,
        corpus_grams=D.span_gram_hashes(existing, n=DUP_SPAN_N),
    )


SPLIT_VAL_N = 5  # exact per-source validation quota
SPLIT_TEST_N = 5  # exact per-source test quota


def _md5_of_id(col: str = "doc_id"):
    return F.md5(F.col(col).cast("string").cast("binary"))


def q_corpus_train_split_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ALLOCATION TAIL of the training-data run composed onto the
    prepared corpus — what a real pipeline executes after
    ``corpus_prepare_e2e`` to turn the packed stream into a budgeted,
    split training set (VERDICT r7 item 2):

      corpus_prepare (gate → fuzzy dedup → span removal → chunk →
      pack) → per-doc token mass of the PACKED stream (the tokens that
      actually survive preparation, not raw text)
      → exact int64 water-filling of the token budget across source
        strata (``waterfill_allocate`` over the packed masses)
      → per-doc selection by the resulting rate: exact integer compare
        hex8(md5(doc_id)) * 1e6 < rate_micro * 2^32 — a pure filter,
        reproducible across engines, no RNG
      → exact-quota val/test carve-out per stratum over the SELECTED
        docs (same md5 ranking as ``eval_split_quota``).

    Returns one row per prepared doc: (doc_id, stratum, doc_tokens,
    selected, split) with split NULL for unselected docs.

    Scale/checkpoint shape: the per-doc mass table (doc-count-sized,
    3 narrow columns — never text) is localCheckpoint'ed eagerly
    because BOTH the strata aggregate and the selection read it;
    without the checkpoint the entire five-stage preparation sub-plan
    would run twice. The waterfill windows run on the strata summary
    (|sources| rows); the rate table broadcasts back; the quota
    windows partition by stratum — no global sort anywhere."""
    docs = load_testdata(spark, sf_dir, "documents")
    packed = corpus_prepare(docs, _mh_buckets(spark, sf_dir))
    doc_mass = (
        packed.groupBy("doc_id")
        .agg(F.sum("n_tokens").cast("long").alias("doc_tokens"))
        .join(docs.select("doc_id", F.col("source").alias("stratum")), "doc_id")
        .localCheckpoint(eager=True)
    )
    masses = doc_mass.groupBy("stratum").agg(
        F.sum("doc_tokens").cast("long").alias("mass")
    )
    alloc = C.waterfill_allocate(masses, budget_frac=WATERFILL_BUDGET_FRAC)
    h8 = (
        F.conv(F.substring(_md5_of_id(), 1, 8), 16, 10)
        .cast("long")
    )
    sel = doc_mass.join(
        F.broadcast(alloc.select("stratum", "rate_micro")), "stratum"
    ).select(
        "doc_id",
        "stratum",
        "doc_tokens",
        (h8 * F.lit(1_000_000) < F.col("rate_micro") * F.lit(4294967296)).alias(
            "selected"
        ),
    )
    # quota carve-out via the two-phase exact top-k (rankdist; the
    # r9 fourth-wave hazard audit): only the first VAL+TEST selected
    # docs per stratum need a rank — the plain per-stratum window
    # would drag every selected doc of a crawl-scale stratum onto one
    # task to label the other 99.99% 'train'
    from aggregator_spark.operators.rankdist import topk_per_group

    chosen = sel.filter("selected")
    top = topk_per_group(
        chosen.select("doc_id", "stratum"),
        "stratum",
        [_md5_of_id(), F.col("doc_id")],
        SPLIT_VAL_N + SPLIT_TEST_N,
        salt_col=F.xxhash64("doc_id"),
    ).select(
        "doc_id",
        F.when(F.col("rk") <= SPLIT_VAL_N, "val")
        .otherwise("test")
        .alias("__heldout"),
    )
    picked = (
        chosen.select("doc_id")
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("__heldout", F.lit("train")).alias("split"),
        )
    )
    return sel.join(picked, "doc_id", "left").select(
        "doc_id", "stratum", "doc_tokens", "selected", "split"
    )


def q_eval_split_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment with EXACT per-stratum
    quotas: within each source, docs rank by md5(doc_id) (a stable
    shuffle no data attribute can bias) and the first SPLIT_VAL_N go
    to val, the next SPLIT_TEST_N to test, the rest to train. Unlike
    rate-based sampling (``stratified_sample``), the held-out sets
    have exactly the requested size per stratum — the eval-split
    contract a benchmark needs — and re-runs/engines agree bit-for-bit
    (same md5 ordering everywhere). Since the r9 fourth wave the rank
    comes from the two-phase exact top-k (operators/rankdist.py:
    topk_per_group) instead of a per-stratum window: only the first
    VAL+TEST docs per stratum need a rank, and the plain window would
    drag a crawl-scale stratum onto ONE task to label the rest
    'train' — the two-phase form is bit-identical by construction
    (pinned in tests/test_fourth_wave.py) and the oracle is
    unchanged. No RNG state."""
    docs = load_testdata(spark, sf_dir, "documents")
    from aggregator_spark.operators.rankdist import topk_per_group

    base = docs.select("doc_id", F.col("source").alias("stratum"))
    top = topk_per_group(
        base,
        "stratum",
        [_md5_of_id(), F.col("doc_id")],
        SPLIT_VAL_N + SPLIT_TEST_N,
        salt_col=F.xxhash64("doc_id"),
    ).select(
        "doc_id",
        F.when(F.col("rk") <= SPLIT_VAL_N, "val")
        .otherwise("test")
        .alias("__heldout"),
    )
    return (
        base.join(top, "doc_id", "left")
        .select(
            "doc_id",
            "stratum",
            F.coalesce("__heldout", F.lit("train")).alias("split"),
        )
        .orderBy("doc_id")
    )


WATERFILL_BUDGET_FRAC = 0.5


def q_mix_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation across sources by exact integer
    water-filling (operators/corpus.py:token_budget_waterfill): find
    the common cap c with Σ min(mass_s, c) = budget — small sources
    keep everything, big ones clip to the water level, allocations sum
    to the budget EXACTLY (int64 throughout, remainder handed out
    deterministically). The rates feed ``stratified_sample``; this
    computes them without ever shuffling the corpus."""
    docs = load_testdata(spark, sf_dir, "documents")
    return C.token_budget_waterfill(
        docs, budget_frac=WATERFILL_BUDGET_FRAC
    )


def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-bin utilization report over the packed sequence stream
    (`pack_sequences`): per pack group, bin count, total tokens, and
    fill ratio vs the 256-token budget in micro-units — the padding-
    waste metric a training-batch owner watches."""
    from aggregator_spark.operators.corpus import DEFAULT_PACK_BUDGET

    docs = load_testdata(spark, sf_dir, "documents")
    packed = C.pack_sequences(C.doc_chunks(docs))
    bins = packed.groupBy("pack_group", "seq_bin").agg(
        F.sum("n_tokens").alias("bin_tokens")
    )
    return (
        bins.groupBy("pack_group")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bins"),
            F.sum("bin_tokens").cast("long").alias("total_tokens"),
        )
        .select(
            "pack_group",
            "n_bins",
            "total_tokens",
            F.floor(
                F.lit(1_000_000)
                * F.col("total_tokens")
                / (F.col("n_bins") * F.lit(DEFAULT_PACK_BUDGET))
            )
            .cast("long")
            .alias("util_micro"),
        )
        .orderBy("pack_group")
    )


def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — the dedup observability
    report a corpus owner reads before committing a keep-list (how
    much mass sits in 2-clusters vs mega-clusters decides whether the
    threshold is right; a sudden mega-cluster usually means boilerplate
    leaked past the shingle filter). Built on the SAME verified
    pipeline as `dedup_fuzzy_keep` (LSH candidates → exact-Jaccard
    verify → components), then two tiny aggregations: component →
    size, size → cluster count. Returns (cluster_size, n_clusters)."""
    docs = load_testdata(spark, sf_dir, "documents")
    keep = D.minhash_dedup_keep(
        docs,
        threshold=JACCARD_THRESHOLD,
        buckets=_mh_buckets(spark, sf_dir),
    )
    return (
        keep.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .orderBy("cluster_size")
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    word 3-grams that occur NOWHERE else in the corpus (corpus document
    frequency == 1) — the self-information/novelty score a curation
    team uses to up-weight rare content and spot boilerplate (novelty
    ~0 ⇒ the doc is assembled from corpus-common phrases).

    Scale shape: the corpus-wide gram relation is aggregated ONCE by
    gram and never joined back — a df==1 gram has exactly one owner, so
    ``min(doc_id)`` inside the same aggregate IS the attribution, and
    only the unique-gram residue (≤ one row per novel gram, collapsing
    to ≤ one row per doc) flows onward. Per-doc totals ride the same
    shingle relation through a doc_id aggregate; both residues join the
    doc spine at |docs| scale. No corpus²-shaped intermediate exists.
    Shingling itself is the Arrow-vectorized ``doc_shingles`` shared
    with the whole dedup family (same tokenizer, same n)."""
    docs = load_testdata(spark, sf_dir, "documents")
    return D.ngram_novelty(docs)


def q_minhash_est_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration over the LSH candidate pairs:
    signature-agreement Jaccard estimate (matches/k) vs the exact
    n-gram Jaccard, with the absolute error — the report that tells a
    dedup owner whether k=8 signatures justify the banding threshold
    before trusting the keep-list (the standard accept/reject evidence
    for an LSH configuration).

    Scale shape: candidates come from the persisted bucket index (no
    all-pairs anywhere); the exact side is the candidate-bounded
    ``verified_jaccard_pairs`` (shingling semi-joined to candidate
    docs); the estimate side joins the signature table — computed once,
    checkpointed, k columns wide — to the candidate pair list from both
    ends. Everything downstream of the banded join is O(candidates)."""
    docs = load_testdata(spark, sf_dir, "documents")
    cand = D.lsh_candidate_pairs(
        docs, buckets=_mh_buckets(spark, sf_dir)
    ).localCheckpoint(eager=True)
    # exact Jaccard restricted to candidates (threshold 0 keeps all:
    # a shared band hash implies a shared min-shingle, so every
    # candidate pair has n_common >= 1 on both engines)
    exact = D.verified_jaccard_pairs(docs, cand, threshold=0.0)
    sigs = D.minhash_signatures(docs).localCheckpoint(eager=True)
    k = D.DEFAULT_MINHASHES
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(k)],
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(k)],
    )
    matches = sum(
        (F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int") for i in range(k)
    )
    est = cand.join(a, "doc_a").join(b, "doc_b").select(
        "doc_a",
        "doc_b",
        F.round(matches / F.lit(float(k)), 6).alias("est_jaccard"),
    )
    return est.join(exact, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        "jaccard",
        F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 6).alias(
            "abs_err"
        ),
    )


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Heaps-law vocabulary growth: total and half-corpus
    (doc_id parity split — deterministic, engine-agnostic) token and
    vocabulary counts, plus the implied Heaps exponent
    β = ln(V/V_half) / ln(N/N_half). A tokenizer/corpus report: β far
    from the corpus norm flags a source whose vocabulary scales
    abnormally (boilerplate-heavy → sub-norm; noise/IDs → super-norm).
    One corpus scan, two shuffles: the (source, token) aggregate
    carries both the full and half counts (map-side partial), the
    |sources|-row rollup derives everything else. Same tokenizer as
    ``corpus_drift_js``. Returns (source, n_tokens, vocab,
    n_tokens_half, vocab_half, heaps_beta)."""
    docs = load_testdata(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("token"),
    ).filter(F.col("token") != "")
    # the split of an empty/whitespace-only doc yields one '' token;
    # dropping it keeps n_tokens and the vocabulary (hence the Heaps-β
    # inputs) honest for sources with blank docs (ADVICE r9)
    st = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
            F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0)
        ).alias("cnt_half"),
    )
    agg = st.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum("cnt_half").cast("long").alias("n_tokens_half"),
        F.sum((F.col("cnt_half") > 0).cast("long"))
        .cast("long")
        .alias("vocab_half"),
    )
    # degenerate half-split (a tiny source whose doc_ids are all odd,
    # seen at sf0.001) ⇒ β undefined, NULL on both engines
    beta = F.when(
        (F.col("vocab_half") > 0)
        & (F.col("n_tokens_half") > 0)
        & (F.col("n_tokens") != F.col("n_tokens_half")),
        F.round(
            F.log(F.col("vocab").cast("double") / F.col("vocab_half"))
            / F.log(
                F.col("n_tokens").cast("double") / F.col("n_tokens_half")
            ),
            6,
        ),
    )
    return agg.select(
        "source",
        "n_tokens",
        "vocab",
        "n_tokens_half",
        "vocab_half",
        beta.alias("heaps_beta"),
    )


def q_corpus_drift_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: Jensen–Shannon divergence between
    each source's unigram distribution P and the whole-corpus
    distribution Q (natural log; Q includes the source, the standard
    "slice vs corpus" drift monitor) — the report that catches a
    crawler/source going off-distribution between corpus generations
    before it poisons the mixing weights.

    JS(P,Q) = Σ_present 0.5·[p·ln(2p/(p+q)) + q·ln(2q/(p+q))]
              + 0.5·(1 − Σ_present q)·ln 2
    — the closed form over the SOURCE's support only: tokens absent
    from the source have p=0 and contribute 0.5·q·ln 2, folded into the
    residual-mass term, so the per-source relation never needs the full
    vocabulary outer join.

    Scale shape: one (source, token) hash aggregate over the exploded
    tokens (map-side partials absorb within-partition repeats),
    localCheckpoint'ed eagerly because FOUR consumers read it (the
    token join plus the global/per-source/grand-total aggregates) —
    without the checkpoint each consumer re-scans and re-explodes the
    raw corpus (8 exchanges → 6, fact scanned once). Everything
    downstream runs on the vocab×sources relation, orders smaller than
    the corpus; per-source totals are a |sources|-row broadcast and
    the grand total a 1-row scalar broadcast. The token-level join
    keys on the vocabulary, the natural partitioning."""
    docs = load_testdata(spark, sf_dir, "documents")
    return C.js_source_drift(docs)


def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetitious-text metrics
    (operators/text.py:repetition_metrics) — per-doc top-2/3-gram char
    coverage + duplicate-token fraction, Arrow-batched, zero shuffle."""
    docs = load_testdata(spark, sf_dir, "documents")
    return X.repetition_metrics(docs)


LLM_QUERIES = {
    "token_stats": q_token_stats,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_fingerprint,
    "clean_text": q_clean_text,
    "doc_chunks": q_doc_chunks,
    "pack_sequences": q_pack_sequences,
    "gopher_quality": q_gopher_quality,
    "pii_redact": q_pii_redact,
    "stratified_sample": q_stratified_sample,
    "unigram_logprob": q_unigram_logprob,
    "embedding_normalize": q_embedding_normalize,
    "embedding_quantize": q_embedding_quantize,
    "label_centroids": q_label_centroids,
    "kmeans_assign": q_kmeans_assign,
    "kmeans_fit": q_kmeans_fit,
    "dedup_exact": q_dedup_exact,
    "ngram_jaccard_pairs": q_ngram_jaccard,
    "ngram_jaccard_capped": q_ngram_jaccard_capped,
    "ngram_containment_pairs": q_ngram_containment,
    "minhash_signatures": q_minhash_signatures,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "dedup_components": q_dedup_components,
    "dedup_components_star": q_dedup_components_star,
    "simhash64": q_simhash,
    "simhash_near_dup": q_simhash_near_dup,
    "dedup_keep_best": q_dedup_keep_best,
    "dedup_fuzzy_keep_union": q_dedup_fuzzy_keep_union,
    "contamination_by_source": q_contamination_by_source,
    "dedup_family_overlap": q_dedup_family_overlap,
    "ann_topk": q_ann_topk,
    "pq_encode": q_pq_encode,
    "pq_adc_topk": q_pq_adc_topk,
    "ann_topk_ivfpq": q_ann_topk_ivfpq,
    "ann_topk_lsh": q_ann_topk_lsh,
    "ann_topk_ivf": q_ann_topk_ivf,
    "embedding_near_dup": q_embedding_near_dup,
    "decontaminate_docs": q_decontaminate_docs,
    "repetition_metrics": q_repetition_metrics,
    "ngram_novelty": q_ngram_novelty,
    "minhash_est_accuracy": q_minhash_est_accuracy,
    "corpus_drift_js": q_corpus_drift_js,
    "vocab_growth": q_vocab_growth,
    "semantic_dedup": q_semantic_dedup,
    "semantic_dedup_capped": q_semantic_dedup_capped,
    "dedup_fuzzy_keep": q_dedup_fuzzy_keep,
    "dedup_incremental": q_dedup_incremental,
    "temperature_mix": q_temperature_mix,
    "dup_span_stats": q_dup_span_stats,
    "line_dedup_rewrite": q_line_dedup_rewrite,
    "boilerplate_stats": q_boilerplate_stats,
    "corpus_keep_list": q_corpus_keep_list,
    "corpus_prepare_e2e": q_corpus_prepare_e2e,
    "corpus_prepare_semantic_e2e": q_corpus_prepare_semantic_e2e,
    "corpus_prepare_line_e2e": q_corpus_prepare_line_e2e,
    "corpus_prepare_topp_e2e": q_corpus_prepare_topp_e2e,
    "corpus_prepare_ppl_e2e": q_corpus_prepare_ppl_e2e,
    "corpus_prepare_union_e2e": q_corpus_prepare_union_e2e,
    "dsir_gate": q_dsir_gate,
    "corpus_prepare_dsir_e2e": q_corpus_prepare_dsir_e2e,
    "quality_percentile": q_quality_percentile,
    "quality_percentile_bucketed": q_quality_percentile_bucketed,
    "quality_percentile_continuous": q_quality_percentile_continuous,
    "corpus_train_split_e2e": q_corpus_train_split_e2e,
    "corpus_prepare_incremental": q_corpus_prepare_incremental,
    "span_rewrite_incremental": q_span_rewrite_incremental,
    "curriculum_bins": q_curriculum_bins,
    "curriculum_ablation": q_curriculum_ablation,
    "dedup_cluster_sizes": q_dedup_cluster_sizes,
    "mix_waterfill": q_mix_waterfill,
    "eval_split_quota": q_eval_split_quota,
    "pack_efficiency": q_pack_efficiency,
}
