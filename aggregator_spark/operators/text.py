"""Text-analysis operators for training-data pipelines (SURVEY.md §7
step 8): tokenization, token counting, quality scoring, language-ID
heuristic, document fingerprinting.

All of these are pure JVM-side column expressions (whole-stage codegen,
no Python in the hot path) — at 100 TB they run at parquet-scan speed.
The shared constants (stopword/marker lists) also feed the DuckDB oracle
SQL generators so both engines compute literally the same function.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# small English-ish stopword list for quality scoring (the synthetic
# documents corpus is lowercase words; the list is a parameter)
STOPWORDS = ("the", "a", "of", "and", "to", "in")

# per-language marker tokens for the n-gram/lexicon heuristic; checked in
# this order, first max wins (deterministic tiebreak)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "les", "des", "et"),
    "es": ("el", "los", "las", "y"),
    "zh": ("de", "le", "shi", "bu"),
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization (mirrors regexp_split on '\\s+')."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.size(tokens(col)).cast("long")


def normalized_text(col: Column) -> Column:
    """Whitespace-collapse + lowercase + trim — canonical form for
    fingerprinting and exact dedup."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def fingerprint(col: Column) -> Column:
    """Exact-dup document fingerprint: md5 of the normalized text."""
    return F.md5(normalized_text(col).cast("binary"))


def _in_list(x: Column, values: tuple[str, ...]) -> Column:
    return x.isin(*values)


def stopword_count(col: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    return F.size(
        F.filter(tokens(col), lambda x: _in_list(x, stopwords))
    ).cast("long")


def stopword_ratio(col: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    return stopword_count(col, stopwords) / token_count(col)


def avg_token_len(col: Column) -> Column:
    """Mean token length = chars-excluding-spaces / token count."""
    return F.length(F.regexp_replace(F.trim(col), r"\s+", "")) / token_count(col)


def quality_score(col: Column) -> Column:
    """Composite [0,1]-ish quality heuristic: length band + stopword
    presence + token-length band. Deterministic double arithmetic (fixed
    expression tree — identical in the oracle SQL)."""
    n_tok = token_count(col)
    length_ok = F.when((n_tok >= 10) & (n_tok <= 1000), 1.0).otherwise(0.0)
    sw = stopword_ratio(col)
    sw_ok = F.when((sw >= 0.05) & (sw <= 0.6), 1.0).otherwise(0.0)
    atl = avg_token_len(col)
    atl_ok = F.when((atl >= 2.0) & (atl <= 12.0), 1.0).otherwise(0.0)
    return (0.4 * length_ok + 0.3 * sw_ok + 0.3 * atl_ok).alias("quality")


def clean_text(col: Column) -> Column:
    """Training-corpus text cleanup: strip non-alphanumeric-punctuation
    control chars, collapse repeated punctuation, normalize whitespace,
    lowercase. A fixed regexp_replace chain (JVM-side, identical
    expression in the oracle SQL)."""
    out = F.regexp_replace(col, r"[^ -~]", " ")  # non-printable-ASCII
    out = F.regexp_replace(out, r"([!?.,;:])\1+", r"$1")  # !!! -> !
    out = F.regexp_replace(out, r"\s+", " ")
    return F.lower(F.trim(out))


# Gopher-style repetition/shape thresholds (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", appendix A1.1 — public paper): word
# count band, mean word length band, minimum alpha-word fraction,
# maximum symbol-to-word ratio
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_SYMBOLS = ("#", "...")


def gopher_metrics(col: Column) -> dict[str, Column]:
    """Word-level Gopher quality-filter signals as named columns:
    n_words, mean_word_len, alpha_frac (words containing a letter),
    symbol_ratio ('#'/'...' occurrences per word), and the pass flag
    over the published thresholds. Pure JVM expressions."""
    toks = tokens(col)
    n_words = F.size(toks).cast("long")
    mean_wl = F.length(F.regexp_replace(F.trim(col), r"\s+", "")) / n_words
    alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-zA-Z]"))).cast("long")
    alpha_frac = alpha / n_words
    n_sym = sum(
        (
            (F.length(col) - F.length(F.replace(col, F.lit(s))))
            / len(s)
        ).cast("long")
        for s in GOPHER_SYMBOLS
    )
    symbol_ratio = n_sym / n_words
    passed = (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_wl <= GOPHER_MAX_MEAN_WORD_LEN)
        & (alpha_frac >= GOPHER_MIN_ALPHA_FRAC)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
    )
    return {
        "n_words": n_words,
        "mean_word_len": F.round(mean_wl, 6),
        "alpha_frac": F.round(alpha_frac, 6),
        "symbol_ratio": F.round(symbol_ratio, 6),
        "gopher_pass": passed,
    }


# PII patterns (shared with the oracle SQL verbatim)
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PHONE_RE = r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"


def pii_redact(col: Column) -> dict[str, Column]:
    """PII scrubbing for training corpora: mask emails/phone numbers
    with typed placeholders and count the redactions. JVM-side regexes
    only — runs at scan speed, no Python."""
    n_email = F.regexp_count(col, F.lit(EMAIL_RE)).cast("long")
    n_phone = F.regexp_count(col, F.lit(PHONE_RE)).cast("long")
    redacted = F.regexp_replace(
        F.regexp_replace(col, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return {"redacted": redacted, "n_emails": n_email, "n_phones": n_phone}


def _marker_filter(markers: tuple[str, ...]):
    # single-argument lambda on purpose: F.filter passes the element
    # index to two-argument callables (would clobber a default arg)
    return lambda x: _in_list(x, markers)


def lang_scores(col: Column) -> dict[str, Column]:
    toks = tokens(col)
    return {
        lang: F.size(F.filter(toks, _marker_filter(markers))).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(col: Column) -> Column:
    """Argmax of marker-token counts; ties resolve in LANG_MARKERS order;
    all-zero → 'und' (undetermined)."""
    scores = lang_scores(col)
    langs = list(LANG_MARKERS)
    best = F.greatest(*[scores[l] for l in langs])
    expr = F.lit("und")
    # build reversed so earlier languages win ties
    for lang in reversed(langs):
        expr = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


# --- benchmark decontamination -------------------------------------------


def word_tokens(col: Column) -> Column:
    """Word-level tokenization shared with the graph operators: lower +
    split on non-alphanumeric runs, empties dropped."""
    return F.filter(
        F.split(F.lower(col), "[^a-z0-9]+"), lambda t: t != F.lit("")
    )


def word_ngrams(toks: Column, n: int) -> Column:
    """All word n-grams of a token array as space-joined strings
    (empty array when the doc is shorter than n — guarded explicitly:
    F.sequence(1, 0) would otherwise count DOWN to [1, 0] and make
    slice() throw on start index 0)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _gram_batches(n: int, with_pos: bool):
    """mapInPandas worker: (doc_id, text) batches → one row per word
    n-gram OCCURRENCE (every position, duplicates kept — unlike
    ``dedup._shingle_batches``, which emits per-doc DISTINCT shingles
    of the whitespace tokenizer). Tokenizer parity with
    ``word_tokens``: lower + split on [^a-z0-9]+ runs, empties
    dropped (the ASCII regex is identical in Java and Python; the
    same Python-side .lower() discipline as ``repetition_metrics``
    and ``heavy_hitters.bigram_stream``). ``with_pos`` adds the
    1-based gram start position — the contract of
    ``posexplode(word_ngrams(...))``'s p0 + 1."""
    import re as _re

    pat = _re.compile(r"[^a-z0-9]+")

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            ids: list = []
            poss: list = []
            grams: list = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [t for t in pat.split((text or "").lower()) if t]
                if len(toks) < n:
                    continue
                for i in range(len(toks) - n + 1):
                    ids.append(did)
                    grams.append(" ".join(toks[i : i + n]))
                    if with_pos:
                        poss.append(i + 1)
            out = {"doc_id": pd.Series(ids, dtype="int64")}
            if with_pos:
                out["pos"] = pd.Series(poss, dtype="int64")
            out["gram"] = pd.Series(grams, dtype="object")
            yield pd.DataFrame(out)

    return fn


def gram_stream(
    docs,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_pos: bool = False,
):
    """All word n-gram occurrences of a corpus as (doc_id[, pos],
    gram) rows — the Arrow-batched equivalent of
    ``explode(word_ngrams(word_tokens(text), n))`` (bit-identical
    output, pinned in tests/test_text_ops.py). The HOF form evaluates
    its transform lambda (slice + concat_ws per gram) INTERPRETED,
    outside whole-stage codegen — the repo-wide trap that already
    moved shingling (``dedup.doc_shingles``) and bigrams
    (``heavy_hitters.bigram_stream``) to Python passes; this measured
    2.9 s → 0.55 s for 196k 16-grams at sf0.1 before scatter
    parallelism (guide §4.2). ``scatter`` is a no-op only on a plain
    scan that already yields enough splits; after an exchange it
    always adds one round-robin repartition."""
    from aggregator_spark.operators.util import scatter

    schema = (
        "doc_id long, pos long, gram string"
        if with_pos
        else "doc_id long, gram string"
    )
    return scatter(
        docs.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
    ).mapInPandas(_gram_batches(n, with_pos), schema)


def contamination_flags(docs, probes, n: int = 8):
    """Benchmark decontamination: flag every document that contains any
    probe n-gram (the standard test-set-overlap filter for LLM training
    corpora — e.g. GPT-3 appendix C / Gopher §A.4 style n-gram
    matching, here exact word-8-grams).

    ``probes`` is a DataFrame with one string column ``probe``
    (space-joined n-grams of the protected set). Returns one row per
    input doc: (doc_id, contaminated, n_hits) where n_hits counts
    DISTINCT matched n-grams.

    Scale shape: the probe set is benchmark-sized (thousands), always
    broadcastable; docs explode to n-grams but the broadcast hash join
    filters map-side, so the only shuffle is the per-doc hit count —
    cardinality ≤ docs. Corpus never shuffles raw text. For probe sets
    too large to broadcast, compose with the bloom runtime filter
    (operators/runtime_filter.py) on the gram column.
    """
    grams = gram_stream(docs, n)
    hits = (
        grams.join(F.broadcast(probes), grams.gram == probes.probe)
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_hits"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_hits").isNotNull().alias("contaminated"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        )
    )


def repetition_metrics(docs, ns: tuple[int, ...] = (2, 3)):
    """Gopher-style repetitious-text metrics (§A.3 of the Gopher paper's
    quality pipeline): for each n, the fraction of characters covered by
    the most frequent word n-gram (count × gram_chars / doc_chars; ties
    resolve to the lexicographically smallest gram), plus the
    duplicate-token fraction 1 − distinct/total. Takes a DataFrame with
    (doc_id, text); returns (doc_id, rep2_frac, rep3_frac,
    dup_token_frac).

    Scale shape: ZERO shuffle — per-doc work over Arrow batches
    (``mapInPandas``), partition count preserved, so the metric rides
    the parquet scan. A column-expression form via a sorted-run
    higher-order aggregate was 10× slower at sf0.1 (HOF lambdas run
    interpreted; see HANDOFF.md trap list), hence the Arrow path.
    Rounding replicates DuckDB's round(double, 6) bit-exactly (the
    oracle engine for this query; see r6 below).
    """
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            *[
                T.StructField(f"rep{n}_frac", T.DoubleType())
                for n in ns
            ],
            T.StructField("dup_token_frac", T.DoubleType()),
        ]
    )

    def fn(batches):
        import math as _math
        import re as _re
        from collections import Counter

        import pandas as pd

        def r6(x: float) -> float:
            # DuckDB's round(double, 6) semantics EXACTLY: half-away
            # evaluated on the double product x*1e6 (pinned by a 30k
            # adversarial-tie sweep; Decimal-based HALF_UP schemes
            # diverge on binary-terminating 7th-digit ties like 41/640)
            return _math.copysign(
                _math.floor(abs(x) * 1e6 + 0.5), x
            ) / 1e6

        pat = _re.compile(r"[^a-z0-9]+")
        for pdf in batches:
            out = {"doc_id": []}
            for n in ns:
                out[f"rep{n}_frac"] = []
            out["dup_token_frac"] = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                text = text or ""
                ts = [t for t in pat.split(text.lower()) if t]
                chars = len(text)
                out["doc_id"].append(did)
                for n in ns:
                    if len(ts) >= n and chars > 0:
                        cnt = Counter(
                            " ".join(ts[i : i + n])
                            for i in range(len(ts) - n + 1)
                        )
                        best = max(cnt.values())
                        bestg = min(
                            g for g, c in cnt.items() if c == best
                        )
                        frac = r6(best * len(bestg) / chars)
                    else:
                        frac = 0.0
                    out[f"rep{n}_frac"].append(frac)
                out["dup_token_frac"].append(
                    r6(1.0 - len(set(ts)) / len(ts)) if ts else 0.0
                )
            yield pd.DataFrame(out)

    return docs.select("doc_id", "text").mapInPandas(fn, schema)
