"""Streaming ingest-time dedup: the ``dedup_bloom_ingest`` batch
entry (analytics_queries11) maintained incrementally over document
micro-batches, with a LOG-STRUCTURED BLOOM.

Shape::

    docwave source (replayable, offset-tracked waves of documents)
      → foreachBatch (wave N):
          fps   = wave's (doc_id, lede fingerprint)
          bloom = OR of bloom-word deltas with batch_id < N
          maybe = membership_col(fp, bloom)     (definite-miss ⇒ new)
          dup?  = maybe-sliver ⋈ fingerprint index (batch_id < N)
          write root/verdicts/batch_id=N  (doc_id, is_new)
          write root/fps/batch_id=N       (the wave's distinct fps)
          write root/bloom/batch_id=N     (the wave's nonzero words)

The bloom is INCREMENTAL BY CONSTRUCTION: bits only ever turn on, so
the filter of a union of waves is the bitwise OR of the per-wave
filters — the read-time ``bit_or`` over word deltas is exact. A
retried batch is harmless twice over: every read is SELF-EXCLUDING
(batch_id < N — a half-applied attempt never feeds its own retry, the
corpus_prepare_stream discipline) and every write overwrites its own
batch_id-keyed dir.

Semantics (pinned against a driver-side replay in
tests/test_streaming_ingest_dedup.py): a document is new iff no
document in any STRICTLY EARLIER wave shares its lede fingerprint.
Within-wave duplicates are all "new" — exactly the batch entry's
contract, where the whole batch probes the pre-batch corpus.

At 100 TB/day: the per-wave state growth is the wave's distinct
fingerprints plus its nonzero bloom words (both orders smaller than
the wave text); the probe cost is flat per arriving row at any corpus
size; m is fixed per store at creation (a bloom cannot grow
incrementally — resizing is a compaction-time rebuild from the exact
fingerprint index, which the store retains precisely so the bloom is
always reconstructible).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from aggregator_spark.streaming.corpus_prepare_stream import (
    register_docwave_source,
)

# fixed per store: sized for the driver-SF stream tests; a production
# store picks m for the corpus's expected fingerprint cardinality and
# rebuilds at compaction when the index outgrows it
STREAM_BLOOM_M = 1 << 18
STREAM_BLOOM_K = 3
_WORDS = STREAM_BLOOM_M // 64


def _p(root: str, *parts: str) -> str:
    return os.path.join(root, *parts)


def _prior_batches(root: str, sub: str, batch_id: int) -> list[str]:
    """Committed batch_id=K dirs with K < batch_id (self-excluding)."""
    d = _p(root, sub)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.startswith("batch_id="):
            k = int(name.split("=")[1])
            if k < batch_id:
                out.append(os.path.join(d, name))
    return sorted(out)


def _base_dir(root: str, sub: str) -> str | None:
    """The compacted base for ``sub``, crash-tolerantly: prefer the
    final dir; if a compaction crashed between parking the old base
    aside and renaming the new one into place, the ``.old`` dir (plus
    the still-undeleted delta dirs) IS the complete old state — serve
    it rather than silently dropping every fingerprint whose deltas
    the PRIOR compaction already folded away."""
    final = _p(root, "base", sub)
    if os.path.isdir(final):
        return final
    old = final + ".old"
    if os.path.isdir(old):
        return old
    return None


def _served_bloom_words(
    spark: SparkSession, root: str, batch_id: int
) -> list[int] | None:
    """OR of every prior wave's word deltas (+ the compacted base) —
    exact for any wave grouping because bits only turn on."""
    paths = _prior_batches(root, "bloom", batch_id)
    base = _base_dir(root, "bloom")
    if base is not None:
        paths.append(base)
    if not paths:
        return None
    rows = (
        spark.read.parquet(*paths)
        .groupBy("w")
        .agg(F.expr("bit_or(word)").alias("word"))
        .collect()
    )
    words = [0] * _WORDS
    for r in rows:
        words[r["w"]] = r["word"]
    return words


def _served_fps(
    spark: SparkSession, root: str, batch_id: int
) -> DataFrame | None:
    """Distinct fingerprints of every prior wave (+ compacted base)."""
    paths = _prior_batches(root, "fps", batch_id)
    base = _base_dir(root, "fps")
    if base is not None:
        paths.append(base)
    if not paths:
        return None
    return spark.read.parquet(*paths).select("fp").distinct()


def ingest_micro_batch(
    batch_df: DataFrame, batch_id: int, root: str
) -> None:
    """Fold one wave: verdicts from the PRE-wave state, then append
    the wave's fingerprints and bloom words as this batch's deltas."""
    from aggregator_spark.analytics_queries11 import _prefix_fp
    from aggregator_spark.operators.runtime_filter import (
        bloom_words_relation,
        membership_col,
    )

    spark = batch_df.sparkSession
    if not batch_df.take(1):
        return
    fps = batch_df.select(
        "doc_id", _prefix_fp(F.col("text")).alias("fp")
    ).localCheckpoint(eager=True)

    prior = _served_fps(spark, root, batch_id)
    if prior is None:
        verdicts = fps.select("doc_id", F.lit(True).alias("is_new"))
    else:
        words = _served_bloom_words(spark, root, batch_id)
        marked = fps.withColumn(
            "maybe",
            membership_col(
                F.col("fp"), words, m_bits=STREAM_BLOOM_M,
                k_hashes=STREAM_BLOOM_K,
            ),
        )
        hits = prior.withColumn("hit", F.lit(True))
        verified = (
            marked.filter(F.col("maybe"))
            .join(hits, "fp", "left")
            .select("doc_id", F.col("hit").isNull().alias("is_new"))
        )
        misses = marked.filter(~F.col("maybe")).select(
            "doc_id", F.lit(True).alias("is_new")
        )
        verdicts = verified.unionByName(misses)
    verdicts.write.mode("overwrite").parquet(
        _p(root, "verdicts", f"batch_id={batch_id}")
    )
    fps.select("fp").distinct().write.mode("overwrite").parquet(
        _p(root, "fps", f"batch_id={batch_id}")
    )
    # r13 (guide §4.1): keep the word deltas in the JVM — the old
    # build_bloom_words→createDataFrame round-trip collected the bitset
    # to the driver only to re-upload it, and the coalesce(1) re-upload
    # of a 32-slice Python-parallelized RDD paid one Python-runner
    # round trip per slice (~6 s). Same nonzero-words (w, word) layout.
    bloom_words_relation(
        fps, "fp", m_bits=STREAM_BLOOM_M, k_hashes=STREAM_BLOOM_K
    ).coalesce(1).write.mode("overwrite").parquet(
        _p(root, "bloom", f"batch_id={batch_id}")
    )


def run_ingest_dedup_stream(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    n_waves: int,
    max_waves: int | None = None,
    mod: int = 1,
) -> None:
    """Drain all available waves into the store (processAllAvailable —
    availableNow snapshots only a Simple reader's first prefetched
    batch, the known trap). Re-calling with a larger ``max_waves``
    resumes from the checkpoint — the restart seam the parity test
    exercises."""
    register_docwave_source(spark)
    stream = (
        spark.readStream.format("docwave")
        .option("sf_dir", sf_dir)
        .option("mod", str(mod))
        .option("n_waves", str(n_waves))
        .option("max_waves", str(max_waves or n_waves))
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: ingest_micro_batch(df, bid, root)
        )
        .option("checkpointLocation", _p(root, "checkpoint"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()


def served_verdicts(spark: SparkSession, root: str) -> DataFrame:
    """Every wave's (doc_id, is_new) — the stream's output log."""
    return spark.read.parquet(_p(root, "verdicts")).select(
        "doc_id", "is_new"
    )


def compact(spark: SparkSession, root: str) -> None:
    """Log-structured compaction: fold the fp deltas (+ any base) into
    one distinct base and the bloom deltas into one OR'd base, then
    drop the delta dirs. Per relation: new base to a temp dir, old
    base PARKED ASIDE (``<sub>.old``), temp renamed into place, delta
    dirs dropped, ``.old`` dropped LAST — so a crash at any point
    leaves a complete serving state (``_base_dir`` falls back to
    ``.old`` while the final dir is missing, and the delta dirs
    outlive both renames). The serving plans are identical before and
    after (pinned in the tests).

    The bloom base is ALWAYS rebuilt from the fps relation — the exact
    index the store retains precisely so the bloom is reconstructible
    (module docstring). Folding the served bloom deltas instead would
    bake in any divergence a mid-fold crash left (the ingest writes
    are ordered verdicts→features→fps→bloom, so a crash between the
    last two leaves fps of batch N with no bloom bits for it; once
    compaction deleted the delta dirs that gap would become permanent
    false definite-misses). Rebuilding from fps makes compaction the
    healing point — after it, the two bases agree by construction.
    Exactness: the bloom OF the fps set has every bit the delta OR
    had for still-present fps, plus the bits a torn write lost."""
    import shutil

    from aggregator_spark.operators.runtime_filter import (
        bloom_words_relation,
    )

    # build both new generations BEFORE touching the old state
    fps = _served_fps(spark, root, batch_id=1 << 60)
    if fps is None:
        raise ValueError(
            f"nothing to compact under {root}: no fp deltas or base"
        )
    fps = fps.localCheckpoint(eager=True)
    fps.write.mode("overwrite").parquet(_p(root, "base", "_fps_tmp"))
    # JVM-side rebuild (r13, guide §4.1) — same (w, word) nonzero-words
    # layout the delta writer emits; see ingest_micro_batch.
    bloom_words_relation(
        fps, "fp", m_bits=STREAM_BLOOM_M, k_hashes=STREAM_BLOOM_K
    ).coalesce(1).write.mode("overwrite").parquet(
        _p(root, "base", "_bloom_tmp")
    )
    for sub, tmp in (("fps", "_fps_tmp"), ("bloom", "_bloom_tmp")):
        final = _p(root, "base", sub)
        old = final + ".old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(final):
            os.rename(final, old)
        os.rename(_p(root, "base", tmp), final)
        shutil.rmtree(_p(root, sub), ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
