"""Round-13 catalog entries: the streaming perceptual serve.

``served_media_near_dup`` — the warclite ingest store's three served
near-dup views (image dHash / audio spectral fingerprint / video
sampled-frame-hash set; streaming/warclite_ingest_stream.py) over a
media corpus derived from the scale factor's documents, landed and
drained as a real two-wave container stream with a mid-build
compaction (sources/media_store.py). The oracle is the same
closed-form signature lookup + banding + recursive closure as the
batch ``*_near_dup_keep`` entries (oracles_analytics13.py), so the
ENTIRE streaming path — landing source, offset log, per-batch
bloom+exact dedup fold, decode-once signature relations, compaction,
serve-time composition — is value-checked end to end against DuckDB,
not rows-only.

Reference analogue: the reference's serving loop (cybergreen-net/
aggregator main.py S7/S8 — files land, get folded once, serve
queries); here the fold is dedup+decode instead of a COPY, and the
served relation is the perceptual dedup verdict a 100 TB media crawl
needs (decode cost ∝ DISTINCT payloads ever landed, serve cost ∝
arrivals — the store is what makes steady-state perceptual dedup
decode-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def q_served_media_near_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(modality, doc_id, component, keep) for every landed media doc:
    the union of the store's three served perceptual views. Reads the
    content-stamped streaming store (building it cold — the bench key
    ``media_store_build`` times that build; steady state pays zero
    decode)."""
    from aggregator_spark.sources.media_store import cached_media_store
    from aggregator_spark.streaming.warclite_ingest_stream import (
        served_audio_near_dup,
        served_image_near_dup,
        served_video_near_dup,
    )

    root = cached_media_store(spark, sf_dir)
    # the three views are independent and each runs the star-CC loop
    # eagerly while building its plan — build them on driver threads so
    # one modality's component rounds back-fill the executors idled by
    # another's convergence tail (guide §2.6). Safe since r13's
    # `_ckpt_ids`: each CC loop tracks its own checkpoint blocks off
    # the LogicalRDD plan instead of diffing the global persistent set
    # (the diff was why this overlap failed when first tried).
    from aggregator_spark.parallel import run_jobs

    builders = (
        ("image", served_image_near_dup),
        ("audio", served_audio_near_dup),
        ("video", served_video_near_dup),
    )
    parts = run_jobs([
        lambda name=name, fn=fn: fn(spark, root).select(
            F.lit(name).alias("modality"), "doc_id", "component", "keep"
        )
        for name, fn in builders
    ])
    out = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return out.orderBy("modality", "doc_id")


ANALYTICS13_QUERIES = {
    "served_media_near_dup": q_served_media_near_dup,
}
