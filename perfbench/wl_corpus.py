"""corpus_prepare: the LLM corpus-preparation path over a seeded corpus.

``operators.dedup.lsh_buckets`` builds the bucket index, then
``llm_queries.corpus_prepare`` runs quality gate → fuzzy dedup → span
removal → chunking → packing, and the result is written to parquet. A
step passes when no planted verbatim copy survives and the output hashes
the same as every other step of the same seed and the same
``aggregator_spark`` source, in this run and in earlier runs in the same
checkout.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time

import gen_corpus

DOCS = 2000


def prepare(work: str, seed: int) -> dict:
    src, props = gen_corpus.cached(os.path.join(work, "cache"), seed, DOCS)
    with open(os.path.join(src, "planted.json")) as fh:
        planted = json.load(fh)
    return {
        "src": src,
        "docs": os.path.join(src, "documents.parquet"),
        "props": props,
        "rows": props["docs"],
        "copies": set(planted["verbatim"]) | set(planted["near"]),
        "verbatim": set(planted["verbatim"]),
        "hash_file": os.path.join(src, f"output_{_code_version()}.sha256"),
    }


def _code_version() -> str:
    """A hash of the ``aggregator_spark`` sources, so an output hash is
    only compared between runs of the same code."""
    import aggregator_spark

    root = os.path.dirname(aggregator_spark.__file__)
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_corpus(spark, ctx: dict, tag: str, tracer=None, i: int = 0) -> dict:
    from aggregator_spark.llm_queries import corpus_prepare
    from aggregator_spark.operators.dedup import lsh_buckets

    out = os.path.join(ctx["out"], f"corpus_{tag}")
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    docs = spark.read.parquet(ctx["docs"])
    if tracer is None:
        buckets = lsh_buckets(docs)
        corpus_prepare(docs, buckets).write.parquet(out)
    else:
        with tracer.span("operators.dedup", "lsh_buckets", i):
            buckets = tracer.force(lsh_buckets(docs))
        with tracer.span("llm_queries.corpus_prepare", "corpus_prepare", i):
            prepared = tracer.force(corpus_prepare(docs, buckets))
        with tracer.span("sink", "write.parquet", i):
            prepared.write.parquet(out)
    rows = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    result = {
        "ids": {r[0] for r in rows},
        "sha256": hashlib.sha256(repr(rows).encode()).hexdigest(),
    }
    ok, why = check(ctx, result)
    wall = time.perf_counter() - t0
    return {"wall_s": wall, "ok": ok, "why": why, "result": result}


def check(ctx: dict, result: dict) -> tuple[bool, str]:
    kept = ctx["verbatim"] & result["ids"]
    if kept:
        return False, f"{len(kept)} planted verbatim copies kept, e.g. {sorted(kept)[:3]}"
    if not os.path.exists(ctx["hash_file"]):
        tmp = f"{ctx['hash_file']}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            fh.write(result["sha256"])
        os.replace(tmp, ctx["hash_file"])
    with open(ctx["hash_file"]) as fh:
        want = fh.read()
    if result["sha256"] != want:
        return False, f"output hash {result['sha256'][:12]} differs from {want[:12]}"
    return True, ""


def _persisted(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def touch(spark, ctx: dict) -> None:
    spark.read.parquet(ctx["docs"]).count()


def step(spark, ctx: dict, i: int) -> dict:
    before = _persisted(spark)
    r = run_corpus(spark, ctx, str(i % 2))
    return {
        "wall_s": r["wall_s"], "ok": r["ok"], "why": r["why"],
        "counters": {
            "checkpoints.persisted_rdds_delta": _persisted(spark) - before,
            "operators.dedup.planted_dup_recall": _recall(ctx, r["result"]),
        },
    }


def _recall(ctx: dict, result: dict) -> float:
    """Share of planted copies (verbatim and near) absent from the output."""
    return len(ctx["copies"] - result["ids"]) / len(ctx["copies"])


def traced_step(spark, ctx: dict, i: int, tracer) -> dict:
    """Spans around ``lsh_buckets`` and ``corpus_prepare`` from here, and
    around the dedup, components and corpus operators it calls, whose
    module attributes are wrapped for the step. The candidate-pair and
    verification counts are recomputed after the windows close."""
    from pyspark.sql import DataFrame

    import aggregator_spark.operators.components as comp
    import aggregator_spark.operators.corpus as corpus
    import aggregator_spark.operators.dedup as dedup
    from aggregator_spark.llm_queries import JACCARD_THRESHOLD
    from spans import patched

    layer_of = {
        "minhash_dedup_keep": "operators.dedup",
        "dedup_span_rewrite": "operators.dedup",
        "dedup_clusters": "operators.components",
        "doc_chunks": "operators.corpus",
        "pack_sequences": "operators.corpus",
    }
    captured: dict = {}

    def wrap(module, attr, orig):
        def call(*args, **kwargs):
            with tracer.span(layer_of[attr], attr, i):
                out = orig(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = tracer.force(out)
            captured[attr] = (args, kwargs, out)
            return out

        return call

    targets = [(dedup, "minhash_dedup_keep"), (dedup, "dedup_span_rewrite"),
               (comp, "dedup_clusters"), (corpus, "doc_chunks"), (corpus, "pack_sequences")]
    with patched(targets, wrap):
        r = run_corpus(spark, ctx, f"traced{i % 2}", tracer, i)

    args, kwargs, _ = captured["minhash_dedup_keep"]
    survivors = args[0]
    cand = dedup.lsh_candidate_pairs(survivors, buckets=kwargs["buckets"]).cache()
    n_cand = cand.count()
    n_verified = dedup.verified_jaccard_pairs(survivors, cand, threshold=JACCARD_THRESHOLD).count()
    cand.unpersist()
    counters = {
        "operators.dedup.candidate_pairs": n_cand,
        "operators.dedup.verified_ratio": n_verified / n_cand if n_cand else 0.0,
        "operators.dedup.planted_dup_recall": _recall(ctx, r["result"]),
        "operators.corpus.chunks": captured["doc_chunks"][2].count(),
    }
    tracer.release()
    return {"wall_s": r["wall_s"], "ok": r["ok"], "why": r["why"], "counters": counters}


def end_to_end(r: dict, ctx: dict) -> dict:
    wall = r["wall_s"]
    # the corpus is prepared as one batch
    return {"wall_s": wall, "rows_per_s": ctx["rows"] / wall, "batch_p50_s": wall}
