"""Benchmark entry point; run from the root of a checkout:

    python3 perfbench/run.py --workload scanlog_nightly --seed 1 --seconds 10 --trace 0

Builds the workload's inputs from the seed (cached per seed under
``.perfbench_work/``), sets up the Spark session several times, then runs
the workload in a closed loop with one client for ``--seconds``. The
end-to-end metrics are those of the loop's first step, cold in a fresh
session. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer ones with ``--trace 1``). The
line before it describes the inputs and the raw samples. A traced run
also writes its spans to ``.perfbench_work/trace_<workload>_seed<n>.json``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

WORKLOADS = {
    "scanlog_nightly": "wl_nightly",
    "scanlog_stream": "wl_stream",
    "corpus_prepare": "wl_corpus",
}


def _product_root() -> str:
    """The checkout root holding the program under test. The benchmark
    measures that tree only, never an installed copy."""
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "aggregator_spark", "__init__.py")):
        sys.exit(f"no aggregator_spark package under {root}: run from the root of a checkout")
    return root


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = _product_root()
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep the temporary files of Python, py4j and DuckDB in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    import harness
    from harness import closed_loop, log, median, set_up

    wl = importlib.import_module(WORKLOADS[args.workload])
    ctx = wl.prepare(work, args.seed)
    # this run's outputs; removed at the end
    ctx["out"] = os.path.join(work, "run", str(os.getpid()))
    info = {"workload": args.workload, "seed": args.seed, "inputs": ctx["props"]}
    log(f"inputs: {json.dumps(ctx['props'])}")

    try:
        with harness.RssSampler() as rss:
            spark, setup_secs = set_up(wl, ctx, work, trace=bool(args.trace))
            try:
                rss.reset()
                results, attempted, failed = closed_loop(
                    args.seconds, lambda i: _measured(wl, spark, ctx, i, rss)
                )
                # the end-to-end metrics come from the first step alone,
                # however many fit in --seconds; later ones are checked
                # and recorded only
                first = [r for r in results if r["i"] == 0]
                if not first:
                    log("the first step failed")
                    return 1
                info.update(setup_samples_s=setup_secs,
                            steps=[{k: v for k, v in r.items() if k not in ("ok", "why")} for r in results])
                if args.trace:
                    metrics, traced = _traced(spark, wl, ctx, args, results, work)
                    info["traced_steps"] = [r["counters"] for r in traced[1:]]
                    attempted += len(traced)
                    failed += sum(not r["ok"] for r in traced)
                else:
                    metrics = {
                        "setup_s": median(setup_secs),
                        "heap_live_mb": first[0]["heap_live_mb"],
                        **wl.end_to_end(first[0], ctx),
                    }
                    metrics = {k: {"value": v, "unit": harness.END_TO_END[k]} for k, v in metrics.items()}
            finally:
                harness.stop_session(spark)
    finally:
        shutil.rmtree(ctx["out"], ignore_errors=True)

    print(json.dumps(info))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _measured(wl, spark, ctx: dict, i: int, rss) -> dict:
    """One step. The first also records the live heap and the peak
    resident memory since the sampler's reset, both read after its
    ``wall_s`` was taken."""
    import harness

    r = wl.step(spark, ctx, i)
    if i == 0:
        r["peak_rss_mb"] = rss.peak_mb()
        r["heap_live_mb"] = harness.live_heap_mb(spark)
    return r


def _traced(spark, wl, ctx, args, untraced: list[dict], work: str):
    """Traced steps after the untraced loop: per-layer medians, the own
    counters of the last traced step, and the tracing overhead against one
    more untraced step, as warm as the traced ones. Returns the metrics and
    every step run here."""
    import harness
    from harness import closed_loop, median
    from spans import SparkProbe, Tracer, layer_totals

    baseline = wl.step(spark, ctx, len(untraced))
    tracer = Tracer(SparkProbe(spark), run_id=f"{args.workload}-seed{args.seed}-{int(time.time())}")
    results, _, _ = closed_loop(args.seconds, lambda i: wl.traced_step(spark, ctx, i, tracer))
    finished = tracer.finished()
    per_iter = [layer_totals(finished, i) for i in sorted({s["iteration"] for s in finished})]
    metrics = {}
    for layer in harness.LAYERS:
        for k in harness.LAYER_UNITS:
            metrics[f"{layer}.{k}"] = median([t.get(layer, {}).get(k, 0.0) for t in per_iter])
    own = dict.fromkeys(harness.OWN_COUNTERS, 0.0)
    own.update({k: v for r in untraced for k, v in r.get("counters", {}).items()})
    if results:
        own.update(results[-1]["counters"])
        own["trace.overhead_s"] = median([r["wall_s"] for r in results]) - baseline["wall_s"]
    metrics.update(own)
    tracer.write(
        os.path.join(work, f"trace_{args.workload}_seed{args.seed}.json"),
        {"untraced_steps": [{k: v for k, v in r.items() if k not in ("ok", "why")} for r in untraced],
         "baseline_wall_s": baseline["wall_s"],
         "traced_wall_s": [r["wall_s"] for r in results]},
    )
    units = harness.per_layer_units()
    return {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}, [baseline] + results


if __name__ == "__main__":
    sys.exit(main())
