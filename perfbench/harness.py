"""Session set-up, the closed measuring loop, memory sampling and the
metric tables shared by the workloads."""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

# per-layer metrics: every layer reports the Spark counters of its
# calls' windows; some report counters of their own
LAYERS = (
    "sources.logentry",
    "operators.aggregate",
    "operators.amplify",
    "sources.csv_sink",
    "plans.stage2",
    "operators.calendar",
    "operators.cube",
    "operators.repair",
    "sources.jdbc",
    "streaming.ingest",
    "streaming.sinks",
    "operators.dedup",
    "operators.components",
    "operators.corpus",
)
LAYER_UNITS = {
    "s": "s",
    "jobs": "count",
    "stages": "count",
    "task_s": "s",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "spill_mb": "MB",
}
OWN_COUNTERS = {
    "sources.logentry.rows": "count",
    "sources.logentry.null_ts_rows": "count",
    "operators.aggregate.distinct_ratio": "ratio",
    "operators.aggregate.having_kept_ratio": "ratio",
    "sources.csv_sink.bytes": "bytes",
    "operators.repair.missing_asns": "count",
    "sources.jdbc.rows": "count",
    "sources.jdbc.ddl_s": "s",
    "streaming.ingest.state_rows.dedupe": "count",
    "streaming.ingest.state_mb.dedupe": "MB",
    "streaming.ingest.state_rows.window": "count",
    "streaming.ingest.state_growth_rows_per_batch.dedupe": "count",
    "streaming.ingest.add_batch_s": "s",
    "streaming.ingest.wal_commit_s": "s",
    "streaming.ingest.batch_growth": "ratio",
    "streaming.sinks.bytes_written": "bytes",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_ratio": "ratio",
    "operators.dedup.planted_dup_recall": "ratio",
    "operators.corpus.chunks": "count",
    "checkpoints.persisted_rdds_delta": "count",
    "trace.overhead_s": "s",
}
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "batch_p50_s": "s",
    "heap_live_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    out = {f"{layer}.{k}": u for layer in LAYERS for k, u in LAYER_UNITS.items()}
    out.update(OWN_COUNTERS)
    return out


def median(values) -> float:
    return float(statistics.median(values))


def build_once(path: str, build) -> str:
    """Create ``path`` by calling ``build(tmp)`` and renaming ``tmp`` into
    place, unless ``path`` exists. An interrupted build leaves only a
    temporary name behind; of two runs building at once, one rename wins
    and the other drops its copy."""
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        build(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            if not os.path.exists(path):
                raise
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _tree_rss_kb(root: int) -> int:
    """Resident memory of ``root`` and all its descendants, in KiB, with
    each shared page split among the processes sharing it (PSS): a child
    forked by the JVM would otherwise count the whole heap twice."""
    total = 0
    for pid in _descendants(root):
        try:
            total += _pss_kb(pid)
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total


class RssSampler:
    """Samples the resident memory of this process tree (this Python
    process, the JVM and the Python workers) on a thread; ``peak_mb``
    covers the window between ``reset`` and now."""

    def __init__(self, interval_s: float = 1.0) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        self.peak_kb = _tree_rss_kb(os.getpid())

    def peak_mb(self) -> float:
        return max(self.peak_kb, _tree_rss_kb(os.getpid())) / 1024


def live_heap_mb(spark) -> float:
    """JVM heap in use once full collections stop freeing memory: what the
    driver (in local mode also the executor) still holds, such as state
    stores, cached and broadcast blocks and the status listener's records.
    Python's collector runs first, so JVM objects held only by dropped
    Python handles are released; the JVM then collects until the heap
    shrinks by less than 1 MB, because Spark's cleaner frees shuffle and
    broadcast state only after a collection has found it unreachable."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = float("inf")
    for _ in range(8):
        jvm.java.lang.System.gc()
        used = bean.getHeapMemoryUsage().getUsed() / 2**20
        if last - used < 1.0:
            break
        last = used
        time.sleep(1.0)  # for the cleaner's thread
    return used


def session_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap is left as get_spark sets it (driver memory) and the JVM
    # sizes it (initial heap), so a step pays the heap growth that a
    # scheduled run of the product pays
    return {
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            f" -Dderby.stream.error.file={work}/derby.log"
        ),
    }


def start_session(work: str, trace: bool):
    from aggregator_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=session_conf(work, trace),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM by closing its stdin, and wait until it and
    every process it started (the Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    children = [p for p in _descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(os.path.exists(f"/proc/{p}") for p in children):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running: {children}")
        time.sleep(0.1)


def set_up(workload, ctx, work: str, trace: bool, times: int = 3):
    """Start the session ``times`` times, each followed by the workload's
    light first call into its input layer, stopping the session in
    between. The first start also launches the JVM. Returns the last
    session and each start's seconds."""
    secs = []
    spark = None
    for i in range(times):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work, trace)
        workload.touch(spark, ctx)
        secs.append(time.perf_counter() - t0)
        log(f"setup {i}: {secs[-1]:.2f}s")
    return spark, secs


def closed_loop(seconds: float, step) -> tuple[list[dict], int, int]:
    """Run ``step(i)`` back to back until ``seconds`` have passed (at
    least once). Each step returns a dict with ``wall_s`` and ``ok``; the
    loop adds its index ``i``. Returns (results of the passing steps,
    attempted, failed)."""
    results, attempted, failed = [], 0, 0
    t0 = time.perf_counter()
    while attempted == 0 or time.perf_counter() - t0 < seconds:
        attempted += 1
        try:
            r = step(attempted - 1)
        except Exception:  # a failed step is counted, the run goes on
            traceback.print_exc()
            failed += 1
            continue
        r["i"] = attempted - 1
        if r["ok"]:
            results.append(r)
        else:
            log(f"step {attempted - 1} failed its check: {r.get('why')}")
            failed += 1
    return results, attempted, failed
