"""scanlog_nightly: the paper's two-stage run, end to end.

Stage 1 (``plans.stage1.run_stage1``) turns the gzipped feeds into the
single sorted CSV; stage 2 (``plans.stage2.run_stage2``) reads that CSV
and derives the star schema, which is published into an embedded Derby
database through ``sources.jdbc.write_jdbc`` followed by the reference's
constraint and index DDL (``execute_ddl``), as tests/test_jdbc_live.py
does. A step passes when the CSV equals the DuckDB recompute row for row
and every DDL statement succeeds (Derby enforces the foreign keys).
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import time

import gen_scanlog
import oracle

SIZES = {"days": 14, "feeds": 5, "rows_per_file": 4000}
THRESHOLD = 3
TOUCH_FILES = 5  # one day of feeds

# columns carrying PK/FK constraints must be NOT NULL for Derby to
# accept the DDL (Postgres sets NOT NULL implicitly on ADD PRIMARY KEY)
KEY_COLUMNS = {
    "dim_risk": ["id"],
    "dim_country": ["id"],
    "dim_asn": ["number", "country"],
    "dim_date": ["date"],
    "fact_count": ["date", "risk", "country", "asn"],
    **{f"agg_risk_country_{t}": ["risk", "country"] for t in ("week", "month", "quarter", "year")},
}
STAGE1_CSV_SCHEMA = (
    "date timestamp, risk int, country string, asn long, count long, count_amplified double"
)


def prepare(work: str, seed: int) -> dict:
    src, props = gen_scanlog.cached(os.path.join(work, "cache"), seed, THRESHOLD, **SIZES)
    files = sorted(glob.glob(os.path.join(src, "scans_*.csv.gz")))
    return {
        "src": src,
        "files": files,
        "props": props,
        "rows": props["rows"],
        "expected": oracle.stage1_expected(files, os.path.join(src, "dim_risk.csv"), THRESHOLD),
    }


def _dims(spark, src: str):
    return (
        spark.read.csv(f"{src}/dim_risk.csv", schema="id int, slug string, amplification_factor double"),
        spark.read.csv(f"{src}/dim_country.csv", schema="id string, name string"),
        spark.read.csv(f"{src}/dim_asn.csv", schema="number long, title string, country string"),
    )


def _publish(spark, tables: dict, url: str, span) -> None:
    """Write every table through ``write_jdbc``, then apply the key,
    constraint and index DDL."""
    from pyspark.sql import types as T

    from aggregator_spark.sources.jdbc import constraint_ddl, execute_ddl, index_ddl, write_jdbc

    for name, df in tables.items():
        # Spark's Derby dialect maps strings to CLOB, which cannot carry
        # keys or indexes
        types = ", ".join(
            f"{f.name} VARCHAR(255)" for f in df.schema.fields if isinstance(f.dataType, T.StringType)
        )
        with span("write_jdbc"):
            write_jdbc(df, url, f'"{name}"', properties={"createTableColumnTypes": types} if types else {})
        with span("execute_ddl"):
            execute_ddl(spark, url, [f'ALTER TABLE "{name}" ALTER COLUMN "{c}" NOT NULL' for c in KEY_COLUMNS[name]])
    with span("execute_ddl"):
        execute_ddl(spark, url, constraint_ddl("derby"))
    with span("execute_ddl"):
        execute_ddl(spark, url, index_ddl("derby"))


def _drop_derby(spark, path: str) -> None:
    from py4j.protocol import Py4JJavaError

    try:
        spark._jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{path};shutdown=true")
    except Py4JJavaError:
        pass  # Derby reports a completed shutdown as an SQLException
    shutil.rmtree(path, ignore_errors=True)


def _no_span(name):
    return contextlib.nullcontext()


def run_pipeline(spark, ctx: dict, tag: str, span=_no_span) -> dict:
    """Stage 1 → check → stage 2 → publish. Returns the stage results and
    the seconds from start to checked result."""
    from aggregator_spark.plans.stage1 import run_stage1
    from aggregator_spark.plans.stage2 import run_stage2

    out = os.path.join(ctx["out"], f"nightly_{tag}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    dim_risk, dim_country, dim_asn = _dims(spark, ctx["src"])
    url = f"jdbc:derby:{out}/derby;create=true"

    t0 = time.perf_counter()
    with span("plans.stage1"):
        r1 = run_stage1(spark, ctx["files"], dim_risk, threshold=THRESHOLD,
                        output_csv=f"{out}/count.csv")
    ok, why = oracle.compare_rows(oracle.read_stage1_csv(r1.csv_path), ctx["expected"])
    fact = spark.read.csv(r1.csv_path, schema=STAGE1_CSV_SCHEMA, timestampFormat="yyyy-MM-dd HH:mm:ss")
    with span("plans.stage2"):
        r2 = run_stage2(spark, fact, dim_risk, dim_country, dim_asn)
    _publish(spark, r2.tables(), url, span)
    wall = time.perf_counter() - t0
    _drop_derby(spark, f"{out}/derby")
    return {"wall_s": wall, "ok": ok, "why": why, "stage1": r1, "stage2": r2, "csv": r1.csv_path}


def touch(spark, ctx: dict) -> None:
    from aggregator_spark.sources.logentry import read_logentry_csv

    read_logentry_csv(spark, ctx["files"][:TOUCH_FILES]).count()



def step(spark, ctx: dict, i: int) -> dict:
    r = run_pipeline(spark, ctx, str(i % 2))
    return {"wall_s": r["wall_s"], "ok": r["ok"], "why": r["why"]}


def traced_step(spark, ctx: dict, i: int, tracer) -> dict:
    """One step with a span around every layer call. Lazy outputs are
    forced inside their span, so each layer's window holds its own work;
    the layers' own counters are computed after their windows close."""
    from pyspark.sql import DataFrame

    import aggregator_spark.plans.stage1 as s1
    import aggregator_spark.plans.stage2 as s2
    from aggregator_spark.operators.aggregate import dedup_observations, group_count
    from spans import patched

    layer_of = {
        "read_logentry_csv": "sources.logentry",
        "aggregate_counts": "operators.aggregate",
        "ordered_fact": "operators.aggregate",
        "amplified_counts": "operators.amplify",
        "write_single_csv": "sources.csv_sink",
        "derive_dim_date": "operators.calendar",
        "rollup_cube": "operators.cube",
        "missing_countries": "operators.repair",
        "missing_asns": "operators.repair",
        "repair_dim_country": "operators.repair",
        "repair_dim_asn": "operators.repair",
    }
    captured: dict = {}

    def wrap(module, attr, orig):
        def call(*args, **kwargs):
            with tracer.span(layer_of[attr], attr, i):
                out = orig(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = tracer.force(out)
            captured[attr] = out
            return out

        return call

    def span(name):
        if name in ("write_jdbc", "execute_ddl"):
            return tracer.span("sources.jdbc", name, i)
        return tracer.span(name, name, i)

    targets = [(s1, a) for a in ("read_logentry_csv", "aggregate_counts", "ordered_fact",
                                 "amplified_counts", "write_single_csv")]
    targets += [(s2, a) for a in ("derive_dim_date", "rollup_cube", "missing_countries",
                                  "missing_asns", "repair_dim_country", "repair_dim_asn")]
    with patched(targets, wrap):
        r = run_pipeline(spark, ctx, f"traced{i % 2}", span)

    logentry = captured["read_logentry_csv"]
    rows = logentry.count()
    distinct = dedup_observations(logentry)
    groups = group_count(distinct, threshold=-1).count()
    counters = {
        "sources.logentry.rows": rows,
        "sources.logentry.null_ts_rows": logentry.filter("date IS NULL").count(),
        "operators.aggregate.distinct_ratio": distinct.count() / rows,
        "operators.aggregate.having_kept_ratio": captured["aggregate_counts"].count() / groups,
        "sources.csv_sink.bytes": os.path.getsize(r["csv"]),
        "operators.repair.missing_asns": len(r["stage2"].missing_asns),
        "sources.jdbc.rows": sum(df.count() for df in r["stage2"].tables().values()),
    }
    tracer.release()
    ddl = [s for s in tracer.spans if s["iteration"] == i and s["call"] == "execute_ddl"]
    counters["sources.jdbc.ddl_s"] = sum(s["end"] - s["start"] for s in ddl)
    return {"wall_s": r["wall_s"], "ok": r["ok"], "why": r["why"], "counters": counters}


def end_to_end(r: dict, ctx: dict) -> dict:
    wall = r["wall_s"]
    # the nightly run takes its whole input as one batch
    return {"wall_s": wall, "rows_per_s": ctx["rows"] / wall, "batch_p50_s": wall}
