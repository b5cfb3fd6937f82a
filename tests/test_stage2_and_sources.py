"""Stage-2 goldens (dim_date, cubes, sentinels, repairs), manifest/
datapackage sources, config loader, single-file CSV sink — ported from
reference tests/aggregation_tests.py:359-527 and main.py semantics."""

from __future__ import annotations

import datetime
import json
import os
from textwrap import dedent

import pytest

from aggregator_spark.config import loads_config, split_s3_path
from aggregator_spark.operators.calendar import derive_dim_date
from aggregator_spark.operators.cube import rollup_cube
from aggregator_spark.operators.repair import (
    missing_asns,
    repair_dim_asn,
    repair_dim_country,
)
from aggregator_spark.plans.stage2 import run_stage2
from aggregator_spark.schemas import FACT_COUNT
from aggregator_spark.sources.csv_sink import write_single_csv
from aggregator_spark.sources.datapackage import (
    datapackage_schema,
    read_datapackage_resource,
)
from aggregator_spark.sources.manifest import create_manifest, manifest_paths

# fact_count seed, reference tests/aggregation_tests.py:441-448
FACT_SEED = [
    (datetime.date(2016, 9, 3), 0, "AA", 111111, 1, 30.8),
    (datetime.date(2016, 11, 13), 0, "ZZ", 999999, 33, 1353.0),
    (datetime.date(2016, 5, 22), 0, "AA", 111111, 10, 410.0),
    (datetime.date(2014, 10, 21), 0, "ZZ", 999999, 4, 25.2),
    (datetime.date(2014, 10, 3), 0, "AA", 111111, 2, 1113.8),
]


@pytest.fixture()
def fact(spark):
    return spark.createDataFrame(FACT_SEED, FACT_COUNT)


def test_dim_date_fields(spark, fact):
    # Q10-Q12 (reference main.py:390-401); ISO week + Monday week_start
    rows = {r["date"]: r for r in derive_dim_date(fact).collect()}
    assert len(rows) == 5
    r = rows[datetime.date(2016, 9, 3)]
    assert (r["month"], r["year"], r["quarter"]) == (9, 2016, 3)
    assert r["week"] == 35  # ISO week of 2016-09-03 (Saturday)
    assert r["week_start"] == datetime.date(2016, 8, 29)  # Monday
    assert r["week_end"] == datetime.date(2016, 9, 4)


def test_dim_date_iso_week_year_boundary(spark):
    # SURVEY.md §7 hard-item 4: pinned ISO-week semantics at Jan 1
    days = [(datetime.date(2016, 1, 1),), (datetime.date(2015, 12, 28),),
            (datetime.date(2021, 1, 1),)]
    df = spark.createDataFrame(days, "date date")
    rows = {r["date"]: r["week"] for r in derive_dim_date(df).collect()}
    assert rows[datetime.date(2016, 1, 1)] == 53  # ISO: belongs to 2015-W53
    assert rows[datetime.date(2015, 12, 28)] == 53
    assert rows[datetime.date(2021, 1, 1)] == 53  # 2020-W53


def test_cube_sentinels_and_sums(spark, fact):
    # Q13+Q14 (reference main.py:379-421)
    out = rollup_cube(fact, "year")
    rows = {(r["date"], r["risk"], r["country"]): r for r in out.collect()}
    # grand total: all three keys rolled up → sentinels
    total = rows[(datetime.date(1970, 1, 1), 100, "T")]
    assert total["count"] == 50
    assert total["count_amplified"] == pytest.approx(2932.8)
    # year-level rollup across countries
    y2016 = rows[(datetime.date(2016, 1, 1), 100, "T")]
    assert y2016["count"] == 44
    assert y2016["count_amplified"] == pytest.approx(30.8 + 1353.0 + 410.0)
    # fully-grouped cell survives with its own risk/country
    cell = rows[(datetime.date(2014, 1, 1), 0, "ZZ")]
    assert cell["count"] == 4
    # 2^3 grouping sets over (2 years × 1 risk × 2 countries) present
    assert len(rows) == 18


def test_stage2_all_tables_nonempty(spark, fact):
    # reference tests/aggregation_tests.py:433-455: every published table
    # non-empty given the 5-row seed
    dim_risk = spark.createDataFrame(
        [(0, "test-risk", 0.13456)], "id int, slug string, amplification_factor double"
    )
    dim_country = spark.createDataFrame(
        [("AA", "Test country"), ("ZZ", "Test country"), ("T", "global")],
        "id string, name string",
    )
    dim_asn = spark.createDataFrame(
        [(111111, "Test title", "AA")], "number long, title string, country string"
    )
    res = run_stage2(spark, fact, dim_risk, dim_country, dim_asn)
    for name, df in res.tables().items():
        assert df.count() > 0, f"{name} is empty"
    # 999999 was missing from dim_asn → repaired with its fact country
    assert res.missing_asns == [999999]
    repaired = {r["number"]: r for r in res.dim_asn.collect()}
    assert repaired[999999]["title"] == "unknown"
    assert repaired[999999]["country"] == "ZZ"
    assert res.missing_countries == []


def test_repair_dim_country_placeholders(spark, fact):
    dim_country = spark.createDataFrame([("AA", "Test country", "s", "r", "c")],
                                        "id string, name string, slug string, region string, continent string")
    out = repair_dim_country(fact, dim_country)
    rows = {r["id"]: r for r in out.collect()}
    assert rows["ZZ"]["name"] == "unknown"  # U2, reference main.py:446-452
    assert rows["ZZ"]["continent"] == "unknown"
    assert len(rows) == 2


def test_repair_asn_first_wins_and_xy_fallback(spark):
    # U3+U4 (reference main.py:479-494): one ASN with two countries →
    # first wins (country ASC pinned); NULL country → 'XY'
    fact = spark.createDataFrame(
        [
            (datetime.date(2016, 1, 1), 0, "ZZ", 777, 1, 0.0),
            (datetime.date(2016, 1, 2), 0, "AA", 777, 1, 0.0),
            (datetime.date(2016, 1, 3), 0, None, 888, 1, 0.0),
        ],
        FACT_COUNT,
    )
    dim_asn = spark.createDataFrame(
        [(111111, "t", "AA")], "number long, title string, country string"
    )
    missing = {r["asn"]: r for r in missing_asns(fact, dim_asn).collect()}
    assert set(missing) == {777, 888}
    assert missing[777]["country"] == "AA"  # first-wins, deterministic
    repaired = {r["number"]: r for r in repair_dim_asn(fact, dim_asn).collect()}
    assert repaired[888]["country"] == "XY"


# --- sources ---------------------------------------------------------------

# manifest fixture, reference tests/aggregation_tests.py:503-515
DATAPACKAGE_MANIFEST = dedent(
    """{"resources":[
    {"path": ["ntp-scan/ntp-scan.20000101.csv.gz"],
    "schema": {"fields": []}, "name": "openntp", "compression": "gz", "format": "csv"},
    {"path": ["ssdp-data/ssdp-data.20000101.csv.gz"],
    "schema": {"fields": []}, "name": "openssdp", "compression": "gz", "format": "csv"},
    {"path": [],
    "schema": {"fields": []}, "name": "spam", "compression": "gz", "format": "csv"},
    {"path": ["snmp-data/snmp-data.20000101.csv.gz"],
    "schema": {"fields": []}, "name": "opensnmp", "compression": "gz", "format": "csv"},
    {"path": ["dns-scan/dns-scan.20000101.csv.gz"],
    "schema": {"fields": []}, "name": "opendns", "compression": "gz", "format": "csv"}],
    "name": "cybergreen_enriched_data",
    "title": "CyberGreen Enriched Data"}"""
)


def test_create_manifest_golden():
    # reference tests/aggregation_tests.py:494-527: empty-path resource
    # (spam) excluded; 4 mandatory entries
    manifest = create_manifest(DATAPACKAGE_MANIFEST, "s3://test.bucket/test/key")
    assert manifest == {
        "entries": [
            {"url": "s3://test.bucket/test/key/ntp-scan/ntp-scan.20000101.csv.gz",
             "mandatory": True},
            {"url": "s3://test.bucket/test/key/ssdp-data/ssdp-data.20000101.csv.gz",
             "mandatory": True},
            {"url": "s3://test.bucket/test/key/snmp-data/snmp-data.20000101.csv.gz",
             "mandatory": True},
            {"url": "s3://test.bucket/test/key/dns-scan/dns-scan.20000101.csv.gz",
             "mandatory": True},
        ]
    }
    paths = manifest_paths(manifest)
    assert len(paths) == 4 and all(p.startswith("s3a://") for p in paths)


RISK_DP = {
    "name": "refdata-risk",
    "resources": [
        {
            "name": "risk",
            "path": "data/risk.csv",
            "format": "csv",
            "schema": {
                "fields": [
                    {"name": "id", "type": "number"},
                    {"name": "slug", "type": "string"},
                    {"name": "title", "type": "string"},
                    {"name": "is_archived", "type": "boolean"},
                    {"name": "taxonomy", "type": "string"},
                    {"name": "measurement_units", "type": "string"},
                    {"name": "amplification_factor", "type": "number"},
                    {"name": "description", "type": "string"},
                ]
            },
        }
    ],
}

RISK_CSV = dedent(
    """\
    id,slug,title,is_archived,taxonomy,measurement_units,amplification_factor,description
    0,test-risk,Test Risk,false,Testable,count,0.13456,"Nice
    Small
    Description"
    100,global,DDOS,false,Combined risk,GBit/sec,1,
    """
)


def test_datapackage_reader(spark, tmp_path):
    # number→Double (risk id 0 comes back 0.0,
    # reference tests/aggregation_tests.py:405-416), quoted multi-line
    # description survives
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    (data_dir / "risk.csv").write_text(RISK_CSV)
    desc = tmp_path / "datapackage.json"
    desc.write_text(json.dumps(RISK_DP))

    schema = datapackage_schema(RISK_DP)
    assert [f.dataType.simpleString() for f in schema.fields][:2] == ["double", "string"]

    df = read_datapackage_resource(spark, str(desc))
    rows = sorted([tuple(r) for r in df.collect()])
    assert rows[0] == (
        0.0, "test-risk", "Test Risk", False, "Testable", "count", 0.13456,
        "Nice\nSmall\nDescription",
    )
    # the empty trailing description is NULL, not '' (the reference's
    # ``null ''`` load, reference main.py:307)
    assert rows[1][0] == 100.0 and rows[1][6] == 1.0 and rows[1][7] is None


def test_datapackage_multi_file_resource(spark, tmp_path):
    # a path LIST (manifest-style, reference main.py:95-103): every
    # file of the resource is read, not only the first
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    (data_dir / "a.csv").write_text("id,slug\n1,one\n")
    (data_dir / "b.csv").write_text("id,slug\n2,two\n")
    dp = {
        "name": "multi",
        "resources": [
            {
                "name": "r",
                "path": ["data/a.csv", "data/b.csv"],
                "schema": {
                    "fields": [
                        {"name": "id", "type": "integer"},
                        {"name": "slug", "type": "string"},
                    ]
                },
            }
        ],
    }
    desc = tmp_path / "datapackage.json"
    desc.write_text(json.dumps(dp))
    df = read_datapackage_resource(spark, str(desc))
    assert sorted(map(tuple, df.collect())) == [(1, "one"), (2, "two")]


def test_config_loader_env_substitution():
    template = '{"uri": "postgres://$CFG_USER@localhost/db", "n": 5}'
    cfg = loads_config(template, {"CFG_USER": "alice"})
    assert cfg == {"uri": "postgres://alice@localhost/db", "n": 5}
    with pytest.raises(ValueError, match="missing environment variable"):
        loads_config(template, {})
    assert split_s3_path("s3://bucket/a/b") == ("bucket", "a/b")


def test_single_file_csv_sink(spark, tmp_path):
    # S5/S6 (reference main.py:232-256): one headerless file at the target
    # name, row order preserved
    df = spark.createDataFrame(
        [(3, "c"), (1, "a"), (2, "b")], "k int, v string"
    ).orderBy("k")
    target = str(tmp_path / "count.csv")
    out = write_single_csv(df, target)
    assert out == target and os.path.isfile(target)
    assert open(target).read().splitlines() == ["1,a", "2,b", "3,c"]
    assert not os.path.exists(target + "__spark_tmp")
    # overwrite path (ALLOWOVERWRITE, main.py:240)
    write_single_csv(df.limit(1), target)
    assert open(target).read().splitlines() == ["1,a"]


def test_publish_parquet_partition_pruning(spark, fact, tmp_path):
    """The fact publishes partitioned by date (the reference's leading
    index, main.py:530-552, becomes partition pruning): a date-filtered
    read must list ONLY the matching partition directory — at 100 TB
    that is the difference between a point query and a full scan."""
    from aggregator_spark.plans.stage2 import publish_parquet, run_stage2
    from aggregator_spark.schemas import DIM_ASN, DIM_COUNTRY, DIM_RISK

    risk = spark.createDataFrame(
        [(0, "slug", "t", False, "tax", "u", 30.8, "")], DIM_RISK
    )
    country = spark.createDataFrame(
        [("AA", "A", "a", "r", "c"), ("ZZ", "Z", "z", "r", "c")], DIM_COUNTRY
    )
    asn = spark.createDataFrame(
        [(111111, "a", "AA"), (999999, "z", "ZZ")], DIM_ASN
    )
    res = run_stage2(spark, fact, risk, country, asn, collect_missing_logs=False)
    publish_parquet(res, str(tmp_path))

    back = spark.read.parquet(str(tmp_path / "fact_count"))
    q = back.filter(back["date"] == datetime.date(2016, 9, 3))
    plan = spark._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    # the date predicate must land in PartitionFilters (metadata-only
    # pruning), NOT PushedFilters (data-level filtering)
    pf_line = next(
        line for line in plan.splitlines() if "PartitionFilters" in line
    )
    assert "2016-09-03" in pf_line or "date" in pf_line
    assert q.count() == 1
    # physical layout: one directory per distinct date
    parts = [
        p.name
        for p in (tmp_path / "fact_count").iterdir()
        if p.name.startswith("date=")
    ]
    assert len(parts) == 5


def test_logentry_tolerates_corrupt_rows(spark, tmp_path):
    """PERMISSIVE-mode resilience: a 100 TB feed WILL contain garbage
    rows; they must degrade to NULL fields (droppable downstream), not
    kill the load — Redshift COPY would abort past MAXERROR."""
    from aggregator_spark.sources.logentry import read_logentry_csv

    csv = "\n".join(
        [
            "ts,ip,risk_id,asn,cc",
            "2016-09-29T00:00:01+00:00,1.2.3.4,2,100,US",  # good
            "not-a-date,5.6.7.8,2,100,DE",                 # bad ts
            "2016-09-29T00:00:01+00:00,9.9.9.9,junk,nan,FR",  # bad nums
            "2016-09-30 01:02:03,1.1.1.1",                 # short row
        ]
    )
    p = tmp_path / "log.csv"
    p.write_text(csv + "\n")
    rows = {r["ip"]: r for r in read_logentry_csv(spark, str(p)).collect()}

    assert len(rows) == 4  # nothing dropped, nothing aborted
    good = rows["1.2.3.4"]
    assert good["risk"] == 2 and good["country"] == "US"
    assert good["date"] is not None
    assert rows["5.6.7.8"]["date"] is None          # unparseable ts -> NULL
    bad = rows["9.9.9.9"]
    assert bad["risk"] is None and bad["asn"] is None  # bad casts -> NULL
    short = rows["1.1.1.1"]
    assert short["date"] is not None
    assert short["risk"] is None and short["country"] is None  # padded


# ---- serving DDL parity (reference main.py:499-552) ----

def test_constraint_ddl_matches_reference_17():
    from aggregator_spark.sources.jdbc import CONSTRAINT_DDL

    # the reference emits exactly 17 constraints: 4 PKs, fk_country_asn,
    # 4 fact FKs, and risk+country FKs per cube granularity
    assert len(CONSTRAINT_DDL) == 17
    names = "\n".join(CONSTRAINT_DDL)
    for t in ("week", "month", "quarter", "year"):
        assert f"fk_cube_risk_{t}" in names
        assert f"fk_cube_country_{t}" in names
    assert "fk_country_asn" in names
    assert sum("PRIMARY KEY" in d for d in CONSTRAINT_DDL) == 4
    assert len(set(CONSTRAINT_DDL)) == 17


def test_index_ddl_matches_reference_27():
    from aggregator_spark.sources.jdbc import INDEX_DDL

    # 7 fact_count indexes + 5 per cube granularity = 27
    assert len(INDEX_DDL) == 27
    assert sum("ON fact_count" in d for d in INDEX_DDL) == 7
    for t in ("week", "month", "quarter", "year"):
        assert sum(f"agg_risk_country_{t}(" in d for d in INDEX_DDL) == 5
    assert len(set(INDEX_DDL)) == 27


ASN_DP = {
    "name": "asn",
    "resources": [
        {
            "name": "asn",
            "path": "data/asn.csv",
            "schema": {
                "fields": [
                    {"name": "number", "type": "integer"},
                    {"name": "title", "type": "string"},
                    {"name": "country", "type": "string"},
                ]
            },
        }
    ],
}


def test_asn_ref_refresh_entry_point(spark, tmp_path):
    """Weekly ASN refresh (reference load_asn_ref_data.py:8-12):
    datapackage descriptor -> DataFrame -> published table."""
    from aggregator_spark.load_asn_ref_data import refresh_dim_asn

    data_dir = tmp_path / "data"
    data_dir.mkdir()
    (data_dir / "asn.csv").write_text(
        "number,title,country\n64512,Test Net,NL\n64513,Other Net,US\n"
    )
    desc = tmp_path / "datapackage.json"
    desc.write_text(json.dumps(ASN_DP))
    out = str(tmp_path / "dim_asn")

    df = refresh_dim_asn(spark, str(desc), out_path=out)
    assert df.columns == ["number", "title", "country"]
    rows = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert rows == [
        (64512, "Test Net", "NL"),
        (64513, "Other Net", "US"),
    ]


def test_variant_ingest_materialization(spark, tmp_path):
    """Parse-once VARIANT ingest: the materialized table answers the
    same stats as the parse-per-query form, and its plan contains no
    parse_json (only variant_get on the stored binary)."""
    from pyspark.sql import functions as F

    from aggregator_spark.sources.variant_ingest import (
        ingest_events_variant,
    )

    out = str(tmp_path / "events_v")
    ingest_events_variant(spark, "/root/testdata/sf0.001", out)
    evv = spark.read.parquet(out)
    assert "props_v" in evv.columns and "props" not in evv.columns

    q = evv.select(
        "event_type",
        F.try_variant_get("props_v", "$.k", "int").alias("k"),
    )
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "parse_json" not in plan
    # Spark either keeps an explicit variant_get or (better) pushes the
    # field access into the scan as a shredded struct path (props_v.0)
    assert "variant_get" in plan or "props_v" in plan

    from aggregator_spark.schemas import load_testdata

    want = (
        load_testdata(spark, "/root/testdata/sf0.001", "events")
        .select(
            F.try_variant_get(
                F.parse_json("props"), "$.k", "int"
            ).alias("k")
        )
        .agg(F.count("k"), F.sum("k"))
        .collect()
    )
    got = q.agg(F.count("k"), F.sum("k")).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
