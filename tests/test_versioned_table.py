"""Versioned parquet table: snapshot isolation, time travel, MERGE
upsert semantics, compaction, vacuum — plus a partition-pruning plan
check for the date-partitioned serving layout."""

from __future__ import annotations

from pyspark.sql import functions as F

from aggregator_spark.sources.versioned_table import (
    compact,
    latest_version,
    list_versions,
    merge_upsert,
    read_table,
    vacuum,
    write_version,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, val string")


def test_write_read_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = write_version(_df(spark, [(1, "a"), (2, "b")]), root)
    v2 = write_version(_df(spark, [(1, "a2")]), root)
    assert (v1, v2) == (1, 2) and latest_version(root) == 2
    assert sorted(map(tuple, read_table(spark, root).collect())) == [(1, "a2")]
    # old snapshot still readable
    assert sorted(map(tuple, read_table(spark, root, version=1).collect())) == [
        (1, "a"),
        (2, "b"),
    ]


def test_merge_upsert_semantics(spark, tmp_path):
    root = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), root)
    merge_upsert(
        spark, root, _df(spark, [(2, "B"), (4, "d")]), keys=["id"]
    )
    # matched replaced, unmatched source inserted, rest kept
    assert sorted(map(tuple, read_table(spark, root).collect())) == [
        (1, "a"),
        (2, "B"),
        (3, "c"),
        (4, "d"),
    ]
    # merge never mutates the previous snapshot
    assert sorted(map(tuple, read_table(spark, root, version=1).collect())) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]


def test_compact_and_vacuum(spark, tmp_path):
    root = str(tmp_path / "t")
    write_version(
        _df(spark, [(i, f"v{i}") for i in range(100)]).repartition(20),
        root,
    )
    before = sorted(map(tuple, read_table(spark, root).collect()))
    compact(spark, root, target_file_bytes=1 << 30)  # everything → 1 file
    after_df = read_table(spark, root)
    assert sorted(map(tuple, after_df.collect())) == before
    assert after_df.rdd.getNumPartitions() == 1
    keep = vacuum(root, keep_last=1)
    assert list_versions(root) == keep and len(keep) == 1
    assert sorted(map(tuple, read_table(spark, root).collect())) == before


def test_partitioned_serving_layout_prunes(spark, tmp_path):
    # the stage-2 serving layout (partitionBy date) must turn a date
    # filter into partition pruning, not a full scan
    out = str(tmp_path / "fact")
    df = spark.createDataFrame(
        [("2024-01-01", 1, 10), ("2024-01-02", 2, 20), ("2024-01-03", 3, 30)],
        "date string, risk int, count long",
    )
    df.write.partitionBy("date").parquet(out)
    q = spark.read.parquet(out).filter(F.col("date") == "2024-01-02")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2024-01-02" in plan
    assert q.count() == 1


def test_orphan_snapshot_dir_does_not_wedge_writes(spark, tmp_path):
    """A crash between the snapshot write and the manifest commit
    leaves an uncommitted v=<n> dir; the retry recomputes the same n
    and must overwrite the orphan, not fail forever."""
    from aggregator_spark.sources.versioned_table import (
        list_versions,
        read_table,
        write_version,
    )

    root = str(tmp_path / "t_orphan")
    df1 = spark.range(5).withColumnRenamed("id", "k")
    write_version(df1, root)
    # simulate the crash: orphan v=2 exists, manifest still at [1]
    df_orphan = spark.range(100).withColumnRenamed("id", "k")
    df_orphan.write.parquet(f"{root}/v=2")
    assert list_versions(root) == [1]
    # retry of the interrupted write succeeds and publishes v=2
    v = write_version(spark.range(7).withColumnRenamed("id", "k"), root)
    assert v == 2
    assert list_versions(root) == [1, 2]
    assert read_table(spark, root).count() == 7
