"""Partitioned-lake semantics: static partition pruning in Find (which
replaces the reference's per-partition query fan-out, A2),
identifier/partition-key validation, and an end-to-end job over a
hive-partitioned lake."""

import os

import pytest
from pyspark.sql import functions as F

from amazon_s3_find_and_forget_spark.data_mappers import DataMapper
from amazon_s3_find_and_forget_spark.jobs import run_job
from amazon_s3_find_and_forget_spark.matches import QueueItem, build_column_groups
from amazon_s3_find_and_forget_spark.plans.find import find_affected_files


@pytest.fixture(scope="module")
def part_lake(spark, sf_dir, tmp_path_factory):
    """lineitem partitioned by l_returnflag (3 partitions: A/N/R)."""
    lake = str(tmp_path_factory.mktemp("plake") / "lineitem")
    (
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        .repartition(2)
        .write.partitionBy("l_returnflag")
        .parquet(lake)
    )
    return lake


def test_partition_filter_prunes_scan(spark, part_lake):
    mapper = DataMapper(
        "li",
        part_lake,
        ["l_orderkey"],
        partition_keys=["l_returnflag"],
        partition_filter="l_returnflag = 'R'",
    )
    df = mapper.read(spark)
    groups = build_column_groups(
        df.schema, ["l_orderkey"], [QueueItem(match_id=1)]
    )
    plan = find_affected_files([(df, groups)])._jdf.queryExecution().executedPlan().toString()
    # static partition pruning reached the scan
    assert "PartitionFilters" in plan
    assert "l_returnflag" in plan.split("PartitionFilters")[1][:200]
    # only files under the R partition can be returned
    paths = [r.file_path for r in find_affected_files([(df, groups)]).collect()]
    assert paths and all("l_returnflag=R" in p for p in paths)


def test_identifier_cannot_be_partition_key(part_lake):
    with pytest.raises(ValueError, match="partition key"):
        DataMapper(
            "li", part_lake, ["l_returnflag"], partition_keys=["l_returnflag"]
        )


def test_job_over_partitioned_lake(spark, part_lake, sf_dir):
    src = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    match_keys = [1, 3, 7, 32]
    expect_deleted = src.where(F.col("l_orderkey").isin(match_keys)).count()
    n0 = spark.read.parquet(part_lake).count()

    mapper = DataMapper(
        "li", part_lake, ["l_orderkey"], partition_keys=["l_returnflag"]
    )
    result = run_job(
        spark, [mapper], [QueueItem(match_id=k) for k in match_keys]
    )
    assert result.status == "COMPLETED", result.events
    after = spark.read.parquet(part_lake)
    assert after.count() == n0 - expect_deleted
    assert after.where(F.col("l_orderkey").isin(match_keys)).count() == 0
    # partition structure survived the in-place rewrite
    assert sorted(
        d for d in os.listdir(part_lake) if d.startswith("l_returnflag=")
    ) == ["l_returnflag=A", "l_returnflag=N", "l_returnflag=R"]
    # only files actually containing matches were touched
    touched = {r[0] for r in result.file_stats}
    assert 0 < len(touched) <= 6
    assert all(r[4] == "updated" for r in result.file_stats)


def test_job_with_partition_filter_limits_blast_radius(
    spark, part_lake, sf_dir
):
    """A partition-filtered mapper only rewrites files inside the filter."""
    src = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    # pick a key that exists in at least two partitions
    key = (
        src.groupBy("l_orderkey")
        .agg(F.countDistinct("l_returnflag").alias("nf"))
        .where(F.col("nf") >= 2)
        .limit(1)
        .collect()[0]["l_orderkey"]
    )
    mapper = DataMapper(
        "li",
        part_lake,
        ["l_orderkey"],
        partition_keys=["l_returnflag"],
        partition_filter="l_returnflag = 'A'",
    )
    result = run_job(spark, [mapper], [QueueItem(match_id=int(key))])
    assert result.status == "COMPLETED", result.events
    assert all("l_returnflag=A" in r[0] for r in result.file_stats)
    after = spark.read.parquet(part_lake)
    # rows outside the filtered partition survived
    assert after.where(
        (F.col("l_orderkey") == int(key)) & (F.col("l_returnflag") != "A")
    ).count() > 0
    assert after.where(
        (F.col("l_orderkey") == int(key)) & (F.col("l_returnflag") == "A")
    ).count() == 0


def test_pinned_schema_finds_the_same_files(spark, part_lake, tmp_path):
    """A hive-partitioned mapper with a partition_filter, its schema
    pinned at registration, finds the files an inferring read finds."""
    from amazon_s3_find_and_forget_spark.api import Engine

    engine = Engine(spark, str(tmp_path / "state"))
    config = {
        "Location": part_lake,
        "Columns": ["l_orderkey"],
        "PartitionKeys": ["l_returnflag"],
        "PartitionFilter": "l_returnflag in ('A', 'R')",
    }
    pinned = engine.put_data_mapper("li", config)["li"]
    assert "l_returnflag" in pinned["Schema"]

    keys = [
        r[0]
        for r in spark.read.parquet(part_lake)
        .select("l_orderkey")
        .distinct()
        .orderBy("l_orderkey")
        .limit(8)
        .collect()
    ]

    def found(cfg):
        df = engine._mapper_from("li", cfg).read(spark)
        groups = build_column_groups(
            df.schema, ["l_orderkey"], [QueueItem(match_id=k) for k in keys]
        )
        return sorted(tuple(r) for r in find_affected_files([(df, groups)]).collect())

    files = found(pinned)
    assert files and files == found(config)
    assert all("l_returnflag=N" not in r[0] for r in files)
