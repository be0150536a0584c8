"""The stage-metrics reader against the installed Spark: tagged jobs are
found through the status tracker and read from the status store."""

import operator

import pyarrow as pa
import pyarrow.parquet as pq

from amazon_s3_find_and_forget_spark import spark_metrics
from amazon_s3_find_and_forget_spark.data_mappers import DataMapper
from amazon_s3_find_and_forget_spark.jobs import run_job
from amazon_s3_find_and_forget_spark.matches import QueueItem


def _two_stage_count(sc):
    """One Spark job of two stages: 4 map tasks write a shuffle that 3
    reduce tasks read."""
    return (
        sc.parallelize(range(1000), 4)
        .map(lambda x: (x % 10, 1))
        .reduceByKey(operator.add, 3)
        .collect()
    )


def test_tagged_stages_reads_a_tagged_two_stage_job(spark):
    sc = spark.sparkContext
    _two_stage_count(sc)  # an untagged job the reader must not return
    with spark_metrics.job_tag(sc, "s3f2-test-metrics"):
        with spark_metrics.job_tag(sc, "s3f2-test-other"):
            _two_stage_count(sc)
            _two_stage_count(sc)
        _two_stage_count(sc)  # tags nest: this job has one tag left
    rows = spark_metrics.tagged_stages(sc, "s3f2-test-metrics")
    assert len({r["job_id"] for r in rows}) == 3
    assert [r["tasks"] for r in rows] == [4, 3] * 3
    assert all(r["status"] == "COMPLETE" for r in rows)
    assert [r["tags"] for r in rows] == [["s3f2-test-other"]] * 4 + [[]] * 2
    for map_stage, reduce_stage in zip(rows[::2], rows[1::2]):
        assert map_stage["shuffle_write_bytes"] > 0
        assert reduce_stage["shuffle_read_bytes"] == map_stage["shuffle_write_bytes"]
        assert map_stage["executor_cpu_s"] > 0
    t = spark_metrics.totals(rows)
    assert t["spark_jobs"] == 3 and t["tasks"] == 21
    assert t["shuffle_read_bytes"] == t["shuffle_write_bytes"] > 0
    assert spark_metrics.tagged_stages(sc, "s3f2-test-no-such-tag") == []


def test_a_failing_reader_leaves_the_statistic_out(
    spark, tmp_path, monkeypatch, caplog
):
    def broken(sc, tag):
        raise RuntimeError("status store unavailable")

    lake = tmp_path / "lake"
    lake.mkdir()
    pq.write_table(
        pa.table({"customer_id": pa.array(range(100), pa.int64())}),
        str(lake / "f.parquet"),
    )
    monkeypatch.setattr(spark_metrics, "tagged_stages", broken)
    result = run_job(
        spark,
        [DataMapper("t", str(lake), ["customer_id"])],
        [QueueItem(match_id=2)],
    )
    assert result.status == "COMPLETED", result.events
    (query,) = [e for e in result.events if e["EventName"] == "QuerySucceeded"]
    assert "DataScannedInBytes" not in query["EventData"]["Statistics"]
    assert result.counters["TotalQueryScannedInBytes"] == 0
    assert "DataScannedInBytes left out" in caplog.text
