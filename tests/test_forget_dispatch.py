"""Forget dispatch: a call's rewrite task count follows the bytes it
rewrites, and Spark's percent-encoded object URIs map back to files."""

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from amazon_s3_find_and_forget_spark.data_mappers import DataMapper
from amazon_s3_find_and_forget_spark.jobs import run_job
from amazon_s3_find_and_forget_spark.matches import QueueItem
from amazon_s3_find_and_forget_spark.plans import forget as forget_mod
from amazon_s3_find_and_forget_spark.plans.forget import (
    TASK_BYTES,
    forget_task_count,
)
from amazon_s3_find_and_forget_spark.sources import object_path

MB = 1024 * 1024


# --- the width rule ---------------------------------------------------------


def test_tiny_job_gets_one_task():
    assert forget_task_count([200_000] * 5, 8) == 1


def test_large_job_keeps_full_width():
    # total >= parallelism x TASK_BYTES: min(files, parallelism) tasks
    assert forget_task_count([TASK_BYTES] * 20, 8) == 8
    assert forget_task_count([64 * MB] * 3, 8) == 3
    assert forget_task_count([MB] * 32, 8) == 8


def test_width_follows_bytes_between_the_bounds():
    # 10 MB over 10 objects: ceil(10 / 4) = 3 tasks
    assert forget_task_count([MB] * 10, 8) == 3


def test_unknown_sizes_keep_one_task_per_object():
    assert forget_task_count([None] * 5, 8) == 5
    assert forget_task_count([None] * 12, 8) == 8
    # an unknown size weighs TASK_BYTES next to known ones
    assert forget_task_count([None, None, 10], 8) == 3


# --- the dispatch a job really runs ------------------------------------------


@pytest.fixture()
def small_lake(tmp_path):
    return _small_parquet_lake(str(tmp_path / "small"))


def _small_parquet_lake(loc):
    """5 small Parquet objects, each holding one row of customer 1."""
    os.makedirs(loc)
    for k in range(5):
        pq.write_table(
            pa.table({"customer_id": pa.array([1, 10 + k, 20 + k], pa.int64())}),
            os.path.join(loc, f"part-{k}.parquet"),
        )
    return loc


def _small_json_lake(loc):
    """5 small JSON Lines objects, each holding one line of customer 1."""
    os.makedirs(loc)
    for k in range(5):
        with open(os.path.join(loc, f"part-{k}.json"), "w") as f:
            f.writelines(f'{{"customer_id": {c}}}\n' for c in (1, 30 + k))
    return loc


def _forget_tasks(spark, monkeypatch, run):
    """Run ``run()`` and count the Spark jobs and tasks its Forget calls
    launched, read from the status tracker for a job group set around
    them."""
    sc = spark.sparkContext
    group = f"forget-{uuid.uuid4().hex}"
    real = forget_mod.forget_files

    def grouped(*args, **kwargs):
        sc.setJobGroup(group, "forget")
        try:
            return real(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    with monkeypatch.context() as m:
        m.setattr(forget_mod, "forget_files", grouped)
        result = run()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert jobs
    tasks = sum(
        tracker.getStageInfo(s).numTasks
        for j in jobs
        for s in tracker.getJobInfo(j).stageIds
    )
    return result, len(jobs), tasks


def test_small_job_forgets_in_one_task(spark, tmp_path, monkeypatch):
    # one Parquet mapper, then a second (JSON) mapper sharing the one
    # Forget job and task
    for case, with_json in enumerate((False, True)):
        small_lake = _small_parquet_lake(str(tmp_path / f"small-{case}"))
        mappers = [DataMapper("small", small_lake, ["customer_id"])]
        if with_json:
            json_lake = _small_json_lake(str(tmp_path / f"json-{case}"))
            mappers.append(
                DataMapper("js", json_lake, ["customer_id"], format="json")
            )
        result, jobs, tasks = _forget_tasks(
            spark,
            monkeypatch,
            lambda: run_job(
                spark, mappers, [QueueItem(match_id=1)], forget_parallelism=4
            ),
        )
        assert result.status == "COMPLETED", result.events
        objects = 5 * len(mappers)
        assert [s[4] for s in result.file_stats] == ["updated"] * objects
        # every object is rewritten exactly once, each by its own mapper
        paths = [s[0] for s in result.file_stats]
        assert len(set(paths)) == objects
        assert sorted(s[1] for s in result.file_stats) == sorted(
            m.format for m in mappers for _ in range(5)
        )
        assert (jobs, tasks) == (1, 1)
        spark.catalog.clearCache()
        left = spark.read.parquet(small_lake)
        assert left.where("customer_id = 1").count() == 0
        if with_json:
            left = spark.read.json(json_lake)
            assert left.where("customer_id = 1").count() == 0
            assert left.count() == 5


def test_job_over_task_bytes_keeps_full_width(spark, small_lake, monkeypatch):
    # every object outweighs a 1-byte task: min(files, parallelism)
    monkeypatch.setattr(forget_mod, "TASK_BYTES", 1)
    mapper = DataMapper("small", small_lake, ["customer_id"])
    result, _, tasks = _forget_tasks(
        spark,
        monkeypatch,
        lambda: run_job(
            spark, [mapper], [QueueItem(match_id=1)], forget_parallelism=3
        ),
    )
    assert result.status == "COMPLETED", result.events
    assert tasks == 3
    # every object is rewritten exactly once
    paths = [s[0] for s in result.file_stats]
    assert len(paths) == len(set(paths)) == 5
    assert [s[4] for s in result.file_stats] == ["updated"] * 5


# --- object URIs -------------------------------------------------------------


def test_object_path_decodes_spark_uris():
    assert (
        object_path(
            "file:///tmp/lake%20a/dt=2020-01-01%2000%253A00%253A00/p.parquet"
        )
        == "/tmp/lake a/dt=2020-01-01 00%3A00%3A00/p.parquet"
    )
    assert object_path("file:/tmp/x.parquet") == "/tmp/x.parquet"
    assert object_path("s3://bucket/a%20b/c.json.gz") == "s3://bucket/a b/c.json.gz"
    # a plain path is not a URI: a literal % stays
    assert object_path("/tmp/100%25/x.parquet") == "/tmp/100%25/x.parquet"


def test_job_over_percent_encoded_paths(spark, tmp_path):
    """A lake under a directory with a space, partitioned by a timestamp
    (Spark writes ``dt=2020-01-01 00%3A00%3A00``): both objects are
    found by URI and rewritten on disk."""
    loc = str(tmp_path / "lake a")
    spark.sql(
        "SELECT * FROM VALUES "
        "(1, 'x', TIMESTAMP'2020-01-01 00:00:00'), "
        "(2, 'y', TIMESTAMP'2020-01-01 00:00:00'), "
        "(1, 'z', TIMESTAMP'2020-01-02 00:00:00'), "
        "(3, 'w', TIMESTAMP'2020-01-02 00:00:00') "
        "AS t(customer_id, v, dt)"
    ).coalesce(1).write.partitionBy("dt").parquet(loc)
    assert any("%3A" in d for d in os.listdir(loc))
    mapper = DataMapper("ts", loc, ["customer_id"])
    result = run_job(spark, [mapper], [QueueItem(match_id=1)])
    assert result.status == "COMPLETED", result.events
    updated = [e for e in result.events if e["EventName"] == "ObjectUpdated"]
    assert len(updated) == 2
    # events keep Spark's URI
    assert all("%253A" in e["EventData"]["Object"] for e in updated)
    spark.catalog.clearCache()
    left = spark.read.parquet(loc)
    assert sorted(r.customer_id for r in left.collect()) == [2, 3]


# --- job tags ----------------------------------------------------------------


def test_forget_tasks_carry_job_and_phase_tags(spark, small_lake, tmp_path):
    """A Forget task runs under the job's tag and the Forget phase tag;
    run_job leaves no tag behind on the calling thread."""
    seen = str(tmp_path / "tags")

    def factory(arn):
        from pyspark import TaskContext

        from amazon_s3_find_and_forget_spark.sources.object_store import (
            LocalObjectStore,
        )

        with open(seen, "a") as f:
            f.write(TaskContext.get().getLocalProperty("spark.job.tags") + "\n")
        return LocalObjectStore()

    mapper = DataMapper("small", small_lake, ["customer_id"])
    result = run_job(
        spark, [mapper], [QueueItem(match_id=1)], job_id="tagged-job",
        store_factory=factory,
    )
    assert result.status == "COMPLETED", result.events
    with open(seen) as f:
        tags = {frozenset(line.strip().split(",")) for line in f}
    assert tags == {frozenset({"s3f2-job-tagged-job", "s3f2-phase-forget"})}
    assert set(spark.sparkContext.getJobTags()) == set()
