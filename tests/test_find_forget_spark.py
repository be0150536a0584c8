"""End-to-end Find/Forget over Spark: semi-join plans, per-file rewrite,
job lifecycle — run against a throwaway copy of the sf0.001 tables."""

import json
import os
import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F

from amazon_s3_find_and_forget_spark import spark_metrics
from amazon_s3_find_and_forget_spark.data_mappers import DataMapper, check_no_overlap
from amazon_s3_find_and_forget_spark.jobs import (
    fold_stats,
    fold_status,
    list_events,
    list_jobs,
    run_job,
)
from amazon_s3_find_and_forget_spark.matches import (
    QueueItem,
    build_column_groups,
    build_manifest_df,
    route_items,
)
from amazon_s3_find_and_forget_spark.plans.find import (
    find_affected_files,
    find_matching_rows,
)
from amazon_s3_find_and_forget_spark.plans.forget import (
    forget_files,
    forget_table,
    rewriter,
)


@pytest.fixture()
def lake(tmp_path, spark, sf_dir):
    """Copy lineitem into a multi-file lake we can rewrite."""
    src = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    loc = str(tmp_path / "lineitem")
    src.repartition(4).write.parquet(loc)
    return loc


def test_find_affected_files_predicate_path(spark, lake):
    df = spark.read.parquet(lake)
    items = [QueueItem(match_id=1), QueueItem(match_id=3)]
    groups = build_column_groups(df.schema, ["l_orderkey"], items)
    paths = find_affected_files([(df, groups)])
    assert paths.columns == ["file_path", "file_size", "mapper"]
    found = paths.collect()
    hit = [r[0] for r in found]
    # the size is the object's bytes on disk; the one read is mapper 0
    for path, size, mapper in found:
        assert size == os.path.getsize(path[len("file:") :]) and mapper == 0
    # every affected file really contains a match
    expected = {
        r[0]
        for r in df.where(F.col("l_orderkey").isin([1, 3]))
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert set(hit) == expected and len(hit) >= 1


def test_find_semi_join_path_same_result(spark, lake):
    df = spark.read.parquet(lake)
    items = [QueueItem(match_id=i) for i in (1, 3, 5)]
    groups = build_column_groups(df.schema, ["l_orderkey"], items)
    pred = {r[0] for r in find_affected_files([(df, groups)]).collect()}
    joined = {
        r[0]
        for r in find_affected_files(
            [(df, groups)], predicate_value_limit=0
        ).collect()
    }
    assert pred == joined


def test_semi_join_skips_values_the_column_cannot_hold(spark, tmp_path):
    # 1.505 must not round onto the 1.51 row of a decimal(10,2) column, and
    # a byte column's out-of-range id matches nothing instead of failing
    from decimal import Decimal

    loc = str(tmp_path / "typed")
    spark.createDataFrame(
        [(Decimal("1.51"), 1), (Decimal("1.50"), 2)], "amt decimal(10,2), b byte"
    ).write.parquet(loc)
    df = spark.read.parquet(loc)
    for col, ids in (("amt", ["1.505", "1.5"]), ("b", [300, 2])):
        groups = build_column_groups(
            df.schema, [col], [QueueItem(match_id=v) for v in ids]
        )
        for limit in (0, 10):
            rows = find_matching_rows(df, groups, predicate_value_limit=limit)
            assert [r.b for r in rows.collect()] == [2], (col, limit)


def test_find_matching_rows(spark, lake):
    df = spark.read.parquet(lake)
    items = [QueueItem(match_id=1)]
    groups = build_column_groups(df.schema, ["l_orderkey"], items)
    rows = find_matching_rows(df, groups)
    assert rows.count() == df.where("l_orderkey = 1").count()


def test_forget_table_null_safe(spark):
    df = spark.createDataFrame(
        [("a",), (None,), ("b",)], "customer_id string"
    )
    items = [QueueItem(match_id="a")]
    groups = build_column_groups(df.schema, ["customer_id"], items)
    out = forget_table(df, groups)
    assert sorted(
        [r[0] for r in out.collect()], key=lambda x: (x is None, x)
    ) == ["b", None]


def test_end_to_end_job(spark, lake):
    df = spark.read.parquet(lake)
    before = df.count()
    victims = df.where("l_orderkey in (1, 3)").count()
    assert victims > 0

    mapper = DataMapper("lineitem", lake, ["l_orderkey"], format="parquet")
    mapper.validate(spark)
    items = [QueueItem(match_id=1), QueueItem(match_id=3)]
    result = run_job(spark, [mapper], items)

    assert result.status == "COMPLETED"
    assert sum(s[3] for s in result.file_stats) == victims
    # the scanned-bytes counter is the input bytes of the Find phase
    stages = spark_metrics.tagged_stages(
        spark.sparkContext, f"s3f2-job-{result.job_id}"
    )
    find_bytes = sum(
        r["input_bytes"] for r in stages if "s3f2-phase-find" in r["tags"]
    )
    assert find_bytes > 0
    assert result.counters["TotalQueryScannedInBytes"] == find_bytes
    spark.catalog.clearCache()
    after = spark.read.parquet(lake)
    assert after.count() == before - victims
    assert after.where("l_orderkey in (1, 3)").count() == 0
    # schema preserved
    assert after.schema == df.schema


def test_job_composite(spark, tmp_path):
    loc = str(tmp_path / "people")
    spark.createDataFrame(
        [("John", "Doe", 1), ("Jane", "Doe", 2), ("John", "Smith", 3)],
        "first_name string, last_name string, id bigint",
    ).coalesce(1).write.parquet(loc)
    mapper = DataMapper("people", loc, ["id"], format="parquet")
    items = [
        QueueItem(
            match_id=[
                {"Column": "first_name", "Value": "John"},
                {"Column": "last_name", "Value": "Doe"},
            ],
            type="Composite",
            data_mappers=["people"],
        )
    ]
    result = run_job(spark, [mapper], items)
    assert result.status == "COMPLETED"
    spark.catalog.clearCache()
    kept = spark.read.parquet(loc).collect()
    assert sorted((r[0], r[1]) for r in kept) == [("Jane", "Doe"), ("John", "Smith")]


def test_job_find_forget_consistency_failure(spark, tmp_path):
    """Forget deleting 0 rows fails the object (main.py:182-187 parity)."""
    loc = str(tmp_path / "t")
    spark.createDataFrame([("a",), ("b",)], "customer_id string").coalesce(
        1
    ).write.parquet(loc)
    files = [
        r[0]
        for r in spark.read.parquet(loc)
        .select(F.input_file_name())
        .distinct()
        .collect()
    ]
    items = [QueueItem(match_id="zzz")]
    df = spark.read.parquet(loc)
    groups = build_column_groups(df.schema, ["customer_id"], items)
    rewrite = rewriter(groups, fmt="parquet")
    stats = forget_files(spark, files, [rewrite] * len(files))
    assert stats[0][4] == "failed"
    assert "no rows deleted" in stats[0][5]


def test_routing(spark):
    items = [
        QueueItem(match_id="a"),
        QueueItem(match_id="b", data_mappers=["m1"]),
        QueueItem(match_id="c", data_mappers=["m2"]),
    ]
    routed = route_items(items, "m1")
    assert [i.match_id for i in routed] == ["a", "b"]


def test_manifest_roundtrip(spark, tmp_path):
    items = [
        QueueItem(match_id="12345"),
        QueueItem(
            match_id=[
                {"Column": "last_name", "Value": "Doe"},
                {"Column": "first_name", "Value": "John"},
            ],
            type="Composite",
            data_mappers=["m1"],
        ),
    ]
    mdf = build_manifest_df(spark, "job1", "m1", ["customer_id"], items)
    rows = {r["QueryableColumns"]: r for r in mdf.collect()}
    assert rows["customer_id"]["QueryableMatchId"] == "12345"
    # composite columns canonically sorted (O2)
    assert rows["first_name_S3F2COMP_last_name"]["QueryableMatchId"] == (
        "John_S3F2COMP_Doe"
    )
    path = str(tmp_path / "manifests")
    mdf.write.partitionBy("JobId", "DataMapperId").json(path)
    back = spark.read.json(path)
    assert back.count() == 2


def test_overlap_check():
    a = DataMapper("a", "/lake/x", ["c"])
    b = DataMapper("b", "/lake/x/sub", ["c"])
    c = DataMapper("c", "/lake/y", ["c"])
    check_no_overlap([a, c])
    with pytest.raises(ValueError, match="overlap"):
        check_no_overlap([a, b])


def test_status_fold():
    evs = [
        {"EventName": "JobStarted", "CreatedAt": 1},
        {"EventName": "ForgetPhaseEnded", "CreatedAt": 2},
        {"EventName": "CleanupSucceeded", "CreatedAt": 3},
    ]
    out = fold_status(evs)
    assert out["JobStatus"] == "COMPLETED"
    assert out["JobStartTime"] == 1
    assert out["JobFinishTime"] == 3


def test_status_fold_partial_failure():
    evs = [
        {"EventName": "JobStarted", "CreatedAt": 1},
        {"EventName": "ForgetPhaseEnded", "CreatedAt": 2},
    ]
    out = fold_status(evs, {"TotalObjectUpdateFailedCount": 1})
    assert out["JobStatus"] == "FORGET_PARTIALLY_FAILED"
    assert out["JobFinishTime"] == 2


def test_status_fold_locked_terminal():
    evs = [
        {"EventName": "JobStarted", "CreatedAt": 1},
        {"EventName": "FindPhaseFailed", "CreatedAt": 2},
        {"EventName": "CleanupSucceeded", "CreatedAt": 3},
    ]
    out = fold_status(evs)
    assert out["JobStatus"] == "FIND_FAILED"  # terminal state locked


def test_list_events_pagination(spark):
    rows = [
        ("j1", f"{1000 + i}#u{i}", "ObjectUpdated", 1000 + i, "{}")
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "Id string, Sk string, EventName string, CreatedAt long, EventData string"
    )
    page1 = list_events(df, "j1", watermark="0", page_size=4).collect()
    assert len(page1) == 4
    page2 = list_events(df, "j1", watermark=page1[-1].Sk, page_size=4).collect()
    assert len(page2) == 4
    assert page2[0].Sk > page1[-1].Sk


def test_list_jobs_topk(spark):
    df = spark.createDataFrame(
        [(f"j{i}", i) for i in range(20)], "Id string, CreatedAt long"
    )
    top = list_jobs(df, page_size=5).collect()
    assert [r.Id for r in top] == ["j19", "j18", "j17", "j16", "j15"]


def make_event(job_id, name, data=None):
    """One event row of ``fold_stats``'s input: (Id, Sk, EventName,
    CreatedAt, EventData), Sk in the reference's ``<millis>#<uuid>``."""
    at = int(time.time() * 1000)
    return (job_id, f"{at}#{uuid.uuid4()}", name, at, json.dumps(data or {}))


def test_fold_stats_multiple_jobs(spark):
    evs = [
        make_event("a", "QuerySucceeded", {"Statistics": {"DataScannedInBytes": 10, "EngineExecutionTimeInMillis": 5}}),
        make_event("a", "QueryFailed"),
        make_event("b", "ObjectUpdateFailed"),
    ]
    df = spark.createDataFrame(
        evs, "Id string, Sk string, EventName string, CreatedAt long, EventData string"
    )
    out = {r.Id: r.asDict() for r in fold_stats(df).collect()}
    assert out["a"]["TotalQueryCount"] == 2
    assert out["a"]["TotalQuerySucceededCount"] == 1
    assert out["a"]["TotalQueryScannedInBytes"] == 10
    assert out["b"]["TotalObjectUpdateFailedCount"] == 1


def test_single_column_composite_folds_into_simple_group(spark, tmp_path, sf_dir):
    """A one-column Composite match must not poison the simple group's
    scalar isin with tuples (regression: LITERAL_TYPE ArrayList error)."""
    import os
    import shutil

    from amazon_s3_find_and_forget_spark.data_mappers import DataMapper
    from amazon_s3_find_and_forget_spark.jobs import run_job
    from amazon_s3_find_and_forget_spark.matches import (
        QueueItem,
        build_column_groups,
    )

    lake = tmp_path / "li"
    lake.mkdir()
    shutil.copy(os.path.join(sf_dir, "lineitem.parquet"), lake / "p.parquet")
    df = spark.read.parquet(str(lake))
    items = [
        QueueItem(match_id=1),
        QueueItem(
            match_id=[{"Column": "l_orderkey", "Value": 3}],
            type="Composite",
            data_mappers=["li"],
        ),
    ]
    groups = build_column_groups(df.schema, ["l_orderkey"], items)
    assert len(groups) == 1 and not groups[0].composite
    assert groups[0].values == [1, 3]

    result = run_job(spark, [DataMapper("li", str(lake), ["l_orderkey"])], items)
    assert result.status == "COMPLETED", result.events
    after = spark.read.parquet(str(lake))
    assert after.where("l_orderkey in (1, 3)").count() == 0


def test_transient_query_failure_recovers_to_completed(
    spark, tmp_path, monkeypatch
):
    """A Find attempt that fails once and succeeds on retry must end the
    job COMPLETED (QueryFailed only fires when the budget is exhausted —
    reference state_machine.yaml 'Retriable?' -> 'Emit Error')."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from amazon_s3_find_and_forget_spark.data_mappers import DataMapper
    from amazon_s3_find_and_forget_spark.jobs import run_job
    from amazon_s3_find_and_forget_spark.matches import QueueItem
    from amazon_s3_find_and_forget_spark.plans import find as find_mod

    lake = tmp_path / "lake"
    lake.mkdir()
    pq.write_table(
        pa.table({"customer_id": pa.array([1, 2, 3], pa.int64())}),
        str(lake / "f.parquet"),
    )
    real = find_mod.find_affected_files
    calls = {"n": 0}

    def flaky(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient query failure")
        return real(*args, **kwargs)

    monkeypatch.setattr(find_mod, "find_affected_files", flaky)
    result = run_job(
        spark,
        [DataMapper("t", str(lake), ["customer_id"])],
        [QueueItem(match_id=2)],
        query_max_retries=2,
    )
    assert calls["n"] == 2
    assert result.status == "COMPLETED", result.events
    assert result.counters["TotalQueryFailedCount"] == 0
    names = [e["EventName"] for e in result.events]
    assert "QueryRetried" in names and "QueryFailed" not in names
    assert "CleanupSucceeded" in names


def _lake_bytes(root):
    """Every file under ``root`` (hidden ones too) with its bytes."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            with open(os.path.join(d, n), "rb") as f:
                out[os.path.relpath(os.path.join(d, n), root)] = f.read()
    return out


def test_find_failure_on_any_mapper_rewrites_nothing(spark, tmp_path):
    """Find finishes for every mapper before Forget starts: when the
    second mapper's Find fails on every attempt (a corrupt object in a
    DDL-schema JSON lake), the job ends FIND_FAILED and neither lake is
    touched — the first mapper's objects are not rewritten either."""
    import gzip

    import pyarrow as pa
    import pyarrow.parquet as pq

    pq_lake = tmp_path / "pq"
    pq_lake.mkdir()
    pq.write_table(
        pa.table({"customer_id": pa.array([1, 2, 3], pa.int64())}),
        str(pq_lake / "part-0.parquet"),
    )
    js_lake = tmp_path / "js"
    js_lake.mkdir()
    with gzip.open(js_lake / "a.json.gz", "wt") as f:
        f.write('{"customer_id": 2}\n{"customer_id": 4}\n')
    (js_lake / "b.json.gz").write_bytes(b"\x1f\x8b\x08 not gzip data")
    before = {p: _lake_bytes(p) for p in (pq_lake, js_lake)}
    result = run_job(
        spark,
        [
            DataMapper("pq", str(pq_lake), ["customer_id"]),
            DataMapper(
                "js", str(js_lake), ["customer_id"], format="json",
                schema="customer_id bigint",
            ),
        ],
        [QueueItem(match_id=2)],
        query_max_retries=1,
    )
    assert result.status == "FIND_FAILED", result.events
    names = [e["EventName"] for e in result.events]
    assert names.count("QueryRetried") == 1 and names.count("QueryFailed") == 1
    assert "QuerySucceeded" not in names
    assert names[-1] == "FindPhaseFailed"
    # one query per attempt, naming every mapper it covered
    failed = next(e for e in result.events if e["EventName"] == "QueryFailed")
    assert failed["EventData"]["DataMapperIds"] == ["pq", "js"]
    assert result.counters["TotalQueryFailedCount"] == 1
    assert result.file_stats == []
    assert {p: _lake_bytes(p) for p in (pq_lake, js_lake)} == before


def test_overlapping_mappers_rewrite_nothing(spark, tmp_path):
    """One Forget dispatch assumes no object belongs to two mappers, so a
    job over overlapping mapper locations fails before any rewrite."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lake = tmp_path / "lake"
    lake.mkdir()
    pq.write_table(
        pa.table({"customer_id": pa.array([1, 2, 3], pa.int64())}),
        str(lake / "part-0.parquet"),
    )
    before = _lake_bytes(lake)
    result = run_job(
        spark,
        [
            DataMapper("a", str(lake), ["customer_id"]),
            DataMapper("b", f"{lake}/", ["customer_id"]),
        ],
        [QueueItem(match_id=2)],
        manifest_dir=str(tmp_path / "manifests"),
    )
    assert result.status == "FAILED", result.events
    assert "overlapping" in result.events[-1]["EventData"]["Error"]
    assert _lake_bytes(lake) == before
    assert not os.path.exists(tmp_path / "manifests")


def test_object_found_by_two_mappers_rewrites_nothing(spark, tmp_path):
    """A table: mapper over a path mapper's directory gets past the
    location overlap check; Find then returns the same object under both
    mappers, and the job fails before any rewrite rather than rewriting
    the object twice."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lake = tmp_path / "lake"
    lake.mkdir()
    pq.write_table(
        pa.table({"customer_id": pa.array([1, 2, 3], pa.int64())}),
        str(lake / "part-0.parquet"),
    )
    before = _lake_bytes(lake)
    table = "s3f2_two_mapper_object"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.catalog.createTable(table, path=str(lake), source="parquet")
    try:
        result = run_job(
            spark,
            [
                DataMapper("path", str(lake), ["customer_id"]),
                DataMapper("table", f"table:{table}", ["customer_id"]),
            ],
            [QueueItem(match_id=2)],
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    assert result.status == "FAILED", result.events
    error = result.events[-1]["EventData"]["Error"]
    assert "part-0.parquet" in error and "path" in error and "table" in error
    assert result.file_stats == []
    assert _lake_bytes(lake) == before


def test_manifest_registered_as_catalog_table(spark, tmp_path):
    """S7 closure: manifests land in the metastore partitioned by
    (JobId, DataMapperId) — one partition per job/mapper, read back via
    spark.table with partition pruning."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from amazon_s3_find_and_forget_spark.data_mappers import DataMapper
    from amazon_s3_find_and_forget_spark.jobs import run_job
    from amazon_s3_find_and_forget_spark.matches import QueueItem

    table = "s3f2_manifests_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    lake = tmp_path / "lake"
    lake.mkdir()
    pq.write_table(
        pa.table({"customer_id": pa.array([1, 2, 3], pa.int64())}),
        str(lake / "f.parquet"),
    )
    for job, match in (("job-a", 2), ("job-b", 3)):
        run_job(
            spark,
            [DataMapper("m1", str(lake), ["customer_id"])],
            [QueueItem(match_id=match)],
            job_id=job,
            manifest_table=table,
        )
    man = spark.table(table)
    assert {"JobId", "DataMapperId", "MatchId", "QueryableMatchId"} <= set(
        man.columns
    )
    jobs = {r.JobId for r in man.select("JobId").distinct().collect()}
    assert jobs == {"job-a", "job-b"}
    one = man.where(
        (man.JobId == "job-a") & (man.DataMapperId == "m1")
    )
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "job-a" in plan  # pruning, not scan
    assert [r.QueryableMatchId for r in one.collect()] == ["2"]
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_job_on_schema_evolved_lake(spark, tmp_path):
    """A lake whose older files predate a later-added column: the job
    must find matches across both vintages, rewrite each file with ITS
    OWN schema (an old file must not grow the new column), and leave
    survivors intact."""
    loc = str(tmp_path / "evolved")
    os.makedirs(loc)
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "cid long, name string"
    ).coalesce(1).write.parquet(loc + "/old")
    spark.createDataFrame(
        [(4, "d", "x@y.z"), (5, "e", "p@q.r")],
        "cid long, name string, email string",
    ).coalesce(1).write.parquet(loc + "/new")

    mapper = DataMapper(
        mapper_id="ev",
        location=loc + "/*/*.parquet",
        columns=["cid"],
        format="parquet",
        schema="cid bigint, name string, email string",
    )
    items = [QueueItem(match_id=2), QueueItem(match_id=5)]
    result = run_job(spark, [mapper], items)
    assert result.status == "COMPLETED"

    survivors = spark.read.schema("cid long, name string, email string").parquet(
        loc + "/old", loc + "/new"
    )
    assert sorted(r.cid for r in survivors.collect()) == [1, 3, 4]
    # the old file keeps its 2-column schema — no silent widening
    import pyarrow.parquet as pq_mod
    import glob as glob_mod

    old_file = glob_mod.glob(loc + "/old/*.parquet")[0]
    assert pq_mod.read_schema(old_file).names == ["cid", "name"]
    new_file = glob_mod.glob(loc + "/new/*.parquet")[0]
    assert pq_mod.read_schema(new_file).names == ["cid", "name", "email"]


def test_forget_table_redact_mode(spark):
    df = spark.createDataFrame(
        [("a", "s1", 1), (None, "s2", 2), ("b", "s3", 3)],
        "customer_id string, secret string, n bigint",
    )
    items = [QueueItem(match_id="a")]
    groups = build_column_groups(df.schema, ["customer_id"], items)
    out = forget_table(df, groups, redact_columns=["customer_id", "secret"])
    rows = sorted(out.collect(), key=lambda r: r["n"])
    # matched row: both columns nulled, row kept; NULL identifier never
    # matches (null-safe), untouched row intact
    assert [tuple(r) for r in rows] == [
        (None, None, 1),
        (None, "s2", 2),
        ("b", "s3", 3),
    ]
    assert out.count() == 3
    assert out.schema == df.schema


def test_forget_table_redact_nested_field(spark):
    df = spark.createDataFrame(
        [(1, {"email": "e1", "age": 30}), (2, {"email": "e2", "age": 40})],
        "id bigint, user struct<email: string, age: bigint>",
    )
    items = [QueueItem(match_id=1)]
    groups = build_column_groups(df.schema, ["id"], items)
    out = forget_table(df, groups, redact_columns=["user.email"])
    rows = {r["id"]: r["user"].asDict() for r in out.collect()}
    assert rows[1] == {"email": None, "age": 30}
    assert rows[2] == {"email": "e2", "age": 40}
    assert out.schema == df.schema


def test_job_redact_mode_end_to_end(spark, tmp_path):
    loc = str(tmp_path / "people")
    spark.createDataFrame(
        [("u1", "a@x", "bio1"), ("u2", "b@x", "bio2"), ("u3", "c@x", "bio3")],
        "user_id string, email string, bio string",
    ).coalesce(1).write.parquet(loc)
    mapper = DataMapper(
        "people",
        loc,
        ["user_id"],
        format="parquet",
        delete_mode="redact",
        redact_columns=["email", "bio"],
    )
    mapper.validate(spark)
    items = [QueueItem(match_id="u1"), QueueItem(match_id="u3")]
    result = run_job(spark, [mapper], items)
    assert result.status == "COMPLETED"
    # stats count redacted rows through the same deleted_rows channel
    assert sum(s[3] for s in result.file_stats) == 2
    spark.catalog.clearCache()
    after = spark.read.parquet(loc)
    assert after.count() == 3  # no row deleted
    got = {r["user_id"]: (r["email"], r["bio"]) for r in after.collect()}
    assert got == {
        "u1": (None, None),
        "u2": ("b@x", "bio2"),
        "u3": (None, None),
    }


def test_job_redact_default_columns_are_identifiers(spark, tmp_path):
    loc = str(tmp_path / "t")
    spark.createDataFrame(
        [("u1", 1), ("u2", 2)], "user_id string, n bigint"
    ).coalesce(1).write.parquet(loc)
    mapper = DataMapper(
        "t", loc, ["user_id"], format="parquet", delete_mode="redact"
    )
    result = run_job(spark, [mapper], [QueueItem(match_id="u1")])
    assert result.status == "COMPLETED"
    spark.catalog.clearCache()
    got = sorted(
        spark.read.parquet(loc).collect(), key=lambda r: r["n"]
    )
    assert [tuple(r) for r in got] == [(None, 1), ("u2", 2)]


def test_redact_mapper_validation():
    with pytest.raises(ValueError, match="delete mode"):
        DataMapper("x", "/tmp/x", ["a"], delete_mode="purge")
    with pytest.raises(ValueError, match="RedactColumns requires"):
        DataMapper("x", "/tmp/x", ["a"], redact_columns=["b"])
    with pytest.raises(ValueError, match="partition key"):
        DataMapper(
            "x",
            "/tmp/x",
            ["a"],
            partition_keys=["dt"],
            delete_mode="redact",
            redact_columns=["dt"],
        )


# --- chaos tests: the Forget dispatch at scale and under failures ---------


def _chaos_synthetic_factory():
    """store_factory for the 100k-path scale test, pickled BY VALUE into
    each task (the test module is not importable from executor workers,
    so everything — including the store class — is defined inside the
    closure): serves the same tiny closure-captured parquet object for
    every path; one path has vanished mid-job and one hits a
    concurrent-writer conflict at commit time."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(
        pa.table({"customer_id": pa.array([1, 2, 3], pa.int64())}), buf
    )
    blob = buf.getvalue()  # built on the driver, ships in the closure

    def factory(arn):
        from amazon_s3_find_and_forget_spark.sources.object_store import (
            ObjectProperties,
            VersionConflictError,
        )

        class Store:
            def staging_dir(self, path):
                import tempfile

                return tempfile.mkdtemp()

            def fetch(self, path, dest):
                if path.endswith("/vanished.parquet"):
                    raise FileNotFoundError(path)
                with open(dest, "wb") as f:
                    f.write(blob)
                return dest, "v1"

            def get_properties(self, path):
                return ObjectProperties()

            def save(self, path, src, properties=None, source_version=None):
                return "v2"

            def verify_version_integrity(self, path, from_v, new_v):
                if path.endswith("/conflict.parquet"):
                    raise VersionConflictError("concurrent write detected")

            def rollback_version(self, path, version):
                pass

            def delete_old_versions(self, path, keep_version):
                return 0

        return Store()

    return factory


def test_forget_files_100k_paths_with_failures(spark):
    """Chaos e2e at scale: 100,001 affected paths through the one
    dispatcher, with one object vanished mid-job (ignore_not_found) and
    one concurrent-writer conflict forcing a rollback. Every object gets
    its own stats row, in ``files`` order, with the exact per-status
    counts."""
    from collections import Counter

    from amazon_s3_find_and_forget_spark.matches import ColumnGroup

    n = 100_001
    files = [f"s3://lake/f{i}.parquet" for i in range(n - 2)] + [
        "s3://lake/vanished.parquet",
        "s3://lake/conflict.parquet",
    ]
    groups = [ColumnGroup(["customer_id"], ["bigint"], [2], composite=False)]
    rewrite = rewriter(
        groups,
        fmt="parquet",
        ignore_not_found=True,
        store_factory=_chaos_synthetic_factory(),
    )
    stats = forget_files(spark, files, [rewrite] * n)
    assert [r[0] for r in stats] == files
    rollup = Counter((r[4], r[3]) for r in stats)
    assert rollup == {
        ("updated", 1): n - 2,  # one deleted row each
        ("skipped", 0): 1,
        ("failed", 0): 1,  # the rolled-back conflict
    }
    assert stats[-2][4:] == ("skipped", "ObjectNotFound")
    assert stats[-1][4] == "failed" and "VersionConflictError" in stats[-1][5]


def _chaos_local_factory():
    """LocalObjectStore wrapper injecting the same two failures by
    basename — pickled by value (see _chaos_synthetic_factory); used
    through run_job so the per-object EVENTS and counters are exercised
    end to end."""

    def factory(arn):
        import os as _os

        from amazon_s3_find_and_forget_spark.sources.object_store import (
            LocalObjectStore,
            VersionConflictError,
        )

        class Store(LocalObjectStore):
            def fetch(self, path, dest):
                if _os.path.basename(path) == "vanished.parquet":
                    raise FileNotFoundError(path)
                return super().fetch(path, dest)

            def verify_version_integrity(self, path, from_v, new_v):
                if _os.path.basename(path) == "conflict.parquet":
                    raise VersionConflictError("concurrent write detected")
                return super().verify_version_integrity(path, from_v, new_v)

        return Store()

    return factory


def test_run_job_chaos_events(spark, tmp_path):
    """run_job with one vanished object and one rollback: every object
    gets its own event, the counters fold from them, the conflict file
    rolls back to its pre-job bytes, and the job ends
    FORGET_PARTIALLY_FAILED."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from amazon_s3_find_and_forget_spark.jobs import fold_counters

    lake = tmp_path / "lake"
    lake.mkdir()
    for name, ids in (
        ("good.parquet", [1, 2]),
        ("vanished.parquet", [3, 4]),
        ("conflict.parquet", [5, 6]),
    ):
        pq.write_table(
            pa.table({"customer_id": pa.array(ids, pa.int64())}),
            str(lake / name),
        )
    result = run_job(
        spark,
        [DataMapper("t", str(lake), ["customer_id"],
                     ignore_object_not_found=True)],
        [QueueItem(match_id=2), QueueItem(match_id=4), QueueItem(match_id=6)],
        store_factory=_chaos_local_factory(),
    )
    assert result.status == "FORGET_PARTIALLY_FAILED", result.events
    assert result.counters["TotalObjectUpdateFailedCount"] == 1
    assert result.counters["TotalQueryFailedCount"] == 0
    by_object = {
        os.path.basename(e["EventData"]["Object"]): e
        for e in result.events
        if e["EventName"].startswith("ObjectUpdate")
    }
    assert by_object["good.parquet"]["EventName"] == "ObjectUpdated"
    assert by_object["vanished.parquet"]["EventName"] == "ObjectUpdateSkipped"
    failed = by_object["conflict.parquet"]
    assert failed["EventName"] == "ObjectUpdateFailed"
    assert "VersionConflictError" in failed["EventData"]["Error"]
    counters = fold_counters(result.events)
    assert counters["TotalObjectUpdatedCount"] == 1
    assert counters["TotalObjectUpdateSkippedCount"] == 1
    assert counters["TotalObjectUpdateFailedCount"] == 1

    spark.catalog.clearCache()
    got = {
        os.path.basename(p): sorted(
            r.customer_id
            for r in spark.read.parquet(str(lake / p)).collect()
        )
        for p in ("good.parquet", "vanished.parquet", "conflict.parquet")
    }
    assert got["good.parquet"] == [1]          # 2 deleted
    assert got["vanished.parquet"] == [3, 4]   # skipped, untouched
    assert got["conflict.parquet"] == [5, 6]   # rolled back to pre-job
