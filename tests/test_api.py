"""Control-plane facade: data mapper CRUD + validation, queue CRUD,
process with single-job guard, job/event listing, match-id redaction."""

import json
import os
import shutil
import uuid

import pytest

from amazon_s3_find_and_forget_spark import spark_metrics
from amazon_s3_find_and_forget_spark.api import (
    AlreadyRunningError,
    Engine,
    sanitize_message,
)


@pytest.fixture()
def lake(tmp_path, sf_dir):
    lake = tmp_path / "lineitem"
    lake.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "lineitem.parquet"), lake / "part-0.parquet"
    )
    return str(lake)


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "state"))


def test_data_mapper_crud_and_validation(engine, lake):
    engine.put_data_mapper("li", {"Location": lake, "Columns": ["l_orderkey"]})
    assert "li" in engine.list_data_mappers()

    # unknown identifier column rejected at PUT time
    with pytest.raises(Exception):
        engine.put_data_mapper("bad", {"Location": lake, "Columns": ["nope"]})

    # overlapping location rejected (handlers.py:148-156)
    with pytest.raises(ValueError, match="overlap"):
        engine.put_data_mapper(
            "li2", {"Location": lake + "/", "Columns": ["l_orderkey"]}
        )
    engine.delete_data_mapper("li")
    assert engine.list_data_mappers() == {}


def test_queue_crud(engine):
    items = engine.enqueue_matches(
        [{"MatchId": 123}, {"MatchId": "abc", "DataMappers": ["li"]}]
    )
    assert len(items) == 2
    listed, _ = engine.list_queue_page()
    assert [it["MatchId"] for it in listed] == [123, "abc"]
    engine.delete_matches([items[0]["DeletionQueueItemId"]])
    listed, _ = engine.list_queue_page()
    assert [it["MatchId"] for it in listed] == ["abc"]

    # composite validation (queue/handlers.py:144-161)
    with pytest.raises(ValueError):
        engine.enqueue_matches([{"MatchId": [], "Type": "Composite",
                                 "DataMappers": ["li"]}])
    with pytest.raises(ValueError):
        engine.enqueue_matches(
            [{"MatchId": [{"Column": "a", "Value": 1}], "Type": "Composite",
              "DataMappers": ["a", "b"]}]
        )


def test_process_queue_end_to_end(engine, spark, lake):
    engine.put_data_mapper("li", {"Location": lake, "Columns": ["l_orderkey"]})
    engine.enqueue_matches([{"MatchId": 1}, {"MatchId": 3}])
    n0 = spark.read.parquet(lake).count()

    job = engine.process_queue()
    assert job["JobStatus"] == "COMPLETED"
    assert job["TotalObjectUpdateFailedCount"] == 0
    assert spark.read.parquet(lake).count() < n0
    # ST3: completed job consumed the queue
    assert engine.list_queue_page() == ([], None)

    # job listing + event paging
    jobs, _ = engine.list_jobs()
    assert jobs[0]["Id"] == job["Id"]
    page1, wm = engine.list_job_events(job["Id"], page_size=2)
    assert len(page1) == 2
    page2, _ = engine.list_job_events(job["Id"], watermark=wm, page_size=100)
    assert page1[-1]["Sk"] < page2[0]["Sk"]
    names = [e["EventName"] for e in page1 + page2]
    assert names[0] == "JobStarted" and "ObjectUpdated" in names
    # the Find's wall time reaches the event and the job's counters
    found = [e for e in job["Events"] if e["EventName"] == "QuerySucceeded"]
    assert found[0]["EventData"]["Statistics"]["EngineExecutionTimeInMillis"] > 0
    assert job["TotalQueryTimeInMillis"] > 0
    # ... and so do the input bytes of its Find phase
    stages = spark_metrics.tagged_stages(
        spark.sparkContext, f"s3f2-job-{job['Id']}"
    )
    find_bytes = sum(
        r["input_bytes"] for r in stages if "s3f2-phase-find" in r["tags"]
    )
    assert find_bytes > 0
    assert found[0]["EventData"]["Statistics"]["DataScannedInBytes"] == find_bytes
    assert job["TotalQueryScannedInBytes"] == find_bytes


def test_single_job_guard(engine, spark, lake, tmp_path):
    engine.put_data_mapper("li", {"Location": lake, "Columns": ["l_orderkey"]})
    engine.enqueue_matches([{"MatchId": 1}])
    # simulate a stuck RUNNING job
    engine._save(os.path.join("jobs", "stuck"), {
        "Id": "stuck", "JobStatus": "RUNNING", "CreatedAt": 0})
    with pytest.raises(AlreadyRunningError):
        engine.process_queue()


def test_redaction(engine, spark, tmp_path):
    # a failing lake (file vanishes after mapper creation) -> error events
    # must not contain the match id
    assert sanitize_message("failed matching 12345 in x", [12345, "ab"]) == \
        "failed matching *** MATCH ID *** in x"

    lake = tmp_path / "gone"
    lake.mkdir()
    import pyarrow as pa, pyarrow.parquet as pq  # noqa: E401
    pq.write_table(pa.table({"customer_id": pa.array([1, 2], pa.int64())}),
                   str(lake / "f.parquet"))
    engine.put_data_mapper("g", {"Location": str(lake),
                                 "Columns": ["customer_id"]})
    engine.enqueue_matches([{"MatchId": 99887766}])
    os.remove(str(lake / "f.parquet"))
    job = engine.process_queue()
    payload = str(job)
    assert "99887766" not in payload


def test_manifest_written_and_future_watermark_rejected(engine, spark, lake):
    engine.put_data_mapper("li", {"Location": lake, "Columns": ["l_orderkey"]})
    engine.enqueue_matches([{"MatchId": 1}])
    job = engine.process_queue()
    assert job["JobStatus"] == "COMPLETED"
    # auditable manifest written partitioned by (JobId, DataMapperId)
    mdir = os.path.join(engine.state_dir, "manifests")
    mdf = spark.read.json(mdir)
    rows = mdf.collect()
    assert len(rows) == 1
    assert rows[0].QueryableColumns == "l_orderkey"
    assert str(rows[0].JobId) == job["Id"]
    assert str(rows[0].DataMapperId) == "li"
    # ST4: watermark beyond JobFinishTime + 1s is an error, not empty page
    with pytest.raises(ValueError, match="beyond"):
        engine.list_job_events(
            job["Id"], watermark=f"{job['JobFinishTime'] + 99999}#zz"
        )


def _customers_lake(path):
    import pyarrow as pa, pyarrow.parquet as pq  # noqa: E401

    os.makedirs(path)
    pq.write_table(
        pa.table(
            {
                "customer_id": pa.array([7, 8, 9], pa.int64()),
                "region": ["eu", "eu", "us"],
                "user": [{"email": "7"}, {"email": "b"}, {"email": "c"}],
            }
        ),
        os.path.join(path, "part-0.parquet"),
    )
    return path


def test_manifest_one_file_per_job_and_mapper(
    engine, spark, lake, tmp_path, monkeypatch
):
    from amazon_s3_find_and_forget_spark import matches

    # write_manifest runs on the driver: no Spark job under its group
    sc = spark.sparkContext
    group = f"manifest-{uuid.uuid4().hex}"
    real = matches.write_manifest

    def grouped(*args, **kwargs):
        sc.setJobGroup(group, "manifest")
        try:
            return real(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(matches, "write_manifest", grouped)
    cust = _customers_lake(str(tmp_path / "customers"))
    idle = _customers_lake(str(tmp_path / "idle"))
    engine.put_data_mapper(
        "m/1", {"Location": cust, "Columns": ["customer_id", "user.email"]}
    )
    engine.put_data_mapper("li", {"Location": lake, "Columns": ["l_orderkey"]})
    engine.put_data_mapper("idle", {"Location": idle, "Columns": ["customer_id"]})
    # ids Spark escapes in a directory name, and one it keeps as UTF-8
    for mid, loc in (("a=b:c%d", "escaped"), ("kunde-ü", "unicode")):
        engine.put_data_mapper(
            mid,
            {
                "Location": _customers_lake(str(tmp_path / loc)),
                "Columns": ["customer_id"],
            },
        )
    simple, composite = engine.enqueue_matches(
        [
            {"MatchId": 7, "DataMappers": ["m/1", "li", "a=b:c%d", "kunde-ü"]},
            {
                "MatchId": [
                    {"Column": "region", "Value": "eu"},
                    {"Column": "customer_id", "Value": 8},
                ],
                "Type": "Composite",
                "DataMappers": ["m/1"],
            },
        ]
    )
    job = engine.process_queue()
    assert job["JobStatus"] == "COMPLETED"
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    jid = job["Id"]
    root = os.path.join(engine.state_dir, "manifests", f"JobId={jid}")
    # the mapper with no routed items gets no partition; "/", "=", ":"
    # and "%" are escaped as Spark escapes them
    expected_dirs = [
        "DataMapperId=a%3Db%3Ac%25d",
        "DataMapperId=kunde-ü",
        "DataMapperId=li",
        "DataMapperId=m%2F1",
    ]
    assert sorted(os.listdir(root)) == expected_dirs
    escape = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    for mid in ("m/1", "a=b:c%d", "kunde-ü"):
        assert f"DataMapperId={escape.escapePathName(mid)}" in expected_dirs
    for c in map(chr, range(1, 0x200)):
        assert matches.escape_path_name(c) == escape.escapePathName(c), repr(c)
    assert job["Manifests"] == [os.path.join(root, d) for d in expected_dirs]
    for d in job["Manifests"]:
        # one visible JSON Lines file, and no temp file left behind
        assert len([f for f in os.listdir(d) if f.endswith(".json")]) == 1
        assert not [f for f in os.listdir(d) if f.startswith(".")]

    got = {
        (r.DataMapperId, tuple(r.Columns), tuple(r.MatchId),
         r.DeletionQueueItemId, r.CreatedAt, r.QueryableColumns,
         r.QueryableMatchId)
        for r in spark.read.json(os.path.join(engine.state_dir, "manifests"))
        .where(f"JobId = '{jid}'")
        .collect()
    }
    sid, cid = simple["DeletionQueueItemId"], composite["DeletionQueueItemId"]
    st, ct = simple["CreatedAt"], composite["CreatedAt"]
    assert got == {
        ("m/1", ("customer_id",), ("7",), sid, st, "customer_id", "7"),
        ("m/1", ("user.email",), ("7",), sid, st, "user.email", "7"),
        ("m/1", ("customer_id", "region"), ("8", "eu"), cid, ct,
         "customer_id_S3F2COMP_region", "8_S3F2COMP_eu"),
        ("li", ("l_orderkey",), ("7",), sid, st, "l_orderkey", "7"),
        ("a=b:c%d", ("customer_id",), ("7",), sid, st, "customer_id", "7"),
        ("kunde-ü", ("customer_id",), ("7",), sid, st, "customer_id", "7"),
    }


def test_find_failure_still_records_manifests(engine, lake, monkeypatch):
    from amazon_s3_find_and_forget_spark.plans import find

    def broken(*args, **kwargs):
        raise RuntimeError("scan failed")

    monkeypatch.setattr(find, "find_affected_files", broken)
    engine.put_settings({"QueryMaxRetries": 0})
    engine.put_data_mapper("li", {"Location": lake, "Columns": ["l_orderkey"]})
    engine.enqueue_matches([{"MatchId": 1}])
    job = engine.process_queue()
    assert job["JobStatus"] == "FIND_FAILED"
    # the manifest is written before the first Find, so the job document
    # still points at it and delete_job can clean it up
    assert job["Manifests"] == [
        os.path.join(
            engine.state_dir, "manifests", f"JobId={job['Id']}", "DataMapperId=li"
        )
    ]


def test_settings(engine):
    s = engine.get_settings()
    assert s["QueryMaxRetries"] == 2
    engine.put_settings({"QueryMaxRetries": 5})
    assert engine.get_settings()["QueryMaxRetries"] == 5
    with pytest.raises(ValueError, match="Unknown settings"):
        engine.put_settings({"NotAKnob": 1})


def test_sanitize_event_data_redacts_only_strings():
    from amazon_s3_find_and_forget_spark.api import sanitize_event_data

    data = {
        "Error": "query failed for id 1 on attempt",
        "Attempt": 1,
        "Statistics": {"DataScannedInBytes": 1},
        "Objects": ["file-1.parquet", 1],
    }
    out = sanitize_event_data(data, [1])
    # numbers survive untouched (no JSON corruption), strings redact
    assert out["Attempt"] == 1
    assert out["Statistics"]["DataScannedInBytes"] == 1
    assert out["Objects"][1] == 1
    assert "1" not in out["Error"]
    assert "*** MATCH ID ***" in out["Objects"][0]


# --- job deletion + retention (round-7; stream_processor.py:41-48,110-127,
# queue/handlers.py:136-139) -------------------------------------------------


def test_delete_job_removes_doc_and_manifests(engine, spark, lake):
    engine.put_data_mapper("li", {"Location": lake, "Columns": ["l_orderkey"]})
    engine.enqueue_matches([{"MatchId": 1}])
    job = engine.process_queue()
    jid = job["Id"]
    mpart = os.path.join(
        engine.state_dir, "manifests", f"JobId={jid}", "DataMapperId=li"
    )
    assert os.path.isdir(mpart)
    assert job["Manifests"] == [mpart]

    out = engine.delete_job(jid)
    assert out["ManifestsRemoved"] == [mpart]
    assert not os.path.exists(mpart)
    assert not os.path.exists(os.path.dirname(mpart))  # JobId dir pruned
    assert engine.get_job(jid) is None
    with pytest.raises(KeyError):
        engine.delete_job(jid)


def test_delete_job_refuses_active_and_bad_ids(engine):
    engine._save(
        os.path.join("jobs", "run1"),
        {"Id": "run1", "JobStatus": "RUNNING", "CreatedAt": 0},
    )
    with pytest.raises(AlreadyRunningError):
        engine.delete_job("run1")
    with pytest.raises(ValueError, match="Invalid job id"):
        engine.delete_job("../escape")


def test_delete_job_drops_catalog_partitions(engine, spark, lake, tmp_path):
    from amazon_s3_find_and_forget_spark.matches import (
        QueueItem,
        build_manifest_df,
        register_manifest_table,
    )

    table = "s3f2_manifests_test_del"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    for jid in ("jobA", "jobB"):
        mdf = build_manifest_df(
            spark, jid, "li", ["l_orderkey"], [QueueItem(match_id=1)]
        )
        register_manifest_table(
            mdf, table, path=str(tmp_path / "mtbl")
        )
    engine._save(
        os.path.join("jobs", "jobA"),
        {
            "Id": "jobA",
            "JobStatus": "COMPLETED",
            "CreatedAt": 0,
            "ManifestTable": table,
        },
    )
    out = engine.delete_job("jobA")
    assert out["PartitionsDropped"] == 1
    parts = [r[0] for r in spark.sql(f"SHOW PARTITIONS {table}").collect()]
    assert parts == ["JobId=jobB/DataMapperId=li"]
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_retention_stamps_expires_and_sweeps(engine, spark, lake):
    engine.put_data_mapper("li", {"Location": lake, "Columns": ["l_orderkey"]})
    engine.put_settings({"JobDetailsRetentionDays": 30})
    engine.enqueue_matches([{"MatchId": 1}])
    job = engine.process_queue()
    assert job["Expires"] == job["CreatedAt"] + 30 * 86400

    # not yet expired: sweep keeps it
    assert engine.expire_jobs(now=job["Expires"] - 1) == []
    assert engine.get_job(job["Id"]) is not None
    # past expiry: swept, manifests cleaned up with it
    assert engine.expire_jobs(now=job["Expires"]) == [job["Id"]]
    assert engine.get_job(job["Id"]) is None
    assert not os.path.isdir(
        os.path.join(engine.state_dir, "manifests", f"JobId={job['Id']}")
    )


def test_retention_zero_means_keep_forever(engine, spark, lake):
    engine.put_data_mapper("li", {"Location": lake, "Columns": ["l_orderkey"]})
    engine.enqueue_matches([{"MatchId": 1}])
    job = engine.process_queue()
    assert "Expires" not in job
    assert engine.expire_jobs(now=job["CreatedAt"] + 10**9) == []


def test_expired_sweep_skips_active_jobs(engine):
    engine._save(
        os.path.join("jobs", "a1"),
        {"Id": "a1", "JobStatus": "RUNNING", "CreatedAt": 0, "Expires": 1},
    )
    engine._save(
        os.path.join("jobs", "d1"),
        {"Id": "d1", "JobStatus": "COMPLETED", "CreatedAt": 0, "Expires": 1},
    )
    assert engine.expire_jobs(now=100) == ["d1"]
    assert engine.get_job("a1") is not None


def test_process_queue_runs_retention_sweep(engine, spark, lake):
    engine._save(
        os.path.join("jobs", "old1"),
        {"Id": "old1", "JobStatus": "COMPLETED", "CreatedAt": 0, "Expires": 1},
    )
    engine.put_data_mapper("li", {"Location": lake, "Columns": ["l_orderkey"]})
    engine.enqueue_matches([{"MatchId": 1}])
    job = engine.process_queue()
    assert job["JobStatus"] == "COMPLETED"
    assert engine.get_job("old1") is None


def test_vacuum_runs_retention_sweep(engine, spark, tmp_path):
    engine._save(
        os.path.join("jobs", "old2"),
        {"Id": "old2", "JobStatus": "COMPLETED", "CreatedAt": 0, "Expires": 1},
    )
    lake = tmp_path / "emptylake"
    lake.mkdir()
    out = engine.vacuum(str(lake))
    assert out["jobs_expired"] == ["old2"]
    assert engine.get_job("old2") is None


def test_delete_job_force_recovers_wedged_run(engine):
    # a crashed driver leaves the doc QUEUED forever; force must clear it
    engine._save(
        os.path.join("jobs", "wedged"),
        {"Id": "wedged", "JobStatus": "QUEUED", "CreatedAt": 0},
    )
    with pytest.raises(AlreadyRunningError):
        engine.delete_job("wedged")
    out = engine.delete_job("wedged", force=True)
    assert out["Id"] == "wedged"
    assert engine.get_job("wedged") is None
    assert not engine._running_job_exists()


def test_manifest_table_setting_registers_and_cleans_catalog(
    engine, spark, lake
):
    """ManifestTable setting closes the loop: process_queue registers the
    job's manifest partitions in the catalog, delete_job (no explicit
    table arg) drops them again."""
    table = "s3f2_manifests_setting_rt"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    engine.put_settings({"ManifestTable": table})
    engine.put_data_mapper("li", {"Location": lake, "Columns": ["l_orderkey"]})
    engine.enqueue_matches([{"MatchId": 1}])
    job = engine.process_queue()
    parts = [r[0] for r in spark.sql(f"SHOW PARTITIONS {table}").collect()]
    assert parts == [f"JobId={job['Id']}/DataMapperId=li"]
    out = engine.delete_job(job["Id"])
    assert out["PartitionsDropped"] == 1
    assert spark.sql(f"SHOW PARTITIONS {table}").count() == 0
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_drop_partitions_handles_quoted_and_escaped_mapper_ids(
    engine, spark, tmp_path
):
    from amazon_s3_find_and_forget_spark.matches import (
        QueueItem,
        build_manifest_df,
        register_manifest_table,
    )

    table = "s3f2_manifests_quoting"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a quote and a space in the mapper id: the DROP predicate must
    # neither break nor silently no-op on the Hive-escaped form
    mdf = build_manifest_df(
        spark, "jq1", "o'brien x", ["l_orderkey"], [QueueItem(match_id=1)]
    )
    register_manifest_table(mdf, table, path=str(tmp_path / "mq"))
    engine._save(
        os.path.join("jobs", "jq1"),
        {
            "Id": "jq1",
            "JobStatus": "COMPLETED",
            "CreatedAt": 0,
            "ManifestTable": table,
        },
    )
    out = engine.delete_job("jq1")
    assert out["PartitionsDropped"] == 1
    assert spark.sql(f"SHOW PARTITIONS {table}").count() == 0
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_job_doc_records_creator_and_config_snapshot(engine, spark, lake):
    engine.put_data_mapper("li", {"Location": lake, "Columns": ["l_orderkey"]})
    engine.put_settings({"QueryMaxRetries": 4})
    engine.enqueue_matches([{"MatchId": 1}])
    job = engine.process_queue()
    # parity queue/handlers.py:127-135: caller identity + config snapshot
    assert job["CreatedBy"]["Username"]
    assert job["QueryMaxRetries"] == 4
    assert "JobDetailsRetentionDays" not in job


def test_metrics_gauges(engine):
    # A7: queue depth, job-status histogram, running gauge, expirables
    engine.enqueue_matches([{"MatchId": 1}, {"MatchId": 2}])
    engine._save(
        os.path.join("jobs", "r1"),
        {"Id": "r1", "JobStatus": "RUNNING", "CreatedAt": 0},
    )
    engine._save(
        os.path.join("jobs", "c1"),
        {"Id": "c1", "JobStatus": "COMPLETED", "CreatedAt": 0, "Expires": 1},
    )
    m = engine.metrics()
    assert m["DeletionQueueSize"] == 2
    assert m["JobsByStatus"] == {"COMPLETED": 1, "RUNNING": 1}
    assert m["RunningJobs"] == 1
    assert m["ExpirableJobs"] == 1
    assert m["DataMappers"] == 0


def test_iter_jobs_skips_corrupt_docs(engine):
    engine._save(
        os.path.join("jobs", "ok1"),
        {"Id": "ok1", "JobStatus": "COMPLETED", "CreatedAt": 5},
    )
    with open(os.path.join(engine.state_dir, "jobs", "bad.json"), "w") as f:
        f.write('{"Id": "bad", "JobSta')  # truncated mid-write
    open(os.path.join(engine.state_dir, "jobs", "empty.json"), "w").close()
    # none of the four consumers may raise on the corrupt docs
    assert [j["Id"] for j in engine.list_jobs()[0]] == ["ok1"]
    assert engine._running_job_exists() is False
    assert engine.metrics()["JobsByStatus"] == {"COMPLETED": 1}
    assert engine.expire_jobs(now=10) == []


def test_delete_job_survives_state_dir_relocation(engine, spark, lake, tmp_path):
    """Stored Manifests paths are absolute; after a state-dir move the
    cleanup must still find the manifest dirs via the layout derivation
    (union, not fallback-only)."""
    import json
    import shutil

    engine.put_data_mapper("li", {"Location": lake, "Columns": ["l_orderkey"]})
    engine.enqueue_matches([{"MatchId": 1}])
    job = engine.process_queue()
    jid = job["Id"]
    # relocate the whole state dir
    new_state = str(tmp_path / "state-moved")
    shutil.move(engine.state_dir, new_state)
    moved = Engine(spark, new_state)
    # stored paths still point at the OLD location
    raw = json.load(open(os.path.join(new_state, "jobs", jid + ".json")))
    assert raw["Manifests"] and engine.state_dir in raw["Manifests"][0]
    out = moved.delete_job(jid)
    # layout-derived union removed the RELOCATED manifest dirs
    assert any(new_state in m for m in out["ManifestsRemoved"])
    assert not os.path.isdir(
        os.path.join(new_state, "manifests", f"JobId={jid}")
    )


def test_delete_job_drops_partitions_from_recorded_table(
    engine, spark, lake
):
    """The job doc's settings snapshot pins the ManifestTable the job RAN
    under; a later reconfiguration must not orphan the old partitions."""
    table = "s3f2_manifests_recorded_rt"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    engine.put_settings({"ManifestTable": table})
    engine.put_data_mapper("li", {"Location": lake, "Columns": ["l_orderkey"]})
    engine.enqueue_matches([{"MatchId": 1}])
    job = engine.process_queue()
    # reconfigure AFTER the run: delete_job must still hit the old table
    engine.put_settings({"ManifestTable": "s3f2_manifests_other"})
    out = engine.delete_job(job["Id"])
    assert out["PartitionsDropped"] == 1
    assert spark.sql(f"SHOW PARTITIONS {table}").count() == 0
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_redact_mode_mapper_through_engine(engine, spark, tmp_path):
    """DeleteMode=redact flows PUT-config -> DataMapper -> job: matched
    rows survive with RedactColumns nulled; invalid configs 400 at PUT."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lake = tmp_path / "redact-lake"
    lake.mkdir()
    pq.write_table(
        pa.table(
            {
                "customer_id": pa.array(["c1", "c2", "c3"]),
                "email": pa.array(["a@x", "b@x", "c@x"]),
            }
        ),
        str(lake / "f.parquet"),
    )
    with pytest.raises(ValueError):
        engine.put_data_mapper(
            "bad", {"Location": str(lake), "Columns": ["customer_id"],
                    "DeleteMode": "nope"}
        )
    with pytest.raises(ValueError):
        # redact column must resolve in the table schema
        engine.put_data_mapper(
            "bad", {"Location": str(lake), "Columns": ["customer_id"],
                    "DeleteMode": "redact", "RedactColumns": ["ghost"]}
        )
    engine.put_data_mapper(
        "r",
        {
            "Location": str(lake),
            "Columns": ["customer_id"],
            "DeleteMode": "redact",
            "RedactColumns": ["email"],
        },
    )
    engine.enqueue_matches([{"MatchId": "c2"}])
    job = engine.process_queue()
    assert job["JobStatus"] == "COMPLETED"
    spark.catalog.clearCache()
    got = {
        r["customer_id"]: r["email"]
        for r in spark.read.parquet(str(lake)).collect()
    }
    # row kept, identifier kept (not listed), email erased
    assert got == {"c1": "a@x", "c2": None, "c3": "c@x"}


def test_queue_anchor_survives_large_delete_burst(engine):
    """A single job consuming a large burst of matches (1,200) leaves
    every consumed anchor usable: a client mid-scan resumes past its
    (deleted) anchor instead of silently ending early."""
    n = 1000 + 200
    engine.enqueue_matches([{"MatchId": i} for i in range(n)])
    page, next_start = engine.list_queue_page(page_size=10)
    anchor = next_start  # an early anchor, position ~10
    all_ids = [
        it["DeletionQueueItemId"]
        for it in engine.list_queue_page(page_size=n + 10)[0]
    ]
    engine.delete_matches(all_ids)  # one large burst
    engine.enqueue_matches([{"MatchId": "fresh"}])
    page2, _ = engine.list_queue_page(start_at=anchor, page_size=10)
    assert [it["MatchId"] for it in page2] == ["fresh"]


def test_queue_burst_anchors_survive_older_tombstones(engine):
    """Deleting the later-enqueued half of the queue first, then the
    earlier half, must not lose an early anchor of the second burst —
    it is exactly the id a client mid-scan through the consumed matches
    resumes from."""
    cap = 1000
    engine.enqueue_matches([{"MatchId": f"a{i}"} for i in range(cap + 500)])
    engine.enqueue_matches([{"MatchId": f"b{i}"} for i in range(cap + 500)])
    ids = {
        it["MatchId"]: it["DeletionQueueItemId"]
        for it in engine.list_queue_page(page_size=2 * cap + 2000)[0]
    }
    # delete the LATER-enqueued b's first
    engine.delete_matches([v for k, v in ids.items() if k.startswith("b")])
    _, next_start = engine.list_queue_page(page_size=10)
    anchor = next_start  # an early a anchor, position ~10
    engine.delete_matches([v for k, v in ids.items() if k.startswith("a")])
    engine.enqueue_matches([{"MatchId": "fresh"}])
    page, _ = engine.list_queue_page(start_at=anchor, page_size=10)
    assert [it["MatchId"] for it in page] == ["fresh"]


def test_queue_pages_old_uuid_ids_with_engine_ids(engine):
    """A state dir written before the engine assigned its own ids holds
    uuid4 ids; they sort by their text among the engine's ids, so a
    full scan returns every item exactly once, and a deleted anchor of
    either kind still places the next page."""
    engine.enqueue_matches([{"MatchId": f"new{i}"} for i in range(4)])
    queue = engine._load("deletion_queue", [])
    old = [
        {"DeletionQueueItemId": str(uuid.uuid4()), "Type": "Simple",
         "MatchId": f"old{i}", "CreatedAt": 1, "DataMappers": []}
        for i in range(4)
    ]
    engine._save("deletion_queue", old + queue)

    seen, start = [], None
    while True:
        page, start = engine.list_queue_page(start_at=start, page_size=3)
        seen += [it["MatchId"] for it in page]
        if start is None:
            break
    assert sorted(seen) == sorted(f"{k}{i}" for k in ("old", "new")
                                  for i in range(4))
    ids = sorted(it["DeletionQueueItemId"] for it in old + queue)
    for anchor in ids:
        engine.delete_matches([anchor])
        rest, _ = engine.list_queue_page(start_at=anchor, page_size=100)
        assert [it["DeletionQueueItemId"] for it in rest] == [
            i for i in ids if i > anchor
        ]


def test_enqueue_assigns_ids_and_ignores_client_ids(engine):
    """The engine assigns every DeletionQueueItemId, in enqueue order: a
    client-sent id is ignored, so two items sent with the same id stay
    two items, each deletable on its own."""
    items = engine.enqueue_matches(
        [{"MatchId": "a", "DeletionQueueItemId": "dup"},
         {"MatchId": "b", "DeletionQueueItemId": "dup"}]
    )
    items += engine.enqueue_matches([{"MatchId": "c"}])
    ids = [it["DeletionQueueItemId"] for it in items]
    assert "dup" not in ids and len(set(ids)) == 3
    assert ids == sorted(ids)
    engine.delete_matches([ids[0]])
    listed, _ = engine.list_queue_page()
    assert [it["MatchId"] for it in listed] == ["b", "c"]


def test_concurrent_enqueues_keep_id_order_and_file_order(tmp_path):
    """Request threads enqueue at once: every id is distinct, and the
    queue file's order is the ids' order, so paging by id loses or
    repeats nothing."""
    import sys
    import threading

    engine = Engine(_unused_session, str(tmp_path / "state"))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(
                target=lambda t=t: [
                    engine.enqueue_matches([{"MatchId": f"{t}-{i}"}])
                    for i in range(25)
                ]
            )
            for t in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    ids = [it["DeletionQueueItemId"] for it in engine._load("deletion_queue", [])]
    assert len(ids) == 200 and ids == sorted(set(ids))


def test_enqueues_from_two_processes_lose_no_item(tmp_path):
    """Two processes share one state dir: every read-modify-write of the
    queue holds the dir's file lock and saves through its own temp file,
    so 2 x 200 enqueues leave 400 items."""
    import subprocess
    import sys

    state = str(tmp_path / "state")
    script = (
        "import sys\n"
        "from amazon_s3_find_and_forget_spark.api import Engine\n"
        "engine = Engine(lambda: None, sys.argv[1])\n"
        "for i in range(200):\n"
        "    engine.enqueue_matches([{'MatchId': f'{sys.argv[2]}-{i}'}])\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, state, tag],
            cwd=root,
            stderr=subprocess.PIPE,
        )
        for tag in ("a", "b")
    ]
    errors = [p.communicate(timeout=120)[1] for p in procs]
    assert [p.returncode for p in procs] == [0, 0], errors
    queue = Engine(_unused_session, state)._load("deletion_queue", [])
    assert len(queue) == 400
    assert len({it["DeletionQueueItemId"] for it in queue}) == 400
    assert sorted(os.listdir(state)) == [".lock", "deletion_queue.json", "jobs"]


def test_two_concurrent_process_calls_start_one_job(engine, tmp_path):
    """Two processes run the CLI's ``process`` on one state dir at the
    same moment. The guard check and the QUEUED save are one critical
    section under the dir's file lock, so one job document is created,
    the other call stops at the single-job guard before it starts Spark,
    and the one job consumes every queue item."""
    import subprocess
    import sys
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    lake = tmp_path / "ids"
    lake.mkdir()
    for k in range(2):
        ids = pa.array(range(k * 100, (k + 1) * 100), pa.int64())
        pq.write_table(pa.table({"id": ids}), str(lake / f"p{k}.parquet"))
    engine.put_data_mapper("ids", {"Location": str(lake), "Columns": ["id"]})
    engine.enqueue_matches([{"MatchId": 7}, {"MatchId": 107}])
    script = (
        "import sys, time\n"
        "from amazon_s3_find_and_forget_spark.cli import main\n"
        "time.sleep(max(0.0, float(sys.argv[2]) - time.time()))\n"
        "sys.exit(main(['--state-dir', sys.argv[1], '--cpus', '2', 'process']))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g", PYSPARK_PYTHON=sys.executable)
    start = str(time.time() + 5)  # both have imported the CLI by then
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, engine.state_dir, start],
            cwd=root, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        )
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=300) for p in procs]
    codes = sorted(p.returncode for p in procs)
    assert codes[0] == 0 and codes[1] != 0, [err[-2000:] for _, err in outs]
    (refused,) = [err for p, (_, err) in zip(procs, outs) if p.returncode]
    assert b"There is already a job in progress" in refused
    (done,) = [json.loads(out) for p, (out, _) in zip(procs, outs) if not p.returncode]
    assert os.listdir(os.path.join(engine.state_dir, "jobs")) == [done["Id"] + ".json"]
    assert done["JobStatus"] == "COMPLETED"
    assert done["DeletionQueueSize"] == 2
    assert done["TotalObjectUpdatedCount"] == 2
    assert engine.list_queue_page()[0] == []


def test_state_dir_uri_is_refused(tmp_path, monkeypatch):
    """State is read and written with os/open on the driver, so a URI
    state dir is refused instead of becoming a local ``s3:`` directory."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="POSIX path"):
        Engine(_unused_session, "s3://my-bucket/s3f2-state")
    assert os.listdir(tmp_path) == []


def _unused_session():
    pytest.fail("the engine started a session")


def test_engine_starts_its_session_once(tmp_path):
    """A session factory is called on the first read of ``spark`` and
    never again, even when a second thread reads ``spark`` while the
    first is still inside the factory."""
    import threading
    import time

    calls = []
    session = object()

    def factory():
        calls.append(1)
        time.sleep(0.2)  # hold the first caller inside the factory
        return session

    engine = Engine(factory, str(tmp_path / "state"))
    assert calls == []
    seen = []
    threads = [
        threading.Thread(target=lambda: seen.append(engine.spark))
        for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert seen == [session, session]


def test_list_jobs_pages_through_ties_of_its_boundary_second(engine):
    """CreatedAt is in seconds and NextStart an exclusive bound, so a
    full page runs on through the jobs of its last second: with jobs at
    5, 5 and 4 and page_size=1, paging lists all three, each once."""
    for jid, created in (("j0", 5), ("j1", 5), ("j2", 4)):
        engine._save(
            os.path.join("jobs", jid),
            {"Id": jid, "JobStatus": "COMPLETED", "CreatedAt": created},
        )
    seen, start = [], None
    while True:
        page, start = engine.list_jobs(page_size=1, start_at=start)
        seen += [j["Id"] for j in page]
        if start is None:
            break
    assert sorted(seen) == ["j0", "j1", "j2"]
    page, start = engine.list_jobs(page_size=1)
    assert sorted(j["Id"] for j in page) == ["j0", "j1"] and start == 5


@pytest.mark.parametrize(
    "id_type, warm, steady",
    [
        pytest.param("int64", [1, 3], [5, 105, 107, 399], id="int64"),
        pytest.param("int32", [1, 3], [5, 105, 107, 399], id="int32"),
        pytest.param("int64", [1], [105], id="int64-one-id"),
    ],
)
def test_steady_job_runs_three_spark_jobs_and_compiles_nothing(
    engine, spark, tmp_path, id_type, warm, steady
):
    """After one warm-up job, a Parquet-only job reads its pinned schema
    without a Spark job, runs Find as one shuffle (2 Spark jobs) and
    Forget as one, and its InSet match sets reuse the generated code of
    the job before, so it adds no Janino compile. An int column is the
    case where InSet would otherwise inline its values into a switch;
    a one-id job is the case where Catalyst would plan ``=`` with the
    id inlined."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lake = tmp_path / "ids"
    lake.mkdir()
    for k in range(4):
        ids = pa.array(range(k * 100, (k + 1) * 100), getattr(pa, id_type)())
        pq.write_table(pa.table({"id": ids}), str(lake / f"p{k}.parquet"))
    sc = spark.sparkContext
    codegen = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def spark_jobs(job_id):
        rows = spark_metrics.tagged_stages(sc, f"s3f2-job-{job_id}")
        return spark_metrics.totals(rows)["spark_jobs"]

    engine.put_data_mapper("ids", {"Location": str(lake), "Columns": ["id"]})
    engine.enqueue_matches([{"MatchId": m} for m in warm])
    assert engine.process_queue()["JobStatus"] == "COMPLETED"
    compiles = codegen.METRIC_COMPILATION_TIME().getCount()
    engine.enqueue_matches([{"MatchId": m} for m in steady])
    job = engine.process_queue()
    assert job["JobStatus"] == "COMPLETED"
    assert job["TotalObjectUpdatedCount"] == len({m // 100 for m in steady})
    assert spark_jobs(job["Id"]) == 3
    assert codegen.METRIC_COMPILATION_TIME().getCount() == compiles
    # the InSet confs live on the job's session clone only
    assert spark.conf.get("spark.sql.optimizer.inSetConversionThreshold") == "10"


def test_steady_json_job_compiles_nothing(engine, spark, tmp_path):
    """A JSON mapper's Find reads with filter pushdown off in the job's
    clone: the JSON reader would compile its pushed ``In`` with the ids
    inlined, a new compile on every job."""
    import gzip

    lake = tmp_path / "jlake"
    lake.mkdir()
    for k in range(2):
        with gzip.open(lake / f"p{k}.json.gz", "wt") as f:
            for i in range(k * 100, (k + 1) * 100):
                f.write(json.dumps({"customer_id": i, "name": f"n{i}"}) + "\n")
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    engine.put_data_mapper(
        "j", {"Location": str(lake), "Format": "json", "Columns": ["customer_id"]}
    )
    engine.enqueue_matches([{"MatchId": 1}, {"MatchId": 3}])
    assert engine.process_queue()["JobStatus"] == "COMPLETED"
    compiles = codegen.METRIC_COMPILATION_TIME().getCount()
    engine.enqueue_matches([{"MatchId": m} for m in (5, 105, 107)])
    job = engine.process_queue()
    assert job["JobStatus"] == "COMPLETED"
    assert job["TotalObjectUpdatedCount"] == 2
    assert codegen.METRIC_COMPILATION_TIME().getCount() == compiles
    # the pushdown conf lives on the job's session clone only
    assert spark.conf.get("spark.sql.json.filterPushdown.enabled") == "true"
