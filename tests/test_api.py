"""Control-plane facade: data mapper CRUD + validation, queue CRUD,
process with single-job guard, job/event listing, match-id redaction."""

import os
import shutil
import uuid

import pytest

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
    jobs = engine.list_jobs()
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
    assert [j["Id"] for j in engine.list_jobs()] == ["ok1"]
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
    """A single job consuming more matches than the tombstone cap must
    leave every consumed anchor resolvable: a client mid-scan resumes
    past its (deleted) anchor instead of silently ending early."""
    n = Engine._QUEUE_ORDER_TOMBSTONES + 200
    engine.enqueue_matches([{"MatchId": i} for i in range(n)])
    page, next_start = engine.list_queue_page(page_size=10)
    anchor = next_start  # an early anchor, position ~10
    all_ids = [
        it["DeletionQueueItemId"]
        for it in engine.list_queue_page(page_size=n + 10)[0]
    ]
    engine.delete_matches(all_ids)  # one burst larger than the cap
    engine.enqueue_matches([{"MatchId": "fresh"}])
    page2, _ = engine.list_queue_page(start_at=anchor, page_size=10)
    assert [it["MatchId"] for it in page2] == ["fresh"]


def test_queue_burst_anchors_survive_older_tombstones(engine):
    """Tombstone pruning keeps ids in ENQUEUE order, so older
    tombstones sitting LATER in enqueue order must not evict this
    burst's earliest-enqueued anchors — they are exactly the ids a
    client mid-scan through the consumed matches resumes from, and the
    pruner keeps this call's ids explicitly."""
    cap = Engine._QUEUE_ORDER_TOMBSTONES
    engine.enqueue_matches([{"MatchId": f"a{i}"} for i in range(cap + 500)])
    engine.enqueue_matches([{"MatchId": f"b{i}"} for i in range(cap + 500)])
    ids = {
        it["MatchId"]: it["DeletionQueueItemId"]
        for it in engine.list_queue_page(page_size=2 * cap + 2000)[0]
    }
    # delete the LATER-enqueued b's first: their tombstones sit after
    # every a in the enqueue-order index
    engine.delete_matches([v for k, v in ids.items() if k.startswith("b")])
    _, next_start = engine.list_queue_page(page_size=10)
    anchor = next_start  # an early a anchor, position ~10
    engine.delete_matches([v for k, v in ids.items() if k.startswith("a")])
    engine.enqueue_matches([{"MatchId": "fresh"}])
    page, _ = engine.list_queue_page(start_at=anchor, page_size=10)
    assert [it["MatchId"] for it in page] == ["fresh"]


def test_queue_legacy_state_dir_backfills_order_index(engine):
    """A state dir from before the enqueue-order index existed has live
    queue items with no index entry; pagination must backfill them (in
    queue order, BEFORE any indexed id) instead of treating them as
    'before every anchor' and silently dropping them from a positional
    resume."""
    engine.enqueue_matches([{"MatchId": f"m{i}"} for i in range(4)])
    os.remove(os.path.join(engine.state_dir, "queue_order.json"))
    engine.enqueue_matches([{"MatchId": "m4"}])  # only m4 gets indexed

    page, next_start = engine.list_queue_page(page_size=2)
    assert [it["MatchId"] for it in page] == ["m0", "m1"]
    anchor = next_start  # m1's id — a legacy, now-backfilled anchor
    engine.delete_matches([anchor])
    page2, _ = engine.list_queue_page(start_at=anchor, page_size=10)
    assert [it["MatchId"] for it in page2] == ["m2", "m3", "m4"]


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
