"""End-to-end CLI driver test: the reference runbook, line by line.

Each data command keeps one runbook test through argv (dedup-screen,
compact-index, curate, select-data) plus its refusal tests; the other
pipeline cases call the package functions the commands call
(``screen_batch``, ``curate``, ``select_data``) directly."""

import json
import pytest
import os
import shutil

from amazon_s3_find_and_forget_spark.cli import main
from amazon_s3_find_and_forget_spark.curation import curate, select_data
from amazon_s3_find_and_forget_spark.operators import InputRefused
from amazon_s3_find_and_forget_spark.operators.incremental import (
    compact_index,
    screen_batch,
)


def run(capsys, *argv):
    rc = main(list(argv))
    assert rc == 0
    out = capsys.readouterr().out
    return json.loads(out)


def _screen(spark, *args, **kwargs):
    """``screen_batch``'s report, for a screen that must not warn."""
    report, warnings = screen_batch(spark, *args, **kwargs)
    assert warnings == []
    return report


def test_cli_full_runbook(spark, tmp_path, sf_dir, capsys):
    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    shutil.copy(
        os.path.join(sf_dir, "customer.parquet"),
        os.path.join(lake, "customer.parquet"),
    )
    state = str(tmp_path / "state")
    base = ["--state-dir", state, "--cpus", "4"]

    before = spark.read.parquet(lake).count()

    m = run(capsys, *base, "put-mapper", "cust", "--location", lake,
            "--column", "c_custkey")
    assert "cust" in m and m["cust"]["Columns"] == ["c_custkey"]

    listed = run(capsys, *base, "list-mappers")
    assert "cust" in json.dumps(listed)

    run(capsys, *base, "enqueue", "--match-id", "1", "--match-id", "7")
    q = run(capsys, *base, "list-queue")
    assert len(q["MatchIds"]) == 2 and q["NextStart"] is None

    job = run(capsys, *base, "process")
    assert job["JobStatus"] == "COMPLETED"

    after_df = spark.read.parquet(lake)
    assert after_df.count() == before - 2
    assert after_df.where("c_custkey in (1, 7)").count() == 0

    jobs = run(capsys, *base, "list-jobs")
    assert any(j["Id"] == job["Id"] for j in jobs)

    ev = run(capsys, *base, "job-events", job["Id"])
    assert ev["Events"]


def test_cli_vacuum(spark, tmp_path, capsys):
    lake = str(tmp_path / "vlake")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(500)], "k long, v string"
    ).repartition(10).write.parquet(lake)
    before = sorted(
        (r.k, r.v) for r in spark.read.parquet(lake).collect()
    )
    out = run(
        capsys, "--state-dir", str(tmp_path / "s"), "--cpus", "4",
        "vacuum", "--location", lake, "--target-bytes", str(1 << 30),
    )
    assert out["files_after"] < out["files_before"] == 10
    after = sorted((r.k, r.v) for r in spark.read.parquet(lake).collect())
    assert after == before


def test_cli_settings_roundtrip(tmp_path, capsys):
    base = ["--state-dir", str(tmp_path / "s"), "--cpus", "4"]
    current = run(capsys, *base, "settings")
    assert current["QueryMaxRetries"] == 2
    updated = run(capsys, *base, "settings", "--set", "QueryMaxRetries=5")
    assert updated["QueryMaxRetries"] == 5
    # persisted across invocations
    again = run(capsys, *base, "settings")
    assert again["QueryMaxRetries"] == 5


def test_vacuum_purges_orphaned_version_stores(spark, tmp_path, capsys):
    """Compaction deletes merged-away files; their version stores must
    still purge (erased history must not survive a vacuum)."""
    import glob

    from amazon_s3_find_and_forget_spark.sources import versions

    lake = str(tmp_path / "olake")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "k long, v string"
    ).repartition(4).write.parquet(lake)
    files = sorted(glob.glob(lake + "/*.parquet"))
    # archive a version beside EVERY file (DeleteOldVersions=False path)
    for f in files:
        snap = versions.snapshot(f)
        tmp = f + ".tmp"
        import shutil as _sh

        _sh.copy(f, tmp)
        versions.commit(f, tmp, snap, delete_old=False)
    assert os.path.isdir(os.path.join(lake, ".s3f2versions"))

    out = run(
        capsys, "--state-dir", str(tmp_path / "s"), "--cpus", "4",
        "vacuum", "--location", lake, "--target-bytes", str(1 << 30),
    )
    assert out["versions_purged"] >= len(files)
    assert out["files_after"] < out["files_before"]
    # no version store survives anywhere, including for merged-away files
    assert not os.path.isdir(os.path.join(lake, ".s3f2versions"))


def test_cli_check_quality_gate(spark, tmp_path, sf_dir, capsys):
    lake = str(tmp_path / "qlake")
    os.makedirs(lake)
    shutil.copy(
        os.path.join(sf_dir, "lineitem.parquet"),
        os.path.join(lake, "lineitem.parquet"),
    )
    base = ["--state-dir", str(tmp_path / "s"), "--cpus", "4"]
    rows = run(
        capsys, *base, "check", "--location", lake,
        "--not-null", "l_orderkey",
        "--unique", "l_orderkey,l_linenumber",
        "--range", "l_quantity:0:50",
        "--accepted", "l_returnflag:A,N,R",
    )
    by_rule = {r["rule"]: r["violations"] for r in rows}
    # the synthetic generator does NOT enforce the (orderkey, linenumber)
    # key — the gate catching that is the operator working as intended;
    # assert against an independently computed truth
    li = spark.read.parquet(lake)
    expected_dups = (
        li.count()
        - li.select("l_orderkey", "l_linenumber").distinct().count()
    )
    assert by_rule == {
        "not_null(l_orderkey)": 0,
        "unique(l_orderkey, l_linenumber)": expected_dups,
        "range(l_quantity)": 0,
        "accepted_values(l_returnflag)": 0,
    }
    assert expected_dups > 0
    # --fail-on-violation exits nonzero when a rule trips
    from amazon_s3_find_and_forget_spark.cli import main as cli_main

    rc = cli_main(
        base + ["check", "--location", lake, "--range", "l_quantity:0:1",
                "--fail-on-violation"]
    )
    capsys.readouterr()
    assert rc == 1


def _no_session():
    pytest.fail("a state-only Engine call started a Spark session")


@pytest.fixture
def state_only(tmp_path, monkeypatch):
    """An Engine over a fresh state dir holding one mapper and two
    completed jobs, with the session factory patched to raise: a CLI
    command that asks it for a session fails the test."""
    from amazon_s3_find_and_forget_spark import session
    from amazon_s3_find_and_forget_spark.api import Engine

    def refuse(*args, **kwargs):
        raise AssertionError("get_spark called by a state-only command")

    monkeypatch.setattr(session, "get_spark", refuse)
    state = str(tmp_path / "state")
    eng = Engine(_no_session, state_dir=state)
    eng._save(
        "data_mappers",
        {"cust": {"Location": "/lake/cust", "Columns": ["c_custkey"]}},
    )
    eng._save(
        os.path.join("jobs", "done1"),
        {"Id": "done1", "JobStatus": "COMPLETED", "CreatedAt": 0},
    )
    eng._save(
        os.path.join("jobs", "old1"),
        {"Id": "old1", "JobStatus": "COMPLETED", "CreatedAt": 1, "Expires": 1},
    )
    return eng, ["--state-dir", state, "--cpus", "4"]


def test_cli_state_only_commands_start_no_session(state_only, capsys):
    """Listing, queueing and settings read and write the state dir
    alone, so no command among them asks for a Spark session."""
    eng, base = state_only
    out = run(capsys, *base, "settings", "--set", "QueryMaxRetries=5")
    assert out["QueryMaxRetries"] == 5
    assert run(capsys, *base, "settings")["QueryMaxRetries"] == 5
    assert list(run(capsys, *base, "list-mappers")) == ["cust"]
    out = run(capsys, *base, "enqueue", "--match-id", "7")
    assert [it["MatchId"] for it in out] == ["7"]
    out = run(capsys, *base, "list-queue")
    assert [it["MatchId"] for it in out["MatchIds"]] == ["7"]
    jobs = run(capsys, *base, "list-jobs")
    assert [j["Id"] for j in jobs] == ["old1", "done1"]
    assert run(capsys, *base, "job-events", "done1")["Events"] == []
    assert run(capsys, *base, "delete-mapper", "cust") == {"Deleted": "cust"}
    assert eng.list_data_mappers() == {}


def test_cli_delete_job_and_expire(state_only, capsys):
    """delete-job / expire-jobs run without a Spark session when the
    job named no manifest table (pure state-dir maintenance)."""
    eng, base = state_only
    out = run(capsys, *base, "delete-job", "done1")
    assert out["Id"] == "done1" and out["PartitionsDropped"] == 0
    assert eng.get_job("done1") is None
    out = run(capsys, *base, "expire-jobs")
    assert out["Expired"] == ["old1"]
    assert eng.get_job("old1") is None


def test_cli_metrics_sparkless(state_only, capsys):
    eng, base = state_only
    eng.enqueue_matches([{"MatchId": "7"}])
    out = run(capsys, *base, "metrics")
    assert out["JobsByStatus"] == {"COMPLETED": 2}
    assert out["RunningJobs"] == 0 and out["DeletionQueueSize"] == 1


def test_cli_delete_job_drops_partitions_after_setting_cleared(
    spark, tmp_path, sf_dir, capsys
):
    """A job's catalog partitions live in the table its job document
    names: clearing the ManifestTable setting after the run must not
    orphan them when the job is deleted."""
    table = "s3f2_manifests_cli_cleared"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    shutil.copy(
        os.path.join(sf_dir, "customer.parquet"),
        os.path.join(lake, "customer.parquet"),
    )
    base = ["--state-dir", str(tmp_path / "state"), "--cpus", "4"]
    run(capsys, *base, "settings", "--set", f"ManifestTable={table}")
    run(capsys, *base, "put-mapper", "cust", "--location", lake,
        "--column", "c_custkey")
    run(capsys, *base, "enqueue", "--match-id", "1")
    job = run(capsys, *base, "process")
    assert job["JobStatus"] == "COMPLETED"
    assert spark.sql(f"SHOW PARTITIONS {table}").count() == 1

    run(capsys, *base, "settings", "--set", "ManifestTable=null")
    out = run(capsys, *base, "delete-job", job["Id"])
    assert out["PartitionsDropped"] == 1
    assert spark.sql(f"SHOW PARTITIONS {table}").count() == 0
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_cli_list_queue_pages_by_item_id(tmp_path, capsys):
    """--start-at is a page's NextStart, an item id: consuming the item
    a page ended on must not shift the next page past a live item, as
    an integer offset would."""
    from amazon_s3_find_and_forget_spark.api import Engine

    state = str(tmp_path / "state")
    eng = Engine(_no_session, state_dir=state)
    eng.enqueue_matches([{"MatchId": m} for m in ("m0", "m1", "m2")])
    base = ["--state-dir", state, "--cpus", "4", "list-queue",
            "--page-size", "1"]
    page1 = run(capsys, *base)
    assert [it["MatchId"] for it in page1["MatchIds"]] == ["m0"]
    eng.delete_matches([page1["NextStart"]])
    page2 = run(capsys, *base, "--start-at", page1["NextStart"])
    assert [it["MatchId"] for it in page2["MatchIds"]] == ["m1"]


def test_cli_cpus_defaults_to_session_count(tmp_path, monkeypatch):
    """Without --cpus the CLI leaves the core count to ``get_spark``
    (``$SPARK_GRAFT_CPUS``, else every core), like every other entry
    point, instead of a fixed count."""
    from amazon_s3_find_and_forget_spark import session

    seen = []

    def factory(app_name, cpus=None, extra_conf=None):
        seen.append(cpus)
        raise RuntimeError("no session in this test")

    monkeypatch.setattr(session, "get_spark", factory)
    with pytest.raises(RuntimeError, match="no session"):
        main(["--state-dir", str(tmp_path / "state"), "put-mapper", "m",
              "--location", str(tmp_path), "--column", "id"])
    assert seen == [None]


def test_cli_zorder(spark, tmp_path, sf_dir, capsys):
    lake = str(tmp_path / "zlake")
    os.makedirs(lake)
    shutil.copy(
        os.path.join(sf_dir, "lineitem.parquet"),
        os.path.join(lake, "part-0.parquet"),
    )
    n = spark.read.parquet(lake).count()
    out = run(
        capsys,
        "--state-dir", str(tmp_path / "state"), "--cpus", "4",
        "zorder", "--location", lake,
        "--by", "l_orderkey,l_partkey",
        "--out", str(tmp_path / "zout"), "--files", "4",
    )
    assert out["Rows"] == n
    assert out["ClusteredBy"] == ["l_orderkey", "l_partkey"]


def test_cli_redact_runbook(spark, tmp_path, sf_dir, capsys):
    lake = str(tmp_path / "redact-lake")
    os.makedirs(lake)
    shutil.copy(
        os.path.join(sf_dir, "customer.parquet"),
        os.path.join(lake, "customer.parquet"),
    )
    state = str(tmp_path / "state")
    base = ["--state-dir", state, "--cpus", "4"]

    before = spark.read.parquet(lake).count()
    m = run(capsys, *base, "put-mapper", "cust", "--location", lake,
            "--column", "c_custkey", "--delete-mode", "redact",
            "--redact-column", "c_name")
    assert m["cust"]["DeleteMode"] == "redact"
    assert m["cust"]["RedactColumns"] == ["c_name"]

    run(capsys, *base, "enqueue", "--match-id", "1", "--match-id", "7")
    job = run(capsys, *base, "process")
    assert job["JobStatus"] == "COMPLETED"

    after = spark.read.parquet(lake)
    assert after.count() == before  # no row deleted
    assert after.where("c_custkey in (1, 7)").count() == 2
    assert after.where(
        "c_custkey in (1, 7) and c_name is not null"
    ).count() == 0
    assert after.where("c_name is null").count() == 2


def test_cli_dedup_screen_runbook(spark, tmp_path, capsys):
    """Two dedup-screen invocations: the second batch screens against
    the index the first one built (exact mode, append-only). A re-run
    overwrites its own partition, and a markerless partition left by a
    crashed run is excluded with a JSON warning on stderr."""
    from amazon_s3_find_and_forget_spark.operators import incremental as inc

    state = str(tmp_path / "state")
    base = ["--state-dir", state, "--cpus", "4"]
    b1 = str(tmp_path / "b1")
    b2 = str(tmp_path / "b2")
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(b1)
    spark.createDataFrame(
        [(10, "alpha"), (11, "gamma")], "doc_id long, text string"
    ).coalesce(1).write.parquet(b2)
    index = str(tmp_path / "idx")
    novel = str(tmp_path / "novel")

    r1 = run(capsys, *base, "dedup-screen", "--input", b1,
             "--index-dir", index, "--novel-out", novel)
    assert (r1["Mode"], r1["BatchRows"], r1["NovelRows"],
            r1["IndexRowsAdded"]) == ("exact", 3, 2, 2)
    r2 = run(capsys, *base, "dedup-screen", "--input", b2,
             "--index-dir", index, "--novel-out", novel)
    assert (r2["BatchRows"], r2["NovelRows"], r2["IndexRowsAdded"]) == (
        2, 1, 1,
    )
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(novel).collect()
    )
    assert kept == [1, 2, 11]
    # idempotent: re-running a batch overwrites its own partition —
    # no duplicate novel rows, no index growth; a crashed run's
    # markerless delta (holding gamma) does not screen it
    partial = f"{index}/batch=deadbeef00000001"
    inc.exact_index(spark.read.parquet(b2)).write.parquet(partial)
    os.remove(os.path.join(partial, "_SUCCESS"))
    assert main(base + ["dedup-screen", "--input", b2,
                        "--index-dir", index, "--novel-out", novel]) == 0
    out = capsys.readouterr()
    assert json.loads(out.out) == r2
    assert json.loads(out.err.strip().splitlines()[-1]) == {
        "Warning": "uncommitted batch partitions excluded from the "
        "screen (crashed run?)",
        "Partitions": ["deadbeef00000001"],
    }
    kept2 = sorted(
        r["doc_id"] for r in spark.read.parquet(novel).collect()
    )
    assert kept2 == [1, 2, 11]


def test_cli_dedup_screen_bloom_runbook(spark, tmp_path):
    """Bloom mode end-to-end through ``screen_batch``: the first batch
    sizes the filter (``bloom_capacity``), later batches inherit its
    geometry from the index, compaction folds the bitmap deltas, and
    the folded base still screens. A fresh index without capacity is
    refused."""
    b1, b2, b3 = (str(tmp_path / n) for n in ("b1", "b2", "b3"))
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(b1)
    spark.createDataFrame(
        [(10, "alpha"), (11, "gamma")], "doc_id long, text string"
    ).coalesce(1).write.parquet(b2)
    spark.createDataFrame(
        [(20, "gamma"), (21, "delta")], "doc_id long, text string"
    ).coalesce(1).write.parquet(b3)
    index = str(tmp_path / "idx")
    novel = str(tmp_path / "novel")

    with pytest.raises(InputRefused, match="requires --bloom-capacity"):
        screen_batch(spark, b1, index, novel, "bloom")

    r1 = _screen(spark, b1, index, novel, "bloom", bloom_capacity=1000)
    assert (r1["Mode"], r1["BatchRows"], r1["NovelRows"],
            r1["IndexRowsAdded"]) == ("bloom", 3, 2, 1)
    r2 = _screen(spark, b2, index, novel, "bloom")
    assert (r2["BatchRows"], r2["NovelRows"]) == (2, 1)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(novel).collect())
    assert kept == [1, 2, 11]
    rc = compact_index(spark, index)
    assert rc["FoldedDirs"] == 2 and rc["BaseRows"] == 2
    r3 = _screen(spark, b3, index, novel, "bloom")
    assert (r3["BatchRows"], r3["NovelRows"]) == (2, 1)  # gamma seen
    kept = sorted(r["doc_id"] for r in spark.read.parquet(novel).collect())
    assert kept == [1, 2, 11, 21]
    # sizing arguments on a non-first batch cannot resize a live
    # filter — the screen keeps the inherited geometry but must SAY so
    # (an operator believing the filter grew would keep screening at a
    # higher-than-priced fp rate)
    b4 = str(tmp_path / "b4")
    spark.createDataFrame(
        [(30, "epsilon")], "doc_id long, text string"
    ).coalesce(1).write.parquet(b4)
    _, warnings = screen_batch(spark, b4, index, novel, "bloom",
                               bloom_capacity=7, bloom_fpp=0.05)
    (w,) = warnings
    assert w["Warning"].startswith("bloom geometry flags ignored")
    assert (w["InheritedNumBits"], w["RequestedNumBits"]) == (9600, 64)
    # matching arguments (the documented geometry) stay quiet
    b5 = str(tmp_path / "b5")
    spark.createDataFrame(
        [(31, "zeta")], "doc_id long, text string"
    ).coalesce(1).write.parquet(b5)
    _screen(spark, b5, index, novel, "bloom", bloom_capacity=1000)


def test_cli_bloom_hash_scheme_stamp(spark, tmp_path):
    """Every Bloom delta row carries a hash_scheme stamp; an index whose
    rows predate the stamp (the ambiguous pre/post-h2-fix window)
    refuses to screen unless the caller blesses it with
    ``assume_hash_scheme``, and declaring the OLD scheme still refuses —
    those bitmaps are incompatible."""
    from amazon_s3_find_and_forget_spark.operators import incremental as inc

    b1, b2 = (str(tmp_path / n) for n in ("b1", "b2"))
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    ).coalesce(1).write.parquet(b1)
    spark.createDataFrame(
        [(10, "alpha"), (11, "gamma")], "doc_id long, text string"
    ).coalesce(1).write.parquet(b2)
    index = str(tmp_path / "idx")
    novel = str(tmp_path / "novel")
    _screen(spark, b1, index, novel, "bloom", bloom_capacity=1000)
    # new deltas are stamped with the current scheme
    idx_df = spark.read.parquet(index)
    assert [r["hash_scheme"] for r in idx_df.collect()] == [
        inc.BLOOM_HASH_SCHEME
    ]
    # simulate a pre-stamp index: rewrite the delta without the column
    (batch_dir,) = [
        d for d in os.listdir(index) if d.startswith("batch=")
    ]
    old_rows = [
        (bytearray(r["bits"]), r["num_bits"], r["num_hashes"])
        for r in spark.read.parquet(f"{index}/{batch_dir}").collect()
    ]
    shutil.rmtree(f"{index}/{batch_dir}")
    spark.createDataFrame(
        old_rows, "bits binary, num_bits long, num_hashes int"
    ).coalesce(1).write.parquet(f"{index}/{batch_dir}")
    # screening over pre-stamp rows refuses with the rebuild/bless hint
    with pytest.raises(InputRefused, match="hash-scheme stamping") as e:
        screen_batch(spark, b2, index, novel, "bloom")
    assert "--assume-hash-scheme" in str(e.value)
    # declaring the OLD scheme still refuses (bitmaps incompatible)
    with pytest.raises(InputRefused, match="incompatible"):
        screen_batch(spark, b2, index, novel, "bloom", assume_hash_scheme=1)
    # blessing with the CURRENT scheme screens correctly (alpha seen)
    r2 = _screen(spark, b2, index, novel, "bloom",
                 assume_hash_scheme=inc.BLOOM_HASH_SCHEME)
    assert (r2["BatchRows"], r2["NovelRows"]) == (2, 1)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(novel).collect())
    assert kept == [1, 2, 11]


def test_cli_dedup_screen_symlink_retry_same_identity(spark, tmp_path):
    """A retry that reaches the same landed batch through a different
    path SPELLING (symlink) must map to the same batch partition: the
    idempotency digest uses realpath, so the retry overwrites its own
    outputs instead of screening the batch against its own first-run
    delta (which would report every row as already seen). An explicit
    ``batch_id`` overrides the digest for relands no path can identify."""
    real = tmp_path / "real"
    real.mkdir()
    b1 = real / "b1"
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(b1))
    link = tmp_path / "landing"
    link.symlink_to(real)
    index = str(tmp_path / "idx")
    novel = str(tmp_path / "novel")

    r1 = _screen(spark, str(link / "b1"), index, novel)
    r2 = _screen(spark, str(b1), index, novel)
    assert r1 == r2  # same identity -> idempotent overwrite
    kept = sorted(r["doc_id"] for r in spark.read.parquet(novel).collect())
    assert kept == [1, 2]

    # batch_id: same content deliberately relanded as a NEW batch
    # screens against the original delta — nothing is novel
    r3 = _screen(spark, str(b1), index, novel, batch_id="reland-001")
    assert (r3["Batch"], r3["NovelRows"], r3["IndexRowsAdded"]) == (
        "reland-001", 0, 0,
    )
    kept2 = sorted(r["doc_id"] for r in spark.read.parquet(novel).collect())
    assert kept2 == [1, 2]


def test_cli_dedup_screen_rejects_unsafe_batch_id(tmp_path, capsys):
    """--batch-id names a batch=<id> partition directory and is
    string-compared against Spark's URL-DECODED partition value, so ids
    that don't round-trip verbatim ('a%2Fb' reads back as 'a/b' and
    stops excluding the batch's own delta; '/' nests directories) are
    refused up front, and so is ``screen_batch`` given one."""
    from amazon_s3_find_and_forget_spark.operators.incremental import (
        check_batch_id,
    )

    for bad in ("a%2Fb", "a/b", "a=b", "", "x" * 65):
        with pytest.raises(SystemExit) as e:
            main([
                "--state-dir", str(tmp_path / "state"), "--cpus", "4",
                "dedup-screen", "--input", str(tmp_path / "b1"),
                "--index-dir", str(tmp_path / "idx"),
                "--novel-out", str(tmp_path / "novel"),
                "--batch-id", bad,
            ])
        assert e.value.code == 2
        assert "--batch-id must be 1-64 chars" in capsys.readouterr().err
        with pytest.raises(InputRefused):
            check_batch_id(bad)
    check_batch_id("reland-001.v2")


def test_cli_dedup_screen_reused_path_gets_new_identity(spark, tmp_path):
    """NEW data landing at a reused path must screen as a NEW batch:
    the default idempotency digest fingerprints the landed files
    (names, sizes, mtimes), so the second landing cannot overwrite —
    and self-exclude — the first landing's index delta, which would
    silently re-admit the first batch's documents."""
    landing = tmp_path / "landing"
    index = str(tmp_path / "idx")
    novel = str(tmp_path / "novel")

    spark.createDataFrame(
        [(1, "alpha")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(landing))
    r1 = _screen(spark, str(landing), index, novel)
    assert (r1["NovelRows"], r1["IndexRowsAdded"]) == (1, 1)

    # day 2: different documents land at the SAME path
    shutil.rmtree(landing)
    spark.createDataFrame(
        [(2, "beta"), (3, "alpha")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(landing))
    r2 = _screen(spark, str(landing), index, novel)
    # alpha is screened by day 1's (still-visible) delta; only beta is new
    assert r2["Batch"] != r1["Batch"]
    assert (r2["NovelRows"], r2["IndexRowsAdded"]) == (1, 1)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(novel).collect())
    assert kept == [1, 2]


def test_cli_collect_auth_tokens_file_and_env(tmp_path, monkeypatch):
    """serve's token table accepts file and env sources (credentials
    stay out of argv) and refuses an unset env var; the principal's Sub
    never contains the live token."""
    from amazon_s3_find_and_forget_spark.cli import collect_auth_tokens

    tok_file = tmp_path / "tokens.txt"
    tok_file.write_text(
        "# service principals\n\nfile-tok-1:alice\nfile-tok-2\n"
    )
    monkeypatch.setenv("S3F2_TEST_TOKEN", "env-tok:bob")
    errors = []
    tokens = collect_auth_tokens(
        ["argv-tok:carol"], str(tok_file), ["S3F2_TEST_TOKEN"],
        errors.append,
    )
    assert not errors
    assert tokens["file-tok-1"]["Username"] == "alice"
    assert tokens["file-tok-2"]["Username"] == "api-user"
    assert tokens["env-tok"]["Username"] == "bob"
    assert tokens["argv-tok"]["Username"] == "carol"
    for tok, principal in tokens.items():
        assert tok not in json.dumps(principal)

    def boom(msg):
        raise SystemExit(msg)

    monkeypatch.delenv("S3F2_TEST_TOKEN")
    with pytest.raises(SystemExit):
        collect_auth_tokens([], None, ["S3F2_TEST_TOKEN"], boom)

    # auth explicitly configured but every source empty (a token file
    # of blank/comment lines): refuse to start in open mode rather than
    # silently dropping the intended auth wall
    empty_file = tmp_path / "empty_tokens.txt"
    empty_file.write_text("# nothing here\n\n   \n")
    with pytest.raises(SystemExit, match="no token specs"):
        collect_auth_tokens([], str(empty_file), [], boom)
    # no auth configured at all is still a legal open-mode start
    assert collect_auth_tokens([], None, [], boom) == {}


def test_cli_compact_index_folds_screen_deltas(spark, tmp_path, capsys):
    """compact-index folds the dedup-screen's batch=<digest> deltas into
    one base partition; later screens still exclude only their own
    batch (the base is always visible) and stay exact."""
    state = str(tmp_path / "state")
    base = ["--state-dir", state, "--cpus", "4"]
    index = str(tmp_path / "idx")
    novel = str(tmp_path / "novel")
    for i, rows in enumerate(
        [[(1, "alpha"), (2, "beta")], [(10, "alpha"), (11, "gamma")]]
    ):
        b = str(tmp_path / f"b{i}")
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.parquet(b)
        run(capsys, *base, "dedup-screen", "--input", b,
            "--index-dir", index, "--novel-out", novel)
    assert len(os.listdir(index)) == 2

    c = run(capsys, *base, "compact-index", "--index-dir", index)
    assert c["BaseRows"] == 3
    dirs = os.listdir(index)
    assert len(dirs) == 1 and dirs[0].startswith("batch=base-")

    # scheduled compaction must CONVERGE: re-running over a base-only
    # index is a no-op, not a full-index rewrite under a new digest
    c2 = run(capsys, *base, "compact-index", "--index-dir", index)
    assert (c2["FoldedDirs"], c2["RemovedDirs"]) == (0, 0)
    assert os.listdir(index) == dirs

    # a third screen against the folded base: alpha/gamma still seen
    b2 = str(tmp_path / "b2")
    spark.createDataFrame(
        [(20, "gamma"), (21, "delta")], "doc_id long, text string"
    ).coalesce(1).write.parquet(b2)
    r = run(capsys, *base, "dedup-screen", "--input", b2,
            "--index-dir", index, "--novel-out", novel)
    assert (r["NovelRows"], r["IndexRowsAdded"]) == (1, 1)
    kept = sorted(x["doc_id"] for x in spark.read.parquet(novel).collect())
    assert kept == [1, 2, 11, 21]

    # base- prefixed batch ids are reserved for compaction bases
    with pytest.raises(SystemExit):
        main([
            "--state-dir", state, "--cpus", "4", "dedup-screen",
            "--input", b2, "--index-dir", index, "--novel-out", novel,
            "--batch-id", "base-evil",
        ])
    # a batch folded into the base is refused as a usage error
    capsys.readouterr()
    with pytest.raises(SystemExit) as e:
        main(base + ["dedup-screen", "--input", str(tmp_path / "b0"),
                     "--index-dir", index, "--novel-out", novel])
    assert e.value.code == 2
    assert "folded into a compaction base" in capsys.readouterr().err


def test_cli_dedup_screen_refuses_folded_batch_rerun(spark, tmp_path):
    """A re-run of a batch whose digest compaction already folded into
    the base must be refused: its rows now live in the base, the
    own-partition exclusion no longer hides them, and the re-run would
    self-match every document and overwrite its previously-correct
    novel output with an EMPTY partition. The folded history is a
    manifest inside the base partition and carries forward across
    compaction epochs."""
    from amazon_s3_find_and_forget_spark.operators import (
        incremental as inc,
    )

    index = str(tmp_path / "idx")
    novel = str(tmp_path / "novel")
    b0 = str(tmp_path / "b0")
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    ).coalesce(1).write.parquet(b0)
    r0 = _screen(spark, b0, index, novel)
    assert r0["NovelRows"] == 2
    compact_index(spark, index)

    # same input, unchanged on disk -> same digest -> refused loudly
    with pytest.raises(InputRefused, match="folded into a compaction base"):
        screen_batch(spark, b0, index, novel)
    # the first run's novel output survives untouched
    kept = sorted(r["doc_id"] for r in spark.read.parquet(novel).collect())
    assert kept == [1, 2]

    # an explicit batch_id matching a folded digest is refused too
    assert inc.folded_batch_digests(spark, index) == {r0["Batch"]}
    with pytest.raises(InputRefused):
        screen_batch(spark, b0, index, novel, batch_id=r0["Batch"])

    # history carries forward across a SECOND compaction epoch
    # (fold = previous base + a new delta)
    b1 = str(tmp_path / "b1")
    spark.createDataFrame(
        [(10, "gamma")], "doc_id long, text string"
    ).coalesce(1).write.parquet(b1)
    r1 = _screen(spark, b1, index, novel)
    assert r1["NovelRows"] == 1
    compact_index(spark, index)
    folded2 = inc.folded_batch_digests(spark, index)
    assert folded2 == {r0["Batch"], r1["Batch"]}
    with pytest.raises(InputRefused):
        screen_batch(spark, b0, index, novel)

    # a deliberate re-screen under a FRESH batch_id is allowed and —
    # correctly — finds everything already indexed
    r2 = _screen(spark, b0, index, novel, batch_id="reland-001")
    assert (r2["NovelRows"], r2["IndexRowsAdded"]) == (0, 0)


def test_cli_dedup_screen_excludes_uncommitted_partition(spark, tmp_path):
    """A markerless (crashed, half-written) batch partition must not
    screen a later run: a retry whose input was re-staged (fresh
    mtimes -> new fingerprint digest) would otherwise match its own
    first attempt's partial delta and silently drop its documents."""
    index = str(tmp_path / "idx")
    novel = str(tmp_path / "novel")
    b1 = str(tmp_path / "b1")
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    ).coalesce(1).write.parquet(b1)

    # simulate the crashed first attempt: its delta has committed-looking
    # part files but no _SUCCESS, under a DIFFERENT digest than the retry
    from amazon_s3_find_and_forget_spark.operators import incremental as inc

    docs = spark.read.parquet(b1)
    inc.exact_index(docs).write.parquet(f"{index}/batch=deadbeef00000001")
    os.remove(os.path.join(index, "batch=deadbeef00000001", "_SUCCESS"))

    r, warnings = screen_batch(spark, b1, index, novel)
    # both docs are novel: the partial partition was excluded, and the
    # screen says so
    assert (r["NovelRows"], r["IndexRowsAdded"]) == (2, 2)
    assert [w["Partitions"] for w in warnings] == [["deadbeef00000001"]]
    kept = sorted(x["doc_id"] for x in spark.read.parquet(novel).collect())
    assert kept == [1, 2]


def test_cli_dedup_screen_embedding_mode(spark, tmp_path):
    """Embedding mode completes the screen trio: the second batch's
    near-duplicate vectors (cosine >= threshold) of indexed ones are
    dropped; the index delta is LSH-keyed unit vectors."""
    index = str(tmp_path / "vidx")
    novel = str(tmp_path / "vnovel")
    schema = "vec_id long, embedding array<float>"
    b1 = str(tmp_path / "vb1")
    spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])], schema
    ).coalesce(1).write.parquet(b1)
    b2 = str(tmp_path / "vb2")
    spark.createDataFrame(
        [(10, [0.99, 0.05, 0.0, 0.0]), (11, [0.0, 0.0, 1.0, 0.0])], schema
    ).coalesce(1).write.parquet(b2)

    r1 = _screen(spark, b1, index, novel, "embedding", dim=4, id_col="vec_id")
    assert (r1["NovelRows"], r1["IndexRowsAdded"]) == (2, 2)
    r2 = _screen(spark, b2, index, novel, "embedding", dim=4, id_col="vec_id")
    assert (r2["NovelRows"], r2["IndexRowsAdded"]) == (1, 1)
    kept = sorted(x["vec_id"] for x in spark.read.parquet(novel).collect())
    assert kept == [1, 2, 11]


def test_cli_select_data_modes(spark, tmp_path, sf_dir, capsys):
    state = str(tmp_path / "state")
    base = ["--state-dir", state, "--cpus", "4"]
    docs = os.path.join(sf_dir, "documents.parquet")

    out1 = str(tmp_path / "dsir")
    r = run(capsys, *base, "select-data", "--input", docs, "--out", out1,
            "--method", "dsir", "--target-filter", "lang = 'en'",
            "--k", "25", "--salt", "cli")
    assert r["Method"] == "dsir" and r["SelectedRows"] == 25
    sel = spark.read.parquet(out1)
    assert {"doc_id", "text", "log_w", "score"} <= set(sel.columns)
    # deterministic: same salt, same selection
    out1b = str(tmp_path / "dsir2")
    r2 = run(capsys, *base, "select-data", "--input", docs, "--out", out1b,
             "--method", "dsir", "--target-filter", "lang = 'en'",
             "--k", "25", "--salt", "cli")
    a = {x.doc_id for x in sel.collect()}
    b = {x.doc_id for x in spark.read.parquet(out1b).collect()}
    assert a == b and r2["SelectedRows"] == 25

    out2 = str(tmp_path / "gopher")
    r = run(capsys, *base, "select-data", "--input", docs, "--out", out2,
            "--method", "gopher",
            "--rules", "word_count,mean_word_len,symbol_ratio,alpha_words")
    assert 0 < r["SelectedRows"] < r["InputRows"]
    g = spark.read.parquet(out2)
    assert g.where("NOT ok_word_count").count() == 0

    out3 = str(tmp_path / "clf")
    r = run(capsys, *base, "select-data", "--input", docs, "--out", out3,
            "--method", "classifier", "--target-filter", "lang = 'en'",
            "--iters", "8", "--salt", "cli")
    assert r["SelectedRows"] >= 1
    assert "quality_prob" in spark.read.parquet(out3).columns


def test_cli_select_data_validation(tmp_path, capsys):
    base = ["--state-dir", str(tmp_path / "s")]
    for argv in (
        ["--method", "dsir"],  # no k / target
        ["--method", "gopher", "--rules", "nonsense"],
        ["--method", "classifier"],  # no model / target
    ):
        with pytest.raises(SystemExit):
            main(base + ["select-data", "--input", "x", "--out", "y"] + argv)


def test_cli_select_data_model_roundtrip(spark, tmp_path, sf_dir, capsys):
    state = str(tmp_path / "state")
    base = ["--state-dir", state, "--cpus", "4"]
    docs = os.path.join(sf_dir, "documents.parquet")
    model_path = str(tmp_path / "model.json")

    out1 = str(tmp_path / "clf1")
    r1 = run(capsys, *base, "select-data", "--input", docs, "--out", out1,
             "--method", "classifier", "--target-filter", "lang = 'en'",
             "--iters", "6", "--salt", "rt", "--model-out", model_path)
    assert os.path.exists(model_path)
    m = json.load(open(model_path))
    assert set(m) >= {"weights", "bias", "n_buckets", "hash_fn"}

    # re-apply the SAVED model: no --target-filter, identical survivors
    out2 = str(tmp_path / "clf2")
    r2 = run(capsys, *base, "select-data", "--input", docs, "--out", out2,
             "--method", "classifier", "--salt", "rt",
             "--model-in", model_path)
    a = {x.doc_id for x in spark.read.parquet(out1).collect()}
    b = {x.doc_id for x in spark.read.parquet(out2).collect()}
    assert a == b and r1["SelectedRows"] == r2["SelectedRows"]


def test_cli_select_data_train_sample_cap(spark, tmp_path, sf_dir):
    # train_sample bounds the CLASSIFIER training set (the operator's
    # "train on a bounded sample, score the lake" contract): capped
    # training still scores/filters the FULL corpus, the cap is
    # deterministic, and 0 disables it (identical survivors to the
    # uncapped default on a small corpus)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    def select(name, **kw):
        out = str(tmp_path / name)
        r = select_data(docs, "classifier", out, target_filter="lang = 'en'",
                        iters=6, salt="cap", **kw)
        return r, {x.doc_id for x in spark.read.parquet(out).collect()}

    r, a = select("cap", train_sample=200)
    assert r["SelectedRows"] >= 1
    # the Pareto filter still ran over the whole corpus: survivors can
    # include docs outside any 200-doc training subset
    assert r["InputRows"] == docs.count()
    assert select("cap2", train_sample=200)[1] == a  # deterministic
    # corpus < default cap: the cap is a no-op
    assert select("off", train_sample=0)[1] == select("dflt")[1]
    # a negative cap would compare every hash above a '-' bound and
    # train on nothing
    with pytest.raises(ValueError, match="must be in"):
        select("neg", train_sample=-5)


def test_cli_select_data_prototypes(spark, tmp_path, sf_dir):
    embs = os.path.join(sf_dir, "embeddings.parquet")
    out = str(tmp_path / "proto")
    r = select_data(spark.read.parquet(embs), "prototypes", out,
                    keep_frac=0.5, clusters=8, id_col="vec_id")
    assert 0 < r["SelectedRows"] < r["InputRows"]
    sel = spark.read.parquet(out)
    assert {"vec_id", "embedding", "ivf_cell", "proto_sim"} <= set(sel.columns)

    # keep-frac is required and validated before Spark starts
    state = str(tmp_path / "state")
    for extra in ([], ["--keep-frac", "1.5"]):
        with pytest.raises(SystemExit):
            main(["--state-dir", state, "select-data", "--input", embs,
                  "--out", out, "--method", "prototypes"] + extra)


def test_cli_select_data_temperature(spark, tmp_path, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = str(tmp_path / "temp")
    r = select_data(docs, "temperature", out, alpha=0.5, salt="tm")
    # alpha-rebalance preserves the expected total (binomial jitter)
    assert abs(r["SelectedRows"] - r["InputRows"]) <= r["InputRows"] // 10
    assert "copy" in spark.read.parquet(out).columns
    # a capped run is never larger per stratum than one epoch
    out2 = str(tmp_path / "temp2")
    select_data(docs, "temperature", out2, alpha=0.5, salt="tm",
                max_rate=1.0)
    n_in = docs.groupBy("source").count().collect()
    n_out = {r["source"]: r["count"] for r in
             spark.read.parquet(out2).groupBy("source").count().collect()}
    for row in n_in:
        assert n_out.get(row["source"], 0) <= row["count"]


def test_cli_curate_full_chain(spark, tmp_path, sf_dir, capsys):
    state = str(tmp_path / "state")
    base = ["--state-dir", state, "--cpus", "4"]
    docs = os.path.join(sf_dir, "documents.parquet")
    bench = str(tmp_path / "bench")
    spark.read.parquet(docs).where("doc_id % 50 = 0").write.parquet(bench)

    out = str(tmp_path / "curated")
    r = run(capsys, *base, "curate", "--input", docs, "--out", out,
            "--steps", "exact-dedup,decontaminate,gopher,split",
            "--benchmark", bench, "--ngram", "8")
    assert r["Steps"] == ["exact-dedup", "decontaminate", "gopher", "split"]
    assert r["ExactSurvivors"] <= r["InputRows"]
    assert r["OutputRows"] == r["GopherSurvivors"]
    assert set(r["SplitCounts"]) <= {"train", "val", "test"}
    assert sum(r["SplitCounts"].values()) == r["OutputRows"]
    sel = spark.read.parquet(out)
    assert "split" in sel.columns and "text" in sel.columns

    # validation runs before Spark
    import pytest as _pytest
    with _pytest.raises(SystemExit):
        main(["--state-dir", state, "curate", "--input", docs,
              "--out", out, "--steps", "nonsense"])
    with _pytest.raises(SystemExit):
        main(["--state-dir", state, "curate", "--input", docs,
              "--out", out, "--steps", "decontaminate"])  # no --benchmark
    with _pytest.raises(SystemExit):
        main(["--state-dir", state, "curate", "--input", docs,
              "--out", out, "--steps", "split",
              "--split-ratios", "train:0.5,val:0.2"])  # sums to 0.7


def test_cli_curate_classifier_and_dsir_steps(spark, tmp_path, sf_dir):
    """The curate chain covers the full GPT-3/DSIR selection story —
    gopher -> classifier (Pareto keep rule, trained inline or loaded)
    -> dsir (importance resampling to k) -> split — with per-stage
    counts in the report and the model saved for reuse."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = str(tmp_path / "sel")
    model = str(tmp_path / "clf.json")
    r = curate(docs, ["gopher", "classifier", "dsir", "split"], out,
               clf_target_filter="lang = 'en'", clf_model_out=model,
               dsir_target_filter="lang = 'en'", dsir_k=10)
    assert r["Steps"] == ["gopher", "classifier", "dsir", "split"]
    assert r["ClassifierSurvivors"] <= r["GopherSurvivors"]
    assert r["DsirSelected"] == 10 <= r["ClassifierSurvivors"]
    assert r["OutputRows"] == 10
    assert sum(r["SplitCounts"].values()) == 10
    assert r["ClassifierModelOut"] == model
    sel = spark.read.parquet(out)
    assert "split" in sel.columns and "text" in sel.columns
    # the saved model reloads: same chain, a loaded model, identical
    # survivors (the Pareto draw is deterministic under the same salt)
    with open(model) as f:
        loaded = json.load(f)
    r2 = curate(docs, ["classifier", "gopher"], str(tmp_path / "sel2"),
                clf_model=loaded)
    assert r2["ClassifierSurvivors"] == r["ClassifierSurvivors"]
    # the CLI refuses incomplete classifier and dsir steps before Spark
    for bad in (
        ["--steps", "classifier"],                      # no model/filter
        ["--steps", "dsir", "--dsir-target-filter", "x"],  # no k
        ["--steps", "dsir", "--dsir-k", "5"],           # no target
    ):
        with pytest.raises(SystemExit):
            main(["--state-dir", str(tmp_path / "state"), "curate",
                  "--input", "x", "--out", out] + bad)


def test_cli_curate_paragraph_step(spark, tmp_path):
    src = spark.createDataFrame(
        [(1, "alpha\nFOOTER"), (2, "beta\nFOOTER"), (3, "gamma\nFOOTER")],
        "doc_id long, text string",
    )
    out = str(tmp_path / "p")
    r = curate(src, ["paragraph-dedup"], out)
    assert r["ParagraphsRemoved"] == 2  # doc 1 keeps the canonical FOOTER
    texts = {x.doc_id: x.text for x in spark.read.parquet(out).collect()}
    assert texts[1] == "alpha\nFOOTER"
    assert texts[2] == "beta" and texts[3] == "gamma"


def test_cli_curate_exact_substr_step(spark, tmp_path):
    # a 5-token run repeated across docs is cut from BOTH (remove-all
    # semantics, verbatim); counts land in the report
    run5 = "v w x y z"
    src = spark.createDataFrame(
        [(1, f"a {run5} b"), (2, f"{run5} c"), (3, "clean doc here")],
        "doc_id long, text string",
    )
    out = str(tmp_path / "xout")
    audit = str(tmp_path / "xaudit")
    r = curate(src, ["exact-substr"], out, substr_min_tokens=5,
               audit_out=audit)
    assert r["SubstrTokensRemoved"] == 10
    texts = {x.doc_id: x.text for x in spark.read.parquet(out).collect()}
    assert texts == {1: "a b", 2: "c", 3: "clean doc here"}
    # the memorization-audit table recorded the window the cut acted on
    assert r["AuditRows"] == 1
    assert r["AuditTopRepeat"] == {
        "n_occurrences": 2, "n_docs": 2, "substring": run5,
    }
    arow = spark.read.parquet(audit).collect()[0]
    assert (arow["substring"], arow["n_occurrences"], arow["n_docs"],
            arow["first_doc_id"]) == (run5, 2, 2, 1)


def test_cli_curate_exact_substr_bpe_tokenizer(spark, tmp_path, capsys):
    # --substr-tokenizer bpe: the operating point is byte-level BPE
    # tokens (Lee et al.'s unit); a merges.txt loads through the GPT-2
    # parser, the cut splices bytes, and the audit table records the
    # DECODED window the byte-level cut acted on
    state = str(tmp_path / "state")
    base = ["--state-dir", state, "--cpus", "4"]
    src = str(tmp_path / "bsrc")
    run_b = "shared byte level run!!"  # 23 bytes
    spark.createDataFrame(
        [(1, f"aa {run_b} bb"), (2, f"{run_b} cc"), (3, "clean here")],
        "doc_id long, text string",
    ).write.parquet(src)
    merges_txt = tmp_path / "merges.txt"
    merges_txt.write_text("#version: test\ns h\nsh a\n")
    out = str(tmp_path / "bout")
    audit = str(tmp_path / "baudit")
    r = run(capsys, *base, "curate", "--input", src, "--out", out,
            "--steps", "exact-substr", "--substr-min-tokens", "12",
            "--substr-tokenizer", "bpe",
            "--substr-merges", str(merges_txt),
            "--audit-out", audit)
    assert r["SubstrTokensRemoved"] > 0
    texts = {x.doc_id: x.text for x in spark.read.parquet(out).collect()}
    assert run_b not in texts[1] and run_b not in texts[2]
    assert texts[3] == "clean here"
    # audit counted the same byte-level unit and decoded the window
    assert r["AuditRows"] >= 1
    assert r["AuditTopRepeat"]["substring"] in (f"aa {run_b} bb")


def test_cli_curate_c4_clean_step(spark, tmp_path, capsys):
    # C4 SS2.2 as a curate stage: line rules rewrite text, page rules
    # drop docs, badwords load from a file, counts land in the report
    state = str(tmp_path / "state")
    base = ["--state-dir", state, "--cpus", "4"]
    src = str(tmp_path / "c4src")
    good = "a clean line with plenty of words in it."
    spark.createDataFrame(
        [
            (1, f"{good}\nno punct so this line drops\n{good}\n{good}"),
            (2, f"{good}\n{good}\nthis page has badterm in it sadly."),
            (3, f"{good}\nlorem ipsum dolor sit amet consectetur.\n{good}"),
        ],
        "doc_id long, text string",
    ).write.parquet(src)
    bw = tmp_path / "badwords.txt"
    bw.write_text("# list\nbadterm\n")
    out = str(tmp_path / "c4out")
    r = run(capsys, *base, "curate", "--input", src, "--out", out,
            "--steps", "c4-clean", "--badwords-file", str(bw))
    assert r["C4Survivors"] == 1 and r["C4PagesDropped"] == 2
    assert r["C4LinesDropped"] == 1  # doc 1's unterminated line
    rows = spark.read.parquet(out).collect()
    assert [x.doc_id for x in rows] == [1]
    assert "no punct" not in rows[0].text


def test_cli_curate_url_screen_step(spark, tmp_path, capsys):
    # the C4-style first stage: blocklist by domain (label-boundary
    # match), then exact dedup by normalized URL (min-id survivor);
    # counts land in the report and the added url_norm column does NOT
    # leak into the output schema
    state = str(tmp_path / "state")
    base = ["--state-dir", state, "--cpus", "4"]
    src = str(tmp_path / "usrc")
    spark.createDataFrame(
        [
            (1, "https://example.com/a?x=1", "keep a"),
            (2, "HTTP://WWW.Example.com/a#f", "dup of a"),
            (3, "https://example.com/b", "keep b"),
            (4, "https://ads.tracker.net/z", "blocked subdomain"),
            (5, "https://tracker.net/z", "blocked exact"),
            (6, "https://nottracker.net/z", "kept: substring only"),
        ],
        "doc_id long, url string, text string",
    ).write.parquet(src)
    bl = tmp_path / "blocklist.txt"
    bl.write_text("# ad domains\ntracker.net\n")
    out = str(tmp_path / "uout")
    r = run(capsys, *base, "curate", "--input", src, "--out", out,
            "--steps", "url-screen", "--blocklist-file", str(bl))
    assert r["UrlBlocked"] == 2
    assert r["UrlDupRows"] == 1
    assert r["UrlSurvivors"] == 3
    rows = spark.read.parquet(out)
    assert sorted(x.doc_id for x in rows.collect()) == [1, 3, 6]
    assert set(rows.columns) == {"doc_id", "url", "text"}
    # missing url column fails loudly
    import pytest as _pytest

    src2 = str(tmp_path / "usrc2")
    spark.createDataFrame(
        [(1, "t")], "doc_id long, text string"
    ).write.parquet(src2)
    with _pytest.raises(SystemExit, match="url-screen needs column"):
        main(base + ["curate", "--input", src2, "--out",
                     str(tmp_path / "u2"), "--steps", "url-screen"])


def test_cli_curate_rejects_null_ids(spark, tmp_path):
    # the rewrite steps rejoin on the id column; an equi-join would
    # silently drop NULL-id rows, so curate enforces the non-NULL id
    # contract up front with the offending count in the message
    src = spark.createDataFrame(
        [(1, "alpha\nFOOTER"), (None, "beta\nFOOTER")],
        "doc_id long, text string",
    )
    out = str(tmp_path / "nout")
    with pytest.raises(InputRefused, match="1 input rows have NULL"):
        curate(src, ["paragraph-dedup"], out)
    # steps with no id rejoin accept NULL ids (exact-dedup keys on text)
    r = curate(src, ["exact-dedup"], out)
    assert r["OutputRows"] == 2 and "NullIdRows" not in r


def test_cli_refuses_bad_arguments_before_a_session(state_only, capsys):
    """Every check that needs only the arguments runs before the session
    starts: unsafe batch ids, embedding mode without --dim, an unreadable
    input list file, two sources for one classifier or DSIR step, a
    negative training cap and out-of-range split fractions all exit 2
    without asking for Spark."""
    _, base = state_only
    screen = ["dedup-screen", "--input", "b", "--index-dir", "i",
              "--novel-out", "n"]
    curate_ = ["curate", "--input", "x", "--out", "y"]
    select = ["select-data", "--input", "x", "--out", "y"]
    for argv, msg in (
        (screen + ["--batch-id", "a/b"], "--batch-id must be 1-64 chars"),
        (screen + ["--batch-id", "base-x"], "must not start with 'base-'"),
        (screen + ["--mode", "embedding"], "requires --dim"),
        (curate_ + ["--steps", "url-screen", "--blocklist-file", "missing"],
         "--blocklist-file: [Errno 2]"),
        (curate_ + ["--steps", "classifier", "--clf-model-in", "m",
                    "--clf-target-filter", "f"],
         "the classifier step needs exactly one of --clf-model-in / "
         "--clf-target-filter"),
        (curate_ + ["--steps", "dsir", "--dsir-k", "3", "--dsir-target", "t",
                    "--dsir-target-filter", "f"],
         "the dsir step needs exactly one of --dsir-target / "
         "--dsir-target-filter"),
        (select + ["--method", "classifier", "--model-in", "m",
                   "--target-filter", "f"],
         "--method classifier needs exactly one of --model-in / "
         "--target-filter"),
        (select + ["--method", "dsir", "--k", "3", "--target", "t",
                   "--target-filter", "f"],
         "--method dsir needs exactly one of --target / --target-filter"),
        (select + ["--method", "classifier", "--target-filter", "f",
                   "--train-sample", "-5"], "--train-sample must be >= 0"),
        (curate_ + ["--steps", "classifier", "--clf-target-filter", "f",
                    "--clf-train-sample", "-1"],
         "--clf-train-sample must be >= 0"),
        (curate_ + ["--steps", "split", "--split-ratios",
                    "train:1.5,val:-0.5"],
         "--split-ratios fractions must be in [0, 1]"),
    ):
        with pytest.raises(SystemExit) as e:
            main(base + argv)
        assert e.value.code == 2, argv
        assert msg in capsys.readouterr().err, argv
