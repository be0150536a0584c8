"""CSE-KMS envelope encryption analog (reference cse.py:27-138)."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from amazon_s3_find_and_forget_spark.data_mappers import DataMapper
from amazon_s3_find_and_forget_spark.jobs import run_job
from amazon_s3_find_and_forget_spark.matches import QueueItem
from amazon_s3_find_and_forget_spark.sources import cse

pytestmark = pytest.mark.skipif(
    not cse.HAVE_CRYPTO, reason="cryptography package unavailable"
)

KMS = cse.LocalKms(b"0" * 32, key_id="test-master")


def test_envelope_roundtrip_gcm_and_cbc(tmp_path):
    plain = tmp_path / "plain.bin"
    plain.write_bytes(b"hello forget engine" * 100)
    for alg in (cse.ALG_GCM, cse.ALG_CBC):
        enc = str(tmp_path / f"enc-{alg.split('/')[1]}.bin")
        md = cse.encrypt_file(str(plain), enc, KMS, alg=alg)
        assert cse.is_kms_cse_encrypted(md)
        assert md[cse.HEADER_ALG] == alg
        # ciphertext differs from plaintext
        assert open(enc, "rb").read() != plain.read_bytes()
        out = str(tmp_path / "out.bin")
        cse.decrypt_file(enc, out, KMS)
        assert open(out, "rb").read() == plain.read_bytes()


def test_wrong_master_key_fails(tmp_path):
    plain = tmp_path / "p.bin"
    plain.write_bytes(b"secret")
    enc = str(tmp_path / "e.bin")
    cse.encrypt_file(str(plain), enc, KMS)
    wrong = cse.LocalKms(b"1" * 32)
    with pytest.raises(Exception):
        cse.decrypt_file(enc, str(tmp_path / "o.bin"), wrong)


def test_v1_and_non_kms_envelopes_rejected():
    with pytest.raises(ValueError, match="Client Version"):
        cse.is_kms_cse_encrypted({"x-amz-key": "abc"})
    with pytest.raises(ValueError, match="strategy"):
        cse.is_kms_cse_encrypted({cse.HEADER_KEY: "abc", cse.HEADER_WRAP_ALG: "rsa"})
    assert not cse.is_kms_cse_encrypted({})


def _make_encrypted_lake(tmp_path, name="lake"):
    lake = tmp_path / name
    lake.mkdir()
    plain = str(tmp_path / "plain.parquet")
    pq.write_table(
        pa.table(
            {
                "customer_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
                "name": ["a", "b", "c", "d", "e"],
            }
        ),
        plain,
    )
    obj = str(lake / "part-0.parquet")
    cse.encrypt_file(plain, obj, KMS)
    os.remove(plain)
    return str(lake), obj


def test_encrypted_scan(spark, tmp_path):
    lake, obj = _make_encrypted_lake(tmp_path)
    df = cse.read_encrypted_parquet(spark, lake, KMS)
    rows = df.collect()
    assert len(rows) == 5
    assert sorted(r.customer_id for r in rows) == [1, 2, 3, 4, 5]
    assert all(r._file_path.endswith("part-0.parquet") for r in rows)
    # the stored (ciphertext) bytes, which size the Forget dispatch
    assert {r._file_size for r in rows} == {os.path.getsize(obj)}


def test_find_over_encrypted_lake_carries_uri_and_size(spark, tmp_path):
    from pyspark.sql import functions as F

    from amazon_s3_find_and_forget_spark.matches import build_column_groups
    from amazon_s3_find_and_forget_spark.plans.find import find_affected_files

    lake, obj = _make_encrypted_lake(tmp_path, name="lake a")
    df = cse.read_encrypted_parquet(spark, lake, KMS)
    groups = build_column_groups(
        df.schema, ["customer_id"], [QueueItem(match_id=2)]
    )
    found = (
        find_affected_files([(df, groups)])
        .select("file_path", "file_size")
        .collect()
    )
    # the same URI form and size a native scan of the object reports
    native = (
        spark.read.format("binaryFile")
        .load(obj)
        .select(F.input_file_name(), F.col("_metadata.file_size"))
        .collect()
    )
    assert [tuple(r) for r in found] == [tuple(r) for r in native]
    assert "lake%20a" in found[0][0]
    assert found[0][1] == os.path.getsize(obj)


def test_job_over_encrypted_lake(spark, tmp_path):
    lake, obj = _make_encrypted_lake(tmp_path)
    mapper = DataMapper(
        "enc", lake, ["customer_id"], format="parquet", encrypted=True
    )
    result = run_job(
        spark, [mapper], [QueueItem(match_id=2), QueueItem(match_id=4)], kms=KMS
    )
    assert result.status == "COMPLETED", result.events
    assert result.counters["TotalObjectUpdateFailedCount"] == 0
    # object is STILL encrypted (fresh envelope), decrypts to survivors only
    md = cse.load_metadata(obj)
    assert cse.is_kms_cse_encrypted(md)
    survivors = cse.read_encrypted_parquet(spark, lake, KMS).collect()
    assert sorted(r.customer_id for r in survivors) == [1, 3, 5]


def test_job_over_encrypted_lake_with_space_in_path(spark, tmp_path):
    lake, obj = _make_encrypted_lake(tmp_path, name="lake a")
    mapper = DataMapper(
        "enc", lake, ["customer_id"], format="parquet", encrypted=True
    )
    result = run_job(spark, [mapper], [QueueItem(match_id=2)], kms=KMS)
    assert result.status == "COMPLETED", result.events
    survivors = cse.read_encrypted_parquet(spark, lake, KMS).collect()
    assert sorted(r.customer_id for r in survivors) == [1, 3, 4, 5]


def test_encrypted_job_without_kms_fails(spark, tmp_path):
    lake, _ = _make_encrypted_lake(tmp_path)
    mapper = DataMapper(
        "enc", lake, ["customer_id"], format="parquet", encrypted=True
    )
    result = run_job(spark, [mapper], [QueueItem(match_id=2)])
    # plan-time failure (table unreadable) is job-fatal, like the
    # reference's generate-queries errors -> Exception -> FAILED
    assert result.status == "FAILED"
    assert any(e["EventName"] == "Exception" for e in result.events)


def test_restore_version_yields_decryptable_pair(spark, tmp_path):
    """A stored version must restore WITH the envelope that decrypts it:
    ciphertext and sidecar are committed/archived/restored together."""
    from amazon_s3_find_and_forget_spark.sources import versions

    lake, obj = _make_encrypted_lake(tmp_path)
    before = cse.read_encrypted_parquet(spark, lake, KMS).collect()
    mapper = DataMapper(
        "enc", lake, ["customer_id"], format="parquet", encrypted=True,
        delete_old_versions=False,
    )
    result = run_job(spark, [mapper], [QueueItem(match_id=2)], kms=KMS)
    assert result.status == "COMPLETED", result.events
    survivors = cse.read_encrypted_parquet(spark, lake, KMS).collect()
    assert sorted(r.customer_id for r in survivors) == [1, 3, 4, 5]
    # roll back: old ciphertext + old envelope must decrypt together
    vids = versions.list_versions(obj)
    assert len(vids) == 1
    versions.restore_version(obj)
    spark.catalog.refreshByPath(lake)
    restored = cse.read_encrypted_parquet(spark, lake, KMS).collect()
    assert sorted(r.customer_id for r in restored) == sorted(
        r.customer_id for r in before
    )


def test_redact_job_over_encrypted_lake(spark, tmp_path):
    """Redact mode composes with the CSE envelope path: decrypt ->
    null the columns on matched rows -> re-encrypt with a FRESH data
    key; record survives, value erased, lake stays encrypted."""
    lake, obj = _make_encrypted_lake(tmp_path)
    md_before = cse.load_metadata(obj)
    mapper = DataMapper(
        "enc",
        lake,
        ["customer_id"],
        format="parquet",
        encrypted=True,
        delete_mode="redact",
        redact_columns=["name"],
    )
    result = run_job(
        spark, [mapper], [QueueItem(match_id=2), QueueItem(match_id=4)],
        kms=KMS,
    )
    assert result.status == "COMPLETED", result.events
    assert sum(s[3] for s in result.file_stats) == 2
    md_after = cse.load_metadata(obj)
    assert cse.is_kms_cse_encrypted(md_after)
    # fresh envelope: the wrapped data key must have rotated
    assert md_after[cse.HEADER_KEY] != md_before[cse.HEADER_KEY]
    rows = cse.read_encrypted_parquet(spark, lake, KMS).collect()
    got = {r.customer_id: r.name for r in rows}
    assert set(got) == {1, 2, 3, 4, 5}  # every record survives
    assert got[2] is None and got[4] is None
    assert got[1] is not None and got[3] is not None
