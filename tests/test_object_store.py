"""Object-store seam tests: the reference's S3 safety envelope semantics
(property replay, version-chain integrity, rollback, history purge —
reference: backend/ecs_tasks/delete_files/s3.py:61-98,244-357) against
both backends: the local filesystem store the engine runs on, and the
boto3-shaped store driven by a minimal in-memory fake client."""

import datetime

import pytest

from amazon_s3_find_and_forget_spark.sources import versions
from amazon_s3_find_and_forget_spark.sources.object_store import (
    LocalObjectStore,
    ObjectProperties,
    S3ObjectStore,
    VersionConflictError,
)


# --------------------------------------------------------------------------
# LocalObjectStore
# --------------------------------------------------------------------------


def _mk(tmp_path, content=b"v1"):
    p = tmp_path / "obj.parquet"
    p.write_bytes(content)
    return str(p)


def _staged(tmp_path, content):
    """A local file holding ``content``: what ``save`` takes back."""
    p = tmp_path / f"staged-{content.decode()}"
    p.write_bytes(content)
    return str(p)


def _read(path):
    with open(path, "rb") as f:
        return f.read()


def test_local_save_replays_properties_and_archives(tmp_path):
    store = LocalObjectStore()
    path = _mk(tmp_path)
    props = ObjectProperties(
        content_type="application/parquet",
        tags={"team": "data"},
        metadata={"origin": "unit"},
    )
    store.put_properties(path, props)
    store.save(path, _staged(tmp_path, b"v2"))  # no properties -> replay
    assert _read(path) == b"v2"
    assert store.get_properties(path).content_type == "application/parquet"
    assert store.get_properties(path).tags == {"team": "data"}
    # previous content archived as a version
    assert len(versions.list_versions(path)) == 1


def test_local_properties_roundtrip_json(tmp_path):
    props = ObjectProperties(
        content_type="text/plain",
        acl_grants={"READ": ["abc"], "WRITE": ["def"]},
        sse="aws:kms",
        sse_kms_key_id="key-1",
    )
    assert ObjectProperties.from_json(props.to_json()) == props


def test_local_version_chain_integrity(tmp_path):
    store = LocalObjectStore()
    path = _mk(tmp_path)
    v0 = store.current_version(path)
    v1 = store.save(path, _staged(tmp_path, b"v2"))
    assert store.verify_version_integrity(path, v0, v1)
    with pytest.raises(VersionConflictError):
        # claiming the new version came from a version that never existed
        store.verify_version_integrity(path, "bogus", v1)


def test_local_conflict_detected_before_commit(tmp_path):
    import os
    import tempfile

    from amazon_s3_find_and_forget_spark.sources import versions

    store = LocalObjectStore()
    path = _mk(tmp_path)
    snap = versions.snapshot(path)
    # concurrent writer slips in (force a distinct mtime)
    with open(path, "wb") as f:
        f.write(b"concurrent")
    os.utime(path, ns=(snap[0] + 10_000_000, snap[0] + 10_000_000))
    fd, tmp = tempfile.mkstemp(dir=str(tmp_path))
    with os.fdopen(fd, "wb") as f:
        f.write(b"rewritten")
    with pytest.raises(versions.VersionIntegrityError):
        versions.commit(path, tmp, snap)
    # the object keeps the concurrent writer's content (no clobber)
    assert _read(path) == b"concurrent"


def test_local_rollback_and_purge(tmp_path):
    store = LocalObjectStore()
    path = _mk(tmp_path)
    v1 = store.save(path, _staged(tmp_path, b"v2"))
    store.rollback_version(path, v1)
    assert _read(path) == b"v1"
    store.save(path, _staged(tmp_path, b"v3"))
    store.save(path, _staged(tmp_path, b"v4"))
    assert len(versions.list_versions(path)) == 2
    assert store.delete_old_versions(path, store.current_version(path)) == 2
    assert versions.list_versions(path) == []


def test_local_version_ids_distinct_for_same_stat(tmp_path):
    """Same mtime + same size but different bytes must yield different
    version ids (coarse-timestamp filesystems, clock-preserving copies)
    — otherwise save()'s archive-rename could clobber a prior version."""
    import os

    store = LocalObjectStore()
    a = tmp_path / "a.bin"
    b = tmp_path / "b.bin"
    a.write_bytes(b"content-A")
    b.write_bytes(b"content-B")  # same length
    ns = 1_700_000_000_000_000_000
    os.utime(a, ns=(ns, ns))
    os.utime(b, ns=(ns, ns))
    assert store.current_version(str(a)) != store.current_version(str(b))


# --------------------------------------------------------------------------
# S3ObjectStore against a minimal fake client
# --------------------------------------------------------------------------


class FakeBody:
    def __init__(self, data):
        self._data = data

    def read(self):
        return self._data


class FakeNoSuchKey(Exception):
    """ClientError-shaped not-found (the forget path classifies by the
    response Error Code, never by message substrings)."""

    response = {"Error": {"Code": "NoSuchKey"}}


class FakeS3Client:
    """Just enough of the boto3 S3 client for the seam's call mapping."""

    def __init__(self):
        self.objects = {}  # (bucket, key) -> list of version dicts
        self.put_acl_calls = []
        self._clock = 0

    def _versions(self, bucket, key):
        return self.objects.setdefault((bucket, key), [])

    def _current(self, bucket, key):
        vs = self._versions(bucket, key)
        if not vs:
            raise FakeNoSuchKey(f"s3://{bucket}/{key}")
        return vs[-1]

    def put_object(self, *, Bucket, Key, Body, **kwargs):
        self._clock += 1
        vid = f"v{self._clock}"
        self._versions(Bucket, Key).append(
            {
                "VersionId": vid,
                "Body": Body,
                "LastModified": datetime.datetime(
                    2026, 1, 1, tzinfo=datetime.timezone.utc
                )
                + datetime.timedelta(seconds=self._clock),
                "ETag": f"etag-{self._clock}",
                "Args": kwargs,
            }
        )
        return {"VersionId": vid}

    def get_object(self, *, Bucket, Key, **kwargs):
        cur = self._current(Bucket, Key)
        return {"Body": FakeBody(cur["Body"]), "VersionId": cur["VersionId"]}

    def head_object(self, *, Bucket, Key, **kwargs):
        args = self._current(Bucket, Key)["Args"]
        return {
            "ContentType": args.get("ContentType"),
            "Metadata": args.get("Metadata", {}),
            "ServerSideEncryption": args.get("ServerSideEncryption"),
        }

    def get_object_tagging(self, *, Bucket, Key, **kwargs):
        from urllib.parse import parse_qsl

        tagging = self._versions(Bucket, Key)[-1]["Args"].get("Tagging", "")
        return {
            "TagSet": [
                {"Key": k, "Value": v} for k, v in parse_qsl(tagging)
            ]
        }

    acl = {"Owner": {"ID": "owner"}, "Grants": []}

    def get_object_acl(self, *, Bucket, Key, **kwargs):
        return self.acl

    def list_object_versions(self, *, Bucket, Prefix, **kwargs):
        vs = [
            {
                "Key": Prefix,
                "VersionId": v["VersionId"],
                "LastModified": v["LastModified"],
                "ETag": v["ETag"],
            }
            for v in self._versions(Bucket, Prefix)
        ]
        marker = kwargs.get("VersionIdMarker")
        if marker:
            idx = [v["VersionId"] for v in vs].index(marker)
            vs = list(reversed(vs[:idx]))
            if kwargs.get("MaxKeys"):
                vs = vs[: kwargs["MaxKeys"]]
        return {"Versions": vs, "DeleteMarkers": []}

    def get_paginator(self, name):
        client = self

        class P:
            def paginate(self, **kw):
                yield client.list_object_versions(**kw)

        return P()

    def delete_object(self, *, Bucket, Key, VersionId):
        vs = self._versions(Bucket, Key)
        self.objects[(Bucket, Key)] = [
            v for v in vs if v["VersionId"] != VersionId
        ]
        return {}

    def delete_objects(self, *, Bucket, Delete):
        for obj in Delete["Objects"]:
            self.delete_object(
                Bucket=Bucket, Key=obj["Key"], VersionId=obj["VersionId"]
            )
        return {}

    def put_object_acl(self, **kwargs):
        self.put_acl_calls.append(kwargs)
        return {}


def test_s3_store_save_replays_properties(tmp_path):
    client = FakeS3Client()
    store = S3ObjectStore(client=client)
    path = "s3://bucket/data/part-0.parquet"
    client.put_object(
        Bucket="bucket",
        Key="data/part-0.parquet",
        Body=b"v1",
        ContentType="application/parquet",
        Metadata={"origin": "ingest"},
        Tagging="team=data",
        ServerSideEncryption="aws:kms",
    )
    v2 = store.save(path, _staged(tmp_path, b"v2"))  # replay: no properties
    assert store.fetch(path, str(tmp_path / "got")) == (str(tmp_path / "got"), "v2")
    assert _read(tmp_path / "got") == b"v2"
    args = client.objects[("bucket", "data/part-0.parquet")][-1]["Args"]
    assert args["ContentType"] == "application/parquet"
    assert args["Metadata"] == {"origin": "ingest"}
    assert args["Tagging"] == "team=data"
    assert args["ServerSideEncryption"] == "aws:kms"
    assert v2 == "v2"


def test_s3_store_write_grants_restored_separately(tmp_path):
    client = FakeS3Client()
    store = S3ObjectStore(client=client)
    path = "s3://b/k"
    client.put_object(Bucket="b", Key="k", Body=b"v1")
    props = store.get_properties(path)
    props.acl_grants = {"WRITE": ["grantee-1"], "READ": ["grantee-2"]}
    store.save(path, _staged(tmp_path, b"v2"), props)
    # READ grant rides the upload; WRITE needs the separate PutObjectAcl
    args = client.objects[("b", "k")][-1]["Args"]
    assert args["GrantRead"] == "id=grantee-2"
    assert "GrantWrite" not in args
    acl_call = client.put_acl_calls[-1]
    assert acl_call["GrantWrite"] == "id=grantee-1"
    # PutObjectAcl REPLACES the whole ACL: the grants that rode the
    # upload must be re-sent alongside GrantWrite or they'd be wiped
    # (reference s3.py:84-96)
    assert acl_call["GrantRead"] == "id=grantee-2"
    assert acl_call["GrantFullControl"] == "id=owner"
    # owner folded into GrantFullControl on the upload too (s3.py:188)
    assert args["GrantFullControl"] == "id=owner"


def test_s3_store_grantee_types_formatted_for_headers(tmp_path):
    """Group and email grantees use uri=/emailAddress=, not id=."""
    client = FakeS3Client()
    client.acl = {
        "Owner": {"ID": "owner"},
        "Grants": [
            {
                "Grantee": {
                    "Type": "Group",
                    "URI": "http://acs.amazonaws.com/groups/global/AllUsers",
                },
                "Permission": "READ",
            },
            {
                "Grantee": {
                    "Type": "AmazonCustomerByEmail",
                    "EmailAddress": "user@example.com",
                },
                "Permission": "READ_ACP",
            },
            {
                "Grantee": {"Type": "CanonicalUser", "ID": "abc123"},
                "Permission": "FULL_CONTROL",
            },
        ],
    }
    store = S3ObjectStore(client=client)
    path = "s3://b/k"
    client.put_object(Bucket="b", Key="k", Body=b"v1")
    props = store.get_properties(path)
    assert props.acl_grants["READ"] == [
        "uri=http://acs.amazonaws.com/groups/global/AllUsers"
    ]
    assert props.acl_grants["READ_ACP"] == ["emailAddress=user@example.com"]
    assert props.acl_grants["FULL_CONTROL"] == ["id=abc123"]
    store.save(path, _staged(tmp_path, b"v2"), props)
    args = client.objects[("b", "k")][-1]["Args"]
    assert args["GrantRead"] == (
        "uri=http://acs.amazonaws.com/groups/global/AllUsers"
    )
    assert args["GrantReadACP"] == "emailAddress=user@example.com"
    assert args["GrantFullControl"] == "id=owner,id=abc123"


def test_s3_store_version_integrity_and_rollback(tmp_path):
    client = FakeS3Client()
    store = S3ObjectStore(client=client)
    path = "s3://b/k"
    client.put_object(Bucket="b", Key="k", Body=b"v1")
    v1 = "v1"
    v2 = store.save(path, _staged(tmp_path, b"v2"))
    assert store.verify_version_integrity(path, v1, v2)
    # concurrent writer between v1 and our v3
    client.put_object(Bucket="b", Key="k", Body=b"sneak")
    v4 = store.save(path, _staged(tmp_path, b"v4"))
    with pytest.raises(VersionConflictError):
        store.verify_version_integrity(path, v2, v4)
    store.rollback_version(path, v4)
    assert [v["VersionId"] for v in client.objects[("b", "k")]] == [
        "v1",
        "v2",
        "v3",
    ]


def test_s3_store_delete_old_versions():
    client = FakeS3Client()
    store = S3ObjectStore(client=client)
    path = "s3://b/k"
    for content in (b"v1", b"v2", b"v3"):
        client.put_object(Bucket="b", Key="k", Body=content)
    keep = "v3"
    assert store.delete_old_versions(path, keep) == 2
    assert [v["VersionId"] for v in client.objects[("b", "k")]] == ["v3"]


def test_s3_store_delete_old_versions_spares_newer():
    """Purge is scoped to versions strictly OLDER than keep_version — a
    concurrent writer's version landing after the integrity check (the
    check and the purge are not atomic) must survive (s3.py:245-256's
    VersionIdMarker scoping)."""
    client = FakeS3Client()
    store = S3ObjectStore(client=client)
    path = "s3://b/k"
    for content in (b"v1", b"v2"):
        client.put_object(Bucket="b", Key="k", Body=content)
    # concurrent writer lands v3 after our rewrite (v2) passed its check
    client.put_object(Bucket="b", Key="k", Body=b"sneak")
    assert store.delete_old_versions(path, "v2") == 1
    assert [v["VersionId"] for v in client.objects[("b", "k")]] == [
        "v2",
        "v3",
    ]


def test_forget_rewrite_through_object_store(tmp_path):
    """A per-file forget rewrite committed through the store: properties
    replay onto the rewritten object, the replaced content is archived,
    and the rewritten parquet is the exact survivor set."""
    import shutil

    import pyarrow.parquet as pq

    from amazon_s3_find_and_forget_spark.sources.parquet_file import (
        rewrite_parquet_file,
    )

    src = "/root/testdata/sf0.001/lineitem.parquet"
    obj = str(tmp_path / "lineitem.parquet")
    shutil.copy(src, obj)
    store = LocalObjectStore()
    store.put_properties(
        obj,
        ObjectProperties(
            content_type="application/parquet", tags={"lake": "test"}
        ),
    )
    before = pq.read_table(obj)
    n_match = sum(
        1 for v in before.column("l_orderkey").to_pylist() if v in (1, 3)
    )

    out_tmp = str(tmp_path / "rewritten.parquet")
    spec = [{"Type": "Simple", "Column": "l_orderkey", "MatchIds": [1, 3]}]
    stats = rewrite_parquet_file(obj, out_tmp, spec)
    store.save(obj, out_tmp)

    after = pq.read_table(obj)
    assert after.num_rows == before.num_rows - n_match
    assert stats["DeletedRows"] == n_match
    assert not any(
        v in (1, 3) for v in after.column("l_orderkey").to_pylist()
    )
    # the safety envelope held: old content archived, properties replayed
    assert len(versions.list_versions(obj)) == 1
    assert store.get_properties(obj).tags == {"lake": "test"}
    assert store.get_properties(obj).content_type == "application/parquet"


# --------------------------------------------------------------------------
# retry/backoff parity (reference utils.py:9-30, s3.py:284-298)
# --------------------------------------------------------------------------

from amazon_s3_find_and_forget_spark.sources.object_store import (  # noqa: E402
    TransientStoreError,
    retry_backoff,
)


def test_retry_backoff_recovers_and_waits_exponentially():
    calls, waits = [], []

    def flaky():
        calls.append(1)
        if len(calls) < 4:
            raise TransientStoreError("503 SlowDown")
        return "ok"

    assert retry_backoff(flaky, sleep=waits.append)() == "ok"
    assert len(calls) == 4
    assert waits == [2, 4, 8]  # 2s initial, doubling (utils.py:9-30)


def test_retry_backoff_exhausts_budget_and_reraises():
    calls, waits = [], []

    def always_down():
        calls.append(1)
        raise TransientStoreError("InternalError")

    with pytest.raises(TransientStoreError):
        retry_backoff(always_down, sleep=waits.append)()
    assert len(calls) == 6  # initial + 5 retries
    assert waits == [2, 4, 8, 16, 32]


def test_retry_backoff_non_transient_raises_immediately():
    calls = []

    def broken():
        calls.append(1)
        raise ValueError("permanent")

    with pytest.raises(ValueError):
        retry_backoff(broken, sleep=lambda s: None)()
    assert len(calls) == 1


class FlakyS3Client(FakeS3Client):
    """Fault-injection wrapper: named methods raise transiently N times."""

    def __init__(self, failures: dict[str, int]):
        super().__init__()
        self.failures = dict(failures)
        self.delete_batches = []

    def _maybe_fail(self, name):
        if self.failures.get(name, 0) > 0:
            self.failures[name] -= 1
            raise TransientStoreError(f"{name}: 503 SlowDown")

    def list_object_versions(self, **kwargs):
        self._maybe_fail("list_object_versions")
        return super().list_object_versions(**kwargs)

    def delete_objects(self, *, Bucket, Delete):
        self.delete_batches.append([o["VersionId"] for o in Delete["Objects"]])
        self._maybe_fail("delete_objects")
        errors = []
        kept = []
        for obj in Delete["Objects"]:
            if self.failures.get(f"key:{obj['VersionId']}", 0) > 0:
                self.failures[f"key:{obj['VersionId']}"] -= 1
                errors.append(
                    {
                        "Key": obj["Key"],
                        "VersionId": obj["VersionId"],
                        "Code": "InternalError",
                        "Message": "We encountered an internal error.",
                    }
                )
            else:
                kept.append(obj)
        for obj in kept:
            self.delete_object(
                Bucket=Bucket, Key=obj["Key"], VersionId=obj["VersionId"]
            )
        return {"Errors": errors} if errors else {}


def _seed(client, n):
    for i in range(n):
        client.put_object(Bucket="b", Key="k", Body=b"v%d" % i)


def test_s3_delete_old_versions_survives_transient_listing_errors():
    waits = []
    client = FlakyS3Client({"list_object_versions": 2})
    store = S3ObjectStore(client=client, sleep=waits.append)
    _seed(client, 3)
    assert store.delete_old_versions("s3://b/k", "v3") == 2
    assert [v["VersionId"] for v in client.objects[("b", "k")]] == ["v3"]
    assert waits == [2, 4]


def test_s3_delete_batch_retries_only_failed_keys():
    waits = []
    client = FlakyS3Client({"key:v1": 2})  # v1 errors twice, then deletes
    store = S3ObjectStore(client=client, sleep=waits.append)
    _seed(client, 3)
    assert store.delete_old_versions("s3://b/k", "v3") == 2
    assert [v["VersionId"] for v in client.objects[("b", "k")]] == ["v3"]
    # first batch carries both old versions; retries narrow to v1 only
    assert client.delete_batches == [["v1", "v2"], ["v1"], ["v1"]]
    assert waits == [1, 2]  # response-error retries wait 1..10s


def test_s3_delete_batch_transient_exception_then_success():
    waits = []
    client = FlakyS3Client({"delete_objects": 1})
    store = S3ObjectStore(client=client, sleep=waits.append)
    _seed(client, 2)
    assert store.delete_old_versions("s3://b/k", "v2") == 1
    assert waits == [2]


def test_s3_delete_batch_persistent_errors_raise_with_exact_accounting():
    client = FlakyS3Client({"key:v1": 99})
    store = S3ObjectStore(client=client, sleep=lambda s: None)
    _seed(client, 2)
    with pytest.raises(RuntimeError, match="1 version"):
        store.delete_old_versions("s3://b/k", "v2")
    # ten response-error attempts, then surface the residual error
    assert len(client.delete_batches) == 10
    # the failing version is still there (never falsely counted deleted)
    assert "v1" in [v["VersionId"] for v in client.objects[("b", "k")]]


def test_s3_verify_integrity_retries_transient_listing():
    waits = []
    client = FlakyS3Client({"list_object_versions": 1})
    store = S3ObjectStore(client=client, sleep=waits.append)
    _seed(client, 2)
    assert store.verify_version_integrity("s3://b/k", "v1", "v2") is True
    assert waits == [2]


# --------------------------------------------------------------------------
# cross-account RoleArn seam (boto_utils.py:239-243, main.py:140)
# --------------------------------------------------------------------------

from amazon_s3_find_and_forget_spark.sources.object_store import (  # noqa: E402
    AssumedRoleClient,
    store_for_mapper,
)


class FakeSTS:
    def __init__(self):
        self.calls = []
        self.serial = 0

    def assume_role(self, *, RoleArn, RoleSessionName):
        self.serial += 1
        self.calls.append((RoleArn, RoleSessionName))
        return {
            "Credentials": {
                "AccessKeyId": f"AKIA{self.serial}",
                "SecretAccessKey": "s",
                "SessionToken": "t",
                "Expiration": 1000.0 * self.serial + 3600,
            }
        }


def test_assumed_role_client_lazy_and_refreshes():
    clock = [0.0]
    sts = FakeSTS()
    built = []

    def factory(creds):
        built.append(creds["AccessKeyId"])
        client = FakeS3Client()
        client.akid = creds["AccessKeyId"]
        return client

    proxy = AssumedRoleClient(
        "arn:aws:iam::222222222222:role/x",
        session_name="s3f2",
        sts_client=sts,
        client_factory=factory,
        now=lambda: clock[0],
        refresh_margin=300,
    )
    assert sts.calls == []  # lazy: nothing assumed until first use
    proxy.put_object(Bucket="b", Key="k", Body=b"v1")
    assert sts.calls == [("arn:aws:iam::222222222222:role/x", "s3f2")]
    assert built == ["AKIA1"]
    # inside the validity window: no re-assume
    clock[0] = 4000.0  # expiry 4600, margin 300 -> refresh at 4300
    proxy.put_object(Bucket="b", Key="k", Body=b"v2")
    assert len(sts.calls) == 1
    # past expiry-margin: transparently re-assumed with NEW credentials
    clock[0] = 4301.0
    proxy.put_object(Bucket="b", Key="k", Body=b"v3")
    assert len(sts.calls) == 2
    assert built == ["AKIA1", "AKIA2"]


def test_store_for_mapper_same_account_and_cross_account(tmp_path):
    plain = store_for_mapper(client=FakeS3Client())
    assert isinstance(plain._client, FakeS3Client)
    sts = FakeSTS()
    cross = store_for_mapper(
        role_arn="arn:aws:iam::333333333333:role/y",
        sts_client=sts,
        client_factory=lambda creds: FakeS3Client(),
        now=lambda: 0.0,  # stay inside the fake credentials' validity
    )
    path = "s3://b/k"
    cross._client.put_object(Bucket="b", Key="k", Body=b"v1")
    got = str(tmp_path / "got")
    assert cross.fetch(path, got) == (got, "v1")  # full store protocol works
    assert _read(got) == b"v1"
    assert sts.calls[0][0] == "arn:aws:iam::333333333333:role/y"


def test_data_mapper_role_arn_validation():
    import pytest as _pytest

    from amazon_s3_find_and_forget_spark.data_mappers import DataMapper

    m = DataMapper(
        "m", "/lake", ["c"], role_arn="arn:aws:iam::1:role/r"
    )
    assert m.role_arn.startswith("arn:")
    with _pytest.raises(ValueError, match="RoleArn"):
        DataMapper("m", "/lake", ["c"], role_arn="not-an-arn")


# --------------------------------------------------------------------------
# Store-routed Forget rewrite (plans/forget._rewrite_one):
# the reference's full per-object commit protocol (main.py:132-265)
# through the ObjectStore seam, with RoleArn taking runtime effect
# --------------------------------------------------------------------------


def _parquet_bytes(ids):
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(
        pa.table({"customer_id": pa.array(ids, pa.int64())}), buf
    )
    return buf.getvalue()


def _spec():
    return [{"Type": "Simple", "Column": "customer_id", "MatchIds": [2, 3]}]


def test_rewrite_one_store_full_protocol():
    """s3:// path routes through the ObjectStore: rewrite drops matched
    rows, properties replay onto the new version, old versions purge."""
    import pyarrow.parquet as pq
    import io

    from amazon_s3_find_and_forget_spark.plans.forget import _rewrite_one

    client = FakeS3Client()
    client.put_object(
        Bucket="lake",
        Key="t/part-0.parquet",
        Body=_parquet_bytes([1, 2, 3, 4]),
        ContentType="binary/octet-stream",
        Metadata={"team": "sre"},
    )
    row = _rewrite_one(
        "s3://lake/t/part-0.parquet",
        "parquet",
        _spec(),
        ignore_not_found=False,
        delete_old_versions=True,
        store_factory=lambda arn: S3ObjectStore(client=client),
    )
    assert row[4] == "updated", row
    assert (row[2], row[3]) == (4, 2)  # processed, deleted
    versions = client.objects[("lake", "t/part-0.parquet")]
    assert len(versions) == 1  # prior version purged after commit
    got = pq.read_table(io.BytesIO(versions[-1]["Body"]))
    assert got.column("customer_id").to_pylist() == [1, 4]
    # property replay (s3.py:61-98): headers/metadata survive the rewrite
    assert versions[-1]["Args"]["ContentType"] == "binary/octet-stream"
    assert versions[-1]["Args"]["Metadata"] == {"team": "sre"}


def test_rewrite_one_store_keeps_history_when_flag_off():
    from amazon_s3_find_and_forget_spark.plans.forget import _rewrite_one

    client = FakeS3Client()
    client.put_object(
        Bucket="lake", Key="t/p.parquet", Body=_parquet_bytes([1, 2])
    )
    row = _rewrite_one(
        "s3://lake/t/p.parquet",
        "parquet",
        _spec(),
        ignore_not_found=False,
        delete_old_versions=False,
        store_factory=lambda arn: S3ObjectStore(client=client),
    )
    assert row[4] == "updated"
    assert len(client.objects[("lake", "t/p.parquet")]) == 2


def test_rewrite_one_store_version_conflict_rolls_back():
    """A concurrent writer between read and save fails the object and
    rolls the just-written version back (s3.py:301-357)."""
    from amazon_s3_find_and_forget_spark.plans.forget import _rewrite_one

    class RacingClient(FakeS3Client):
        raced = False

        def put_object(self, **kw):
            # first engine save: a concurrent writer sneaks in just before
            if not self.raced and kw["Body"] != b"concurrent":
                self.raced = True
                super().put_object(
                    Bucket=kw["Bucket"], Key=kw["Key"], Body=b"concurrent"
                )
            return super().put_object(**kw)

    client = RacingClient()
    client.raced = True  # seed write is not the race
    client.put_object(
        Bucket="lake", Key="t/p.parquet", Body=_parquet_bytes([1, 2])
    )
    client.raced = False
    row = _rewrite_one(
        "s3://lake/t/p.parquet",
        "parquet",
        _spec(),
        ignore_not_found=False,
        store_factory=lambda arn: S3ObjectStore(client=client),
    )
    assert row[4] == "failed"
    assert "VersionConflict" in row[5]
    # the conflicted rewrite was rolled back: latest body is the
    # concurrent writer's, and no third version exists
    versions = client.objects[("lake", "t/p.parquet")]
    assert versions[-1]["Body"] == b"concurrent"
    assert len(versions) == 2


def test_rewrite_one_store_not_found_statuses():
    """Exact contract: ClientError-code NoSuchKey skips only under
    ignore_not_found; a non-code error must NEVER classify as
    not-found (silently skipping an object the job must erase)."""
    from amazon_s3_find_and_forget_spark.plans.forget import (
        _looks_not_found,
        _rewrite_one,
    )

    client = FakeS3Client()
    row = _rewrite_one(
        "s3://lake/missing.parquet",
        "parquet",
        _spec(),
        ignore_not_found=True,
        store_factory=lambda arn: S3ObjectStore(client=client),
    )
    assert row[4] == "skipped" and row[5] == "ObjectNotFound"
    row = _rewrite_one(
        "s3://lake/missing.parquet",
        "parquet",
        _spec(),
        ignore_not_found=False,
        store_factory=lambda arn: S3ObjectStore(client=client),
    )
    assert row[4] == "failed"
    # classification is by type/code, never message substrings
    assert _looks_not_found(FakeNoSuchKey("x"))
    assert _looks_not_found(FileNotFoundError("x"))
    assert not _looks_not_found(KeyError("metadata"))
    assert not _looks_not_found(RuntimeError("proxy said 404 NotFound"))


def test_rewrite_one_store_postcommit_failure_keeps_row_counts():
    """A failure AFTER the save committed (old-version purge blowing up)
    must report the real processed/deleted counts — a (0,0,'failed') row
    would poison every retry with 'no rows deleted'."""
    from amazon_s3_find_and_forget_spark.plans.forget import _rewrite_one

    class PurgeFailClient(FakeS3Client):
        def delete_objects(self, **kw):
            raise RuntimeError("batch delete exploded")

    client = PurgeFailClient()
    client.put_object(
        Bucket="lake", Key="t/p.parquet", Body=_parquet_bytes([1, 2, 3])
    )
    row = _rewrite_one(
        "s3://lake/t/p.parquet",
        "parquet",
        _spec(),
        ignore_not_found=False,
        delete_old_versions=True,
        store_factory=lambda arn: S3ObjectStore(client=client),
    )
    assert row[4] == "failed" and "PostCommit" in row[5]
    assert (row[2], row[3]) == (3, 2)  # the committed rewrite's real counts


def test_forget_files_threads_role_arn_to_store_factory(spark, tmp_path):
    """run_job-level contract: the mapper's RoleArn string reaches the
    executor-side store factory (per-task get_session parity,
    main.py:140,154); a wrong ARN would fail the object."""
    from amazon_s3_find_and_forget_spark.plans.forget import forget_files, rewriter
    from amazon_s3_find_and_forget_spark.matches import ColumnGroup

    obj = tmp_path / "p.parquet"
    obj.write_bytes(_parquet_bytes([1, 2, 3]))
    expected = "arn:aws:iam::42:role/forget"

    # closure pickled BY VALUE to the task (the test module itself is not
    # importable from executor workers); LocalObjectStore carries the
    # store-branch protocol on the shared local filesystem
    def factory(arn):
        from amazon_s3_find_and_forget_spark.sources.object_store import (
            LocalObjectStore,
        )

        if arn != expected:
            raise ValueError(f"wrong arn reached the store factory: {arn}")
        return LocalObjectStore()

    rewrite = rewriter(
        [
            ColumnGroup(
                columns=["customer_id"],
                types=["bigint"],
                values=[2],
                composite=False,
            )
        ],
        fmt="parquet",
        role_arn=expected,
        store_factory=factory,
    )
    stats = forget_files(spark, [str(obj)], [rewrite])
    assert stats[0][4] == "updated", stats
    assert stats[0][3] == 1
    # and the rewrite really went through the store commit
    import pyarrow.parquet as pq

    assert pq.read_table(str(obj)).column("customer_id").to_pylist() == [1, 3]


def test_assumed_role_paginator_survives_credential_refresh():
    """A pagination that outlives the refresh margin must NOT stay bound
    to the expired client: continuation state lives in the page iterator
    while every page REQUEST re-resolves the fresh client (the botocore
    `_method` seam — resume_token is not usable, botocore only sets it
    on MaxItems truncation)."""
    from amazon_s3_find_and_forget_spark.sources.object_store import (
        AssumedRoleClient,
    )

    clock = [0.0]
    sts = FakeSTS()
    built = []
    pages = {"0": ("a", "1"), "1": ("b", "2"), "2": ("c", "3"), "3": ("d", None)}

    class BotocoreShapedPaginator:
        """Tokens live HERE (like botocore's PageIterator); each request
        goes through self._method (the seam the proxy must re-bind)."""

        def __init__(self, method):
            self._method = method

        def paginate(self, **kw):
            token = "0"
            while token is not None:
                page = self._method(Token=token, **kw)
                yield page
                token = page["NextToken"]

    class PagingClient:
        def __init__(self, akid):
            self.akid = akid
            self.expired = False

        def list_object_versions(self, *, Token, **kw):
            if self.expired:
                raise RuntimeError("ExpiredToken: stale client used")
            item, nxt = pages[Token]
            clock[0] += 3000.0  # creds lapse between page requests
            return {"Page": item, "By": self.akid, "NextToken": nxt}

        def get_paginator(self, name):
            return BotocoreShapedPaginator(getattr(self, name))

    def factory(creds):
        for c in built:
            c.expired = True  # old clients hard-fail if ever reused
        client = PagingClient(creds["AccessKeyId"])
        built.append(client)
        return client

    proxy = AssumedRoleClient(
        "arn:aws:iam::1:role/r",
        sts_client=sts,
        client_factory=factory,
        now=lambda: clock[0],
        refresh_margin=300,
    )
    got = list(proxy.get_paginator("list_object_versions").paginate())
    assert [p["Page"] for p in got] == ["a", "b", "c", "d"]  # nothing lost
    assert len(built) >= 2  # refreshed mid-listing
    assert got[0]["By"] == "AKIA1" and got[-1]["By"] != "AKIA1"


def test_rewrite_one_store_redact_mode():
    """Redact mode through the full store commit protocol: matched rows
    keep their record with the column nulled, row count preserved,
    version purge and property replay unchanged."""
    import io

    import pyarrow.parquet as pq

    from amazon_s3_find_and_forget_spark.plans.forget import _rewrite_one

    client = FakeS3Client()
    client.put_object(
        Bucket="lake",
        Key="t/part-0.parquet",
        Body=_parquet_bytes([1, 2, 3, 4]),
        ContentType="binary/octet-stream",
        Metadata={"team": "sre"},
    )
    row = _rewrite_one(
        "s3://lake/t/part-0.parquet",
        "parquet",
        _spec(),
        ignore_not_found=False,
        delete_old_versions=True,
        store_factory=lambda arn: S3ObjectStore(client=client),
        redact_columns=["customer_id"],
    )
    assert row[4] == "updated", row
    assert (row[2], row[3]) == (4, 2)  # processed, redacted
    versions = client.objects[("lake", "t/part-0.parquet")]
    assert len(versions) == 1
    got = pq.read_table(io.BytesIO(versions[-1]["Body"]))
    assert got.column("customer_id").to_pylist() == [1, None, None, 4]
    assert versions[-1]["Args"]["Metadata"] == {"team": "sre"}


# --------------------------------------------------------------------------
# One commit protocol: posix lakes, S3 lakes and injected stores share
# every step of plans/forget._rewrite_one
# --------------------------------------------------------------------------


def _local_store_factory():
    """An injected LocalObjectStore (the Engine(store_factory=...) seam),
    pickled by value into each task."""

    def factory(arn):
        from amazon_s3_find_and_forget_spark.sources.object_store import (
            LocalObjectStore,
        )

        return LocalObjectStore()

    return factory


def test_injected_local_store_leaves_lakes_readable(spark, tmp_path):
    """A job through an injected LocalObjectStore adds no visible entry to
    either lake, so Spark reads each back to exactly its survivors (a
    visible property sidecar failed the Parquet read and added an
    all-null row to the JSON read)."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from amazon_s3_find_and_forget_spark.data_mappers import DataMapper
    from amazon_s3_find_and_forget_spark.jobs import fold_counters, run_job
    from amazon_s3_find_and_forget_spark.matches import QueueItem

    pq_lake = tmp_path / "pq"
    pq_lake.mkdir()
    pq.write_table(
        pa.table({"customer_id": pa.array([1, 2, 3], pa.int64())}),
        str(pq_lake / "part-0.parquet"),
    )
    js_lake = tmp_path / "js"
    js_lake.mkdir()
    (js_lake / "a.json").write_text(
        "".join(json.dumps({"customer_id": i}) + "\n" for i in (1, 2, 3))
    )
    result = run_job(
        spark,
        [
            DataMapper("pq", str(pq_lake), ["customer_id"]),
            DataMapper("js", str(js_lake), ["customer_id"], format="json"),
        ],
        [QueueItem(match_id=2)],
        store_factory=_local_store_factory(),
    )
    assert result.status == "COMPLETED", result.events
    assert fold_counters(result.events)["TotalObjectUpdatedCount"] == 2
    spark.catalog.clearCache()
    got_pq = spark.read.parquet(str(pq_lake)).collect()
    got_js = spark.read.json(str(js_lake)).collect()
    assert sorted(tuple(r) for r in got_pq) == [(1,), (3,)]
    assert sorted(tuple(r) for r in got_js) == [(1,), (3,)]
    for lake, name in ((pq_lake, "part-0.parquet"), (js_lake, "a.json")):
        assert [n for n in os.listdir(lake) if not n.startswith(".")] == [name]


def _rollback_failing_factory():
    """LocalObjectStore whose integrity check reports a conflict and whose
    rollback then fails — pickled by value into each task."""

    def factory(arn):
        from amazon_s3_find_and_forget_spark.sources.object_store import (
            LocalObjectStore,
            VersionConflictError,
        )

        class Store(LocalObjectStore):
            def verify_version_integrity(self, path, from_v, new_v):
                raise VersionConflictError("concurrent write detected")

            def rollback_version(self, path, version):
                raise OSError("rollback refused")

        return Store()

    return factory


def test_rewrite_one_reports_rollback_failed(tmp_path):
    from amazon_s3_find_and_forget_spark.plans.forget import _rewrite_one

    obj = tmp_path / "p.parquet"
    obj.write_bytes(_parquet_bytes([1, 2, 3]))
    row = _rewrite_one(
        str(obj),
        "parquet",
        _spec(),
        ignore_not_found=False,
        store_factory=_rollback_failing_factory(),
    )
    assert row[4] == "rollback_failed", row
    assert row[5] == "OSError: rollback refused"


def test_run_job_emits_rollback_failed_events(spark, tmp_path):
    """The list handoff turns a rollback_failed row into both
    ObjectUpdateFailed and ObjectRollbackFailed, and the job ends
    FORGET_PARTIALLY_FAILED."""
    from amazon_s3_find_and_forget_spark.data_mappers import DataMapper
    from amazon_s3_find_and_forget_spark.jobs import fold_counters, run_job
    from amazon_s3_find_and_forget_spark.matches import QueueItem

    lake = tmp_path / "lake"
    lake.mkdir()
    (lake / "p.parquet").write_bytes(_parquet_bytes([1, 2, 3]))
    result = run_job(
        spark,
        [DataMapper("t", str(lake), ["customer_id"])],
        [QueueItem(match_id=2)],
        store_factory=_rollback_failing_factory(),
    )
    assert result.status == "FORGET_PARTIALLY_FAILED", result.events
    names = [e["EventName"] for e in result.events]
    assert "ObjectUpdateFailed" in names
    assert "ObjectRollbackFailed" in names
    assert fold_counters(result.events)["TotalObjectRollbackFailedCount"] == 1
