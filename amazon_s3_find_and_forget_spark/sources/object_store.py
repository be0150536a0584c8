"""Object-store seam for the Forget phase's rewrite-in-place commit.

The reference erases rows by rewriting whole S3 objects, and wraps that
write in an S3-specific safety envelope: replay the object's properties
onto the new version (ACL grants, ContentType/Cache headers, tags, SSE
settings — reference: backend/ecs_tasks/delete_files/s3.py:61-98),
verify no concurrent writer slipped between read and write
(s3.py:301-341), roll back the new version on conflict (s3.py:344-357),
and purge prior versions on success (s3.py:244-281).

This module is the SEAM between that protocol and its backends; the
Forget phase (``plans.forget._rewrite_one``) runs the protocol once,
inside the executor task, against whichever backend holds the object:

- ``ObjectStore`` — the interface, one method per reference behavior;
- ``LocalObjectStore`` — the posix backend every filesystem lake
  rewrites through: the object is read in place, versioning via
  ``sources.versions``, properties in a hidden JSON sidecar (the
  filesystem has no native metadata to replay);
- ``S3ObjectStore`` — the boto3-shaped backend. boto3 is not installed
  in this environment, so construction is lazy-import-guarded; the
  method bodies map 1:1 onto the reference's client calls so pointing
  the engine at real S3 is a constructor swap, not a rewrite.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
import time
from dataclasses import dataclass, field, replace
from typing import Protocol

from . import cse, versions


class TransientStoreError(RuntimeError):
    """A retryable store failure (the ClientError stand-in for fakes/tests)."""


def _retryable_exceptions() -> tuple:
    """ClientError when botocore is present, plus the test stand-in."""
    try:  # pragma: no cover - env-dependent
        from botocore.exceptions import ClientError

        return (ClientError, TransientStoreError)
    except ImportError:
        return (TransientStoreError,)


def retry_backoff(
    fn,
    retry_wait_seconds: float = 2,
    retry_factor: float = 2,
    max_retries: int = 5,
    sleep=time.sleep,
):
    """Exponential back-off retry for transient store errors.

    Parity: backend/ecs_tasks/delete_files/utils.py:9-30 (retry_wrapper) —
    2 s initial wait doubling per attempt, 5 retries, re-raising the last
    error once the budget is exhausted. ``sleep`` is injectable so
    fault-injection tests run instantly.
    """
    retryable = _retryable_exceptions()

    def wrapper(*args, **kwargs):
        wait = retry_wait_seconds
        last_error = None
        for attempt in range(max_retries + 1):
            try:
                return fn(*args, **kwargs)
            except retryable as e:
                last_error = e
                if attempt == max_retries:
                    break
                sleep(wait)
                wait *= retry_factor
        raise last_error

    return wrapper


@dataclass
class ObjectProperties:
    """The property set the reference replays onto a rewritten object.

    Mirrors the ExtraArgs assembled in s3.py:61-98: HeadObject-derived
    headers, tags, ACL grants, and SSE settings. All optional — absent
    properties are simply not replayed.
    """

    content_type: str | None = None
    content_encoding: str | None = None
    cache_control: str | None = None
    metadata: dict[str, str] = field(default_factory=dict)
    tags: dict[str, str] = field(default_factory=dict)
    # grantees are stored in S3 Grant-header form — "id=...", "uri=..."
    # (groups), or "emailAddress=..." — matching the reference's
    # get_grantees (s3.py:204-221); a bare value is treated as id=
    acl_grants: dict[str, list[str]] = field(default_factory=dict)
    owner_id: str | None = None
    sse: str | None = None
    sse_kms_key_id: str | None = None
    storage_class: str | None = None

    def to_json(self) -> str:
        return json.dumps(
            {k: v for k, v in self.__dict__.items() if v not in (None, {}, [])},
            sort_keys=True,
        )

    @classmethod
    def from_json(cls, payload: str) -> "ObjectProperties":
        return cls(**json.loads(payload))


class VersionConflictError(RuntimeError):
    """A concurrent writer modified the object between read and write."""


class ObjectStore(Protocol):
    """One method per reference safety behavior (s3.py file:line cited).

    Objects move as local files: ``fetch`` hands the rewrite kernel a file
    to read and ``save`` takes the rewritten file back."""

    def staging_dir(self, path: str) -> str:
        """A fresh directory for one rewrite's files; the caller removes
        it."""
        ...

    def fetch(self, path: str, dest: str) -> tuple[str, str]:
        """A local file holding the object's bytes (``dest``, or the
        object itself when it is already local) and the version id those
        bytes are (s3.py:301-341's from_version)."""
        ...

    def get_properties(self, path: str) -> ObjectProperties:
        """HeadObject + GetObjectTagging + GetObjectAcl (s3.py:120-220)."""
        ...

    def save(
        self,
        path: str,
        src: str,
        properties: ObjectProperties | None = None,
        source_version: str | None = None,
    ) -> str:
        """Write the local file ``src`` as a new version, replaying
        properties (s3.py:61-98). ``source_version`` is the version the
        bytes were computed from, for a store that checks it before the
        write. Returns the new version id."""
        ...

    def verify_version_integrity(
        self, path: str, from_version: str, to_version: str
    ) -> bool:
        """The version directly before ``to_version`` must be
        ``from_version`` — else a concurrent writer slipped in
        (s3.py:301-341). Raises ``VersionConflictError``."""
        ...

    def rollback_version(self, path: str, version: str) -> None:
        """Delete a just-written version after a conflict (s3.py:344-357)."""
        ...

    def delete_old_versions(self, path: str, keep_version: str) -> int:
        """Purge every version older than ``keep_version`` so erased rows
        are unrecoverable (s3.py:244-281). Returns the purge count."""
        ...


# --------------------------------------------------------------------------
# local filesystem backend
# --------------------------------------------------------------------------


class LocalObjectStore:
    """Filesystem backend, the store every posix lake rewrites through.

    The kernel reads the object in place and ``save`` moves the rewritten
    file in with ``os.replace``, so the store never holds an object's
    bytes. Versions are hardlinks in ``sources.versions``' hidden store.
    Unlike S3, the integrity check also runs BEFORE the swap: ``save``
    hands ``versions.commit`` the (mtime, size) snapshot the source
    version id carries, so a concurrent writer fails the save with the
    object untouched — strictly stronger than the reference's
    after-the-fact version-chain check, which ``verify_version_integrity``
    still provides with the reference's semantics.

    Properties live in a hidden ``.<name>.s3f2meta`` sidecar, written
    only for an object that has some; a CSE envelope (object metadata on
    S3) stays in the ``<name>.s3meta.json`` sidecar the encrypted scan
    reads. Both commit as companions of the content.
    """

    _META_SUFFIX = ".s3f2meta"

    def staging_dir(self, path: str) -> str:
        # hidden from Spark's listing, and on the object's filesystem so
        # the commit's os.replace stays atomic
        return tempfile.mkdtemp(
            dir=os.path.dirname(path) or ".", prefix=".s3f2tmp-"
        )

    def fetch(self, path: str, dest: str) -> tuple[str, str]:
        """The object itself, read in place, and its version. The version
        is captured BEFORE the read: if a writer lands in between, the
        stale version fails the commit's pre-swap check instead of the
        rewrite silently clobbering the concurrent write."""
        return path, self.current_version(path)

    def _props_path(self, path: str) -> str:
        head, name = os.path.split(path)
        return os.path.join(head, f".{name}{self._META_SUFFIX}")

    def get_properties(self, path: str) -> ObjectProperties:
        props = ObjectProperties()
        if os.path.exists(self._props_path(path)):
            with open(self._props_path(path), encoding="utf-8") as f:
                props = ObjectProperties.from_json(f.read())
        props.metadata.update(cse.load_metadata(path))
        return props

    def _sidecars(self, path: str, props: ObjectProperties) -> dict[str, str]:
        """Sidecar path -> content for ``props``; a property sidecar only
        when there is a property to keep or an old sidecar to replace."""
        out = {}
        if cse.is_kms_cse_encrypted(props.metadata):
            out[cse.metadata_path(path)] = json.dumps(props.metadata)
            props = replace(props, metadata={})
        payload = props.to_json()
        if payload != "{}" or os.path.exists(self._props_path(path)):
            out[self._props_path(path)] = payload
        return out

    def put_properties(self, path: str, properties: ObjectProperties) -> None:
        for target, payload in self._sidecars(path, properties).items():
            with open(target, "w", encoding="utf-8") as f:
                f.write(payload)

    def save(
        self,
        path: str,
        src: str,
        properties: ObjectProperties | None = None,
        source_version: str | None = None,
    ) -> str:
        # replay semantics: absent properties -> keep the current ones
        props = properties or self.get_properties(path)
        source_version = source_version or self.current_version(path)
        mtime_ns, size, _ = source_version.split("-")
        # sidecars are staged beside src: same filesystem as the object
        sidecars = self._sidecars(path, props)
        companions = {t: f"{src}~{os.path.basename(t)}" for t in sidecars}
        try:
            for target, payload in sidecars.items():
                with open(companions[target], "w", encoding="utf-8") as f:
                    f.write(payload)
            archived = versions.commit(
                path,
                src,
                (int(mtime_ns), int(size)),
                delete_old=False,
                companions=companions,
            )
        finally:
            for staged in companions.values():
                if os.path.exists(staged):
                    os.remove(staged)
        # one id scheme end-to-end: rename the archive (and its companion
        # archives) to the id the content had WHILE LIVE, so integrity
        # chains compare like S3's version listings
        store_dir = os.path.dirname(versions.version_path(path, archived))
        for name in os.listdir(store_dir):
            if name == archived or name.startswith(f"{archived}~"):
                # the digest in the id means an existing target holds the
                # SAME bytes, so replacing it never clobbers a distinct
                # version
                os.replace(
                    os.path.join(store_dir, name),
                    os.path.join(store_dir, source_version + name[len(archived):]),
                )
        # Hadoop's local FS keeps ".<name>.crc" sidecars; the rewritten
        # bytes invalidate them (irrelevant on S3 where there is none)
        head, name = os.path.split(path)
        crc = os.path.join(head, f".{name}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        return self.current_version(path)

    def current_version(self, path: str) -> str:
        # (mtime, size) is the pre-swap check's snapshot; it alone can
        # collide across distinct contents on coarse-timestamp
        # filesystems (or clock-preserving copies), which would let
        # save()'s archive-rename clobber a prior version — a short
        # content digest makes the id collision-safe
        mtime_ns, size = versions.snapshot(path)
        h = hashlib.sha256()
        with open(path, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        return f"{mtime_ns:020d}-{size}-{h.hexdigest()[:12]}"

    def verify_version_integrity(
        self, path: str, from_version: str, to_version: str
    ) -> bool:
        chain = versions.list_versions(path) + [self.current_version(path)]
        if from_version not in chain:
            raise VersionConflictError(
                f"Previous version ({from_version}) has been deleted."
            )
        prev = chain[chain.index(to_version) - 1] if to_version in chain else None
        if prev != from_version:
            raise VersionConflictError(
                f"A version ({prev}) was detected for the given object "
                f"between read and write operations ({from_version} and "
                f"{to_version})."
            )
        return True

    def rollback_version(self, path: str, version: str) -> None:
        if version == self.current_version(path):
            versions.restore_version(path)
        else:
            stored = versions.version_path(path, version)
            if os.path.exists(stored):
                os.remove(stored)

    def delete_old_versions(self, path: str, keep_version: str) -> int:
        return versions.purge_versions(path)


# --------------------------------------------------------------------------
# boto3 backend (seam only in this environment — boto3 not installed)
# --------------------------------------------------------------------------


class S3ObjectStore:
    """boto3-backed implementation of the same protocol.

    Construction lazy-imports boto3 so this module stays importable in
    environments without AWS SDKs; every method maps onto the client
    calls the reference makes (cited per method).
    """

    def __init__(self, client=None, sleep=time.sleep):
        if client is None:
            try:
                import boto3  # noqa: F401 — optional dependency
            except ImportError as e:  # pragma: no cover - env-dependent
                raise RuntimeError(
                    "S3ObjectStore requires boto3; install it or pass a "
                    "pre-built client"
                ) from e
            client = boto3.client("s3")
        self._client = client
        self._sleep = sleep

    def _retry(self, fn):
        """Transient-error back-off (parity utils.py:9-30, applied where
        the reference applies it: version listings and batch deletes)."""
        return retry_backoff(fn, sleep=self._sleep)

    @staticmethod
    def _split(path: str) -> tuple[str, str]:
        assert path.startswith("s3://"), path
        bucket, _, key = path[5:].partition("/")
        return bucket, key

    def staging_dir(self, path: str) -> str:
        return tempfile.mkdtemp(prefix="s3f2-store-")

    def fetch(self, path: str, dest: str) -> tuple[str, str]:
        """GetObject into ``dest``, returning the VersionId of the SAME
        response — the version is atomically the one whose bytes were
        read (the reference records VersionId off the fetch the same way,
        s3.py:301-341's from_version)."""
        bucket, key = self._split(path)
        resp = self._client.get_object(Bucket=bucket, Key=key)
        with open(dest, "wb") as f:
            f.write(resp["Body"].read())
        return dest, resp.get("VersionId", "null")

    # grantee type -> (ACL response property, Grant-header prefix), the
    # reference's prop_map (s3.py:204-221)
    _GRANTEE_FORMS = {
        "CanonicalUser": ("ID", "id"),
        "Group": ("URI", "uri"),
        "AmazonCustomerByEmail": ("EmailAddress", "emailAddress"),
    }

    @classmethod
    def _format_grantee(cls, grantee: dict) -> str:
        prop, prefix = cls._GRANTEE_FORMS[grantee["Type"]]
        return f"{prefix}={grantee[prop]}"

    @staticmethod
    def _header_grantee(value: str) -> str:
        """Normalize a stored grantee to Grant-header form.

        Already-prefixed values pass through; bare values (legacy
        sidecars, hand-built properties) default to canonical-user ids.
        """
        return value if "=" in value else f"id={value}"

    def get_properties(self, path: str) -> ObjectProperties:
        # HeadObject + GetObjectTagging + GetObjectAcl (s3.py:120-220)
        bucket, key = self._split(path)
        head = self._client.head_object(Bucket=bucket, Key=key)
        tagging = self._client.get_object_tagging(Bucket=bucket, Key=key)
        acl = self._client.get_object_acl(Bucket=bucket, Key=key)
        grants: dict[str, list[str]] = {}
        for grant in acl.get("Grants", []):
            grants.setdefault(grant["Permission"], []).append(
                self._format_grantee(grant["Grantee"])
            )
        return ObjectProperties(
            content_type=head.get("ContentType"),
            content_encoding=head.get("ContentEncoding"),
            cache_control=head.get("CacheControl"),
            metadata=head.get("Metadata") or {},
            tags={t["Key"]: t["Value"] for t in tagging.get("TagSet", [])},
            acl_grants=grants,
            owner_id=(acl.get("Owner") or {}).get("ID"),
            sse=head.get("ServerSideEncryption"),
            sse_kms_key_id=head.get("SSEKMSKeyId"),
            storage_class=head.get("StorageClass"),
        )

    def save(
        self,
        path: str,
        src: str,
        properties: ObjectProperties | None = None,
        source_version: str | None = None,
    ) -> str:
        # PutObject with replayed ExtraArgs (s3.py:61-98); the reference
        # restores WRITE grants with a separate PutObjectAcl because S3
        # rejects GrantWrite on upload — same two-step here
        bucket, key = self._split(path)
        props = properties or self.get_properties(path)
        from urllib.parse import quote_plus, urlencode

        with open(src, "rb") as f:
            data = f.read()
        kwargs = {
            "Bucket": bucket,
            "Key": key,
            "Body": data,
            "Metadata": props.metadata,
        }
        if props.content_type:
            kwargs["ContentType"] = props.content_type
        if props.content_encoding:
            kwargs["ContentEncoding"] = props.content_encoding
        if props.cache_control:
            kwargs["CacheControl"] = props.cache_control
        if props.tags:
            kwargs["Tagging"] = urlencode(props.tags, quote_via=quote_plus)
        if props.sse:
            kwargs["ServerSideEncryption"] = props.sse
        if props.sse_kms_key_id:
            kwargs["SSEKMSKeyId"] = props.sse_kms_key_id
        if props.storage_class:
            kwargs["StorageClass"] = props.storage_class
        # assemble the Grant-* headers once; the owner is folded into
        # GrantFullControl exactly as the reference does (s3.py:188-198)
        acl_headers: dict[str, str] = {}
        for perm, header in (
            ("FULL_CONTROL", "GrantFullControl"),
            ("READ", "GrantRead"),
            ("READ_ACP", "GrantReadACP"),
            ("WRITE_ACP", "GrantWriteACP"),
        ):
            grantees = [
                self._header_grantee(g) for g in props.acl_grants.get(perm, [])
            ]
            if perm == "FULL_CONTROL" and props.owner_id:
                owner = f"id={props.owner_id}"
                if owner not in grantees:
                    grantees.insert(0, owner)
            if grantees:
                acl_headers[header] = ",".join(grantees)
        kwargs.update(acl_headers)
        resp = self._client.put_object(**kwargs)
        new_version = resp.get("VersionId", "null")
        if props.acl_grants.get("WRITE"):
            # PutObjectAcl REPLACES the whole ACL, so the full Grant-*
            # set just uploaded must ride along with GrantWrite or it is
            # wiped (s3.py:84-96)
            self._client.put_object_acl(
                Bucket=bucket,
                Key=key,
                VersionId=new_version,
                **acl_headers,
                GrantWrite=",".join(
                    self._header_grantee(g)
                    for g in props.acl_grants["WRITE"]
                ),
            )
        return new_version

    def verify_version_integrity(
        self, path: str, from_version: str, to_version: str
    ) -> bool:
        # list one version before to_version; it must be from_version
        # (s3.py:301-341); the listing retries on transient errors with
        # exponential back-off exactly as the reference wraps it (s3.py:310)
        bucket, key = self._split(path)
        resp = self._retry(self._client.list_object_versions)(
            Bucket=bucket,
            Prefix=key,
            KeyMarker=key,
            VersionIdMarker=to_version,
            MaxKeys=1,
        )
        allv = resp.get("Versions", []) + resp.get("DeleteMarkers", [])
        if not allv:
            raise VersionConflictError(
                f"Previous version ({from_version}) has been deleted."
            )
        prev = allv[0]
        if prev["VersionId"] != from_version:
            kind = "delete marker" if "ETag" not in prev else "version"
            raise VersionConflictError(
                f"A {kind} ({prev['VersionId']}) was detected for the given "
                f"object between read and write operations ({from_version} "
                f"and {to_version})."
            )
        return True

    def rollback_version(self, path: str, version: str) -> None:
        bucket, key = self._split(path)
        self._client.delete_object(Bucket=bucket, Key=key, VersionId=version)

    def delete_old_versions(self, path: str, keep_version: str) -> int:
        # List with KeyMarker=key + VersionIdMarker=keep_version so ONLY
        # versions strictly older than the rewrite are returned — a
        # concurrent writer's version created after the integrity check
        # must survive (s3.py:244-281 scopes the listing identically).
        # Then batched DeleteObjects in LastModified order, 1000 per call.
        bucket, key = self._split(path)

        def _list_pages():
            entries: list[tuple] = []
            paginator = self._client.get_paginator("list_object_versions")
            for page in paginator.paginate(
                Bucket=bucket,
                Prefix=key,
                KeyMarker=key,
                VersionIdMarker=keep_version,
            ):
                for v in page.get("Versions", []) + page.get(
                    "DeleteMarkers", []
                ):
                    if v.get("Key") == key:
                        entries.append((v["LastModified"], v["VersionId"]))
            return entries

        entries = self._retry(_list_pages)()
        vids = [vid for _, vid in sorted(entries) if vid != keep_version]
        n = 0
        for i in range(0, len(vids), 1000):
            batch = [
                {"Key": key, "VersionId": vid} for vid in vids[i : i + 1000]
            ]
            resp = self._delete_batch(bucket, batch)
            errors = resp.get("Errors", [])
            if errors:
                raise RuntimeError(
                    f"Delete of {len(errors)} version(s) failed for {path}"
                )
            n += len(batch)
        return n

    def _delete_batch(self, bucket: str, objects: list[dict]) -> dict:
        """Batch DeleteObjects with two retry envelopes (parity
        s3.py:284-298): transient ClientErrors back off exponentially
        (utils.py:9-30), and a response that still CONTAINS per-key
        ``Errors`` is itself retried — with only the failed keys — up to
        10 attempts, 1..10 s exponential wait, returning the last
        response for the caller to surface residual errors."""
        attempt = 0
        resp: dict = {}
        while True:
            resp = self._retry(self._client.delete_objects)(
                Bucket=bucket, Delete={"Objects": objects, "Quiet": True}
            )
            errors = resp.get("Errors", [])
            attempt += 1
            if not errors or attempt >= 10:
                return resp
            failed = {(e.get("Key"), e.get("VersionId")) for e in errors}
            objects = [
                o for o in objects if (o["Key"], o.get("VersionId")) in failed
            ]
            self._sleep(min(max(2 ** (attempt - 1), 1), 10))


# --------------------------------------------------------------------------
# cross-account access (RoleArn per data mapper)
# --------------------------------------------------------------------------


class AssumedRoleClient:
    """Lazily-assumed, auto-refreshing client proxy for cross-account
    mappers.

    Parity: the reference's per-message ``get_session(body["RoleArn"])``
    (boto_utils.py:239-243 + ecs_tasks/delete_files/main.py:140) — every
    S3/KMS client for a mapper with a ``RoleArn`` is built from STS
    AssumeRole credentials, re-assumed automatically before expiry.

    This is a SEAM like S3ObjectStore itself: with boto3 present the
    defaults wire to real STS/S3; in this environment the fault-
    injectable constructor takes a fake ``sts_client`` and
    ``client_factory`` so the assume/refresh protocol is fully tested
    without AWS. Attribute access transparently proxies to the current
    underlying client, re-assuming when within ``refresh_margin``
    seconds of credential expiry (the aws-assume-role auto-refresh
    contract).
    """

    def __init__(
        self,
        role_arn: str,
        session_name: str = "s3f2",
        sts_client=None,
        client_factory=None,
        service: str = "s3",
        refresh_margin: float = 300.0,
        now=None,
    ):
        import time as _time

        if sts_client is None or client_factory is None:
            try:  # pragma: no cover - env-dependent
                import boto3
            except ImportError as e:
                raise RuntimeError(
                    "AssumedRoleClient requires boto3, or pass sts_client "
                    "and client_factory explicitly"
                ) from e
            sts_client = sts_client or boto3.client("sts")
            if client_factory is None:

                def client_factory(creds):  # pragma: no cover
                    return boto3.client(
                        service,
                        aws_access_key_id=creds["AccessKeyId"],
                        aws_secret_access_key=creds["SecretAccessKey"],
                        aws_session_token=creds["SessionToken"],
                    )

        self._role_arn = role_arn
        self._session_name = session_name
        self._sts = sts_client
        self._factory = client_factory
        self._margin = refresh_margin
        self._now = now or _time.time
        self._client = None
        self._expires_at = float("-inf")

    def _assume(self) -> None:
        resp = self._sts.assume_role(
            RoleArn=self._role_arn, RoleSessionName=self._session_name
        )
        creds = resp["Credentials"]
        exp = creds.get("Expiration")
        # Expiration arrives as a datetime from boto3; fakes may pass
        # an epoch float directly
        self._expires_at = (
            exp.timestamp() if hasattr(exp, "timestamp") else float(exp)
        )
        self._client = self._factory(creds)

    def _fresh(self):
        if self._client is None or self._now() >= self._expires_at - self._margin:
            self._assume()
        return self._client

    def get_paginator(self, name):
        """Late-binding paginator: a botocore paginator object stays
        bound to the client captured when it was fetched, so a long
        pagination outliving the refresh margin fails with ExpiredToken
        mid-listing. Fix at the REQUEST level, not the page level:
        pagination state (continuation tokens) lives in the
        PageIterator, while every page request routes through the
        freshness check — so a listing continues seamlessly across a
        credential refresh. (``PageIterator.resume_token`` is NOT a
        usable seam: botocore only sets it on MaxItems truncation,
        verified against 1.43.11.)"""
        outer = self

        def op(**kw):
            return getattr(outer._fresh(), name)(**kw)

        pag = self._fresh().get_paginator(name)
        if hasattr(pag, "_method"):
            # the botocore Paginator seam: _method is the bound client
            # operation every _make_request goes through (stable private
            # attribute; the fallback below covers its absence)
            pag._method = op
            return pag

        class _LateBound:
            # non-botocore client (fakes): rebuild the paginator on each
            # paginate() call so at least the start of every listing is
            # fresh
            def paginate(self, **kwargs):
                return outer._fresh().get_paginator(name).paginate(**kwargs)

        return _LateBound()

    def __getattr__(self, name):
        # proxy every client method through the freshness check (the
        # call itself happens on the current credentials)
        return getattr(self._fresh(), name)


def store_for_mapper(role_arn: str | None = None, **kwargs) -> S3ObjectStore:
    """S3ObjectStore for a mapper: same-account by default, an
    auto-refreshing assumed-role client when the mapper carries a
    ``RoleArn`` (reference main.py:140,154)."""
    if role_arn is None:
        return S3ObjectStore(**kwargs)
    sleep = kwargs.pop("sleep", time.sleep)
    return S3ObjectStore(
        client=AssumedRoleClient(role_arn, **kwargs), sleep=sleep
    )
