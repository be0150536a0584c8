"""Forget phase: delete matching rows.

Two physical strategies, chosen by the caller:

1. ``forget_table`` — declarative anti-join over the whole table. One
   scan, predicates/joins handled by Catalyst, output is a new dataset.
   This is the scale path when rewriting the dataset wholesale is
   acceptable (e.g. compaction-style erasure).

2. ``forget_files`` — the reference's surgical one-in-one-out rewrite
   (backend/ecs_tasks/delete_files/main.py:132-265): only the files the
   Find phase flagged are touched; each is rewritten in place (temp file
   + atomic rename), schema preserved, and the job fails the object if
   zero rows were deleted (Find/Forget consistency check, main.py:182-187).
   The Spark scheduler replaces the reference's SQS + Fargate fleet (task
   retry, speculation, backpressure for free), and like that fleet the
   dispatch is sized to the work: ``forget_task_count`` gives a call one
   task per ``TASK_BYTES`` of affected bytes, capped by the object count
   and the parallelism. ``forget_files_df`` is the large-job
   variant: the paths stay a DataFrame, rewritten via ``mapInPandas``.

Null semantics: a NULL identifier never matches, so anti-join/filter
must KEEP null rows — ``forget_table`` wraps predicates in
``coalesce(pred, false)`` (a bare ``~isin`` would drop them).
"""

from __future__ import annotations

import math
import os
import uuid
from functools import reduce
from operator import or_

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..matches import ColumnGroup
# mode contract enforced driver-side (before any task launches) and
# again inside the file kernels (their own public contract) — ONE
# definition for all three sites
from ..sources import check_redact_columns as _check_redact_columns
from ..sources import object_path
from .find import null_safe_predicate

# Affected bytes worth one ``forget_files`` rewrite task. A Python task's
# worker spends about 0.006 CPU s before the task starts on a local
# master (SCALE.md, "Python worker start-up"; 0.24-0.33 s with Spark's
# stock daemon), and the Parquet rewrite kernel runs at about 24 MB/s
# (2.0 MB decoded, masked and re-encoded in 0.082 s on a 4-vCPU VM,
# perfbench/README.md "Traced breakdown"), so start-up alone would
# justify a task per fraction of a MB. 4 MB is kept because no measured
# workload tells the values apart: trickle gets one task per call for
# any value from 1 to 64 MB.
TASK_BYTES = 4 * 1024 * 1024

STATS_SCHEMA = (
    "file_path string, format string, processed_rows long, deleted_rows long, "
    "status string, error string"
)



def forget_table(
    df: DataFrame,
    groups: list[ColumnGroup],
    redact_columns: list[str] | None = None,
) -> DataFrame:
    """Survivors of the table after deleting every matching row (J3/P10).

    All groups are OR-combined into a single pass — semantically identical
    to the reference's sequential per-group filtering (a row is deleted if
    ANY group matches; parquet_handler.py:133-152) but one scan instead of
    N.

    With ``redact_columns`` matching rows are KEPT and the listed columns
    nulled instead (erase the identifying values, preserve the record) —
    still one map-only pass, no shuffle: each redacted column is a
    ``when(matched, NULL)`` projection over the same combined predicate.
    """
    _check_redact_columns(redact_columns)
    if not groups:
        return df
    combined = reduce(or_, [null_safe_predicate(g) for g in groups])
    if redact_columns is None:
        return df.where(~combined)
    # the match flag must be FROZEN before any column is rewritten:
    # redacting an identifier column first would make later columns'
    # lazily-resolved predicate see the already-nulled identifier and
    # stop matching — so project it once, redact against it, drop it
    flag = "__s3f2_matched__"
    out = df.withColumn(flag, F.coalesce(combined, F.lit(False)))
    matched = F.col(flag)
    for c in redact_columns:
        nulled = F.when(matched, F.lit(None)).otherwise(F.col(c))
        if "." in c:
            top, rest = c.split(".", 1)
            out = out.withColumn(top, F.col(top).withField(rest, nulled))
        else:
            out = out.withColumn(c, nulled)
    return out.drop(flag)


def groups_to_spec(groups: list[ColumnGroup]) -> list[dict]:
    """Serialize column groups for the executor-side file handlers."""
    spec = []
    for g in groups:
        if g.composite:
            spec.append(
                {
                    "Type": "Composite",
                    "Columns": list(g.columns),
                    "MatchIds": [tuple(v) for v in g.values],
                }
            )
        else:
            spec.append(
                {
                    "Type": "Simple",
                    "Column": g.columns[0],
                    "MatchIds": list(g.values),
                }
            )
    return spec


def _looks_not_found(e: Exception) -> bool:
    """Not-found across backends, classified PRECISELY — by exception
    type and the ClientError response code, never by substrings of the
    stringified message (a store bug raising KeyError deep inside, or a
    message merely mentioning '404', must NOT silently skip an object
    the job is legally required to erase). Reference analog:
    IgnoredObjectNotFoundError classification, main.py:214-222."""
    if isinstance(e, FileNotFoundError):
        return True
    try:
        code = str(e.response["Error"]["Code"])  # botocore ClientError
    except (AttributeError, TypeError, KeyError):
        return False
    return code in ("NoSuchKey", "NoSuchVersion", "NotFound", "404")


def _rewrite_one_store(
    path: str,
    fmt: str,
    spec: list[dict],
    ignore_not_found: bool,
    delete_old_versions: bool = True,
    kms=None,
    role_arn: str = "",
    store_factory=None,
    redact_columns: list[str] | None = None,
):
    """Object-store rewrite: the reference's S3 commit protocol end to end
    (main.py:132-265; s3.py:61-98 properties replay, :301-341 integrity,
    :344-357 rollback, :244-281 version purge) through the ObjectStore
    seam instead of the posix fast path.

    Runs INSIDE the executor task: the store client is built here from
    the mapper's picklable ``role_arn`` string — per-task
    ``get_session(body["RoleArn"])`` parity (main.py:140,154) — so a
    cross-account mapper's credentials never ship from the driver.
    """
    import shutil
    import tempfile

    from ..sources import cse
    from ..sources import object_store as ostore
    from ..sources.jsonl_file import rewrite_json_file
    from ..sources.parquet_file import rewrite_parquet_file

    try:
        store = (
            store_factory(role_arn or None)
            if store_factory is not None
            else ostore.store_for_mapper(role_arn or None)
        )
        try:
            # the version must be captured WITH (or before) the read —
            # a listing taken after get_object would absorb a concurrent
            # write into from_version and the integrity check would
            # silently bless a rewrite computed from stale bytes
            getv = getattr(store, "get_object_and_version", None)
            if getv is not None:
                data, from_version = getv(path)
            else:
                chain = store.list_versions(path)
                from_version = chain[-1] if chain else "null"
                data = store.get_object(path)
        except Exception as e:  # noqa: BLE001
            if ignore_not_found and _looks_not_found(e):
                return (path, fmt, 0, 0, "skipped", "ObjectNotFound")
            raise
        props = store.get_properties(path)
        metadata = dict(props.metadata or {})
        if cse.is_kms_cse_encrypted(metadata):
            if kms is None:
                raise ValueError(
                    "Object is CSE-KMS encrypted but no KMS client provided"
                )
            data = cse.decrypt_bytes(data, metadata, kms)
        suffix = ".gz" if path.endswith(".gz") else ""
        workdir = tempfile.mkdtemp(prefix="s3f2-store-")
        try:
            rp = os.path.join(workdir, "in" + suffix)
            wp = os.path.join(workdir, "out" + suffix)
            with open(rp, "wb") as f:
                f.write(data)
            if fmt == "parquet":
                stats = rewrite_parquet_file(rp, wp, spec, redact_columns)
            else:
                stats = rewrite_json_file(rp, wp, spec, redact_columns)
            if stats["DeletedRows"] == 0:
                return (
                    path,
                    fmt,
                    stats["ProcessedRows"],
                    0,
                    "failed",
                    "Unprocessable: no rows deleted",
                )
            with open(wp, "rb") as f:
                out_bytes = f.read()
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
        if cse.is_kms_cse_encrypted(metadata):
            # fresh data key per rewrite; the new envelope rides in the
            # object metadata replayed by save() (reference cse.py:57-84)
            out_bytes, props.metadata = cse.encrypt_bytes(
                out_bytes, metadata, kms
            )
        new_version = store.save(path, out_bytes, props)
        try:
            store.verify_version_integrity(path, from_version, new_version)
        except ostore.VersionConflictError as e:
            try:
                store.rollback_version(path, new_version)
            except Exception as re:  # noqa: BLE001
                return (
                    path, fmt, 0, 0, "rollback_failed",
                    f"{type(re).__name__}: {re}",
                )
            return (path, fmt, 0, 0, "failed", f"{type(e).__name__}: {e}")
        except Exception as e:  # noqa: BLE001
            # post-commit failure that is NOT a conflict: the rewrite IS
            # durable, so report the real row counts — a (0, 0, failed)
            # row would poison every retry with "no rows deleted"
            return (
                path, fmt, stats["ProcessedRows"], stats["DeletedRows"],
                "failed", f"PostCommit {type(e).__name__}: {e}",
            )
        if delete_old_versions:
            try:
                store.delete_old_versions(path, new_version)
            except Exception as e:  # noqa: BLE001 — same honest accounting
                return (
                    path, fmt, stats["ProcessedRows"], stats["DeletedRows"],
                    "failed", f"PostCommit {type(e).__name__}: {e}",
                )
        return (
            path,
            fmt,
            stats["ProcessedRows"],
            stats["DeletedRows"],
            "updated",
            None,
        )
    except Exception as e:  # noqa: BLE001 — per-object error isolation
        return (path, fmt, 0, 0, "failed", f"{type(e).__name__}: {e}")


def _rewrite_one(
    path: str,
    fmt: str,
    spec: list[dict],
    ignore_not_found: bool,
    delete_old_versions: bool = True,
    kms=None,
    role_arn: str = "",
    store_factory=None,
    redact_columns: list[str] | None = None,
):
    from ..sources import cse, versions
    from ..sources.jsonl_file import rewrite_json_file
    from ..sources.parquet_file import rewrite_parquet_file

    if store_factory is not None or path.startswith("s3://"):
        # non-posix lake (or injected backend): the ObjectStore protocol
        # carries the commit; RoleArn takes runtime effect here. Spark's
        # $path column names objects by percent-encoded URI — the store
        # needs the decoded path or key, while events keep the URI.
        row = _rewrite_one_store(
            object_path(path),
            fmt,
            spec,
            ignore_not_found,
            delete_old_versions,
            kms,
            role_arn,
            store_factory,
            redact_columns,
        )
        return (path,) + tuple(row[1:])
    local = object_path(path)
    if not os.path.exists(local):
        status = "skipped" if ignore_not_found else "failed"
        return (path, fmt, 0, 0, status, "ObjectNotFound")
    suffix = ".gz" if local.endswith(".gz") else ""
    tmp = os.path.join(
        os.path.dirname(local), f".s3f2tmp-{uuid.uuid4().hex}{suffix}"
    )
    plain_in = plain_out = None
    try:
        # source "VersionId": any concurrent write between here and commit
        # fails the object instead of silently clobbering it (the local
        # analog of s3.py:301-341's version-integrity check)
        source = versions.snapshot(local)
        metadata = cse.load_metadata(local)
        encrypted = cse.is_kms_cse_encrypted(metadata)
        if encrypted:
            # decrypt -> rewrite plaintext -> re-encrypt with a FRESH data
            # key (reference main.py:176-178, 199-201 around the handler)
            if kms is None:
                raise ValueError(
                    "Object is CSE-KMS encrypted but no KMS client provided"
                )
            plain_in = tmp + ".plain-in"
            plain_out = tmp + ".plain-out"
            cse.decrypt_file(local, plain_in, kms)
            read_path, write_path = plain_in, plain_out
        else:
            read_path, write_path = local, tmp
        if fmt == "parquet":
            stats = rewrite_parquet_file(read_path, write_path, spec,
                                         redact_columns)
        else:
            stats = rewrite_json_file(read_path, write_path, spec,
                                      redact_columns)
        if stats["DeletedRows"] == 0:
            # Find said this object matches but Forget deleted nothing —
            # fail the object rather than silently no-op (main.py:182-187).
            if os.path.exists(tmp):
                os.remove(tmp)
            return (
                path,
                fmt,
                stats["ProcessedRows"],
                0,
                "failed",
                "Unprocessable: no rows deleted",
            )
        companions = None
        if encrypted:
            with open(plain_out, "rb") as f:
                ciphertext, new_md = cse.encrypt_bytes(f.read(), metadata, kms)
            with open(tmp, "wb") as f:
                f.write(ciphertext)
            # the fresh-data-key envelope commits WITH the ciphertext (the
            # S3 analog PUTs object+metadata atomically): the new sidecar
            # bytes are durable before the content swap, the old sidecar is
            # archived beside the old ciphertext so restore_version yields
            # a decryptable (content, envelope) pair
            import json as _json

            side_tmp = tmp + ".metatmp"
            with open(side_tmp, "w") as f:
                _json.dump(new_md, f)
            companions = {cse.metadata_path(local): side_tmp}
        versions.commit(
            local,
            tmp,
            source,
            delete_old=delete_old_versions,
            companions=companions,
        )
        # Hadoop's local FS keeps ".<name>.crc" sidecars; the rewritten
        # bytes invalidate them (irrelevant on S3 where there is none).
        crc = os.path.join(
            os.path.dirname(local), "." + os.path.basename(local) + ".crc"
        )
        if os.path.exists(crc):
            os.remove(crc)
        return (
            path,
            fmt,
            stats["ProcessedRows"],
            stats["DeletedRows"],
            "updated",
            None,
        )
    except Exception as e:  # noqa: BLE001 — per-object error isolation
        try:
            for leftover in (tmp, tmp + ".metatmp"):
                if os.path.exists(leftover):
                    os.remove(leftover)
        except OSError as re:
            # the "rollback" (discarding the uncommitted rewrite) failed —
            # surface it as its own status (main.py:248-262 analog)
            return (path, fmt, 0, 0, "rollback_failed", f"{type(re).__name__}: {re}")
        return (path, fmt, 0, 0, "failed", f"{type(e).__name__}: {e}")
    finally:
        for p in (plain_in, plain_out):
            if p and os.path.exists(p):
                os.remove(p)


def forget_task_count(sizes: list[int | None], parallelism: int) -> int:
    """How many rewrite tasks a ``forget_files`` call runs: one per
    ``TASK_BYTES`` of affected bytes, at most one per object and at most
    ``parallelism``. An unknown size (``None``) counts as ``TASK_BYTES``,
    so a call without sizes runs one object per task up to
    ``parallelism``."""
    total = sum(TASK_BYTES if s is None else s for s in sizes)
    return min(len(sizes), parallelism, max(1, math.ceil(total / TASK_BYTES)))


def forget_files(
    spark: SparkSession,
    files: list[str],
    groups: list[ColumnGroup],
    fmt: str = "parquet",
    ignore_not_found: bool = False,
    delete_old_versions: bool = True,
    kms=None,
    parallelism: int | None = None,
    role_arn: str = "",
    store_factory=None,
    redact_columns: list[str] | None = None,
    sizes: list[int | None] | None = None,
) -> list[tuple]:
    """Rewrite each affected file on the cluster; returns stats rows in
    ``files`` order.

    Eager by design: a deletion is an action, not a query — running it
    lazily would re-execute the side effect on every plan re-evaluation.
    Each object is rewritten on its own, as the reference's
    one-SQS-message-per-object (submit_query_results.py:42-54), in
    ``forget_task_count(sizes)`` tasks (``sizes``: bytes per object,
    aligned with ``files``): a few small objects share one task, as the
    reference sizes its Fargate fleet to the queue
    (orchestrate_ecs_service_scaling.py:13-21).
    """
    _check_redact_columns(redact_columns)
    if not files:
        return []
    spec = groups_to_spec(groups)
    sc = spark.sparkContext
    slices = forget_task_count(
        sizes if sizes is not None else [None] * len(files),
        max(parallelism or sc.defaultParallelism, 1),
    )
    rdd = sc.parallelize(files, numSlices=slices).map(
        lambda p: _rewrite_one(
            p,
            fmt,
            spec,
            ignore_not_found,
            delete_old_versions,
            kms,
            role_arn,
            store_factory,
            redact_columns,
        )
    )
    return rdd.collect()


def forget_files_df(
    spark: SparkSession,
    paths_df: DataFrame,
    groups: list[ColumnGroup],
    fmt: str = "parquet",
    ignore_not_found: bool = False,
    delete_old_versions: bool = True,
    kms=None,
    parallelism: int | None = None,
    role_arn: str = "",
    store_factory=None,
    redact_columns: list[str] | None = None,
) -> DataFrame:
    """Distributed Find->Forget handoff: rewrite every file in ``paths_df``
    without the path list ever materializing on the driver.

    ``forget_files`` round-trips the affected-path list through a driver
    collect — fine at the reference's 45k-object scenario, a driver-memory
    bottleneck at millions of objects. Here the Find output stays a
    DataFrame: repartition (paths only — a few bytes per row), rewrite
    per-partition via ``mapInPandas``, and return the per-file stats
    relation, eagerly localCheckpointed so the destructive side effect
    runs exactly once no matter how often the stats are consumed.
    Callers aggregate the stats distributively and collect only the
    per-status rollup.
    """
    _check_redact_columns(redact_columns)
    spec = groups_to_spec(groups)
    path_col = paths_df.columns[0]
    n = max(parallelism or spark.sparkContext.defaultParallelism, 1)

    def rewrite(batches):
        import pandas as pd

        cols = [
            "file_path", "format", "processed_rows", "deleted_rows",
            "status", "error",
        ]
        for pdf in batches:
            rows = [
                _rewrite_one(
                    p,
                    fmt,
                    spec,
                    ignore_not_found,
                    delete_old_versions,
                    kms,
                    role_arn,
                    store_factory,
                    redact_columns,
                )
                for p in pdf[path_col]
            ]
            yield pd.DataFrame(rows, columns=cols)

    out = paths_df.repartition(n).mapInPandas(rewrite, STATS_SCHEMA)
    return out.localCheckpoint(eager=True)


def stats_df(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    return spark.createDataFrame(rows, STATS_SCHEMA)
