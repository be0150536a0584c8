"""Forget phase: delete matching rows.

Two physical strategies, chosen by the caller:

1. ``forget_table`` — declarative anti-join over the whole table. One
   scan, predicates/joins handled by Catalyst, output is a new dataset.
   This is the scale path when rewriting the dataset wholesale is
   acceptable (e.g. compaction-style erasure).

2. ``forget_files`` — the reference's surgical one-in-one-out rewrite
   (backend/ecs_tasks/delete_files/main.py:132-265): only the files the
   Find phase flagged are touched. ``_rewrite_one`` rewrites each one
   with the reference's per-object commit protocol — read with its
   version, rewrite, fail the object if zero rows were deleted
   (main.py:182-187), save with its properties, verify the version
   chain, roll back on conflict, purge old versions — against an
   ``ObjectStore``: ``LocalObjectStore`` for posix lakes (read in place,
   atomic rename), ``S3ObjectStore`` for ``s3://``, or an injected one.
   The Spark scheduler replaces the reference's SQS + Fargate fleet (task
   retry, speculation, backpressure for free). That fleet drains one
   queue of per-object messages, each carrying its own mapper's config
   (submit_query_results.py:42-54); here a job's objects of every mapper
   go out in one ``forget_files`` dispatch, each with its mapper's
   ``rewriter``, and like the fleet the dispatch is sized to the work:
   ``forget_task_count`` gives it one task per ``TASK_BYTES`` of
   affected bytes, capped by the object count and the parallelism. It
   is the one dispatcher: a job of any size takes it, with the object
   list collected on the driver as the fleet's queue holds it.

Null semantics: a NULL identifier never matches, so anti-join/filter
must KEEP null rows — ``forget_table`` wraps predicates in
``coalesce(pred, false)`` (a bare ``~isin`` would drop them).
"""

from __future__ import annotations

import functools
import math
import os
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
# workload tells the values apart: a trickle job rewrites 2.05-2.08 MB
# in 10 objects of two mappers (seeds 3 and 4), all in one dispatch, so
# it gets one task per job for any value from 2.1 MB up.
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
    """Rewrite one object without its matching rows: the reference's
    per-object commit protocol end to end (main.py:132-265; s3.py:61-98
    properties replay, :301-341 integrity, :344-357 rollback, :244-281
    version purge), run the same way against every store.

    Runs INSIDE the executor task: the store is ``store_factory`` if
    given, an ``S3ObjectStore`` for ``s3://`` objects and a
    ``LocalObjectStore`` otherwise. A store client is built here from the
    mapper's picklable ``role_arn`` string — per-task
    ``get_session(body["RoleArn"])`` parity (main.py:140,154) — so a
    cross-account mapper's credentials never ship from the driver.
    Returns a ``STATS_SCHEMA`` row.
    """
    import shutil

    from ..sources import cse
    from ..sources import object_store as ostore
    from ..sources.jsonl_file import rewrite_json_file
    from ..sources.parquet_file import rewrite_parquet_file

    # Spark's $path column names objects by percent-encoded URI — the
    # store needs the decoded path or key, while the row keeps the URI
    key = object_path(path)
    suffix = ".gz" if key.endswith(".gz") else ""
    workdir = None
    try:
        if store_factory is not None:
            store = store_factory(role_arn or None)
        elif key.startswith("s3://"):
            store = ostore.store_for_mapper(role_arn or None)
        else:
            store = ostore.LocalObjectStore()
        try:
            workdir = store.staging_dir(key)
            # the version is captured WITH (or before) the read — one
            # taken after it would absorb a concurrent write into
            # from_version and the integrity check would silently bless
            # a rewrite computed from stale bytes
            src, from_version = store.fetch(
                key, os.path.join(workdir, "in" + suffix)
            )
        except Exception as e:  # noqa: BLE001
            if _looks_not_found(e):
                status = "skipped" if ignore_not_found else "failed"
                return (path, fmt, 0, 0, status, "ObjectNotFound")
            raise
        props = store.get_properties(key)
        encrypted = cse.is_kms_cse_encrypted(props.metadata)
        if encrypted:
            # decrypt -> rewrite plaintext -> re-encrypt with a FRESH data
            # key (reference main.py:176-178, 199-201 around the handler)
            if kms is None:
                raise ValueError(
                    "Object is CSE-KMS encrypted but no KMS client provided"
                )
            with open(src, "rb") as f:
                plain = cse.decrypt_bytes(f.read(), props.metadata, kms)
            src = os.path.join(workdir, "plain" + suffix)
            with open(src, "wb") as f:
                f.write(plain)
        out = os.path.join(workdir, "out" + suffix)
        rewrite = rewrite_parquet_file if fmt == "parquet" else rewrite_json_file
        stats = rewrite(src, out, spec, redact_columns)
        if stats["DeletedRows"] == 0:
            # Find said this object matches but Forget deleted nothing —
            # fail the object rather than silently no-op (main.py:182-187)
            return (
                path, fmt, stats["ProcessedRows"], 0, "failed",
                "Unprocessable: no rows deleted",
            )
        if encrypted:
            # the new envelope rides in the metadata save() replays, so it
            # commits with the ciphertext (reference cse.py:57-84)
            with open(out, "rb") as f:
                ciphertext, props.metadata = cse.encrypt_bytes(
                    f.read(), props.metadata, kms
                )
            with open(out, "wb") as f:
                f.write(ciphertext)
        new_version = store.save(key, out, props, from_version)
        try:
            store.verify_version_integrity(key, from_version, new_version)
        except ostore.VersionConflictError as e:
            try:
                store.rollback_version(key, new_version)
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
                store.delete_old_versions(key, new_version)
            except Exception as e:  # noqa: BLE001 — same honest accounting
                return (
                    path, fmt, stats["ProcessedRows"], stats["DeletedRows"],
                    "failed", f"PostCommit {type(e).__name__}: {e}",
                )
        return (
            path, fmt, stats["ProcessedRows"], stats["DeletedRows"],
            "updated", None,
        )
    except Exception as e:  # noqa: BLE001 — per-object error isolation
        return (path, fmt, 0, 0, "failed", f"{type(e).__name__}: {e}")
    finally:
        if workdir is not None:
            shutil.rmtree(workdir, ignore_errors=True)


def rewriter(
    groups: list[ColumnGroup],
    fmt: str = "parquet",
    ignore_not_found: bool = False,
    delete_old_versions: bool = True,
    kms=None,
    role_arn: str = "",
    store_factory=None,
    redact_columns: list[str] | None = None,
):
    """``_rewrite_one`` bound to one mapper's config, everything but the
    object path: the one place the dispatch checks the mode contract
    and serializes the groups."""
    _check_redact_columns(redact_columns)
    return functools.partial(
        _rewrite_one, fmt=fmt, spec=groups_to_spec(groups),
        ignore_not_found=ignore_not_found,
        delete_old_versions=delete_old_versions, kms=kms, role_arn=role_arn,
        store_factory=store_factory, redact_columns=redact_columns,
    )


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
    rewrites: list,
    sizes: list[int | None] | None = None,
    parallelism: int | None = None,
) -> list[tuple]:
    """Rewrite every affected object of a job in one Spark job; returns
    stats rows in ``files`` order.

    The work list is the reference's single queue of per-object messages
    (submit_query_results.py:42-54), held as aligned lists: object
    ``files[i]`` is rewritten by ``rewrites[i]``, its mapper's bound
    ``rewriter``, and weighs ``sizes[i]`` bytes (``None``: unknown). The
    objects of several mappers share one dispatch, so their paths must
    not overlap (``data_mappers.check_no_overlap``).

    Eager by design: a deletion is an action, not a query — running it
    lazily would re-execute the side effect on every plan re-evaluation.
    Each object is rewritten on its own, in ``forget_task_count(sizes)``
    tasks: a few small objects share one task, as the reference sizes its
    Fargate fleet to the queue (orchestrate_ecs_service_scaling.py:13-21).
    Every job takes this call whatever its size; the lists and the
    returned rows live on the driver (deploy/README.md "Driver sizing").
    """
    if not files:
        return []
    sc = spark.sparkContext
    slices = forget_task_count(
        sizes if sizes is not None else [None] * len(files),
        max(parallelism or sc.defaultParallelism, 1),
    )
    # each distinct rewrite (one per mapper) ships once, in the task
    # closure; an object carries only its rewrite's index
    distinct = list({id(r): r for r in rewrites}.values())
    index = {id(r): i for i, r in enumerate(distinct)}
    work = [(f, index[id(r)]) for f, r in zip(files, rewrites, strict=True)]
    rdd = sc.parallelize(work, numSlices=slices)
    return rdd.map(lambda w: distinct[w[1]](w[0])).collect()


def stats_df(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    return spark.createDataFrame(rows, STATS_SCHEMA)
