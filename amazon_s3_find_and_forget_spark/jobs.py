"""Event-sourced job log: emit, stats fold, status state machine, run_job.

The reference keeps one Job row plus append-only JobEvent rows keyed
``(Id, Sk="<epoch_millis>#<uuid>")`` in DynamoDB, folded by two lambdas:
- stats fold: sums 9 counters over events (jobs/stats_updater.py:27-120);
- status fold: ordered event names drive a locked state machine
  (jobs/status_updater.py:19-104).

Here the event log is a DataFrame (or a plain list for the driver-side
fold); the stats fold is a ``groupBy(Id).agg(sum(...))`` and the status
fold a pure function. ``run_job`` folds each job's counters once, in
process, with ``fold_counters``; ``api.Engine.process_queue``, the one
deletion entry point, stores them with the ``fold_status`` fold. The
scanned-bytes statistic comes from Spark's own stage metrics
(``spark_metrics``). The ``job_stats_fold`` catalog row runs
``fold_stats``.
"""

from __future__ import annotations

import logging
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import spark_metrics

# --- status state machine (parity: status_updater.py:19-51) ---------------

STATUS_MAP = {
    "FindPhaseFailed": "FIND_FAILED",
    "ForgetPhaseFailed": "FORGET_FAILED",
    "Exception": "FAILED",
    "JobStarted": "RUNNING",
    "ForgetPhaseEnded": "FORGET_COMPLETED_CLEANUP_IN_PROGRESS",
    "CleanupFailed": "COMPLETED_CLEANUP_FAILED",
    "CleanupSucceeded": "COMPLETED",
}

UNLOCKED_STATES = ["RUNNING", "QUEUED", "FORGET_COMPLETED_CLEANUP_IN_PROGRESS"]

SKIP_CLEANUP_STATES = [
    "FIND_FAILED",
    "FORGET_FAILED",
    "FAILED",
    "FORGET_PARTIALLY_FAILED",
]

TIME_STATUSES = {
    "JobStartTime": ["RUNNING"],
    "JobFinishTime": [
        "COMPLETED_CLEANUP_FAILED",
        "COMPLETED",
        "FAILED",
        "FIND_FAILED",
        "FORGET_FAILED",
        "FORGET_PARTIALLY_FAILED",
    ],
}

QUERY_EVENTS = ["QuerySucceeded", "QueryFailed"]
OBJECT_EVENTS = [
    "ObjectUpdated",
    "ObjectUpdateSkipped",
    "ObjectUpdateFailed",
    "ObjectRollbackFailed",
]


def fold_stats(events_df: DataFrame) -> DataFrame:
    """A5: sum the 9 job counters per job id — one hash aggregate.

    Parity: stats_updater.py:27-120. Query statistics arrive in EventData
    JSON as {"Statistics": {"DataScannedInBytes", "EngineExecutionTimeInMillis"}}.
    """
    name = F.col("EventName")
    stats = F.get_json_object(F.col("EventData"), "$.Statistics.DataScannedInBytes")
    millis = F.get_json_object(
        F.col("EventData"), "$.Statistics.EngineExecutionTimeInMillis"
    )
    one_if = lambda n: F.sum(F.when(name == n, 1).otherwise(0))  # noqa: E731
    return events_df.groupBy("Id").agg(
        F.sum(F.when(name.isin(QUERY_EVENTS), 1).otherwise(0)).alias(
            "TotalQueryCount"
        ),
        one_if("QuerySucceeded").alias("TotalQuerySucceededCount"),
        one_if("QueryFailed").alias("TotalQueryFailedCount"),
        F.sum(
            F.when(name.isin(QUERY_EVENTS), stats.cast("long")).otherwise(0)
        ).alias("TotalQueryScannedInBytes"),
        F.sum(
            F.when(name.isin(QUERY_EVENTS), millis.cast("long")).otherwise(0)
        ).alias("TotalQueryTimeInMillis"),
        one_if("ObjectUpdated").alias("TotalObjectUpdatedCount"),
        one_if("ObjectUpdateSkipped").alias("TotalObjectUpdateSkippedCount"),
        one_if("ObjectUpdateFailed").alias("TotalObjectUpdateFailedCount"),
        one_if("ObjectRollbackFailed").alias("TotalObjectRollbackFailedCount"),
    )


def fold_counters(events: list[dict]) -> dict:
    """A5, driver-side: the 9 job counters from a plain event list.

    Same fold as ``fold_stats`` (stats_updater.py:27-120) for when the
    events are already on the driver — a job emits O(files) events, so
    this never needs a cluster.
    """
    c = {
        "TotalQueryCount": 0,
        "TotalQuerySucceededCount": 0,
        "TotalQueryFailedCount": 0,
        "TotalQueryScannedInBytes": 0,
        "TotalQueryTimeInMillis": 0,
        "TotalObjectUpdatedCount": 0,
        "TotalObjectUpdateSkippedCount": 0,
        "TotalObjectUpdateFailedCount": 0,
        "TotalObjectRollbackFailedCount": 0,
    }
    for ev in events:
        name = ev["EventName"]
        data = ev.get("EventData") or {}
        if name in QUERY_EVENTS:
            c["TotalQueryCount"] += 1
            stats = data.get("Statistics") or {}
            c["TotalQueryScannedInBytes"] += int(
                stats.get("DataScannedInBytes", 0)
            )
            c["TotalQueryTimeInMillis"] += int(
                stats.get("EngineExecutionTimeInMillis", 0)
            )
        if name == "QuerySucceeded":
            c["TotalQuerySucceededCount"] += 1
        elif name == "QueryFailed":
            c["TotalQueryFailedCount"] += 1
        elif name == "ObjectUpdated":
            c["TotalObjectUpdatedCount"] += 1
        elif name == "ObjectUpdateSkipped":
            c["TotalObjectUpdateSkippedCount"] += 1
        elif name == "ObjectUpdateFailed":
            c["TotalObjectUpdateFailedCount"] += 1
        elif name == "ObjectRollbackFailed":
            c["TotalObjectRollbackFailedCount"] += 1
    return c


def fold_status(events: list[dict], counters: dict | None = None) -> dict:
    """A6: fold ordered events into {JobStatus, JobStartTime, JobFinishTime}.

    ``events``: [{"EventName","CreatedAt"}] in Sk order. ``counters``
    supplies the error counts used to derive FORGET_PARTIALLY_FAILED
    (status_updater.py:85-104).
    """
    counters = counters or {}
    out: dict = {}
    for ev in events:
        name = ev["EventName"]
        if name not in STATUS_MAP:
            continue
        new_status = STATUS_MAP[name]
        if name == "ForgetPhaseEnded" and (
            counters.get("TotalObjectUpdateFailedCount", 0) > 0
            or counters.get("TotalQueryFailedCount", 0) > 0
        ):
            new_status = "FORGET_PARTIALLY_FAILED"
        if not out.get("JobStatus") or out.get("JobStatus") in UNLOCKED_STATES:
            out["JobStatus"] = new_status
        for attr, statuses in TIME_STATUSES.items():
            if new_status in statuses and not out.get(attr):
                out[attr] = ev["CreatedAt"]
    return out


def list_events(
    events_df: DataFrame, job_id: str, watermark: str = "0", page_size: int = 20
) -> DataFrame:
    """W1: event-time ordered page forward from a Sk watermark."""
    return (
        events_df.where(F.col("Id") == job_id)
        .where(F.col("Sk") > watermark)
        .orderBy("Sk")
        .limit(page_size)
    )


def list_jobs(jobs_df: DataFrame, page_size: int = 10) -> DataFrame:
    """O1: newest-first top-K job listing."""
    return jobs_df.orderBy(F.desc("CreatedAt")).limit(page_size)


# --- end-to-end job runner ------------------------------------------------


@dataclass
class JobResult:
    job_id: str
    status: str
    file_stats: list = field(default_factory=list)
    events: list = field(default_factory=list)
    counters: dict = field(default_factory=dict)


def _record_scanned_bytes(sc, job_id: str, query_event: dict) -> None:
    """Put the input bytes of the job's Find phase on its final query
    event as ``Statistics.DataScannedInBytes``, the reference's Athena
    statistic (stats_updater.py:27-72), read from Spark's own stage
    metrics. A failed read leaves the statistic out: the job runs on,
    and its counter never holds a wrong number."""
    try:
        stages = spark_metrics.tagged_stages(sc, f"s3f2-job-{job_id}")
    except Exception:  # noqa: BLE001
        logging.getLogger(__name__).warning(
            "job %s: Spark stage metrics unreadable, DataScannedInBytes "
            "left out", job_id, exc_info=True,
        )
        return
    query_event["EventData"]["Statistics"]["DataScannedInBytes"] = sum(
        r["input_bytes"] for r in stages if "s3f2-phase-find" in r["tags"]
    )


def _refresh(spark: SparkSession, mapper) -> None:
    """The rewrite changed files behind Spark's back: drop any cached file
    listing / metadata so later reads in this session see the new objects
    (S3's analog is read-after-write consistency; Spark's is the catalog
    file-index cache)."""
    if mapper.location.startswith("table:"):
        spark.catalog.refreshTable(mapper.location[len("table:") :])
    else:
        spark.catalog.refreshByPath(mapper.location)


def _find_session(spark: SparkSession) -> SparkSession:
    """A per-job clone of ``spark`` (temp views and runtime confs
    included, about 2 ms) in which an In-list of two or more values
    plans as an ``InSet`` (``group_predicate`` pads a one-value list),
    and an ``InSet`` over an int column never as a ``switch`` over
    inlined values. An ``InSet`` holds its match set by reference, so
    Find's generated code is the same from job to job and the codegen
    cache compiles it once; the Parquet scan still gets the pushed
    ``In`` filter. The JSON reader gets no pushed filter. The caller's
    session keeps its confs: operator queries never see these."""
    clone = SparkSession(
        spark.sparkContext, jsparkSession=spark._jsparkSession.cloneSession()
    )
    clone.conf.set("spark.sql.optimizer.inSetConversionThreshold", "0")
    clone.conf.set("spark.sql.optimizer.inSetSwitchThreshold", "0")
    # the JSON reader compiles its pushed filters, values inlined
    clone.conf.set("spark.sql.json.filterPushdown.enabled", "false")
    return clone


def run_job(
    spark: SparkSession,
    mappers: list,
    queue_items: list,
    job_id: str | None = None,
    kms=None,
    manifest_dir: str | None = None,
    query_max_retries: int = 2,
    forget_parallelism: int | None = None,
    manifest_table: str | None = None,
    store_factory=None,
) -> JobResult:
    """The whole deletion-job lifecycle as one driver program.

    Replaces the reference's 3 state machines / 8 lambdas / 2 queues
    (SURVEY.md §3.1) and keeps their phase order (steps 4-7):

    1. Manifest: the audit manifest of every routed mapper, written from
       the driver into ``manifest_dir`` (and registered in
       ``manifest_table``) before Find; a failed Find keeps it.
    2. Find: ONE query, ``find_affected_files`` over every routed
       mapper's read (broadcast semi-join or pushed predicates) under one
       ``distinct()``, and one collect brings the (path, size, mapper)
       list to the driver. The mappers are read and Find is planned in a
       per-job session clone (``_find_session``) whose match sets are
       ``InSet``s, so a steady job compiles no new Find code. A mapper
       with a pinned ``schema`` (``DataMapper.pins_schema``) is read
       without inference, so a steady job over such mappers runs three
       Spark jobs: Find's shuffle map and collect, and Forget. Each attempt
       emits one ``QuerySucceeded``, ``QueryRetried`` or ``QueryFailed``
       event naming all the ``DataMapperIds``; the last one carries the
       Find phase's input bytes as ``DataScannedInBytes``, read once
       from Spark's stage metrics (``spark_metrics.tagged_stages``).
       Past the retry budget the job ends ``FIND_FAILED`` and no object
       has been rewritten.
    3. Forget: ONE dispatch (``forget_files``, its task count sized by
       the bytes) over the objects of every mapper, each rewritten with
       its own mapper's config, like the reference's single queue of
       per-object messages; then each mapper's cached listing is
       refreshed, every object gets its own event and the events fold
       into stats + status.

    Every job takes this path, whatever its size: the driver holds the
    object list, its stats rows and one event per object, so driver
    memory grows with the affected objects (deploy/README.md "Driver
    sizing" gives the measured bytes per object).

    One dispatch assumes no object belongs to two mappers: overlapping
    mapper locations (``check_no_overlap``) fail the job before it writes
    anything, and an object that Find returns under two mappers (a
    ``table:`` mapper over another mapper's directory) fails it before
    any rewrite. The job's Spark work is
    tagged ``s3f2-job-<job_id>``, and its phases ``s3f2-phase-find`` and
    ``s3f2-phase-forget`` (see ``SparkContext.cancelJobsWithTag``).
    """
    from .data_mappers import check_no_overlap
    from .matches import build_column_groups, route_items
    from .plans.find import find_affected_files
    from .plans.forget import forget_files, rewriter
    from .sources import object_path

    job_id = job_id or str(uuid.uuid4())
    events: list = []
    emit = lambda name, data=None: events.append(  # noqa: E731
        {"EventName": name, "CreatedAt": int(time.time() * 1000), "EventData": data or {}}
    )
    emit("JobStarted")
    all_stats: list = []

    def result() -> JobResult:
        counters = fold_counters(events)
        folded = fold_status(events, counters)
        return JobResult(
            job_id=job_id,
            status=folded.get("JobStatus", "QUEUED"),
            file_stats=all_stats,
            events=events,
            counters=counters,
        )

    sc = spark.sparkContext
    try:
        with spark_metrics.job_tag(sc, f"s3f2-job-{job_id}"):
            check_no_overlap(mappers)
            routed_mappers = [
                (mapper, routed)
                for mapper in mappers
                if (routed := route_items(queue_items, mapper.mapper_id))
            ]
            if manifest_dir or manifest_table:
                # the auditable stringified manifest of every routed
                # mapper, partitioned like the reference's Glue JSONL
                # manifest table (S7, generate_queries.py:223-225 +
                # templates/manifests.yaml) and written before Find, as
                # generate_queries does
                from .matches import (
                    MANIFEST_SCHEMA,
                    local_relation,
                    manifest_rows,
                    register_manifest_table,
                    write_manifest,
                )

                rows = [
                    row
                    for mapper, routed in routed_mappers
                    for row in manifest_rows(
                        job_id, mapper.mapper_id, mapper.columns, routed
                    )
                ]
                if rows and manifest_dir:
                    write_manifest(rows, manifest_dir)
                if rows and manifest_table:
                    # catalog registration (generate_queries.py:288-326)
                    register_manifest_table(
                        local_relation(spark, MANIFEST_SCHEMA, rows).coalesce(1),
                        manifest_table,
                    )
            find_spark = _find_session(spark)
            reads = []
            for mapper, routed in routed_mappers:
                df = mapper.read(find_spark, kms=kms)
                reads.append(
                    (df, build_column_groups(df.schema, mapper.columns, routed))
                )
            query = {"DataMapperIds": [m.mapper_id for m, _ in routed_mappers]}
            # nothing routed: no query to run, nothing to forget
            found = None if reads else []
            with spark_metrics.job_tag(sc, "s3f2-phase-find"):
                for attempt in range(query_max_retries + 1):
                    # bounded retry budget, the AthenaQueryMaxRetries analog
                    # (check_query_status.py:9-27 + state_machine.yaml:204-224);
                    # Spark's own task retries handle executor-level
                    # failures, this guards whole-query failures
                    if found is not None:
                        break
                    started = time.monotonic()
                    try:
                        found = find_affected_files(reads).collect()
                        name, data = "QuerySucceeded", {}
                    except Exception as e:  # noqa: BLE001
                        # a failure with retries left records the attempt
                        # WITHOUT failing the query — the reference emits
                        # the error event only once the budget is exhausted
                        # (state_machine.yaml 'Retriable?' -> 'Emit Error'),
                        # so a recovered retry can still end in a clean
                        # COMPLETED job
                        name = (
                            "QueryRetried"
                            if attempt < query_max_retries
                            else "QueryFailed"
                        )
                        data = {"Error": str(e), "Attempt": attempt}
                    millis = int((time.monotonic() - started) * 1000)
                    emit(
                        name,
                        {
                            **query,
                            **data,
                            "Statistics": {"EngineExecutionTimeInMillis": millis},
                        },
                    )
            if reads:
                _record_scanned_bytes(sc, job_id, events[-1])
            if found is None:
                # fail fast: a Find failure past its retry budget abandons
                # the job before any object is rewritten (parity:
                # work_query_queue.py:38-42)
                emit("FindPhaseFailed")
                return result()
            owners: dict = {}
            for path, _, i in found:
                j = owners.setdefault(object_path(path), i)
                if j != i:
                    # a table: mapper over another mapper's directory gets
                    # past check_no_overlap; rewriting its objects twice
                    # would fail the second rewrite with no rows to delete
                    raise ValueError(
                        f"Object {path} is found by data mappers "
                        f"{routed_mappers[j][0].mapper_id} and "
                        f"{routed_mappers[i][0].mapper_id}"
                    )
            rewrites = [
                rewriter(
                    groups,
                    fmt=mapper.format,
                    ignore_not_found=mapper.ignore_object_not_found,
                    delete_old_versions=mapper.delete_old_versions,
                    kms=kms,
                    # cross-account mappers: each rewrite task builds its
                    # client from the ARN (reference main.py:140,154)
                    role_arn=getattr(mapper, "role_arn", ""),
                    store_factory=store_factory,
                    redact_columns=mapper.effective_redact_columns(),
                )
                for (mapper, _), (_, groups) in zip(routed_mappers, reads)
            ]
            with spark_metrics.job_tag(sc, "s3f2-phase-forget"):
                stats = forget_files(
                    spark,
                    [r[0] for r in found],
                    [rewrites[r[2]] for r in found],
                    # bytes per object size the task count
                    sizes=[r[1] for r in found],
                    parallelism=forget_parallelism,
                )
            for mapper, _ in routed_mappers:
                _refresh(spark, mapper)
            all_stats.extend(stats)
            failed_objects = 0
            for row in stats:
                status = row[4]
                if status == "updated":
                    emit("ObjectUpdated", {"Object": row[0]})
                elif status == "skipped":
                    emit("ObjectUpdateSkipped", {"Object": row[0]})
                else:
                    failed_objects += 1
                    failed = {"Object": row[0], "Error": row[5]}
                    emit("ObjectUpdateFailed", failed)
                    if status == "rollback_failed":
                        emit("ObjectRollbackFailed", dict(failed))
            emit("ForgetPhaseEnded")
            if not failed_objects:
                emit("CleanupSucceeded")
    except Exception as e:  # noqa: BLE001
        emit("Exception", {"Error": str(e)})
    return result()
