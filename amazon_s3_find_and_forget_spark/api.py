"""The engine's control-plane facade: the reference's REST API surface
as one Python class over file-backed state.

Reference endpoints re-expressed (SURVEY.md §3; citations inline):

| Reference (API Gateway + Lambda + DynamoDB)      | Here                       |
|--------------------------------------------------|----------------------------|
| PUT/GET/DELETE /v1/data_mappers/{id}             | put/get/delete_data_mapper |
| GET /v1/data_mappers                             | list_data_mappers_page     |
| PATCH /v1/queue (+/matches)                      | enqueue_matches            |
| GET /v1/queue                                    | list_queue_page            |
| DELETE /v1/queue/matches                         | delete_matches             |
| DELETE /v1/queue (process_handler)               | process_queue              |
| GET /v1/jobs, /v1/jobs/{id}, /v1/jobs/{id}/events| list_jobs/get_job/list_job_events |

State lives as JSON files in a state dir (the DynamoDB tables' stand-in);
everything data-plane (Find/Forget) runs through ``jobs.run_job`` on
Spark. Single-writer semantics match the reference: exactly one running
job (queue/handlers.py:123-124), queue items consumed by a completed
job are removed (stream_processor.py:129-139), and error surfaces are
redacted so match ids never leak into logs (events.py:50-69). Every
listing pages by one rule (``_page``): an exclusive start key on the
listing's sort key, as DynamoDB's ExclusiveStartKey.
"""

from __future__ import annotations

import fcntl
import json
import operator
import os
import tempfile
import threading
import time
import uuid
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import SparkSession

from .data_mappers import DataMapper, check_no_overlap
from .jobs import fold_status, run_job
from .matches import QueueItem

REDACTED = "*** MATCH ID ***"


def sanitize_message(message: str, match_ids: list) -> str:
    """F9: mask every known match id in an error/log message
    (parity: ecs_tasks/delete_files/events.py:50-69)."""
    out = str(message)
    for m in match_ids:
        out = out.replace(str(m), REDACTED)
    return out


def sanitize_event_data(data, match_ids: list):
    """Redact match ids from STRING fields only, recursively.

    The reference redacts only message strings; running the replacement
    over a JSON-serialized dict corrupts the document whenever a numeric
    match id overlaps a numeric JSON token (MatchId 1 vs "Attempt": 1) —
    the re-parse then raises AFTER the destructive Forget already ran,
    wedging the job file in QUEUED.
    """
    if isinstance(data, dict):
        return {k: sanitize_event_data(v, match_ids) for k, v in data.items()}
    if isinstance(data, list):
        return [sanitize_event_data(v, match_ids) for v in data]
    if isinstance(data, str):
        return sanitize_message(data, match_ids)
    return data


def _page(
    rows: list[dict], key: str, start_at, page_size: int, newest_first=False
) -> tuple[list[dict], object]:
    """The one listing rule: sort ``rows`` by ``key`` (descending when
    ``newest_first``), keep those strictly past the exclusive start key
    ``start_at``, and return ``(page, NextStart)``, where ``NextStart``
    is the last key of a full page and None on a short (final) one.

    A full page runs on through the rows that tie with its last key, so
    an exclusive ``NextStart`` skips none of them; only ``CreatedAt``
    (seconds) has ties, every other key is unique."""
    rows = sorted(rows, key=lambda r: r[key], reverse=newest_first)
    if start_at is not None:
        past = operator.lt if newest_first else operator.gt
        rows = [r for r in rows if past(r[key], start_at)]
    page = rows[:page_size]
    if not page or len(page) < page_size:
        return page, None
    while len(page) < len(rows) and rows[len(page)][key] == page[-1][key]:
        page.append(rows[len(page)])
    return page, page[-1][key]


class AlreadyRunningError(RuntimeError):
    """Parity: 'There is already a job in progress' (queue/handlers.py:123-124)."""


class Engine:
    """Control plane over a state directory + a SparkSession.

    ``spark`` is a live session or a zero-argument callable that returns
    one; a callable is called once, the first time a method needs a
    session. Only ``put_data_mapper`` (schema validation),
    ``process_queue``, ``vacuum`` and the deletion of a job whose
    document names a ``ManifestTable`` need one. Every other call reads
    and writes the state directory alone, as the reference's
    control-plane Lambdas touch only DynamoDB, so it starts no JVM.
    """

    def __init__(
        self,
        spark: SparkSession | Callable[[], SparkSession],
        state_dir: str,
        kms=None,
        store_factory=None,
    ):
        if "://" in state_dir:  # os/open would make a URI a local dir
            raise ValueError(
                f"state dir {state_dir!r} is a URI; give a POSIX path the "
                "driver can see (a shared mount in cluster deploy mode)"
            )
        self._spark = spark
        self.state_dir = state_dir
        self.kms = kms
        # optional (role_arn | None) -> ObjectStore factory threaded to
        # every Forget rewrite (run_job -> forget_files); the per-task
        # AssumedRole/S3 resolution seam — tests inject fakes, real
        # deployments the boto builders
        self.store_factory = store_factory
        # orders this engine's threads (the HTTP facade's request
        # threads, a detached job's thread); ``_locked`` adds the
        # cross-process lock for read-modify-write cycles. _save stays
        # atomic (temp+rename) so lock-free readers never see a torn file
        self._mutex = threading.RLock()
        self._lock_fd: int | None = None  # the flock fd, while held
        self._job_thread: threading.Thread | None = None
        self._last_ns = 0  # the time part of the last queue id assigned
        os.makedirs(os.path.join(state_dir, "jobs"), exist_ok=True)

    @property
    def spark(self) -> SparkSession:
        if callable(self._spark):
            with self._mutex:
                if callable(self._spark):
                    self._spark = self._spark()
        return self._spark

    # --- tiny JSON "tables" ------------------------------------------------

    def _path(self, name: str) -> str:
        return os.path.join(self.state_dir, f"{name}.json")

    def _load(self, name: str, default):
        p = self._path(name)
        if not os.path.exists(p):
            return default
        with open(p) as f:
            return json.load(f)

    def _save(self, name: str, value) -> None:
        """Write a table whole: a temp file of its own in the same
        directory, renamed over the table, so concurrent writers never
        share a temp file and readers see the old or the new table."""
        path = self._path(name)
        fd, tmp = tempfile.mkstemp(
            dir=os.path.dirname(path), prefix=f".{os.path.basename(path)}.",
            suffix=".tmp",
        )
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(value, f, indent=1)
            os.replace(tmp, path)
        except BaseException:
            os.unlink(tmp)
            raise

    @contextmanager
    def _locked(self):
        """One read-modify-write of the state tables: ``_mutex`` orders
        this engine's threads and an exclusive ``flock`` on the state
        dir's ``.lock`` file orders every process that shares the dir.
        Only the outermost holder takes the flock; the mutex is
        re-entrant, but a second flock on a new fd in this process
        would wait on the first forever."""
        with self._mutex:
            if self._lock_fd is not None:
                yield
                return
            fd = os.open(
                os.path.join(self.state_dir, ".lock"), os.O_RDWR | os.O_CREAT
            )
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
                self._lock_fd = fd
                yield
            finally:
                self._lock_fd = None
                os.close(fd)  # releases the flock

    # --- settings (settings/handlers.py:14-22) -----------------------------

    DEFAULT_SETTINGS = {
        # the reference's deployment knobs, re-homed onto Spark concepts:
        # concurrency is the cluster's scheduler; retries are task retries
        "JobDetailsRetentionDays": 0,
        "QueryMaxRetries": 2,  # AthenaQueryMaxRetries analog (task retry)
        "ForgetTaskParallelism": None,  # None = spark defaultParallelism
        # catalog table manifests register into (JobManifestsGlueTable
        # analog); when set, jobs register partitions at run time and
        # delete/expiry drops them again — so the auto-sweeps clean the
        # catalog, not just the filesystem
        "ManifestTable": None,
    }

    def get_settings(self) -> dict:
        return {**self.DEFAULT_SETTINGS, **self._load("settings", {})}

    def put_settings(self, settings: dict) -> dict:
        unknown = set(settings) - set(self.DEFAULT_SETTINGS)
        if unknown:
            raise ValueError(f"Unknown settings: {sorted(unknown)}")
        with self._locked():
            merged = {**self._load("settings", {}), **settings}
            self._save("settings", merged)
        return self.get_settings()

    # --- data mappers (data_mappers/handlers.py:74-182) --------------------

    def put_data_mapper(self, mapper_id: str, config: dict) -> dict:
        """Create/replace a mapper after validating it (P12):
        format supported, identifier columns resolve to identifier-able
        types in the actual table schema, partition keys exist, and the
        location does not overlap another mapper's. A path Parquet
        mapper without a ``Schema`` stores the one validation read
        (``DataMapper.pins_schema``), as the reference reads its schema
        from Glue, so no job infers it again. Returns the stored config."""
        candidate = self._mapper_from(mapper_id, config)
        schema = candidate.validate(self.spark, kms=self.kms)
        if candidate.pins_schema:
            config = {**config, "Schema": schema.toDDL()}
        with self._locked():
            mappers = self._load("data_mappers", {})
            others = [
                self._mapper_from(mid, c)
                for mid, c in mappers.items()
                if mid != mapper_id
            ]
            check_no_overlap(others + [candidate])
            mappers[mapper_id] = config
            self._save("data_mappers", mappers)
        return {mapper_id: config}

    def _mapper_from(self, mapper_id: str, config: dict) -> DataMapper:
        return DataMapper(
            mapper_id=mapper_id,
            location=config["Location"],
            columns=list(config["Columns"]),
            format=config.get("Format", "parquet"),
            partition_keys=list(config.get("PartitionKeys", [])),
            delete_old_versions=bool(config.get("DeleteOldVersions", True)),
            ignore_object_not_found=bool(
                config.get("IgnoreObjectNotFoundExceptions", False)
            ),
            encrypted=bool(config.get("Encrypted", False)),
            partition_filter=config.get("PartitionFilter", ""),
            schema=config.get("Schema", ""),
            role_arn=config.get("RoleArn", ""),
            delete_mode=config.get("DeleteMode", "delete"),
            redact_columns=list(config.get("RedactColumns", [])),
        )

    def get_data_mapper(self, mapper_id: str) -> dict | None:
        return self._load("data_mappers", {}).get(mapper_id)

    def list_data_mappers(self) -> dict:
        return self._load("data_mappers", {})

    def list_data_mappers_page(
        self, start_at: str | None = None, page_size: int = 10
    ) -> tuple[list[dict], str | None]:
        """GET /v1/data_mappers pagination in the reference's shape:
        items carry their id inline as ``DataMapperId`` and ``start_at``
        is an exclusive id start key (data_mappers/handlers.py:46-67)."""
        rows = [
            {"DataMapperId": mid, **cfg}
            for mid, cfg in self._load("data_mappers", {}).items()
        ]
        return _page(rows, "DataMapperId", start_at, page_size)

    def delete_data_mapper(self, mapper_id: str) -> None:
        with self._locked():
            mappers = self._load("data_mappers", {})
            mappers.pop(mapper_id, None)
            self._save("data_mappers", mappers)

    # --- deletion queue (queue/handlers.py:59-108,144-180) ------------------

    def _new_item_id(self) -> str:
        """An engine-assigned DeletionQueueItemId whose text order is
        enqueue order: zero-padded epoch nanoseconds, moved past the last
        id this engine assigned, plus a random suffix so two processes
        never assign the same id. Call under ``_locked``."""
        self._last_ns = max(time.time_ns(), self._last_ns + 1)
        return f"{self._last_ns:020d}-{uuid.uuid4().hex[:8]}"

    def enqueue_matches(self, matches: list[dict]) -> list[dict]:
        """PATCH /v1/queue/matches: validate then append queue items.
        Each item gets an engine-assigned id (any DeletionQueueItemId the
        client sends is ignored, as in queue/handlers.py:164-180)."""
        parsed = [QueueItem.from_dict(m) for m in matches]  # validation
        with self._locked():
            items = [
                {
                    "DeletionQueueItemId": self._new_item_id(),
                    "Type": q.type,
                    "MatchId": q.match_id,
                    "CreatedAt": q.created_at,
                    "DataMappers": q.data_mappers,
                }
                for q in parsed
            ]
            queue = self._load("deletion_queue", [])
            queue.extend(items)
            self._save("deletion_queue", queue)
        return items

    def list_queue_page(
        self, start_at: str | None = None, page_size: int = 10
    ) -> tuple[list[dict], str | None]:
        """GET /v1/queue pagination in the reference's shape: ``start_at``
        is an exclusive DeletionQueueItemId start key, and ``NextStart``
        is the last id of a full page / None on the final short page
        (parity: queue/handlers.py:73-101).

        Ids sort in enqueue order, so like DynamoDB's ExclusiveStartKey
        a start key places the scan without naming a live item: a client
        paging while ``delete_matches`` runs resumes after its deleted
        anchor, and a token the store never assigned sorts wherever its
        text falls. Ids from state dirs that predate engine-assigned ids
        (uuid4) sort by their text among the new ones, so a full scan
        still returns every item exactly once."""
        queue = self._load("deletion_queue", [])
        return _page(queue, "DeletionQueueItemId", start_at, page_size)

    def delete_matches(self, item_ids: list[str]) -> None:
        drop = set(item_ids)
        with self._locked():
            queue = self._load("deletion_queue", [])
            self._save(
                "deletion_queue",
                [it for it in queue if it["DeletionQueueItemId"] not in drop],
            )

    # --- jobs (queue/handlers.py process_handler + jobs/handlers.py) --------

    ACTIVE_STATUSES = (
        "QUEUED",
        "RUNNING",
        "FORGET_COMPLETED_CLEANUP_IN_PROGRESS",
    )

    def _iter_jobs(self):
        """Yield (job_id, job_doc) for every readable job document —
        the ONE definition of the jobs-dir layout (filename = id +
        '.json', corrupt/empty docs skipped), shared by the running
        guard, the listing, the gauges and the retention sweep."""
        for fn in sorted(os.listdir(os.path.join(self.state_dir, "jobs"))):
            if not fn.endswith(".json"):
                continue
            jid = fn[: -len(".json")]
            try:
                job = self._load(os.path.join("jobs", jid), None)
            except ValueError:  # truncated/corrupt doc must not wedge
                continue  # process_queue/metrics — skip, don't raise
            if job:
                yield jid, job

    @staticmethod
    def _is_expirable(job: dict, now: int) -> bool:
        """The ONE expiry predicate, shared by the sweep and the gauge:
        a past Expires stamp on a non-active job."""
        return (
            job.get("Expires") is not None
            and job["Expires"] <= now
            and job.get("JobStatus") not in Engine.ACTIVE_STATUSES
        )

    def _running_job_exists(self) -> bool:
        return any(
            job.get("JobStatus") in self.ACTIVE_STATUSES
            for _, job in self._iter_jobs()
        )

    def process_queue(
        self, detach: bool = False, created_by: dict | None = None
    ) -> dict:
        """DELETE /v1/queue: run a deletion job over the whole queue.

        ``created_by`` records the API caller on the job document (the
        reference's ``CreatedBy = get_user_info(event)``,
        queue/handlers.py:133) — the HTTP transport passes its
        authorizer's principal; direct/CLI callers default to the OS
        user driving the session.

        Enforces the single-concurrent-job rule, snapshots the queue and
        mapper config into the job document (as the reference snapshots
        config into the Job item), runs Find+Forget, folds events, and on
        a terminal-complete status removes the consumed queue items (ST3).

        ``detach=True`` is the reference's actual timing: the handler
        returns the QUEUED job document immediately (202) and the state
        machine runs on its own (here: a daemon thread driving the same
        Spark session; join with :meth:`wait_for_job`). The QUEUED doc is
        already persisted, so the single-job guard holds across threads.
        """
        # retention sweep first: expired job docs (and their manifests)
        # leave the store before new work starts — the DynamoDB-TTL
        # analog fires on the engine's own write paths
        self.expire_jobs()
        import getpass

        try:
            username = getpass.getuser()
        except (KeyError, OSError):  # containerized UID with no passwd entry
            username = "unknown"
        job_id = str(uuid.uuid4())
        # guard-check and QUEUED-doc save are one critical section: two
        # submitters must not both pass the guard before either persists
        with self._locked():
            if self._running_job_exists():
                raise AlreadyRunningError(
                    "There is already a job in progress"
                )
            queue = self._load("deletion_queue", [])
            mappers_cfg = self._load("data_mappers", {})
            settings = self.get_settings()
            job = {
                "Id": job_id,
                "Type": "Job",
                "JobStatus": "QUEUED",
                "CreatedAt": int(time.time()),
                # the reference records the API caller; the engine analog
                # is the OS user driving the session (queue/handlers.py:133)
                "CreatedBy": created_by
                or {"Username": username, "Sub": "local"},
                "DeletionQueueSize": len(queue),
                # settings snapshot: the job document captures the config
                # it ran under, as the reference copies config into the Job
                # item (queue/handlers.py:127-135, minus the retention knob
                # which becomes the Expires stamp below)
                **{
                    k: v
                    for k, v in settings.items()
                    if k != "JobDetailsRetentionDays"
                },
            }
            # JobDetailsRetentionDays stamps an absolute expiry on the job
            # document at creation (parity: queue/handlers.py:136-139)
            retention_days = int(
                settings.get("JobDetailsRetentionDays") or 0
            )
            if retention_days > 0:
                job["Expires"] = job["CreatedAt"] + retention_days * 86400
            self._save(os.path.join("jobs", job_id), job)

        mappers = [
            self._mapper_from(mid, cfg) for mid, cfg in mappers_cfg.items()
        ]
        items = [QueueItem.from_dict(it) for it in queue]
        all_match_ids = [
            v
            for it in items
            for v in (
                [m["Value"] for m in it.match_id]
                if it.type == "Composite"
                else [it.match_id]
            )
        ]
        def _execute() -> dict:
            result = run_job(
                self.spark,
                mappers,
                items,
                job_id=job_id,
                kms=self.kms,
                manifest_dir=os.path.join(self.state_dir, "manifests"),
                query_max_retries=int(settings["QueryMaxRetries"]),
                forget_parallelism=settings["ForgetTaskParallelism"],
                # when a ManifestTable is configured, manifests also
                # register as catalog partitions at run time — and
                # delete_job/expiry drops them again (full
                # JobManifestsGlueTable lifecycle)
                manifest_table=settings.get("ManifestTable"),
                store_factory=self.store_factory,
            )
            job.update(fold_status(result.events, result.counters))
            job.update(result.counters)
            # record the job's manifest partitions on the job document so
            # deletion can clean them up (parity: the reference Job item's
            # Manifests list, consumed by
            # stream_processor.cleanup_manifests)
            part_root = os.path.join(
                self.state_dir, "manifests", f"JobId={job_id}"
            )
            if os.path.isdir(part_root):
                job["Manifests"] = sorted(
                    os.path.join(part_root, d)
                    for d in os.listdir(part_root)
                    if d.startswith("DataMapperId=")
                )
            # match ids must never surface in persisted errors (F9)
            events = [
                {
                    **ev,
                    "EventData": sanitize_event_data(
                        ev["EventData"], all_match_ids
                    ),
                }
                for ev in result.events
            ]
            sks = [f"{ev['CreatedAt']}#{uuid.uuid4()}" for ev in events]
            job["Events"] = [
                {**ev, "Sk": sk} for ev, sk in zip(events, sorted(sks))
            ]
            self._save(os.path.join("jobs", job_id), job)
            if result.status == "COMPLETED":
                # ST3: queue items consumed by a completed job are removed
                self.delete_matches([it.item_id for it in items])
            return job

        if not detach:
            return _execute()

        def _execute_detached() -> None:
            try:
                _execute()
            except Exception as exc:  # release the single-job guard:
                # a crashed detached run must not wedge the engine in
                # QUEUED; persist a terminal FAILED doc instead. Only the
                # exception TYPE is recorded — the message could embed
                # match ids (F9).
                job["JobStatus"] = "FAILED"
                job["ErrorType"] = type(exc).__name__
                self._save(os.path.join("jobs", job_id), job)

        snapshot = dict(job)
        t = threading.Thread(
            target=_execute_detached,
            daemon=True,
            name=f"s3f2-job-{job_id}",
        )
        self._job_thread = t
        t.start()
        return snapshot

    def wait_for_job(self, timeout: float | None = None) -> None:
        """Join the most recent detached job thread (tests/CLI barrier)."""
        t = self._job_thread
        if t is not None:
            t.join(timeout)

    def delete_job(self, job_id: str, force: bool = False) -> dict:
        """Delete a job document and clean up its manifests.

        The reference reacts to a Job row REMOVE (DynamoDB TTL or manual
        delete) by dropping the job's manifest partitions from the Glue
        catalog (stream_processor.py:41-48 routes the REMOVE,
        cleanup_manifests at :110-127 batch-deletes the
        ``[job_id, data_mapper_id]`` partitions). Here the manifest
        partitions are directories under the state dir's ``manifests/``
        tree — removed recursively — and, when the job was registered in
        a session-catalog manifest table, its partitions are dropped via
        ``ALTER TABLE .. DROP PARTITION`` (the ``batch_delete_partition``
        analog). The job document (which holds the event rows) goes last,
        so a crash mid-cleanup leaves a re-deletable job, never an
        orphaned manifest.

        Deviation (documented): deleting a job in an active status is
        refused — the reference's TTL cannot fire mid-job, but a manual
        CLI call could, and removing a running job's manifests would
        corrupt the audit trail. ``force=True`` overrides the guard for
        WEDGED jobs (a crashed driver leaves the doc in QUEUED/RUNNING
        forever, which would otherwise block every future
        ``process_queue`` with AlreadyRunningError and be unsweepable).

        The catalog table is the ``ManifestTable`` on the job document:
        ``process_queue`` snapshots the setting there, so partitions are
        dropped from the table the job registered them in, whatever the
        setting reads now.
        """
        if not all(c.isalnum() or c in "-_" for c in job_id):
            raise ValueError(f"Invalid job id {job_id!r}")
        job = self._load(os.path.join("jobs", job_id), None)
        if job is None:
            raise KeyError(job_id)
        if job.get("JobStatus") in self.ACTIVE_STATUSES and not force:
            raise AlreadyRunningError(
                f"Job {job_id} is {job['JobStatus']}; refusing to delete "
                "(pass force=True / --force for a wedged job)"
            )
        import shutil

        part_root = os.path.join(
            self.state_dir, "manifests", f"JobId={job_id}"
        )
        # union the recorded absolute paths with the current layout's
        # derivation: the stored list silently misses everything if the
        # state dir was relocated after the job ran, and the derivation
        # alone misses nothing only while the layout convention holds
        manifests = set(job.get("Manifests") or [])
        if os.path.isdir(part_root):
            manifests.update(
                os.path.join(part_root, d)
                for d in os.listdir(part_root)
                if d.startswith("DataMapperId=")
            )
        removed = []
        for m in sorted(manifests):
            if os.path.isdir(m):
                shutil.rmtree(m)
                removed.append(m)
        if os.path.isdir(part_root):
            try:
                os.rmdir(part_root)
            except OSError:  # pragma: no cover - unexpected stragglers
                pass
        dropped = self._drop_manifest_partitions(
            job_id, job.get("ManifestTable")
        )
        os.remove(self._path(os.path.join("jobs", job_id)))
        return {
            "Id": job_id,
            "ManifestsRemoved": removed,
            "PartitionsDropped": dropped,
        }

    def _drop_manifest_partitions(
        self, job_id: str, manifest_table: str | None
    ) -> int:
        """Drop a job's (JobId, DataMapperId) partitions from the
        catalog-registered manifest table (glue.batch_delete_partition
        analog, stream_processor.py:110-127)."""
        if not manifest_table:
            return 0
        if not self.spark.catalog.tableExists(manifest_table):
            return 0
        from urllib.parse import unquote

        parts = self.spark.sql(f"SHOW PARTITIONS {manifest_table}").collect()
        dropped = 0
        for row in parts:
            spec = row[0]  # e.g. "JobId=<id>/DataMapperId=<mid>"
            if not spec.startswith(f"JobId={job_id}/"):
                continue
            # SHOW PARTITIONS prints Hive-escaped (%XX) directory names;
            # the DROP predicate needs the LOGICAL value, un-escaped and
            # with single quotes doubled (mapper ids are user-chosen —
            # a quote must not break or redirect the statement)
            kv = {
                k: unquote(v).replace("'", "''")
                for k, v in (seg.split("=", 1) for seg in spec.split("/"))
            }
            pred = ", ".join(f"{k}='{v}'" for k, v in kv.items())
            self.spark.sql(
                f"ALTER TABLE {manifest_table} "
                f"DROP IF EXISTS PARTITION ({pred})"
            )
            dropped += 1
        return dropped

    def expire_jobs(self, now: int | None = None) -> list[str]:
        """Sweep expired job documents (the DynamoDB TTL analog).

        Deletes — via ``delete_job``, so manifests are cleaned up too —
        every non-active job whose ``Expires`` stamp (set at creation
        from ``JobDetailsRetentionDays``, queue/handlers.py:136-139) is
        in the past. Runs automatically at the start of
        ``process_queue`` and ``vacuum``; callable directly for an
        explicit sweep. Returns the expired job ids.
        """
        now = int(time.time()) if now is None else now
        expired = []
        for jid, job in list(self._iter_jobs()):
            if self._is_expirable(job, now):
                self.delete_job(jid)
                expired.append(jid)
        return expired

    def metrics(self) -> dict:
        """A7: the operational gauges the reference pushes to CloudWatch
        (queue depth, job concurrency, per-status counts).

        The task-level gauges (Fargate task count, SQS in-flight) are
        subsumed by the Spark scheduler; what remains meaningful for an
        operator dashboard is computed here from state: deletion-queue
        depth, whether a job is running, and the job-status histogram.
        One pass over the (small) state dir — no Spark job.
        """
        queue = self._load("deletion_queue", [])
        by_status: dict[str, int] = {}
        expirable = 0
        now = int(time.time())
        for _, job in self._iter_jobs():
            status = job.get("JobStatus", "UNKNOWN")
            by_status[status] = by_status.get(status, 0) + 1
            if self._is_expirable(job, now):
                expirable += 1
        return {
            "DeletionQueueSize": len(queue),
            "JobsByStatus": dict(sorted(by_status.items())),
            "RunningJobs": sum(
                n for s, n in by_status.items() if s in self.ACTIVE_STATUSES
            ),
            "ExpirableJobs": expirable,
            "DataMappers": len(self._load("data_mappers", {})),
        }

    def get_job(self, job_id: str) -> dict | None:
        job = self._load(os.path.join("jobs", job_id), None)
        if job:
            job = {k: v for k, v in job.items() if k != "Events"}
        return job

    def list_jobs(
        self, page_size: int = 10, start_at: int | None = None
    ) -> tuple[list[dict], int | None]:
        """O1: newest-first job listing as ``(page, NextStart)``.

        ``start_at`` is the reference's exclusive CreatedAt upper bound
        (jobs/handlers.py:79-88: ``Key("CreatedAt").lt(start_at)``), and
        ``NextStart`` is the min CreatedAt of a full page, None on a
        short (final) one (jobs/handlers.py:93-104). A full page holds
        every job of its last second, so jobs that share a second are
        never skipped; such a page can be longer than ``page_size``."""
        jobs = [
            {k: v for k, v in job.items() if k != "Events"}
            for _, job in self._iter_jobs()
        ]
        return _page(jobs, "CreatedAt", start_at, page_size, newest_first=True)

    # --- maintenance -------------------------------------------------------

    def vacuum(
        self,
        location: str,
        target_bytes: int = 128 << 20,
        purge: bool = True,
    ) -> dict:
        """Maintenance pass for a lake directory: purge archived object
        versions, then bin-pack small files (see
        ``operators.layout.compact_small_files``).

        Purge runs FIRST and enumerates the ``.s3f2versions`` store
        directly, so it also clears ORPHANED stores — version dirs whose
        object was already deleted (by an earlier vacuum's compaction or
        an external cleanup). Running it after compaction would leave
        the just-merged-away files' pre-erasure history restorable,
        which for an erasure engine is a data-retention bug, not a
        cosmetic one.
        """
        from .operators.layout import compact_small_files
        from .sources import versions as versions_mod

        expired = self.expire_jobs()
        purged = 0
        if purge:
            store_root = os.path.join(location, ".s3f2versions")
            if os.path.isdir(store_root):
                for name in sorted(os.listdir(store_root)):
                    purged += versions_mod.purge_versions(
                        os.path.join(location, name)
                    )
                try:
                    os.rmdir(store_root)
                except OSError:  # pragma: no cover - non-empty/raced
                    pass
        stats = compact_small_files(
            self.spark, location, target_bytes=target_bytes
        )
        return {**stats, "versions_purged": purged, "jobs_expired": expired}

    def list_job_events(
        self, job_id: str, watermark: str = "0", page_size: int = 20
    ) -> tuple[list[dict], str]:
        """W1: page forward through a job's events from a Sk watermark.

        Returns (events, next_watermark); parity jobs/handlers.py:115-216.
        The watermark is the last Sk of any non-empty page, full or not.
        """
        job = self._load(os.path.join("jobs", job_id), None)
        if job is None:
            raise KeyError(job_id)
        # ST4: a watermark beyond the job's end is invalid, not just empty
        # (parity: jobs/handlers.py:135-139 — bound is JobFinishTime + 1s)
        finish = job.get("JobFinishTime")
        if finish is not None and watermark != "0":
            try:
                wm_millis = int(watermark.split("#")[0])
            except ValueError:
                raise ValueError(f"Invalid watermark {watermark!r}") from None
            if wm_millis > finish + 1000:
                raise ValueError(
                    f"Watermark {watermark!r} is beyond the job's end"
                )
        page, _ = _page(job.get("Events", []), "Sk", watermark, page_size)
        return page, page[-1]["Sk"] if page else watermark
