"""Per-stage Spark metrics of tagged jobs, read in process.

A job tag (``SparkContext.addJobTag``) marks every Spark job its thread
starts. ``tagged_stages`` finds those jobs through the status tracker's
tag lookup and reads each stage's metrics from the status store, the
one the Spark UI shows; no event log is written or parsed. The engine
tags a deletion job ``s3f2-job-<id>`` and its phases
``s3f2-phase-find`` / ``s3f2-phase-forget`` (``jobs.run_job``).

The store is filled by a listener on Spark's event bus, a step behind
the jobs, so a read first waits for the bus to drain. The store keeps
only the last ``spark.ui.retainedJobs`` / ``retainedStages`` entries
(1,000 each by default), so read right after the tagged work; a stage
that has left it raises rather than read as zero. These are JVM
calls Spark does not document for Python (tests/test_spark_metrics.py
pins them on the installed Spark), so a caller that must keep running
catches what a read raises.
"""

from __future__ import annotations

from contextlib import contextmanager

# how long a read waits for the event bus to drain before it raises
DRAIN_TIMEOUT_MS = 5_000

# the totals ``totals`` sums; ``tagged_stages`` rows carry each of them
METRICS = (
    "tasks",
    "executor_cpu_s",
    "executor_run_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


@contextmanager
def job_tag(sc, tag: str):
    """Tag every Spark job this thread starts inside the block:
    ``tagged_stages`` reads them back and ``cancelJobsWithTag`` stops
    them. Unlike ``setJobGroup`` it leaves the job description alone,
    and tags nest."""
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)


def tagged_stages(sc, tag: str) -> list[dict]:
    """One row per stage of the Spark jobs tagged ``tag``, in job order.

    A row holds ``job_id``, ``tags`` (the job's other tags), ``stage_id``,
    ``name``, ``status`` and the ``METRICS``: task attempts run,
    executor CPU, run and GC seconds, input bytes, shuffle bytes read
    and written, and bytes spilled (memory + disk). A stage a job skips
    (its output is reused) ran nothing and has no row; a stage two jobs
    share is reported once, under the first. Raises when the event bus does not
    drain in ``DRAIN_TIMEOUT_MS`` or a job or stage is no longer in the
    store.
    """
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(DRAIN_TIMEOUT_MS)
    store = jsc.statusStore()
    rows, seen = [], set()
    for job_id in sorted(jsc.statusTracker().getJobIdsForTag(tag)):
        job = store.job(job_id)
        # tags never contain ',' (SparkContext refuses such a tag)
        tags = job.jobTags().mkString(",").split(",")
        tags = sorted(t for t in tags if t != tag)
        # a job over zero partitions has no stage
        stage_ids = filter(None, job.stageIds().mkString(",").split(","))
        for stage_id in map(int, stage_ids):
            if stage_id in seen:
                continue
            seen.add(stage_id)
            s = store.lastStageAttempt(stage_id)
            status = s.status().toString()
            if status == "SKIPPED":
                continue
            rows.append(
                {
                    "job_id": job_id,
                    "tags": tags,
                    "stage_id": stage_id,
                    "name": s.name(),
                    "status": status,
                    "tasks": s.numCompleteTasks()
                    + s.numFailedTasks()
                    + s.numKilledTasks(),
                    "executor_cpu_s": s.executorCpuTime() / 1e9,
                    "executor_run_s": s.executorRunTime() / 1e3,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "input_bytes": s.inputBytes(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                }
            )
    return rows


def totals(rows: list[dict]) -> dict:
    """The ``METRICS`` summed over ``rows``, plus ``spark_jobs``, the
    number of Spark jobs they come from."""
    out = {"spark_jobs": len({r["job_id"] for r in rows})}
    for k in METRICS:
        out[k] = round(sum(r[k] for r in rows), 3)  # seconds to the ms
    return out
