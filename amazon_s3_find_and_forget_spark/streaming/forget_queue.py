"""Streaming deletion queue: matches stream in, files are rewritten.

The reference drains its deletion queue in discrete job runs (SQS ->
state machine -> ECS fleet; reference: backend/lambdas/tasks/
work_query_queue.py + delete_files/main.py). On Spark the queue itself
can be a STREAM: match items land as files in a queue directory (the
SQS analog a lake already has), Structured Streaming discovers them
exactly-once through its checkpoint, and every micro-batch runs the
SAME batch deletion pipeline (``jobs.run_job``) over just that batch's
matches via ``foreachBatch`` — one logical deletion engine, two
execution modes, mirroring how ``screen.py`` streams the Find side.

Scale shape: per micro-batch work is bounded by the batch's match
count; the rewrite inside ``run_job`` keeps its distributed fan-out
(broadcast semi-join Find, one ``forget_files`` dispatch sized by the
affected bytes). The
checkpoint makes queue-file discovery exactly-once across restarts —
re-running after a crash reprocesses no drained item.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ..jobs import JobResult, run_job
from ..matches import QueueItem

# queue items are JSONL rows, the DelQueue item shape (match_id may be a
# JSON array for composite matches — kept as a string column and parsed
# per item, matching matches.QueueItem semantics)
QUEUE_SCHEMA = (
    "match_id string, data_mapper_id string, composite boolean"
)


@dataclass
class StreamedJob:
    """One micro-batch's deletion outcome."""

    batch_id: int
    n_items: int
    result: JobResult | None


@dataclass
class ForgetQueueStream:
    """Handle over the running stream + per-batch job results."""

    query: object
    jobs: list[StreamedJob] = field(default_factory=list)

    def await_termination(self, timeout: int | None = None):
        return self.query.awaitTermination(timeout)


def _to_queue_items(rows) -> list[QueueItem]:
    import json

    items = []
    for r in rows:
        mid = r["match_id"]
        composite = bool(r["composite"])
        if composite:
            mid = json.loads(mid)
        items.append(
            QueueItem(
                match_id=mid,
                type="Composite" if composite else "Simple",
                data_mappers=(
                    [r["data_mapper_id"]] if r["data_mapper_id"] else []
                ),
            )
        )
    return items


def forget_queue_stream(
    spark: SparkSession,
    mappers: list,
    queue_dir: str,
    checkpoint_dir: str,
    kms=None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    **run_job_kwargs,
) -> ForgetQueueStream:
    """Drain a streaming deletion queue into per-batch deletion jobs.

    ``available_now=True`` processes everything currently queued and
    stops (the discrete-job mode); ``False`` keeps the stream live,
    draining new queue files as they land. Either way the checkpoint
    guarantees each queue file is consumed exactly once.

    The match rows of one micro-batch are collected to the driver —
    the deletion QUEUE is human-scale (the reference caps a whole job
    at 10K matches, limits.md); the LAKE-side work they trigger stays
    fully distributed inside ``run_job``.
    """
    reader = (
        spark.readStream.schema(QUEUE_SCHEMA).format("json")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream_df = reader.load(queue_dir)
    handle = ForgetQueueStream(query=None)

    def process_batch(batch_df, batch_id: int):
        rows = batch_df.collect()
        items = _to_queue_items(rows)
        if not items:
            handle.jobs.append(StreamedJob(batch_id, 0, None))
            return
        result = run_job(
            batch_df.sparkSession, mappers, items, kms=kms, **run_job_kwargs
        )
        handle.jobs.append(StreamedJob(batch_id, len(items), result))

    writer = (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    handle.query = writer.start()
    return handle
