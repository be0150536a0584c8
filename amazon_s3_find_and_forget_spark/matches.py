"""Deletion-queue normalization, match routing, and column groups.

The reference stores queue items in DynamoDB and, per (job, data-mapper),
flattens them into a JSONL *match manifest* keyed by a stringified
column-group token (reference: backend/lambdas/tasks/generate_queries.py:89-221).
On Spark we keep the typed representation all the way through: a
``ColumnGroup`` holds typed match values per identifier column group and
compiles directly into join/filter predicates; the stringified manifest is
produced only as the auditable artifact (``manifest_rows``, written from the
driver by ``write_manifest``).

Semantics (parity):
- a *Simple* match applies to EVERY identifier column of the mapper
  (generate_queries.py:176-189);
- a *Composite* match names its own (column, value) tuples and forms one
  group per sorted column tuple (generate_queries.py:191-215; sorting
  makes the group key order-insensitive, O2);
- a queue item routes to a mapper iff its ``DataMappers`` list is empty or
  contains the mapper id (J4, generate_queries.py:166-174).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import COMPOSITE_JOIN_TOKEN
from .schema import cast_match_id, validate_identifier


@dataclass
class QueueItem:
    """One deletion-queue item (Simple or Composite)."""

    match_id: object  # scalar for Simple; list[{"Column","Value"}] for Composite
    type: str = "Simple"
    data_mappers: list = field(default_factory=list)
    item_id: str = ""
    created_at: int = 0

    def __post_init__(self):
        if self.type not in ("Simple", "Composite"):
            raise ValueError(f"Invalid match type {self.type!r}")
        if self.type == "Composite":
            if not isinstance(self.match_id, (list, tuple)) or not self.match_id:
                raise ValueError("Composite match requires a non-empty list")
            if len(self.data_mappers) != 1:
                # parity: queue/handlers.py:144-161 (exactly one mapper)
                raise ValueError("Composite match requires exactly one data mapper")
        if not self.item_id:
            self.item_id = str(uuid.uuid4())
        if not self.created_at:
            self.created_at = int(time.time())

    @classmethod
    def from_dict(cls, d: dict) -> "QueueItem":
        return cls(
            match_id=d["MatchId"],
            type=d.get("Type", "Simple"),
            data_mappers=list(d.get("DataMappers", []) or []),
            item_id=d.get("DeletionQueueItemId", ""),
            created_at=int(d.get("CreatedAt", 0)),
        )


@dataclass
class ColumnGroup:
    """Typed match set for one identifier column group.

    ``columns`` are canonical dot paths (schema casing); ``types`` the
    matching Spark leaf types. For a simple group ``len(columns) == 1``
    and ``values`` is a list of scalars; for a composite group ``values``
    is a list of tuples aligned with ``columns``.
    """

    columns: list
    types: list
    values: list
    composite: bool
    item_ids: list = field(default_factory=list)

    @property
    def key(self) -> str:
        return COMPOSITE_JOIN_TOKEN.join(self.columns)


def route_items(items: list[QueueItem], mapper_id: str) -> list[QueueItem]:
    """J4: item applies iff DataMappers empty or contains the mapper id."""
    return [
        it
        for it in items
        if not it.data_mappers or mapper_id in it.data_mappers
    ]


def build_column_groups(
    schema: StructType, identifier_columns: list[str], items: list[QueueItem]
) -> list[ColumnGroup]:
    """Group routed queue items into typed per-column-group match sets.

    Mirrors the manifest grouping of generate_queries.py:176-215 but keeps
    values typed (no stringification round-trip).
    """
    groups: dict[str, ColumnGroup] = {}

    # Pre-resolve the mapper's identifier columns once.
    resolved = {}
    for col in identifier_columns:
        canonical, dtype = validate_identifier(schema, col)
        resolved[col] = (canonical, dtype)

    for item in items:
        if item.type == "Simple":
            for col in identifier_columns:
                canonical, dtype = resolved[col]
                g = groups.setdefault(
                    canonical,
                    ColumnGroup([canonical], [dtype], [], composite=False),
                )
                g.values.append(cast_match_id(item.match_id, canonical, dtype))
                g.item_ids.append(item.item_id)
        else:
            pairs = sorted(
                ((m["Column"], m["Value"]) for m in item.match_id),
                key=lambda p: p[0],
            )  # O2: canonical column order
            if len(pairs) == 1:
                # a one-column composite IS a simple match on that column —
                # the reference gives both the same QueryableColumns key
                # (generate_queries.py:191-215); folding it into the simple
                # group keeps scalar and tuple values from mixing
                col, val = pairs[0]
                canonical, dtype = validate_identifier(schema, col)
                g = groups.setdefault(
                    canonical,
                    ColumnGroup([canonical], [dtype], [], composite=False),
                )
                g.values.append(cast_match_id(val, canonical, dtype))
                g.item_ids.append(item.item_id)
                continue
            cols, vals = zip(*pairs)
            canon_types = [validate_identifier(schema, c) for c in cols]
            canon_cols = [c for c, _ in canon_types]
            dtypes = [t for _, t in canon_types]
            key = COMPOSITE_JOIN_TOKEN.join(canon_cols)
            g = groups.setdefault(
                key, ColumnGroup(canon_cols, dtypes, [], composite=True)
            )
            g.values.append(
                tuple(
                    cast_match_id(v, c, t)
                    for v, c, t in zip(vals, canon_cols, dtypes)
                )
            )
            g.item_ids.append(item.item_id)

    # Dedup values while preserving insertion order.
    for g in groups.values():
        seen = set()
        deduped = []
        for v in g.values:
            if v not in seen:
                seen.add(v)
                deduped.append(v)
        g.values = deduped
    return list(groups.values())


MANIFEST_SCHEMA = StructType(
    [
        StructField("Columns", ArrayType(StringType()), False),
        StructField("MatchId", ArrayType(StringType()), False),
        StructField("DeletionQueueItemId", StringType(), False),
        StructField("CreatedAt", LongType(), False),
        StructField("QueryableColumns", StringType(), False),
        StructField("QueryableMatchId", StringType(), False),
        StructField("JobId", StringType(), False),
        StructField("DataMapperId", StringType(), False),
    ]
)


def local_relation(
    spark: SparkSession, schema: StructType, rows: list[tuple]
) -> DataFrame:
    """A driver-built relation that plans as a JVM ``LocalTableScan``.

    The rows reach the JVM as one Arrow table, so reading them needs no
    Python worker. ``spark.createDataFrame(rows)`` would instead plan
    ``parallelize`` plus a Python ``map`` (``Scan ExistingRDD``), one
    Python task per partition every time the relation is read.
    """
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def manifest_rows(
    job_id: str,
    mapper_id: str,
    identifier_columns: list[str],
    items: list[QueueItem],
) -> list[tuple]:
    """The stringified manifest rows of one (job, mapper), ``MANIFEST_SCHEMA``
    order (reference generate_queries.py:89-127): one row per
    (match x column-group)."""
    rows = []
    for item in items:
        if item.type == "Simple":
            for col in identifier_columns:
                rows.append(
                    (
                        [col],
                        [str(item.match_id)],
                        item.item_id,
                        item.created_at,
                        col,
                        str(item.match_id),
                        job_id,
                        mapper_id,
                    )
                )
        else:
            pairs = sorted(
                ((m["Column"], m["Value"]) for m in item.match_id),
                key=lambda p: p[0],
            )
            cols = [p[0] for p in pairs]
            vals = [str(p[1]) for p in pairs]
            rows.append(
                (
                    cols,
                    vals,
                    item.item_id,
                    item.created_at,
                    COMPOSITE_JOIN_TOKEN.join(cols),
                    COMPOSITE_JOIN_TOKEN.join(vals),
                    job_id,
                    mapper_id,
                )
            )
    return rows


def build_manifest_df(
    spark: SparkSession,
    job_id: str,
    mapper_id: str,
    identifier_columns: list[str],
    items: list[QueueItem],
) -> DataFrame:
    """The auditable stringified manifest of one (job, mapper).

    Written with ``.write.partitionBy("JobId","DataMapperId")`` it
    reproduces the reference's partitioned JSONL manifest table
    (templates/manifests.yaml:59-88).
    """
    return local_relation(
        spark,
        MANIFEST_SCHEMA,
        manifest_rows(job_id, mapper_id, identifier_columns, items),
    )


# the characters Spark's ExternalCatalogUtils.escapePathName writes as
# %XX in a partition directory name (off Windows); partition discovery
# unescapes exactly these, so a manifest read back names its mapper
_PATH_ESCAPES = frozenset(
    [chr(c) for c in range(0x01, 0x20)] + list("\"#%'*/:=?\\\x7f{[]^")
)


def escape_path_name(value: str) -> str:
    """A partition value as Spark spells it in a directory name."""
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPES else c for c in value)


def write_manifest(rows: list[tuple], path: str) -> None:
    """Write ``MANIFEST_SCHEMA`` rows from the driver as Spark's
    ``partitionBy("JobId", "DataMapperId").json(path)`` lays them out:
    one JSON Lines file per (JobId, DataMapperId) directory, with the
    partition values in the directory names only.

    Each file is written under a dot-prefixed name, which Spark's readers
    skip, and renamed into place, so a reader never sees a partial
    manifest. A repeated write appends a file, as Spark's append mode
    does. No Spark job runs.
    """
    names = MANIFEST_SCHEMA.fieldNames()[:-2]
    parts: dict[tuple, list] = {}
    for row in rows:
        parts.setdefault(row[-2:], []).append(dict(zip(names, row[:-2])))
    for (job_id, mapper_id), records in parts.items():
        directory = os.path.join(
            path,
            f"JobId={escape_path_name(job_id)}",
            f"DataMapperId={escape_path_name(mapper_id)}",
        )
        os.makedirs(directory, exist_ok=True)
        name = f"part-00000-{uuid.uuid4()}.json"
        tmp = os.path.join(directory, f".{name}.tmp")
        try:
            with open(tmp, "w", encoding="utf-8") as f:
                for r in records:
                    f.write(json.dumps(r, ensure_ascii=False, separators=(",", ":")))
                    f.write("\n")
            os.replace(tmp, os.path.join(directory, name))
        except BaseException:
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)
            raise


def register_manifest_table(
    df: DataFrame, table_name: str = "s3f2_manifests", path: str | None = None
) -> None:
    """S7: register the manifest in the session catalog as a partitioned
    table.

    Reference parity: generate_queries.py:288-326 (``batch_create_partition``)
    registers each (JobId, DataMapperId) manifest as a Glue partition of
    the JSONL manifests table so Athena can join against it. Here the
    metastore-registered analog: append-mode ``saveAsTable`` partitioned
    the same way — each job/mapper adds one partition, readers go through
    ``spark.table(table_name)`` and a JobId/DataMapperId filter compiles
    to partition pruning.
    """
    writer = (
        df.write.mode("append").format("json").partitionBy("JobId", "DataMapperId")
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)
