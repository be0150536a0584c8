"""Data-mapper config: a pointer to a lake table + identifier columns.

Reference: backend/lambdas/data_mappers/handlers.py:74-182. The mapper is
pure config; validation happens against the table's Spark schema instead
of Glue: identifier columns must resolve (case-insensitively, dot paths
through structs only) to primitive types, partition-key subsets must
exist, and mapper locations must not overlap.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .schema import validate_identifier

SUPPORTED_FORMATS = ("parquet", "json")


@dataclass
class DataMapper:
    mapper_id: str
    location: str  # directory/glob of data files, or "table:<name>" for a
    # catalog table (the Glue-table pointer of the reference,
    # generate_queries.py:141-148 — Spark's catalog replaces Glue)
    columns: list  # identifier dot paths
    format: str = "parquet"
    partition_keys: list = field(default_factory=list)  # optional subset
    delete_old_versions: bool = True
    ignore_object_not_found: bool = False
    encrypted: bool = False  # CSE-KMS envelope-encrypted objects
    partition_filter: str = ""  # SQL predicate over partition columns
    schema: str = ""  # DDL schema the read applies instead of inferring
    # one (the reference never infers: schemas come from the Glue
    # catalog). Engine.put_data_mapper pins it for a path Parquet mapper
    # (``pins_schema``); give it yourself for JSON lakes at scale —
    # without it spark.read.json runs a full inference pass over the
    # lake before the Find scan even starts
    role_arn: str = ""  # cross-account access: object-store clients for
    # this mapper are built from STS AssumeRole credentials
    # (sources/object_store.py::store_for_mapper; reference parity
    # ecs_tasks/delete_files/main.py:140 + boto_utils.py:239-243)
    delete_mode: str = "delete"  # "delete" drops matching rows (the
    # reference's only behavior); "redact" keeps them and nulls
    # redact_columns instead — an extension for lakes where the record
    # must survive erasure of the identifying values
    redact_columns: list = field(default_factory=list)  # columns nulled
    # in redact mode; empty -> the identifier columns themselves

    def __post_init__(self):
        if self.format not in SUPPORTED_FORMATS:
            # parity: data_mappers/handlers.py:24-27 (Parquet + JSON SerDes only)
            raise ValueError(f"Unsupported format {self.format!r}")
        if self.role_arn and not self.role_arn.startswith("arn:"):
            raise ValueError(
                f"RoleArn must be an ARN, got {self.role_arn!r}"
            )
        if not self.columns:
            raise ValueError("Data mapper requires at least one identifier column")
        if self.encrypted and self.format != "parquet":
            raise ValueError("CSE-KMS scan currently supports parquet only")
        # Hive partition keys live in directory names, not in the data
        # files — the per-file Forget rewrite could never see them. The
        # reference has the same rule structurally: identifier columns come
        # from the table's StorageDescriptor columns, partition keys are a
        # separate list (generate_queries.py:141-148).
        lowered = {pk.lower() for pk in self.partition_keys}
        for col in self.columns:
            if col.lower() in lowered:
                raise ValueError(
                    f"Identifier column {col} is a partition key; partition "
                    "keys are not stored in data files and cannot be match "
                    "identifiers"
                )
        if self.delete_mode not in ("delete", "redact"):
            raise ValueError(
                f"Unsupported delete mode {self.delete_mode!r} "
                "(expected 'delete' or 'redact')"
            )
        if self.redact_columns and self.delete_mode != "redact":
            raise ValueError(
                "RedactColumns requires DeleteMode 'redact'"
            )
        for col in self.redact_columns:
            if col.lower() in lowered:
                raise ValueError(
                    f"Redact column {col} is a partition key; partition "
                    "keys are not stored in data files and cannot be "
                    "redacted"
                )

    def effective_redact_columns(self) -> list | None:
        """Columns to null in redact mode; None in delete mode.

        Redacting defaults to the identifier columns — erase the values
        the deletion queue matched on, keep the record.
        """
        if self.delete_mode != "redact":
            return None
        return list(self.redact_columns) or list(self.columns)

    @property
    def pins_schema(self) -> bool:
        """Whether registration stores the schema it reads as ``schema``:
        a path Parquet mapper that has none. Then no job infers it again
        (one Spark job each), and a file whose columns drift still reads
        by name: an added column is left out of Find, and a type the
        pinned one cannot read fails the scan loudly (re-put the mapper
        after a type change). ``table:`` mappers take the catalog's
        schema and encrypted ones their decrypted one; JSON stays
        inferred, since a pinned type reads a changed JSON value as NULL
        and Find would miss the match silently."""
        return (
            self.format == "parquet"
            and not self.schema
            and not self.encrypted
            and not self.location.startswith("table:")
        )

    def read(self, spark: SparkSession, kms=None) -> DataFrame:
        """The mapper's lake as a DataFrame: through ``schema`` when it
        has one, else with the schema inferred (a Spark job for Parquet;
        a pass over the data for JSON), then ``partition_filter``."""
        if self.encrypted:
            from .sources.cse import read_encrypted_parquet

            if kms is None:
                raise ValueError(
                    f"Data mapper {self.mapper_id} is encrypted but no KMS "
                    "client was provided"
                )
            df = read_encrypted_parquet(spark, self.location, kms)
        elif self.location.startswith("table:"):
            df = spark.table(self.location[len("table:") :])
        elif self.format == "parquet":
            reader = spark.read
            if self.schema:
                reader = reader.schema(self.schema)
            df = reader.parquet(self.location)
        else:
            reader = spark.read
            if self.schema:
                reader = reader.schema(self.schema)
            df = reader.json(self.location)
        if self.partition_filter:
            # Catalyst turns a predicate over partition columns into static
            # partition pruning: non-matching directories are never listed,
            # let alone scanned (replaces the reference's one-query-per-
            # partition fan-out, generate_queries.py:230-246)
            df = df.where(self.partition_filter)
        return df

    def validate(self, spark: SparkSession, kms=None) -> StructType:
        """Check the config against the lake's schema, and return it."""
        schema = self.read(spark, kms).schema
        for col in self.columns:
            validate_identifier(schema, col)
        for pk in self.partition_keys:
            if pk.lower() not in [f.name.lower() for f in schema.fields]:
                raise ValueError(f"Partition key {pk} not found in table schema")
        for col in self.redact_columns:
            # must resolve, but any leaf type may be redacted (nulling a
            # free-text or array column is the point) — unlike match
            # identifiers, which must be primitive comparable types
            from .schema import resolve_column

            resolve_column(schema, col)
        return schema


def check_no_overlap(mappers: list[DataMapper]) -> None:
    """Reject mappers whose locations nest within each other.

    Parity: data_mappers/handlers.py:148-156 (``is_overlap`` substring
    check on normalized S3 locations).
    """
    norm = [(m.mapper_id, m.location.rstrip("/") + "/") for m in mappers]
    for i, (id_a, loc_a) in enumerate(norm):
        for id_b, loc_b in norm[i + 1 :]:
            if loc_a.startswith(loc_b) or loc_b.startswith(loc_a):
                raise ValueError(
                    f"Data mappers {id_a} and {id_b} have overlapping locations"
                )
