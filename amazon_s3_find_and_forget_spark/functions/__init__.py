"""Scalar-function surface of the engine (SURVEY.md §2.6, F1-F10).

The reference implements these as ad-hoc helpers scattered across its
Lambdas (citations in each source module); here they are one importable
surface. Most are thin because Spark built-ins already cover them —
that thinness is the point of the Spark-first design.

| Ref | Function here | Spark primitive underneath |
|-----|---------------|----------------------------|
| F1/F7 | ``cast_match_id`` | plan-time ``cast`` (generate_queries.py:495-513) |
| F2/F3 | ``escape_identifier`` / ``escape_literal`` / ``find_query_sql`` | SQL-text audit mode (execute_query.py:140-160) |
| F4 | ``dot_path_value`` | ``F.col("a.b.c")`` / case-insensitive dict walk (json_handler.py:26-38) |
| F5 | ``iso8601_to_epoch`` | ``F.to_timestamp``/``unix_timestamp`` (boto_utils.py:182-201) |
| F6 | typed decimal parse | schema-driven Arrow cast (parquet_handler.py:109-130) |
| F8 | ``parse_file_url`` | ``sources.object_path``: decodes Spark's object URIs (boto_utils.py:208-211) |
| F9 | ``sanitize_message`` | match-id redaction (events.py:50-69) |
| F10 | manifest stringification | ``build_manifest_df`` (generate_queries.py:114-127) |
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..api import REDACTED, sanitize_message  # noqa: F401  (F9)
from ..plans.sql_text import (  # noqa: F401  (F2/F3)
    escape_identifier,
    escape_literal,
    find_query_sql,
)
from ..schema import cast_match_id, schema_from_hive_columns  # noqa: F401
from ..sources import object_path as parse_file_url  # noqa: F401  (F8)
from ..sources.jsonl_file import get_value as dot_path_value  # noqa: F401
from ..sources.parquet_file import _typed_values as typed_decimal_values  # noqa: F401


def iso8601_to_epoch(col: Column) -> Column:
    """F5: ISO-8601 string -> epoch seconds (bigint), JVM-side."""
    return F.unix_timestamp(F.to_timestamp(col))


__all__ = [
    "REDACTED",
    "cast_match_id",
    "dot_path_value",
    "escape_identifier",
    "escape_literal",
    "find_query_sql",
    "iso8601_to_epoch",
    "parse_file_url",
    "sanitize_message",
    "schema_from_hive_columns",
    "typed_decimal_values",
]
