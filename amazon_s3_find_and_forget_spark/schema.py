"""Identifier-column validation and match-id casting over Spark schemas.

The reference hand-parses Glue/Hive type strings into a column tree and
walks it to decide which columns may be identifiers and how to cast
queued Match IDs (reference: backend/lambdas/tasks/generate_queries.py:329-519).
On Spark the schema IS the tree (``StructType``), so the whole parser
collapses to a case-insensitive walk over ``StructType.fields``.

Rules (parity with reference docs/LIMITS.md:18-27):
- identifier columns must be primitive: integral / float / double /
  string / char / varchar / decimal(p,s);
- nested identifiers are reachable only through struct parents (dot
  paths) — nothing under ``array<>`` or ``map<>`` can be an identifier;
- match ids are cast to the column type at plan time; a failed cast is
  job-fatal (``MatchIdCastingError``, reference generate_queries.py:516-519).
"""

from __future__ import annotations

from decimal import Context, Decimal, InvalidOperation

from pyspark.sql.types import (
    ByteType,
    CharType,
    DataType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    VarcharType,
)

_INT_TYPES = (ByteType, ShortType, IntegerType, LongType)
_FLOAT_TYPES = (FloatType, DoubleType)
_STR_TYPES = (StringType, CharType, VarcharType)
_INT_BITS = {ByteType: 8, ShortType: 16, IntegerType: 32, LongType: 64}


class MatchIdCastingError(ValueError):
    """A queued match id cannot be cast to its identifier column's type."""

    def __init__(self, column: str, dtype: DataType, value):
        self.column = column
        self.dtype = dtype
        self.value = value
        super().__init__(
            f"Match id {value!r} cannot be cast to type {dtype.simpleString()} "
            f"of column {column}"
        )


class ColumnNotFoundError(ValueError):
    pass


class NotAnIdentifierError(ValueError):
    pass


def is_identifier_type(dtype: DataType) -> bool:
    return isinstance(dtype, _INT_TYPES + _FLOAT_TYPES + _STR_TYPES + (DecimalType,))


def resolve_column(schema: StructType, dot_path: str) -> tuple[str, DataType]:
    """Resolve a (possibly nested) dot path case-insensitively.

    Returns ``(canonical_path, leaf_type)`` where ``canonical_path`` uses
    the schema's own casing, suitable for ``F.col``. Raises
    ``ColumnNotFoundError`` if any segment is missing or the path descends
    through a non-struct container (array/map children are unreachable —
    parity with reference generate_queries.py:376-400).
    """
    segments = dot_path.split(".")
    canonical: list[str] = []
    current: DataType = schema
    for seg in segments:
        if not isinstance(current, StructType):
            raise ColumnNotFoundError(
                f"Column {dot_path}: segment {seg!r} is nested under a "
                f"non-struct type {current.simpleString()}"
            )
        field = next(
            (f for f in current.fields if f.name.lower() == seg.lower()), None
        )
        if field is None:
            raise ColumnNotFoundError(f"Column {dot_path} not found in schema")
        canonical.append(field.name)
        current = field.dataType
    return ".".join(canonical), current


def validate_identifier(schema: StructType, dot_path: str) -> tuple[str, DataType]:
    """Resolve and assert the column may be a match identifier."""
    canonical, dtype = resolve_column(schema, dot_path)
    if not is_identifier_type(dtype):
        raise NotAnIdentifierError(
            f"Column {dot_path} of type {dtype.simpleString()} is not a "
            "supported identifier type"
        )
    return canonical, dtype


def schema_from_hive_columns(columns: list[tuple[str, str]]) -> StructType:
    """Build a StructType from Glue-style (name, hive_type) column pairs.

    The reference hand-parses these Hive type strings into its own column
    tree (generate_queries.py:329-480, ~150 LoC); Spark's DDL parser IS
    that parser — ``struct<...>``, ``decimal(p,s)``, ``array<...>``,
    ``map<k,v>`` all round-trip through ``StructType.fromDDL``.
    """
    from pyspark.sql.types import _parse_datatype_string

    ddl = ", ".join(f"{name} {hive_type}" for name, hive_type in columns)
    parsed = _parse_datatype_string(ddl)
    if not isinstance(parsed, StructType):
        raise ValueError(f"Could not parse columns: {columns}")
    return parsed


def cast_match_id(value, column: str, dtype: DataType):
    """Cast a queued match id to the typed representation of its column.

    int-family -> int, float-family -> float, decimal -> Decimal (scale
    from the value string, compared with exact Decimal equality), else str.
    Parity: generate_queries.py:495-513 + parquet_handler.py:109-130.
    """
    try:
        if isinstance(dtype, _INT_TYPES):
            return int(value)
        if isinstance(dtype, _FLOAT_TYPES):
            return float(value)
        if isinstance(dtype, DecimalType):
            return Decimal(str(value))
        return str(value)
    except (ValueError, TypeError, InvalidOperation):
        raise MatchIdCastingError(column, dtype, value) from None


def holds_exactly(dtype: DataType, value) -> bool:
    """Whether a column of ``dtype`` can hold the cast match id ``value``
    without overflow or rounding. A value it cannot hold matches no row
    of that column: 1.505 is not 1.51 in a ``decimal(10,2)`` column."""
    if isinstance(dtype, _INT_TYPES):
        half = 1 << (_INT_BITS[type(dtype)] - 1)
        return -half <= value < half
    if isinstance(dtype, DecimalType):
        try:
            fitted = value.quantize(
                Decimal(1).scaleb(-dtype.scale), context=Context(prec=dtype.precision)
            )
        except InvalidOperation:
            return False
        return fitted == value
    return True
