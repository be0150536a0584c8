"""Per-file Parquet rewrite: one file in, one file out, schema preserved.

This is the executor-side kernel of the Forget phase's surgical path.
Parity target: backend/ecs_tasks/delete_files/parquet_handler.py:133-177 —
stream row groups, drop rows whose identifier value(s) are in the match
set, preserve the input schema (metadata stripped), write snappy.

Unlike the reference, the row mask is computed with vectorized Arrow
compute kernels (``is_in`` / ``equal`` over whole columns), not a per-row
Python loop (the reference's scalar hot spot, parquet_handler.py:36-81).
Dot paths descend structs via ``StructArray.field``; all name resolution
is case-insensitive (Glue lower-cases column names; parquet_handler.py:24-33).

The match spec crossing the driver->executor boundary is a plain list of
dicts (picklable, no Spark types):
    {"Type": "Simple",    "Column": "a.b",        "MatchIds": [..]}
    {"Type": "Composite", "Columns": ["a","b.c"], "MatchIds": [(..), ..]}
Values are already cast (schema.cast_match_id); Decimal values are
re-derived from the file's own schema here, as the reference does
(parquet_handler.py:102-130), so scale always matches the file.
"""

from __future__ import annotations

from decimal import Decimal
from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _ci_field(names, name: str) -> str:
    found = [n for n in names if n.lower() == name.lower()]
    if not found:
        raise ValueError(f"Column {name} not found.")
    return found[0]


def _get_column(table_or_struct, dot_path: str):
    """Case-insensitive dot-path descent returning a (chunked) array."""
    segments = dot_path.split(".")
    if isinstance(table_or_struct, pa.Table):
        col = table_or_struct.column(
            _ci_field(table_or_struct.column_names, segments[0])
        )
    else:
        raise TypeError("expected pa.Table")
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    for seg in segments[1:]:
        if not pa.types.is_struct(arr.type):
            raise ValueError(
                f"Column {dot_path}: segment {seg} is not under a struct"
            )
        arr = arr.field(_ci_field([f.name for f in arr.type], seg))
    return arr


def _typed_values(values, arrow_type):
    """Coerce match values to the file's own leaf type (Decimal rescale)."""
    if pa.types.is_decimal(arrow_type):
        return [Decimal(str(v)) for v in values]
    return list(values)


def _simple_mask(table: pa.Table, column: str, match_ids) -> pa.Array:
    arr = _get_column(table, column)
    values = _typed_values(match_ids, arr.type)
    try:
        value_set = pa.array(values, type=arr.type)
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        value_set = pa.array(values)
        arr = arr.cast(value_set.type)
    mask = pc.is_in(arr, value_set=value_set)
    return pc.fill_null(mask, False)  # nulls never match


def _composite_mask(table: pa.Table, columns, match_tuples) -> pa.Array:
    """Vectorized composite match: O(columns) kernel passes, not
    O(tuples x columns).

    pyarrow (<=16) has no struct ``is_in`` kernel, so each member column
    is dictionary-encoded against the distinct match values via one
    ``index_in`` pass, the per-column codes are combined into a single
    int64 mixed-radix key (digit 0 reserved for "value not in any
    tuple" / null, so a partial match can never alias a full one), and
    one final ``is_in`` compares row keys against the tuple keys.
    Falls back to the per-tuple loop only if the combined radix would
    overflow int64 (> ~2^62 distinct-value combinations).
    """
    arrays = [_get_column(table, c) for c in columns]
    # a tuple with a null member can never match: NULL = x is not true
    # (matches the per-tuple path, where equal() -> null -> False)
    tuples = [t for t in match_tuples if all(v is not None for v in t)]
    if not tuples:
        # explicit bool type: an untyped empty array infers null and
        # pc.invert has no null kernel (0-row row groups are real —
        # e.g. a file fully redacted by a prior job)
        return pa.array([False] * table.num_rows, type=pa.bool_())
    key = None
    tuple_keys = [0] * len(tuples)
    max_key = 1
    for i, arr in enumerate(arrays):
        col_vals = _typed_values([t[i] for t in tuples], arr.type)
        distinct = list(dict.fromkeys(col_vals))
        base = len(distinct) + 1
        max_key *= base
        if max_key > (1 << 62):
            return _composite_mask_loop(arrays, tuples)
        try:
            value_set = pa.array(distinct, type=arr.type)
        except (pa.ArrowInvalid, pa.ArrowTypeError):
            value_set = pa.array(distinct)
            arr = arr.cast(value_set.type)
        codes = pc.add(
            pc.fill_null(pc.index_in(arr, value_set=value_set), -1), 1
        ).cast(pa.int64())
        key = codes if key is None else pc.add(pc.multiply(key, base), codes)
        code_of = {v: j + 1 for j, v in enumerate(distinct)}
        tuple_keys = [
            k * base + code_of[v] for k, v in zip(tuple_keys, col_vals)
        ]
    mask = pc.is_in(
        key, value_set=pa.array(sorted(set(tuple_keys)), type=pa.int64())
    )
    return pc.fill_null(mask, False)


def _composite_mask_loop(arrays, match_tuples) -> pa.Array:
    """Per-tuple fallback (original path) for pathological radix overflow."""
    per_tuple_masks = []
    for tup in match_tuples:
        member_masks = []
        for arr, v in zip(arrays, tup):
            value = _typed_values([v], arr.type)[0]
            try:
                scalar = pa.scalar(value, type=arr.type)
            except (pa.ArrowInvalid, pa.ArrowTypeError):
                scalar = pa.scalar(value)
                arr = arr.cast(scalar.type)
            member_masks.append(pc.fill_null(pc.equal(arr, scalar), False))
        per_tuple_masks.append(reduce(pc.and_, member_masks))
    return reduce(pc.or_, per_tuple_masks)


def delete_mask(table: pa.Table, to_delete: list[dict]) -> pa.Array:
    """Boolean mask: True where the row matches ANY group (to be deleted)."""
    masks = []
    for group in to_delete:
        if group["Type"] == "Simple":
            masks.append(_simple_mask(table, group["Column"], group["MatchIds"]))
        else:
            masks.append(
                _composite_mask(table, group["Columns"], group["MatchIds"])
            )
    if not masks:
        return pa.array([False] * table.num_rows, type=pa.bool_())
    return reduce(pc.or_, masks)


def _redact_array(arr: pa.Array, segments: list[str], mask: pa.Array):
    """Null out ``segments`` under ``arr`` where ``mask`` is True.

    Leaf: one vectorized ``if_else`` against a null array. Struct
    segment: rebuild the struct with only the targeted child replaced
    (recursively), preserving sibling FIELDS (including their
    nullability — ``from_arrays`` with names alone would rebuild an
    all-nullable struct and fail the later cast back to the file
    schema whenever any member is ``not null``) and the struct's own
    validity bitmap — Arrow arrays are immutable, so redaction is a
    columnar copy-on-write, never a per-row loop.
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if not segments:
        return pc.if_else(mask, pa.nulls(len(arr), arr.type), arr)
    if not pa.types.is_struct(arr.type):
        raise ValueError(
            f"Redact path segment {segments[0]!r} is not under a struct"
        )
    name = _ci_field([f.name for f in arr.type], segments[0])
    children = []
    for field in arr.type:
        child = arr.field(field.name)
        if field.name == name:
            child = _redact_array(child, segments[1:], mask)
        children.append(child)
    return pa.StructArray.from_arrays(
        children,
        fields=list(arr.type),
        mask=pc.is_null(arr),
    )


def _check_redactable(field: pa.Field, segments: list[str], dot_path: str):
    """The redact target must be nullable at EVERY level: the rewrite
    preserves the file schema exactly, so a ``not null`` leaf (or an
    intermediate struct that cannot hold the nulled rows) must refuse
    with a clear error instead of failing the object downstream."""
    if not field.nullable and not segments:
        raise ValueError(f"Cannot redact non-nullable column {dot_path}")
    if not segments:
        return
    if not pa.types.is_struct(field.type):
        raise ValueError(
            f"Redact path segment {segments[0]!r} of {dot_path} is not "
            "under a struct"
        )
    name = _ci_field([f.name for f in field.type], segments[0])
    child = next(f for f in field.type if f.name == name)
    _check_redactable(child, segments[1:], dot_path)


def redact_table(
    table: pa.Table, mask: pa.Array, redact_columns: list[str]
) -> pa.Table:
    """Copy of ``table`` with ``redact_columns`` nulled where ``mask``."""
    for dot_path in redact_columns:
        segments = dot_path.split(".")
        top = _ci_field(table.column_names, segments[0])
        idx = table.column_names.index(top)
        field = table.schema.field(idx)
        _check_redactable(field, segments[1:], dot_path)
        new_col = _redact_array(
            table.column(idx).combine_chunks(), segments[1:], mask
        )
        table = table.set_column(idx, field, new_col)
    return table


def rewrite_parquet_file(
    in_path: str,
    out_path: str,
    to_delete: list[dict],
    redact_columns: list[str] | None = None,
) -> dict:
    """Rewrite one Parquet file without the matching rows.

    Streams row group by row group (bounded memory — a 1 GB row group
    never materializes the whole file), preserves the input schema with
    metadata stripped, writes snappy. Returns
    ``{"ProcessedRows": n, "DeletedRows": m}``.

    With ``redact_columns`` the matching rows are KEPT and the listed
    columns (dot paths allowed) are nulled instead — erasure of the
    identifying values without destroying the record; ``DeletedRows``
    then counts redacted rows (same Find/Forget consistency contract:
    zero affected rows fails the object).

    The mode switch is ``is not None``, and an explicit ``[]`` is
    refused: redact-nothing would silently keep every matched row
    intact while still reporting it deleted, and a caller who built an
    empty column list almost certainly meant delete mode.
    """
    from . import check_redact_columns

    check_redact_columns(redact_columns)
    pf = pq.ParquetFile(in_path)
    schema = pf.schema_arrow.remove_metadata()
    processed = pf.metadata.num_rows
    deleted = 0
    with pq.ParquetWriter(out_path, schema, compression="snappy") as writer:
        for rg in range(pf.num_row_groups):
            table = pf.read_row_group(rg)
            mask = delete_mask(table, to_delete)
            if redact_columns:
                matched = pc.sum(mask).as_py() or 0
                out = redact_table(table, mask, redact_columns)
                deleted += matched
            else:
                out = table.filter(pc.invert(mask))
                deleted += table.num_rows - out.num_rows
            writer.write_table(out.cast(schema))
    return {"ProcessedRows": processed, "DeletedRows": deleted}
