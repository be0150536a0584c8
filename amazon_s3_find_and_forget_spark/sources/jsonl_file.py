"""Per-file JSON-Lines rewrite with byte-exact surviving lines.

Parity target: backend/ecs_tasks/delete_files/json_handler.py:41-74 and
boto_utils.py:251-267 (json_lines_iterator). Requirements replicated:

- surviving lines are written byte-identically (key order, whitespace,
  escaped newlines inside strings untouched) — the file is split on real
  newlines AFTER decoding, each line parsed independently;
- key lookup is case-insensitive at every nesting level (OpenX SerDe
  semantics, json_handler.py:11-24);
- a missing or null value never matches. The reference tests
  truthiness (``if record:``), so it also skips 0 and "", which Find
  does match; here only None is skipped, so such a row is erased;
- a list or object value never matches (it equals no match id);
- composite groups collect only present, non-null members and compare
  the resulting partial tuple against the match tuples
  (tests/unit/ecs_tasks/test_json.py:168-194,247-270);
- gzip in -> gzip out, by file extension (json_handler.py:43-45);
- output preserves "no trailing newline" exactness per line semantics of
  the reference: every surviving line is written with a trailing \n
  (reference writes line + "\n" unconditionally, json_handler.py:70).
"""

from __future__ import annotations

import gzip
import json


def find_key(key: str, obj) -> str | None:
    if not obj or not isinstance(obj, dict):
        return None
    for found in obj.keys():
        if key.lower() == found.lower():
            return found
    return None


def get_value(dot_path: str, obj):
    """Case-insensitive nested lookup; None when any segment is missing."""
    for segment in dot_path.split("."):
        current_key = find_key(segment, obj)
        if not current_key:
            return None
        obj = obj[current_key]
    return obj


def row_should_delete(parsed: dict, to_delete: list[dict]) -> bool:
    for group in to_delete:
        if group["Type"] == "Simple":
            record = get_value(group["Column"], parsed)
        else:
            values = (get_value(col, parsed) for col in group["Columns"])
            record = tuple(v for v in values if v is not None)
        if record is not None and _is_match(record, set_of(group["MatchIds"])):
            return True
    return False


def _is_match(record, match_ids) -> bool:
    try:
        return record in match_ids
    except TypeError:  # a list or object value equals no match id
        return False


def set_of(values):
    if isinstance(values, (set, frozenset)):
        return values
    return set(values)


def iter_json_lines(content: str):
    """Yield (parsed, raw_line) per line; raises on unparsable lines."""
    lines = content.split("\n")
    if lines and lines[-1] == "":
        lines.pop()  # trailing newline produces one empty tail entry
    for i, line in enumerate(lines):
        try:
            yield json.loads(line), line
        except json.JSONDecodeError as e:
            raise ValueError(f"Invalid JSON on line {i + 1}: {e}") from e


def redact_value(dot_path: str, obj) -> bool:
    """Case-insensitively null the key at ``dot_path`` in-place.

    Returns True if the leaf key existed (and is now None). A missing
    segment is a no-op — mirroring ``get_value``, where a missing key
    simply never matches.
    """
    segments = dot_path.split(".")
    for segment in segments[:-1]:
        current_key = find_key(segment, obj)
        if not current_key:
            return False
        obj = obj[current_key]
        if not isinstance(obj, dict):
            return False
    leaf = find_key(segments[-1], obj)
    if leaf is None:
        return False
    obj[leaf] = None
    return True


def rewrite_json_file(
    in_path: str,
    out_path: str,
    to_delete: list[dict],
    redact_columns: list[str] | None = None,
) -> dict:
    """Rewrite one JSONL file without matching rows; byte-exact survivors.

    With ``redact_columns`` a matching row is KEPT and re-serialized
    with the listed keys nulled (compact separators, non-ASCII
    preserved); non-matching rows stay byte-exact. ``DeletedRows`` then
    counts redacted rows. An explicit ``[]`` is refused (see
    rewrite_parquet_file: redact-nothing is never what the caller
    meant)."""
    from . import check_redact_columns

    check_redact_columns(redact_columns)
    compressed = in_path.endswith(".gz")
    opener = gzip.open if compressed else open
    with opener(in_path, "rb") as f:
        content = f.read().decode("utf-8")

    # Normalize match sets once (lists -> sets for O(1) membership).
    groups = []
    for g in to_delete:
        g = dict(g)
        g["MatchIds"] = set_of(
            tuple(m) if isinstance(m, (list, tuple)) else m
            for m in g["MatchIds"]
        ) if g["Type"] == "Composite" else set_of(g["MatchIds"])
        groups.append(g)

    processed = 0
    deleted = 0
    out_compressed = out_path.endswith(".gz")
    out_opener = gzip.open if out_compressed else open
    with out_opener(out_path, "wb") as out:
        for parsed, raw in iter_json_lines(content):
            processed += 1
            if row_should_delete(parsed, groups):
                deleted += 1
                if redact_columns:
                    for dot_path in redact_columns:
                        redact_value(dot_path, parsed)
                    out.write(
                        json.dumps(
                            parsed, ensure_ascii=False, separators=(",", ":")
                        ).encode("utf-8")
                        + b"\n"
                    )
            else:
                out.write(raw.encode("utf-8") + b"\n")
    return {"ProcessedRows": processed, "DeletedRows": deleted}
