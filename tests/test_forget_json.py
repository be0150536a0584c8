"""Golden JSONL cases, ported behaviorally from the reference's
tests/unit/ecs_tasks/test_json.py (cited per-case)."""

import gzip
import os

import pytest

from amazon_s3_find_and_forget_spark.sources.jsonl_file import (
    get_value,
    rewrite_json_file,
    row_should_delete,
)


def write_lines(tmp_path, name, text, compressed=False):
    path = os.path.join(tmp_path, name)
    data = text.encode("utf-8")
    if compressed:
        with gzip.open(path, "wb") as f:
            f.write(data)
    else:
        with open(path, "wb") as f:
            f.write(data)
    return path


def read_text(path):
    if path.endswith(".gz"):
        with gzip.open(path, "rb") as f:
            return f.read().decode("utf-8")
    with open(path, "rb") as f:
        return f.read().decode("utf-8")


SIMPLE = [{"Type": "Simple", "Column": "customer_id", "MatchIds": ["12345"]}]


def test_simple_delete(tmp_path):
    src = write_lines(
        tmp_path,
        "t.json",
        '{"customer_id": "12345", "x": 1}\n{"customer_id": "34567", "x": 2}\n',
    )
    out = os.path.join(tmp_path, "out.json")
    stats = rewrite_json_file(src, out, SIMPLE)
    assert stats == {"ProcessedRows": 2, "DeletedRows": 1}
    assert read_text(out) == '{"customer_id": "34567", "x": 2}\n'


def test_byte_exact_survivors(tmp_path):
    # reference test_json.py:77-97 — embedded \n escapes, odd whitespace,
    # key order all preserved byte-for-byte
    line = '{"customer_id":   "34567","note":"line1\\nline2","Z":1,"a":2}'
    src = write_lines(
        tmp_path, "t.json", '{"customer_id": "12345"}\n' + line + "\n"
    )
    out = os.path.join(tmp_path, "out.json")
    rewrite_json_file(src, out, SIMPLE)
    assert read_text(out) == line + "\n"


def test_missing_trailing_newline(tmp_path):
    # reference test_json.py:56-76
    src = write_lines(
        tmp_path, "t.json", '{"customer_id": "12345"}\n{"customer_id": "34567"}'
    )
    out = os.path.join(tmp_path, "out.json")
    stats = rewrite_json_file(src, out, SIMPLE)
    assert stats == {"ProcessedRows": 2, "DeletedRows": 1}
    assert read_text(out) == '{"customer_id": "34567"}\n'


def test_gzip_round_trip(tmp_path):
    # reference test_json.py:35-53
    src = write_lines(
        tmp_path,
        "t.json.gz",
        '{"customer_id": "12345"}\n{"customer_id": "34567"}\n',
        compressed=True,
    )
    out = os.path.join(tmp_path, "out.json.gz")
    stats = rewrite_json_file(src, out, SIMPLE)
    assert stats["DeletedRows"] == 1
    assert read_text(out) == '{"customer_id": "34567"}\n'


def test_case_insensitive_nested_lookup():
    # reference json_handler.py:11-38 semantics
    assert get_value("user.ID", {"User": {"id": 1234}}) == 1234
    assert get_value("user.id", {"user": {"name": "x"}}) is None


def test_null_and_missing_never_match():
    # reference test_json.py:168-194 — null/absent identifiers never match
    groups = [{"Type": "Simple", "Column": "user.id", "MatchIds": {None, "x"}}]
    assert not row_should_delete({"user": {"id": None}}, groups)
    assert not row_should_delete({"user": {}}, groups)
    assert not row_should_delete({}, groups)


def test_falsy_values_match():
    # the reference tests truthiness (json_handler.py:55), so 0 / "" never
    # matched although Find matches them; only a missing or null value
    # is skipped here
    groups = [{"Type": "Simple", "Column": "n", "MatchIds": {0, ""}}]
    assert row_should_delete({"n": 0}, groups)
    assert row_should_delete({"n": ""}, groups)
    assert not row_should_delete({"n": 1}, groups)
    composite = [{"Type": "Composite", "Columns": ["a", "b"], "MatchIds": {(0, 5)}}]
    assert row_should_delete({"a": 0, "b": 5}, composite)
    assert not row_should_delete({"b": 5}, composite)


def test_unhashable_values_never_match():
    groups = [{"Type": "Simple", "Column": "n", "MatchIds": {0}}]
    assert not row_should_delete({"n": []}, groups)
    assert not row_should_delete({"n": {"x": 0}}, groups)
    composite = [{"Type": "Composite", "Columns": ["a", "b"], "MatchIds": {(0, 5)}}]
    assert not row_should_delete({"a": [0], "b": 5}, composite)


def test_composite_partial_tuple():
    # reference test_json.py:247-270 — composite with missing members
    # compares only the present (non-null) members
    groups = [
        {
            "Type": "Composite",
            "Columns": ["first", "last"],
            "MatchIds": {("John", "Doe"), ("Jane",)},
        }
    ]
    assert row_should_delete({"first": "John", "last": "Doe"}, groups)
    assert row_should_delete({"first": "Jane"}, groups)  # partial tuple
    assert not row_should_delete({"first": "John", "last": "X"}, groups)


def test_composite_typed_tuple(tmp_path):
    # reference test_json.py:197-219 — typed (int, str) tuples
    src = write_lines(
        tmp_path,
        "t.json",
        '{"age": 11, "last_name": "a"}\n{"age": 12, "last_name": "a"}\n',
    )
    out = os.path.join(tmp_path, "out.json")
    stats = rewrite_json_file(
        src,
        out,
        [
            {
                "Type": "Composite",
                "Columns": ["age", "last_name"],
                "MatchIds": [(11, "a")],
            }
        ],
    )
    assert stats["DeletedRows"] == 1
    assert read_text(out) == '{"age": 12, "last_name": "a"}\n'


def test_invalid_json_raises(tmp_path):
    # reference test_json.py:310- — parse error surfaces
    src = write_lines(tmp_path, "t.json", '{"customer_id": "12345"}\nnot json\n')
    out = os.path.join(tmp_path, "out.json")
    with pytest.raises(ValueError, match="line 2"):
        rewrite_json_file(src, out, SIMPLE)


def test_composite_nullable_or_undefined_identifiers(tmp_path):
    """Parity: test_json.py:168 — a composite over dot paths where rows
    may carry null, {}, or entirely missing parents: only the fully
    matching row is deleted, survivors byte-exact."""
    data = (
        '{"user": {"id": "12345", "name": "John"}, "parents": {"mother": "23456"}}\n'
        '{"user": {"id": "23456", "name": "John"}, "parents": {"mother": null}}\n'
        '{"user": {"id": "34567", "name": "John"}}\n'
        '{"user": {"id": "45678", "name": "John"}, "parents": {}}\n'
        '{"user": {"id": "45678", "name": "John"}, "parents": null}\n'
    )
    src = write_lines(tmp_path, "n.jsonl", data)
    out = os.path.join(tmp_path, "out.jsonl")
    stats = rewrite_json_file(
        src,
        out,
        [
            {
                "Type": "Composite",
                "Columns": ["user.name", "parents.mother"],
                "MatchIds": [("John", "23456")],
            }
        ],
    )
    assert stats == {"ProcessedRows": 5, "DeletedRows": 1}
    assert read_text(out) == (
        '{"user": {"id": "23456", "name": "John"}, "parents": {"mother": null}}\n'
        '{"user": {"id": "34567", "name": "John"}}\n'
        '{"user": {"id": "45678", "name": "John"}, "parents": {}}\n'
        '{"user": {"id": "45678", "name": "John"}, "parents": null}\n'
    )


# --- redact mode -----------------------------------------------------------


def test_redact_simple_keeps_row(tmp_path):
    src = write_lines(
        tmp_path,
        "in.json",
        '{"customer_id": "12345", "name": "n1"}\n'
        '{"customer_id": "99",  "name": "n2"}\n',
    )
    out = os.path.join(tmp_path, "out.json")
    stats = rewrite_json_file(
        src, out, SIMPLE, redact_columns=["customer_id", "name"]
    )
    assert stats == {"ProcessedRows": 2, "DeletedRows": 1}
    lines = read_text(out).splitlines()
    assert lines[0] == '{"customer_id":null,"name":null}'
    # non-matching line stays byte-exact (double space preserved)
    assert lines[1] == '{"customer_id": "99",  "name": "n2"}'


def test_redact_nested_case_insensitive(tmp_path):
    src = write_lines(
        tmp_path,
        "in.json",
        '{"customer_id": "12345", "User": {"Email": "e", "age": 3}}\n',
    )
    out = os.path.join(tmp_path, "out.json")
    stats = rewrite_json_file(
        src, out, SIMPLE, redact_columns=["user.email"]
    )
    assert stats["DeletedRows"] == 1
    # original key casing survives; siblings untouched
    assert read_text(out) == (
        '{"customer_id":"12345","User":{"Email":null,"age":3}}\n'
    )


def test_redact_missing_key_is_noop(tmp_path):
    src = write_lines(tmp_path, "in.json", '{"customer_id": "12345"}\n')
    out = os.path.join(tmp_path, "out.json")
    stats = rewrite_json_file(
        src, out, SIMPLE, redact_columns=["not_there", "a.b.c"]
    )
    assert stats["DeletedRows"] == 1
    assert read_text(out) == '{"customer_id":"12345"}\n'


def test_redact_unicode_preserved(tmp_path):
    src = write_lines(
        tmp_path,
        "in.json",
        '{"customer_id": "12345", "bio": "café", "keep": "ü"}\n',
    )
    out = os.path.join(tmp_path, "out.json")
    rewrite_json_file(src, out, SIMPLE, redact_columns=["bio"])
    assert read_text(out) == (
        '{"customer_id":"12345","bio":null,"keep":"ü"}\n'
    )


def test_redact_gzip_round_trip(tmp_path):
    src = write_lines(
        tmp_path,
        "in.json.gz",
        '{"customer_id": "12345"}\n{"customer_id": "9"}\n',
        compressed=True,
    )
    out = os.path.join(tmp_path, "out.json.gz")
    stats = rewrite_json_file(src, out, SIMPLE, redact_columns=["customer_id"])
    assert stats == {"ProcessedRows": 2, "DeletedRows": 1}
    assert read_text(out) == '{"customer_id":null}\n{"customer_id": "9"}\n'


def test_json_redact_empty_column_list_rejected(tmp_path):
    """Same mode contract as the parquet kernel: an explicit
    redact_columns=[] is refused instead of silently deleting."""
    import pytest

    from amazon_s3_find_and_forget_spark.sources.jsonl_file import (
        rewrite_json_file,
    )

    with pytest.raises(ValueError, match="redact_columns"):
        rewrite_json_file(
            str(tmp_path / "never-read.json"),
            str(tmp_path / "out.json"),
            [{"Type": "Simple", "Column": "c", "MatchIds": ["1"]}],
            redact_columns=[],
        )
