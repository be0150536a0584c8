"""End-to-end Find/Forget over a JSON-Lines lake, incl. gzip and
byte-preservation — reference acceptance test analog
(tests/acceptance/test_job_cognito.py:512-555)."""

import gzip
import json
import os

import pytest

from amazon_s3_find_and_forget_spark.data_mappers import DataMapper
from amazon_s3_find_and_forget_spark.jobs import run_job
from amazon_s3_find_and_forget_spark.matches import QueueItem


def write_jsonl(path, rows, compressed=False):
    payload = "".join(json.dumps(r) + "\n" for r in rows).encode("utf-8")
    if compressed:
        with gzip.open(path, "wb") as f:
            f.write(payload)
    else:
        with open(path, "wb") as f:
            f.write(payload)


@pytest.fixture()
def json_lake(tmp_path):
    lake = tmp_path / "lake"
    lake.mkdir()
    write_jsonl(
        str(lake / "a.json"),
        [
            {"customer_id": "12345", "user": {"name": "John"}},
            {"customer_id": "34567", "user": {"name": "Jane"}},
        ],
    )
    write_jsonl(
        str(lake / "b.json"),
        [
            {"customer_id": "99999", "user": {"name": "Zoe"}},
        ],
    )
    return str(lake)


def test_json_job_end_to_end(spark, json_lake):
    mapper = DataMapper("jlake", json_lake, ["customer_id"], format="json")
    mapper.validate(spark)
    result = run_job(spark, [mapper], [QueueItem(match_id="12345")])
    assert result.status == "COMPLETED"
    # only the file containing the match was touched
    touched = [s[0] for s in result.file_stats]
    assert len(touched) == 1 and touched[0].endswith("a.json")
    survivors = spark.read.json(json_lake).collect()
    assert sorted(r.customer_id for r in survivors) == ["34567", "99999"]


def test_json_job_nested_identifier(spark, tmp_path):
    lake = tmp_path / "lake2"
    lake.mkdir()
    write_jsonl(
        str(lake / "a.json"),
        [
            {"id": 1, "user": {"Name": "John"}},
            {"id": 2, "user": {"Name": "Jane"}},
        ],
    )
    mapper = DataMapper("jlake2", str(lake), ["user.name"], format="json")
    result = run_job(spark, [mapper], [QueueItem(match_id="John")])
    assert result.status == "COMPLETED"
    survivors = spark.read.json(str(lake)).collect()
    assert [r.id for r in survivors] == [2]


def test_json_gzip_lake(spark, tmp_path):
    lake = tmp_path / "lake3"
    lake.mkdir()
    write_jsonl(
        str(lake / "a.json.gz"),
        [{"customer_id": "12345"}, {"customer_id": "34567"}],
        compressed=True,
    )
    mapper = DataMapper("jlake3", str(lake), ["customer_id"], format="json")
    result = run_job(spark, [mapper], [QueueItem(match_id="12345")])
    assert result.status == "COMPLETED"
    # still gzip after rewrite
    with gzip.open(str(lake / "a.json.gz"), "rb") as f:
        lines = f.read().decode().splitlines()
    assert lines == ['{"customer_id": "34567"}']


def test_json_job_erases_zero_identifiers(spark, tmp_path):
    """A row whose identifier is 0, or a composite with a 0 member, is a
    match like any other: Find flags its object and Forget must drop it,
    not keep it as if the value were missing."""
    ids, comp = tmp_path / "ids", tmp_path / "comp"
    ids.mkdir()
    comp.mkdir()
    write_jsonl(str(ids / "a.json"), [{"customer_id": i} for i in (0, 1, 2)])
    write_jsonl(
        str(comp / "b.json"),
        [{"region": 1, "seq": 0}, {"region": 1, "seq": 1}, {"region": 0, "seq": 0}],
    )
    simple = DataMapper(
        "zero_ids", str(ids), ["customer_id"], format="json",
        schema="customer_id bigint",
    )
    composite = DataMapper(
        "zero_comp", str(comp), ["region", "seq"], format="json",
        schema="region bigint, seq bigint",
    )
    result = run_job(
        spark,
        [simple, composite],
        [
            QueueItem(match_id=0, data_mappers=["zero_ids"]),
            QueueItem(
                match_id=[{"Column": "region", "Value": 1},
                          {"Column": "seq", "Value": 0}],
                type="Composite",
                data_mappers=["zero_comp"],
            ),
        ],
    )
    assert result.status == "COMPLETED"
    with open(ids / "a.json") as f:
        assert [json.loads(x)["customer_id"] for x in f] == [1, 2]
    with open(comp / "b.json") as f:
        assert [(r["region"], r["seq"]) for r in map(json.loads, f)] == [
            (1, 1), (0, 0),
        ]
