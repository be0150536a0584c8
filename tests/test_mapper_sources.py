"""DataMapper source options: explicit schema (no inference pass) and
catalog-table locations (the Glue-table pointer analog)."""

import os
import shutil

import pytest

from amazon_s3_find_and_forget_spark.data_mappers import DataMapper
from amazon_s3_find_and_forget_spark.jobs import run_job
from amazon_s3_find_and_forget_spark.matches import QueueItem


@pytest.fixture()
def json_lake(spark, tmp_path, sf_dir):
    lake = str(tmp_path / "jlake")
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).coalesce(
        1
    ).write.json(lake)
    return lake


def test_json_mapper_explicit_schema_skips_inference(spark, json_lake):
    ddl = "n_nationkey bigint, n_name string, n_regionkey bigint, n_comment string"
    m = DataMapper("j", json_lake, ["n_nationkey"], format="json", schema=ddl)
    df = m.read(spark)
    # the declared schema is used verbatim (inference would also pull
    # column order from data; here order and types come from the DDL)
    assert [f.name for f in df.schema.fields] == [
        "n_nationkey",
        "n_name",
        "n_regionkey",
        "n_comment",
    ]
    assert df.schema["n_nationkey"].dataType.simpleString() == "bigint"
    assert df.where("n_nationkey = 3").count() == 1


def test_json_mapper_schema_end_to_end_job(spark, json_lake):
    ddl = "n_nationkey bigint, n_name string, n_regionkey bigint, n_comment string"
    m = DataMapper("j", json_lake, ["n_nationkey"], format="json", schema=ddl)
    before = spark.read.json(json_lake).count()
    result = run_job(spark, [m], [QueueItem(match_id=3), QueueItem(match_id=7)])
    assert result.status == "COMPLETED"
    after = m.read(spark)
    assert after.count() == before - 2
    assert after.where("n_nationkey in (3, 7)").count() == 0


def test_catalog_table_mapper_find_forget(spark, tmp_path, sf_dir):
    lake = str(tmp_path / "tlake")
    os.makedirs(lake)
    for name in ("a", "b"):
        shutil.copy(
            os.path.join(sf_dir, "supplier.parquet"),
            os.path.join(lake, f"{name}.parquet"),
        )
    spark.sql("DROP TABLE IF EXISTS s3f2_suppliers")
    spark.catalog.createTable(
        "s3f2_suppliers", path=lake, source="parquet"
    )
    try:
        m = DataMapper("t", "table:s3f2_suppliers", ["s_suppkey"])
        before = spark.table("s3f2_suppliers").count()
        result = run_job(spark, [m], [QueueItem(match_id=1)])
        assert result.status == "COMPLETED"
        spark.sql("REFRESH TABLE s3f2_suppliers")
        after = spark.table("s3f2_suppliers")
        # the match id existed once per copied file
        assert after.count() == before - 2
        assert after.where("s_suppkey = 1").count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS s3f2_suppliers")


# --- the schema pinned at registration --------------------------------------


@pytest.fixture()
def engine(spark, tmp_path):
    from amazon_s3_find_and_forget_spark.api import Engine

    return Engine(spark, str(tmp_path / "state"))


def _write(path, columns):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), path)


def test_parquet_mapper_put_pins_its_schema(spark, engine, tmp_path, json_lake):
    lake = tmp_path / "plake"
    lake.mkdir()
    _write(str(lake / "a.parquet"), {"id": [1, 2], "v": ["x", "y"]})
    stored = engine.put_data_mapper("p", {"Location": str(lake), "Columns": ["id"]})
    assert stored["p"]["Schema"] == spark.read.parquet(str(lake)).schema.toDDL()
    assert engine.get_data_mapper("p")["Schema"] == stored["p"]["Schema"]
    # a caller's own Schema is kept as given
    engine.put_data_mapper(
        "p", {"Location": str(lake), "Columns": ["id"], "Schema": "id bigint"}
    )
    assert engine.get_data_mapper("p")["Schema"] == "id bigint"
    # JSON stays inferred: a pinned type would read a changed value as NULL
    engine.put_data_mapper(
        "j", {"Location": json_lake, "Columns": ["n_nationkey"], "Format": "json"}
    )
    assert "Schema" not in engine.get_data_mapper("j")


def test_pinned_schema_still_finds_a_file_with_an_added_column(
    spark, engine, tmp_path
):
    import pyarrow.parquet as pq

    lake = tmp_path / "drift"
    lake.mkdir()
    _write(str(lake / "a.parquet"), {"id": [1, 2, 3], "v": ["a", "b", "c"]})
    engine.put_data_mapper("d", {"Location": str(lake), "Columns": ["id"]})
    # written after the put, with a column the pinned schema lacks
    _write(
        str(lake / "b.parquet"),
        {"id": [2, 4, 5], "v": ["d", "e", "f"], "extra": [10, 20, 30]},
    )
    engine.enqueue_matches([{"MatchId": 2}, {"MatchId": 5}])
    job = engine.process_queue()
    assert job["JobStatus"] == "COMPLETED"
    assert job["TotalObjectUpdatedCount"] == 2
    a = pq.read_table(str(lake / "a.parquet")).to_pydict()
    b = pq.read_table(str(lake / "b.parquet")).to_pydict()
    assert a == {"id": [1, 3], "v": ["a", "c"]}
    assert b == {"id": [4], "v": ["e"], "extra": [20]}


def test_mapper_stored_without_schema_still_runs(spark, engine, tmp_path):
    """A state dir written before schemas were pinned: the read infers."""
    import pyarrow.parquet as pq

    lake = tmp_path / "old"
    lake.mkdir()
    _write(str(lake / "a.parquet"), {"id": [1, 2, 3]})
    engine._save(
        "data_mappers", {"o": {"Location": str(lake), "Columns": ["id"]}}
    )
    engine.enqueue_matches([{"MatchId": 1}, {"MatchId": 3}])
    job = engine.process_queue()
    assert job["JobStatus"] == "COMPLETED"
    assert pq.read_table(str(lake / "a.parquet")).to_pydict() == {"id": [2]}


def test_table_mapper_on_a_temp_view_runs_in_the_find_clone(
    spark, tmp_path, sf_dir
):
    """Find reads the mappers in a per-job clone of the caller's session;
    the clone keeps the caller's temp views. A view hides the scan's
    ``_metadata``: Find takes the path from ``input_file_name()``, which
    resolves through the view, and leaves the size unknown."""
    lake = str(tmp_path / "vlake")
    os.makedirs(lake)
    shutil.copy(
        os.path.join(sf_dir, "supplier.parquet"),
        os.path.join(lake, "a.parquet"),
    )
    spark.read.parquet(lake).createOrReplaceTempView("s3f2_supplier_view")
    try:
        m = DataMapper("v", "table:s3f2_supplier_view", ["s_suppkey"])
        before = spark.read.parquet(lake).count()
        result = run_job(spark, [m], [QueueItem(match_id=1), QueueItem(match_id=2)])
        assert result.status == "COMPLETED", result.events
        after = spark.read.parquet(lake)
        assert after.count() == before - 2
        assert after.where("s_suppkey in (1, 2)").count() == 0
    finally:
        spark.catalog.dropTempView("s3f2_supplier_view")
