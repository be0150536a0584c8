"""Golden SQL text for the rendered Find (mirrors the reference's
test_execute_query.py golden-SQL strategy), plus an execution-equivalence
check: the rendered SQL returns the same files as the DataFrame plan."""

import os
import shutil
from decimal import Decimal

import pytest

from amazon_s3_find_and_forget_spark.matches import QueueItem, build_column_groups
from amazon_s3_find_and_forget_spark.plans.sql_text import (
    escape_identifier,
    escape_literal,
    find_query_sql,
)
from amazon_s3_find_and_forget_spark.schema import schema_from_hive_columns


def _groups(schema, cols, items):
    return build_column_groups(schema, cols, items)


def test_simple_golden(spark):
    schema = schema_from_hive_columns([("customer_id", "bigint")])
    groups = _groups(schema, ["customer_id"], [QueueItem(match_id=12345)])
    assert find_query_sql("lake", groups) == (
        "SELECT DISTINCT input_file_name() AS file_path "
        "FROM `lake` WHERE (`customer_id` IN (12345))"
    )


def test_multi_column_and_partitions_golden(spark):
    schema = schema_from_hive_columns(
        [("customer_id", "bigint"), ("alt_id", "string")]
    )
    groups = _groups(
        schema, ["customer_id", "alt_id"], [QueueItem(match_id=12345)]
    )
    sql = find_query_sql(
        "db.lake", groups, partition_filters=[("year", 2024), ("region", "eu")]
    )
    # simple match ids cast per identifier column (F7): int for the bigint
    # column, string literal for the string column
    assert "`customer_id` IN (12345)" in sql
    assert "`alt_id` IN ('12345')" in sql
    assert sql.endswith("AND `year` = 2024 AND `region` = 'eu'")
    assert "FROM `db`.`lake` " in sql


def test_composite_golden(spark):
    schema = schema_from_hive_columns([("first", "string"), ("last", "string")])
    items = [
        QueueItem(
            match_id=[
                {"Column": "last", "Value": "Doe"},
                {"Column": "first", "Value": "John"},
            ],
            type="Composite",
            data_mappers=["m"],
        )
    ]
    groups = _groups(schema, ["first", "last"], items)
    sql = find_query_sql("lake", groups)
    # O2 canonical order: columns sorted by name
    assert "((`first` = 'John' AND `last` = 'Doe'))" in sql


def test_injection_escaped(spark):
    schema = schema_from_hive_columns([("name", "string")])
    groups = _groups(
        schema, ["name"], [QueueItem(match_id="1' OR '1'='1")]
    )
    sql = find_query_sql("lake", groups)
    assert "IN ('1'' OR ''1''=''1')" in sql
    assert escape_identifier('we`ird.col') == "`we``ird`.`col`"
    assert escape_literal(None) == "NULL"
    assert escape_literal(Decimal("1.50")) == "CAST('1.50' AS DECIMAL(38,2))"
    with pytest.raises(ValueError):
        escape_literal(object())


def test_nested_identifier_golden(spark):
    schema = schema_from_hive_columns(
        [("user", "struct<info:struct<id:int>,tags:array<string>>")]
    )
    groups = _groups(schema, ["user.info.id"], [QueueItem(match_id=7)])
    sql = find_query_sql("lake", groups)
    assert "`user`.`info`.`id` IN (7)" in sql


def test_rendered_sql_matches_dataframe_plan(spark, tmp_path, sf_dir):
    lake = tmp_path / "li"
    lake.mkdir()
    shutil.copy(os.path.join(sf_dir, "lineitem.parquet"), lake / "a.parquet")
    shutil.copy(os.path.join(sf_dir, "lineitem.parquet"), lake / "b.parquet")
    df = spark.read.parquet(str(lake))
    items = [QueueItem(match_id=1), QueueItem(match_id=3)]
    groups = build_column_groups(df.schema, ["l_orderkey"], items)

    from amazon_s3_find_and_forget_spark.plans.find import find_affected_files

    expected = {r.file_path for r in find_affected_files([(df, groups)]).collect()}

    df.createOrReplaceTempView("li_view")
    sql = find_query_sql("li_view", groups)
    got = {r.file_path for r in spark.sql(sql).collect()}
    assert got == expected and len(got) == 2


def test_hive_ddl_decimal_and_validation(spark):
    from amazon_s3_find_and_forget_spark.schema import (
        NotAnIdentifierError,
        validate_identifier,
    )

    schema = schema_from_hive_columns(
        [("amount", "decimal(12,2)"), ("tags", "array<string>")]
    )
    canonical, dtype = validate_identifier(schema, "amount")
    assert dtype.simpleString() == "decimal(12,2)"
    with pytest.raises(NotAnIdentifierError):
        validate_identifier(schema, "tags")
