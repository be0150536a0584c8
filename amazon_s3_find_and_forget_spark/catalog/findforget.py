"""Find/Forget, jobs, and pagination catalog rows.

The core reference workflow (find matching rows/files, forget survivors,
job stats/status folds, watermark pagination) paired with ANSI oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..jobs import fold_stats
from ..matches import QueueItem, build_column_groups
from ..plans.find import find_affected_files, find_matching_rows
from ..plans.forget import forget_table
from .loader import load


MATCH_ORDERKEYS = [1, 3, 7, 32, 69, 194, 418]


COMPOSITE_ORDER_MATCH = [("F", "1-URGENT"), ("O", "5-LOW")]


def _lineitem_groups(df):
    items = [QueueItem(match_id=k) for k in MATCH_ORDERKEYS]
    return build_column_groups(df.schema, ["l_orderkey"], items)


def _orders_composite_groups(df):
    items = [
        QueueItem(
            match_id=[
                {"Column": "o_orderstatus", "Value": s},
                {"Column": "o_orderpriority", "Value": p},
            ],
            type="Composite",
            data_mappers=["orders"],
        )
        for s, p in COMPOSITE_ORDER_MATCH
    ]
    return build_column_groups(df.schema, ["o_orderkey"], items)


def q_find_rows_simple(spark, sf_dir):
    df = load(spark, sf_dir, "lineitem")
    rows = find_matching_rows(df, _lineitem_groups(df))
    return rows.select("l_orderkey", "l_linenumber")


def q_find_rows_composite(spark, sf_dir):
    df = load(spark, sf_dir, "orders")
    rows = find_matching_rows(df, _orders_composite_groups(df))
    return rows.select("o_orderkey")


def q_forget_survivors_simple(spark, sf_dir):
    df = load(spark, sf_dir, "lineitem")
    survivors = forget_table(df, _lineitem_groups(df))
    return survivors.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
    )


def q_forget_redact_simple(spark, sf_dir):
    """Redact-mode Forget (DataMapper delete_mode='redact'): rows
    matching the deletion queue KEEP their record; the configured
    columns are nulled in one map-only pass. An extension beyond the
    reference's delete-only rewrite (parquet_handler.py:133-152) for
    lakes where the record must survive erasure of identifying values.
    """
    df = load(spark, sf_dir, "lineitem")
    redacted = forget_table(
        df, _lineitem_groups(df), redact_columns=["l_returnflag", "l_shipdate"]
    )
    return redacted.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate"
    )


def q_forget_survivors_composite(spark, sf_dir):
    df = load(spark, sf_dir, "orders")
    survivors = forget_table(df, _orders_composite_groups(df))
    return survivors.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("sum_total"),
    )


def q_find_files_simple(spark, sf_dir):
    """S1/P1/A1: distinct affected files, projected to the file NAME so
    DuckDB can oracle-check it (the absolute path is environment-local;
    the basename set is the engine-independent fact)."""
    df = load(spark, sf_dir, "lineitem")
    files = find_affected_files([(df, _lineitem_groups(df))])
    return files.select(
        F.element_at(F.split("file_path", "/"), -1).alias("file_name")
    )


def q_job_stats_fold(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    mapped = ev.select(
        (F.col("user_id") % 10).cast("string").alias("Id"),
        F.concat(
            F.lpad((F.col("event_id")).cast("string"), 12, "0"), F.lit("#e")
        ).alias("Sk"),
        F.when(F.col("event_type") == "click", "QuerySucceeded")
        .when(F.col("event_type") == "view", "QueryFailed")
        .when(F.col("event_type") == "purchase", "ObjectUpdated")
        .when(F.col("event_type") == "signup", "ObjectUpdateSkipped")
        .otherwise("ObjectUpdateFailed")
        .alias("EventName"),
        F.unix_timestamp("ts").alias("CreatedAt"),
        F.to_json(
            F.struct(
                F.struct(
                    F.floor(F.col("value") * 1000).alias("DataScannedInBytes"),
                    F.floor(F.col("value") * 10).alias(
                        "EngineExecutionTimeInMillis"
                    ),
                ).alias("Statistics")
            )
        ).alias("EventData"),
    )
    return fold_stats(mapped)


def q_find_rows_nested(spark, sf_dir):
    """Nested struct dot-path identifier (schema.resolve_column walk)."""
    li = load(spark, sf_dir, "lineitem").select(
        F.struct("l_orderkey", "l_partkey").alias("Info"),
        "l_linenumber",
    )
    items = [QueueItem(match_id=k) for k in MATCH_ORDERKEYS]
    groups = build_column_groups(li.schema, ["info.l_orderkey"], items)
    rows = find_matching_rows(li, groups)
    return rows.select(
        F.col("Info.l_orderkey").alias("l_orderkey"), "l_linenumber"
    )


DECIMAL_QTY_MATCHES = ["1.00", "2.00", "3.00"]


def q_find_rows_decimal(spark, sf_dir):
    """Decimal identifier column with exact scale-aware match equality."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("decimal(12,2)").alias("qty_dec"),
    )
    items = [QueueItem(match_id=v) for v in DECIMAL_QTY_MATCHES]
    groups = build_column_groups(li.schema, ["qty_dec"], items)
    return find_matching_rows(li, groups).select(
        "l_orderkey", "l_linenumber", "qty_dec"
    )


JSON_FORGET_KEYS = [1, 5, 9, 14, 20]


def q_forget_survivors_json(spark, sf_dir):
    """End-to-end deletion job over a JSON-Lines lake (raw-line rewrite).

    Materializes nation as JSONL in a tempdir, runs the full Find+Forget
    job through the JSON per-file rewrite path, and returns the
    surviving rows read back from the rewritten lake.
    """
    import shutil
    import tempfile

    from ..data_mappers import DataMapper
    from ..jobs import run_job

    nation = load(spark, sf_dir, "nation")
    workdir = tempfile.mkdtemp(prefix="s3f2-jsonlake-")
    lake = f"{workdir}/nation"
    try:
        nation.coalesce(2).write.json(lake)
        mapper = DataMapper("nation", lake, ["n_nationkey"], format="json")
        items = [QueueItem(match_id=k) for k in JSON_FORGET_KEYS]
        result = run_job(spark, [mapper], items)
        assert result.status == "COMPLETED", result.events
        survivors = spark.read.json(lake).select(
            F.col("n_nationkey").cast("long"),
            "n_name",
            F.col("n_regionkey").cast("long"),
        )
        survivors = spark.createDataFrame(
            survivors.collect(), survivors.schema
        )
        return survivors
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# inside the event_id range at every driver scale factor (max 999 at sf0.001)
EVENTS_PAGE_WATERMARK = "000000000000500#e"


def q_events_watermark_page(spark, sf_dir):
    """W1: event-time ordered page forward from a Sk watermark."""
    from ..jobs import list_events

    ev = load(spark, sf_dir, "events")
    shaped = ev.select(
        (F.col("user_id") % 5).cast("string").alias("Id"),
        F.concat(
            F.lpad(F.col("event_id").cast("string"), 15, "0"), F.lit("#e")
        ).alias("Sk"),
        F.col("event_type").alias("EventName"),
    )
    return list_events(
        shaped, job_id="3", watermark=EVENTS_PAGE_WATERMARK, page_size=50
    )


def q_jobs_top_k(spark, sf_dir):
    """O1: newest-first top-K job listing (deterministic CreatedAt key)."""
    from ..jobs import list_jobs

    ev = load(spark, sf_dir, "events")
    jobs = ev.groupBy((F.col("user_id") % 100).cast("string").alias("Id")).agg(
        F.max("event_id").alias("CreatedAt")
    )
    return list_jobs(jobs, page_size=10)


_IN_ORDERKEYS = ", ".join(str(k) for k in MATCH_ORDERKEYS)


_COMPOSITE_PRED = " OR ".join(
    f"(o_orderstatus = '{s}' AND o_orderpriority = '{p}')"
    for s, p in COMPOSITE_ORDER_MATCH
)


QUERIES = {
    "find_rows_simple": q_find_rows_simple,
    "find_files_simple": q_find_files_simple,
    "forget_survivors_simple": q_forget_survivors_simple,
    "forget_redact_simple": q_forget_redact_simple,
    "forget_survivors_composite": q_forget_survivors_composite,
    "forget_survivors_json": q_forget_survivors_json,
    "find_rows_composite": q_find_rows_composite,
    "find_rows_nested": q_find_rows_nested,
    "find_rows_decimal": q_find_rows_decimal,
    "events_watermark_page": q_events_watermark_page,
    "jobs_top_k": q_jobs_top_k,
    "job_stats_fold": q_job_stats_fold,
}

ORACLES = {
    "find_rows_simple": f"""
        SELECT l_orderkey, l_linenumber FROM lineitem
        WHERE l_orderkey IN ({_IN_ORDERKEYS})
    """,
    "find_files_simple": f"""
        SELECT DISTINCT 'lineitem.parquet' AS file_name
        FROM lineitem WHERE l_orderkey IN ({_IN_ORDERKEYS})
    """,
    "forget_survivors_simple": f"""
        SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
               CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
        FROM lineitem WHERE l_orderkey NOT IN ({_IN_ORDERKEYS})
        GROUP BY l_returnflag, l_linestatus
    """,
    "forget_redact_simple": f"""
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_orderkey IN ({_IN_ORDERKEYS}) THEN NULL
                    ELSE l_returnflag END AS l_returnflag,
               CASE WHEN l_orderkey IN ({_IN_ORDERKEYS}) THEN NULL
                    ELSE l_shipdate END AS l_shipdate
        FROM lineitem
    """,
    "forget_survivors_composite": f"""
        SELECT o_orderstatus, count(*) AS n_rows,
               CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_total
        FROM orders WHERE NOT ({_COMPOSITE_PRED})
        GROUP BY o_orderstatus
    """,
    "forget_survivors_json": f"""
        -- BIGINT casts: the engine side reads a JSONL lake, where JSON
        -- integers surface as int64; the parquet-backed oracle view is
        -- int32 and must widen to hash identically
        SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
               CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation
        WHERE n_nationkey NOT IN ({", ".join(str(k) for k in JSON_FORGET_KEYS)})
    """,
    "find_rows_composite": f"""
        SELECT o_orderkey FROM orders WHERE {_COMPOSITE_PRED}
    """,
    "find_rows_nested": f"""
        SELECT l_orderkey, l_linenumber FROM lineitem
        WHERE l_orderkey IN ({_IN_ORDERKEYS})
    """,
    "find_rows_decimal": """
        SELECT l_orderkey, l_linenumber,
               CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS qty_dec
        FROM lineitem
        WHERE CAST(l_quantity AS DECIMAL(12,2)) IN (1.00, 2.00, 3.00)
    """,
    "events_watermark_page": f"""
        SELECT CAST(user_id % 5 AS VARCHAR) AS Id,
               lpad(CAST(event_id AS VARCHAR), 15, '0') || '#e' AS Sk,
               event_type AS EventName
        FROM events
        WHERE user_id % 5 = 3
          AND lpad(CAST(event_id AS VARCHAR), 15, '0') || '#e'
              > '{EVENTS_PAGE_WATERMARK}'
        ORDER BY Sk LIMIT 50
    """,
    "jobs_top_k": """
        SELECT CAST(user_id % 100 AS VARCHAR) AS Id,
               max(event_id) AS CreatedAt
        FROM events GROUP BY 1
        ORDER BY CreatedAt DESC LIMIT 10
    """,
    "job_stats_fold": """
        SELECT CAST(user_id % 10 AS VARCHAR) AS Id,
          count(*) FILTER (WHERE event_type IN ('click','view')) AS TotalQueryCount,
          count(*) FILTER (WHERE event_type = 'click') AS TotalQuerySucceededCount,
          count(*) FILTER (WHERE event_type = 'view') AS TotalQueryFailedCount,
          CAST(coalesce(sum(CAST(floor(value * 1000) AS BIGINT))
              FILTER (WHERE event_type IN ('click','view')), 0)
            AS BIGINT) AS TotalQueryScannedInBytes,
          CAST(coalesce(sum(CAST(floor(value * 10) AS BIGINT))
              FILTER (WHERE event_type IN ('click','view')), 0)
            AS BIGINT) AS TotalQueryTimeInMillis,
          count(*) FILTER (WHERE event_type = 'purchase') AS TotalObjectUpdatedCount,
          count(*) FILTER (WHERE event_type = 'signup') AS TotalObjectUpdateSkippedCount,
          count(*) FILTER (WHERE event_type IS NULL
              OR event_type NOT IN ('click','view','purchase','signup'))
            AS TotalObjectUpdateFailedCount,
          CAST(0 AS BIGINT) AS TotalObjectRollbackFailedCount
        FROM events GROUP BY user_id % 10
    """,
}
