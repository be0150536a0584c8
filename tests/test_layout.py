"""Layout helpers: salted joins, small-file compaction, Z-ordering."""

import os


def explain_str(df, mode="formatted"):
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def test_unbucketed_join_does_exchange(spark, sf_dir):
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).hint(
        "shuffle_merge"
    )
    plan = explain_str(li.join(o, li.l_orderkey == o.o_orderkey))
    assert "Exchange" in plan  # a sort-merge join of plain scans shuffles


def test_salted_join_matches_plain_join(spark):
    from amazon_s3_find_and_forget_spark.operators.layout import salted_join

    # one hot key (90% of rows) + a long tail
    big = spark.createDataFrame(
        [(1 if i % 10 else i, f"v{i}") for i in range(200)], "k long, payload string"
    )
    small = spark.createDataFrame(
        [(1, "hot"), (20, "cold"), (999, "unmatched")], "k long, dim string"
    )
    plain = sorted(
        (r.k, r.payload, r.dim) for r in big.join(small, ["k"]).collect()
    )
    salted = sorted(
        (r.k, r.payload, r.dim)
        for r in salted_join(big, small, ["k"], n_salts=8).collect()
    )
    assert salted == plain

    left_plain = sorted(
        (r.k, r.payload, r.dim)
        for r in big.join(small, ["k"], "left").collect()
    )
    left_salted = sorted(
        (r.k, r.payload, r.dim)
        for r in salted_join(big, small, ["k"], n_salts=8, how="left").collect()
    )
    assert left_salted == left_plain

    import pytest as _pytest

    with _pytest.raises(ValueError):
        salted_join(big, small, ["k"], how="full")


def test_compact_small_files_preserves_rows(spark, tmp_path):
    from amazon_s3_find_and_forget_spark.operators.layout import (
        compact_small_files,
    )

    lake = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1000)], "k long, v string"
    )
    df.repartition(20).write.parquet(lake)
    import glob

    before_files = glob.glob(lake + "/*.parquet")
    assert len(before_files) == 20
    before_rows = sorted(
        (r.k, r.v) for r in spark.read.parquet(lake).collect()
    )

    stats = compact_small_files(spark, lake, target_bytes=1 << 30)
    after_files = glob.glob(lake + "/*.parquet")
    assert stats["files_before"] == 20
    assert len(after_files) == stats["files_after"] < 20
    after_rows = sorted(
        (r.k, r.v) for r in spark.read.parquet(lake).collect()
    )
    assert after_rows == before_rows

    # idempotent: second pass finds nothing small enough to merge further
    stats2 = compact_small_files(spark, lake, target_bytes=1 << 30)
    assert stats2["files_after"] == stats2["files_before"]
    # singleton-bin lake (already compact at a tiny target) is untouched
    stats3 = compact_small_files(spark, lake, target_bytes=1)
    assert stats3["bins_compacted"] == 0


def test_compact_merges_files_differing_only_in_nested_field_metadata(
    spark, tmp_path
):
    """parquet-mr/Iceberg-style field-id tags land on every NESTED field;
    files identical except for that metadata must land in one bin."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from amazon_s3_find_and_forget_spark.operators.layout import (
        compact_small_files,
    )

    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    plain = pa.schema(
        [
            pa.field("id", pa.int64()),
            pa.field("s", pa.struct([pa.field("x", pa.int32())])),
        ]
    )
    tagged = pa.schema(
        [
            pa.field("id", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
            pa.field(
                "s",
                pa.struct(
                    [
                        pa.field(
                            "x",
                            pa.int32(),
                            metadata={b"PARQUET:field_id": b"2"},
                        )
                    ]
                ),
            ),
        ]
    )
    rows = {"id": [1, 2], "s": [{"x": 1}, {"x": 2}]}
    pq.write_table(pa.table(rows, schema=plain), os.path.join(lake, "a.parquet"))
    pq.write_table(pa.table(rows, schema=tagged), os.path.join(lake, "b.parquet"))
    stats = compact_small_files(spark, lake, target_bytes=1 << 30)
    assert stats["bins_compacted"] == 1
    assert stats["files_after"] == 1
    assert spark.read.parquet(lake).count() == 4


def test_zorder_prunes_on_both_columns(spark, tmp_path):
    """Z-order clustering: a range predicate on EITHER column overlaps
    only a fraction of the files' min/max footers; a single-column sort
    only prunes its own column."""
    import glob

    import pyarrow.parquet as pq
    from amazon_s3_find_and_forget_spark.operators.layout import (
        write_zordered,
    )
    from pyspark.sql import functions as F

    n = 200_000
    df = spark.range(n).select(
        (F.xxhash64("id") % 1000).alias("x"),
        (F.xxhash64("id", F.lit(1)) % 1000).alias("y"),
    )
    zdir = str(tmp_path / "zorder")
    sdir = str(tmp_path / "xsorted")
    write_zordered(df, zdir, ["x", "y"], n_files=16)
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(
        sdir
    )

    def overlapping_files(path, col, lo, hi):
        total, hit = 0, 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                j = next(
                    j
                    for j in range(md.num_columns)
                    if rg.column(j).path_in_schema == col
                )
                mins.append(rg.column(j).statistics.min)
                maxs.append(rg.column(j).statistics.max)
            total += 1
            if max(maxs) >= lo and min(mins) <= hi:
                hit += 1
        return hit, total

    # a ~12% slab at the bottom of the y domain (values span ~[-999,999])
    # — deliberately not straddling the curve's top-level median split
    z_y, z_tot = overlapping_files(zdir, "y", -980, -740)
    s_y, s_tot = overlapping_files(sdir, "y", -980, -740)
    assert z_tot == 16 and s_tot == 16
    # x-sorted layout: every file spans all of y -> nothing prunes
    assert s_y == 16
    # z-order: most files fall outside the y slab
    assert z_y <= 8
    # and x still prunes too (the trade: ~sqrt on each column)
    z_x, _ = overlapping_files(zdir, "x", -980, -740)
    assert z_x <= 8
    # rows are preserved exactly
    assert spark.read.parquet(zdir).count() == n


def test_zorder_key_handles_nan(spark):
    import math

    from amazon_s3_find_and_forget_spark.operators.layout import zorder_key

    df = spark.createDataFrame(
        [(1.0, 2.0), (float("nan"), 3.0), (None, 4.0)], "a double, b double"
    )
    rows = zorder_key(df, ["a", "b"]).select("_zkey").collect()
    # NaN/null quantize to rank 0 instead of poisoning min/max or
    # throwing CAST_OVERFLOW under ANSI mode
    assert len(rows) == 3 and all(r[0] is not None for r in rows)
    assert not any(
        isinstance(r[0], float) and math.isnan(r[0]) for r in rows
    )


def test_zorder_key_handles_infinity(spark):
    """+/-inf must neutralize like NaN: an infinite value would make the
    min/max span infinite — ANSI throws CAST_OVERFLOW on the long cast,
    non-ANSI silently quantizes every finite row to rank 0."""
    from amazon_s3_find_and_forget_spark.operators.layout import zorder_key

    df = spark.createDataFrame(
        [
            (0.0, 1.0),
            (100.0, 2.0),
            (float("inf"), 3.0),
            (float("-inf"), 4.0),
        ],
        "a double, b double",
    )
    rows = {
        r["a"]: r["_zkey"]
        for r in zorder_key(df, ["a", "b"], bits=8).collect()
    }
    assert all(k is not None for k in rows.values())
    # the finite rows still cluster: 0 and 100 get DIFFERENT a-ranks
    # (with inf poisoning the span they would both quantize to 0)
    mask_a = sum(1 << (i * 2) for i in range(8))  # a's interleaved bits
    assert (rows[0.0] & mask_a) != (rows[100.0] & mask_a)


def test_zorder_key_handles_extreme_finite_span(spark):
    """Finite endpoints whose span overflows a double: every
    intermediate must stay finite (divide-before-subtract), no ANSI
    CAST_OVERFLOW, and ordering is preserved."""
    from amazon_s3_find_and_forget_spark.operators.layout import zorder_key

    df = spark.createDataFrame(
        [(-1.6e308,), (0.0,), (1.6e308,)], "a double"
    )
    rows = {r["a"]: r["_zkey"] for r in zorder_key(df, ["a"], bits=8).collect()}
    assert all(v is not None for v in rows.values())
    assert rows[-1.6e308] < rows[0.0] < rows[1.6e308]
