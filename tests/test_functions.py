"""The scalar-function surface (SURVEY §2.6) is importable and works."""

from amazon_s3_find_and_forget_spark import functions as sf


def test_surface_importable():
    for name in sf.__all__:
        assert getattr(sf, name) is not None


def test_iso8601_to_epoch(spark):
    df = spark.createDataFrame([("2026-01-02T03:04:05Z",)], "s string")
    row = df.select(sf.iso8601_to_epoch(df.s).alias("e")).head()
    assert row.e == 1767323045


def test_parse_file_url():
    assert sf.parse_file_url("file:/tmp/x.parquet") == "/tmp/x.parquet"
    assert sf.parse_file_url("/tmp/x.parquet") == "/tmp/x.parquet"
    # the form input_file_name() emits: empty authority, percent-encoded
    assert (
        sf.parse_file_url("file:///lake%20a/x.parquet") == "/lake a/x.parquet"
    )


def test_redaction():
    msg = sf.sanitize_message("failed deleting 12345 from file", [12345])
    assert "12345" not in msg and sf.REDACTED in msg
