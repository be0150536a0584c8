"""The helpers that ``curation.curate`` and ``curation.select_data``
share: one hash threshold, one Gopher rule filter, and one
exactly-one-source rule for the classifier and DSIR steps."""

import pytest

from amazon_s3_find_and_forget_spark import curation
from amazon_s3_find_and_forget_spark.operators import text


def test_hash_threshold_refuses_out_of_range_fractions():
    assert text.hash_threshold(0.0) == "00000000"
    assert text.hash_threshold(0.5) == "80000000"
    assert text.hash_threshold(1.0) == "ffffffff"
    for bad in (-0.01, 1.5, float("nan")):
        with pytest.raises(ValueError, match="must be in"):
            text.hash_threshold(bad)


def test_deterministic_split_refuses_out_of_range_ratios(spark):
    """Ratios summing to 1 are not enough: a negative share would give
    a negative hex bound that every draw compares above."""
    df = spark.range(10).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="must be in"):
        text.deterministic_split(df, ratios={"train": 1.5, "val": -0.5})


def test_gopher_filter_is_the_rule_conjunction(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r.doc_id
        for r in text.gopher_filter(docs, ["word_count", "alpha_words"])
        .select("doc_id").collect()
    }
    want = {
        r.doc_id
        for r in text.gopher_quality_flags(docs)
        .where("ok_word_count AND ok_alpha_words").select("doc_id").collect()
    }
    assert got == want and 0 < len(got) < docs.count()
    for bad in ([], ["word_count", "nonsense"]):
        with pytest.raises(ValueError, match="bad Gopher rules"):
            text.gopher_filter(docs, bad)


def test_classifier_and_dsir_need_exactly_one_source(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    model = {"weights": [0.0], "bias": 0.0, "n_buckets": 1, "hash_fn": "md5"}
    for kw in ({}, {"model": model, "target_filter": "true"}):
        with pytest.raises(ValueError, match="exactly one"):
            curation.classifier_survivors(df, **kw)
    for kw in ({}, {"target": "t", "target_filter": "true"}):
        with pytest.raises(ValueError, match="exactly one"):
            curation.dsir_picks(df, 1, **kw)
