"""Mergeable frequency sketches: Count-Min heavy hitters.

The third sketch family next to the HLL distinct-count and quantile
gate rows (entry_queries q_events_distinct_sketch /
q_orders_quantile_sketch): per-key frequency estimation in fixed space.

Scale shape: ``count_min_sketch`` is a map-side-combinable JVM
aggregate — every task folds its rows into an O(1/eps * ln(1/delta))
table and the tables merge associatively, so at 100 TB the sketch costs
one scan and ships kilobytes per task regardless of key cardinality.
The exact side (the verification half of the gate row) is one hash
aggregate over the candidate keys — which for a HEAVY-HITTER check is
small by definition.

No reference counterpart (the reference has no approximate aggregates);
this is LLM-pipeline tooling: corpus-level token/source frequency
tracking where exact per-key counts are a full shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def count_min_check(
    df: DataFrame,
    col: str,
    eps: float = 0.0001,
    confidence: float = 0.99,
    seed: int = 42,
    candidates: list | None = None,
    max_keys: int = 10_000,
) -> DataFrame:
    """Per-key exact count + the Count-Min structural claim.

    Builds ONE Count-Min sketch over ``col`` with the SQL
    ``count_min_sketch`` aggregate (distributed, mergeable), reads it
    back through the JVM sketch library, and emits one row per distinct
    key: ``(key, n_exact, cms_ok)`` where ``cms_ok`` asserts the CMS
    guarantees — the estimate never undercounts, and overcounts by at
    most ``eps * N`` (the one-sided error bound; holds with probability
    ``confidence`` per key, and essentially surely when the candidate
    set is far smaller than the sketch width ``e/eps``).

    The exact side must stay a BOUNDED relation — it is collected to
    probe the JVM sketch. Pass ``candidates`` (the suspected heavy
    keys) to restrict it explicitly; without one, the full distinct-key
    set of ``col`` is used and ``max_keys`` fails fast if the column
    turns out to be high-cardinality (a ``limit(max_keys + 1)`` probe,
    never an unbounded collect — the round-8 guard, same shape as
    ``text._hash_rank_sample``'s ``max_strata``).
    """
    spark = df.sparkSession
    row = df.agg(
        F.expr(
            f"count_min_sketch({col}, {eps}d, {confidence}d, {seed})"
        ).alias("_cms"),
        F.count(col).alias("_n"),
    ).head()
    payload, total = bytes(row["_cms"]), int(row["_n"])
    cms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        payload
    )
    keyed = df.where(F.col(col).isNotNull())
    if candidates is not None:
        keyed = keyed.where(F.col(col).isin(list(candidates)))
    exact = (
        keyed.groupBy(col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .limit(max_keys + 1)
        .collect()
    )
    if len(exact) > max_keys:
        raise ValueError(
            f"count_min_check: {col!r} has more than {max_keys} distinct "
            "keys; pass candidates=[...] (the suspected heavy keys) or "
            "raise max_keys explicitly — the exact side is collected to "
            "the driver and must stay bounded."
        )
    bound = eps * total
    out = []
    for r in exact:
        est = cms.estimateCount(r[col])
        ok = est >= r["n_exact"] and est <= r["n_exact"] + bound
        out.append((r[col], r["n_exact"], bool(ok)))
    key_type = df.schema[col].dataType.simpleString()
    return spark.createDataFrame(
        out, f"{col} {key_type}, n_exact long, cms_ok boolean"
    )
