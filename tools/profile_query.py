"""Round-17 optimization harness: per-query plan capture + timing.

Usage:
    python tools/profile_query.py [--sf DIR] [--runs N] [--plans-out DIR]
                                  [--tag TAG] query [query ...]

For each catalog query (resolved like bench.py, including the lane-only
``dedup_simhash_pairs_v2``): capture ``explain('formatted')`` of the
returned DataFrame to ``<plans-out>/<query>_<tag>.txt`` (when
``--plans-out`` is given) and time ``.count()`` min-of-``runs`` with the
exact bench methodology (same session shape, same clearCache + GC
between queries). Prints one JSON line with the timings so A/B runs are
machine-comparable.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amazon_s3_find_and_forget_spark import entry_queries  # noqa: E402
from amazon_s3_find_and_forget_spark.session import get_spark  # noqa: E402


def _resolve(name: str):
    if name == "dedup_simhash_pairs_v2":
        from amazon_s3_find_and_forget_spark.catalog.dedup import (
            q_dedup_simhash_pairs_v2,
        )

        return q_dedup_simhash_pairs_v2
    return entry_queries.QUERIES[name]


def main() -> None:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs, plans_out, tag = 3, None, "before"
    names: list[str] = []
    extra_conf: dict[str, str] = {}
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--sf":
            sf_dir = args[i + 1]; i += 2
        elif a == "--runs":
            runs = int(args[i + 1]); i += 2
        elif a == "--plans-out":
            plans_out = args[i + 1]; i += 2
        elif a == "--tag":
            tag = args[i + 1]; i += 2
        elif a == "--conf":
            # repeated k=v session-conf overrides for config A/Bs
            # (e.g. --conf spark.io.compression.codec=zstd)
            k, v = args[i + 1].split("=", 1)
            extra_conf[k] = v; i += 2
        else:
            names.append(a); i += 1

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="s3f2-profile", cpus=cpus,
                      extra_conf=extra_conf or None)
    # bench-identical warm-up
    entry_queries.load(spark, sf_dir, "region").count()
    from pyspark.sql.functions import col, pandas_udf

    _warm = pandas_udf(lambda s: s, "long")
    spark.range(100_000).repartition(cpus).select(_warm(col("id"))).count()

    out: dict[str, dict] = {}
    for name in names:
        fn = _resolve(name)
        spark.sparkContext.setJobDescription(f"profile:{name}")
        if plans_out:
            os.makedirs(plans_out, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_out, f"{name}_{tag}.txt"), "w") as f:
                f.write(plan)
            spark.catalog.clearCache()
            import gc as _gc

            _gc.collect()
            spark.sparkContext._jvm.System.gc()
        samples = []
        n = 0
        for _ in range(runs):
            start = time.perf_counter()
            n = fn(spark, sf_dir).count()
            samples.append(round(time.perf_counter() - start, 3))
            spark.catalog.clearCache()
            import gc as _gc

            _gc.collect()
            spark.sparkContext._jvm.System.gc()
        out[name] = {"min": min(samples), "spread": samples, "rows": n}
        print(f"# {name}: {min(samples)}s {samples} ({n} rows)",
              file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"sf_dir": sf_dir, "runs": runs, "queries": out}))


if __name__ == "__main__":
    main()
