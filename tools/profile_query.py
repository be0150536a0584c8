"""Per-query timing, plan capture and Spark stage metrics.

Usage:
    python tools/profile_query.py [--sf DIR] [--runs N] [--plans-out DIR]
                                  [--tag TAG] [--conf K=V ...]
                                  query [query ...]

For each catalog query (``catalog.query``, the lane-only
``dedup_simhash_pairs_v2`` included): capture ``explain('formatted')``
of the returned DataFrame to ``<plans-out>/<query>_<tag>.txt`` (when
``--plans-out`` is given) and time ``.count()`` min-of-``runs`` with the
bench methodology (same session shape, same clearCache + GC between
runs). Each run is read back through ``spark_metrics.tagged_stages``:
the stages of the fastest run print to stderr, one line each, and their
totals (executor CPU, tasks, input, shuffle and spill bytes) join the
query's timings in the one JSON line on stdout, so A/B runs are
machine-comparable.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amazon_s3_find_and_forget_spark import entry_queries, spark_metrics  # noqa: E402
from amazon_s3_find_and_forget_spark.catalog import query  # noqa: E402
from amazon_s3_find_and_forget_spark.session import get_spark  # noqa: E402


def _release(spark) -> None:
    """Drop what a run persisted before the next one starts."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _stage_line(r: dict) -> str:
    mib = lambda b: f"{b / (1 << 20):8.1f}M"  # noqa: E731
    return (
        f"  job {r['job_id']:4} stage {r['stage_id']:4} {r['status']:8} "
        f"tasks={r['tasks']:4} cpu={r['executor_cpu_s']:7.2f}s "
        f"run={r['executor_run_s']:7.2f}s gc={r['gc_s']:6.2f}s "
        f"in={mib(r['input_bytes'])} shR={mib(r['shuffle_read_bytes'])} "
        f"shW={mib(r['shuffle_write_bytes'])} spill={mib(r['spill_bytes'])} "
        f"{r['name'][:60]}"
    )


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
    sc = spark.sparkContext
    # bench-identical warm-up
    entry_queries.load(spark, sf_dir, "region").count()
    from pyspark.sql.functions import col, pandas_udf

    _warm = pandas_udf(lambda s: s, "long")
    spark.range(100_000).repartition(cpus).select(_warm(col("id"))).count()

    out: dict[str, dict] = {}
    for name in names:
        fn = query(name)
        sc.setJobDescription(f"profile:{name}")
        if plans_out:
            os.makedirs(plans_out, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_out, f"{name}_{tag}.txt"), "w") as f:
                f.write(plan)
            _release(spark)
        samples, best, n = [], None, 0
        for _ in range(runs):
            run_tag = f"profile-{uuid.uuid4().hex[:12]}"
            with spark_metrics.job_tag(sc, run_tag):
                start = time.perf_counter()
                n = fn(spark, sf_dir).count()
                samples.append(round(time.perf_counter() - start, 3))
            if best is None or samples[-1] < min(samples[:-1]):
                best = spark_metrics.tagged_stages(sc, run_tag)
            _release(spark)
        out[name] = {
            "min": min(samples),
            "spread": samples,
            "rows": n,
            "spark": spark_metrics.totals(best),
        }
        print(f"# {name}: {min(samples)}s {samples} ({n} rows)",
              file=sys.stderr)
        for r in best:
            print(_stage_line(r), file=sys.stderr)
        sc.setJobDescription(None)
    print(json.dumps({"sf_dir": sf_dir, "runs": runs, "queries": out}))


if __name__ == "__main__":
    main()
