"""Capture the PRE-materialization plan of an eager catalog query.

The span/paragraph operators return ``_eager(...)`` (a localCheckpoint),
so ``profile_query.py``'s explain capture shows only the post-checkpoint
``Scan ExistingRDD`` — useless as before/after evidence. This tool
patches ``dedup._eager`` / ``dedup._populated`` to identity for the
duration of plan construction so ``explain('formatted')`` shows the real
computation: exchanges, join strategies, and the hashpartitioning keys
whose width the round-17 shuffle-bytes work changes.

Usage:
    python tools/capture_lazy_plan.py TAG QUERY [QUERY ...]

Writes ``plans/<round>/<query>_<tag>.txt`` (round from
``$SPARK_GRAFT_PLANS_ROUND``, default ``r18``). Plan capture only —
nothing is executed, so host weather is irrelevant.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amazon_s3_find_and_forget_spark import entry_queries  # noqa: E402
from amazon_s3_find_and_forget_spark.operators import dedup  # noqa: E402
from amazon_s3_find_and_forget_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r18"),
    )
    os.makedirs(out_dir, exist_ok=True)
    dedup._eager = lambda df: df
    dedup._populated = lambda df: df
    spark = get_spark(app_name="s3f2-plan-capture", cpus=4)
    for name in names:
        fn = entry_queries.QUERIES[name]
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"# wrote {name}_{tag}.txt ({len(plan)} chars)",
              file=sys.stderr)


if __name__ == "__main__":
    main()
