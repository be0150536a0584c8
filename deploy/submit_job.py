"""spark-submit entrypoint: run a Find->Forget deletion job on a cluster.

The production analog of the reference's state-machine execution
(/root/reference/docs/USER_GUIDE.md "Deleting matches"): register
mappers, enqueue matches, run the job, print the job document as one
JSON line. Self-contained — ship the package with --py-files (see
deploy/README.md for the full recipe) and drive everything from args:

    spark-submit --py-files s3f2.zip deploy/submit_job.py \
        --state-dir s3://bucket/s3f2-state \
        --mapper lineitem=s3://lake/lineitem:l_orderkey:parquet \
        --match-id 12345 --match-id 67890 [--dry-run]

--mapper is NAME=LOCATION:COLUMN[,COLUMN...][:FORMAT] (repeatable);
mappers already present in the state dir are reused, so a standing
deployment can omit --mapper entirely. --dry-run executes the Find
phase only and prints per-mapper affected-row/file counts.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_mapper(spec: str):
    name, _, rest = spec.partition("=")
    if not name or ":" not in rest:
        raise SystemExit(
            f"--mapper {spec!r}: expected NAME=LOCATION:COL[,COL..][:FORMAT]"
        )
    parts = rest.rsplit(":", 2)
    if len(parts) == 3 and parts[2] in ("parquet", "json"):
        location, cols, fmt = parts
    else:
        location, cols = rest.rsplit(":", 1)
        fmt = "parquet"
    return name, {
        "Location": location,
        "Columns": [c for c in cols.split(",") if c],
        "Format": fmt,
    }


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--state-dir", required=True)
    p.add_argument("--mapper", action="append", default=[],
                   metavar="NAME=LOCATION:COL[,COL..][:FORMAT]")
    p.add_argument("--match-id", action="append", default=[])
    p.add_argument("--dry-run", action="store_true",
                   help="Find phase only: report affected counts, "
                   "rewrite nothing")
    args = p.parse_args(argv)
    if not args.match_id:
        p.error("at least one --match-id is required")

    # Under spark-submit, get_spark keeps the submitted master and every
    # submitted conf: its own scale defaults (shuffle partitions, AQE,
    # Arrow, ...) fill in only the keys the submit left unset.
    from amazon_s3_find_and_forget_spark.api import Engine
    from amazon_s3_find_and_forget_spark.session import get_spark

    spark = get_spark(app_name="s3f2-deletion-job")
    eng = Engine(spark, args.state_dir)

    for spec in args.mapper:
        name, cfg = parse_mapper(spec)
        eng.put_data_mapper(name, cfg)

    if args.dry_run:
        from amazon_s3_find_and_forget_spark.matches import (
            QueueItem,
            build_column_groups,
            route_items,
        )
        from amazon_s3_find_and_forget_spark.plans.find import (
            find_affected_files,
        )

        items = [QueueItem(match_id=m) for m in args.match_id]
        counts = {}
        for mid, cfg in eng.list_data_mappers().items():
            mapper = eng._mapper_from(mid, cfg)
            routed = route_items(items, mid)
            if not routed:
                continue
            df = mapper.read(spark)
            groups = build_column_groups(df.schema, mapper.columns, routed)
            counts[mid] = {
                "AffectedFiles": find_affected_files(df, groups).count()
            }
        print(json.dumps({"DryRun": True, "Mappers": counts}))
        return 0

    # enqueue ONLY on the real path: a dry run must leave the persistent
    # deletion queue untouched, or a later unrelated submit would delete
    # data the operator merely previewed
    eng.enqueue_matches([{"MatchId": m} for m in args.match_id])
    job = eng.process_queue()
    print(json.dumps(job))
    return 0 if job.get("JobStatus") == "COMPLETED" else 1


if __name__ == "__main__":
    sys.exit(main())
