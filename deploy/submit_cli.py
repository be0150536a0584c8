"""spark-submit entrypoint: run any packaged CLI command on a cluster.

The cluster analog of ``python -m amazon_s3_find_and_forget_spark ...``:
ship the package with --py-files and forward the arguments verbatim to
the CLI — the CLI's session factory keeps the submit's master and
every submitted conf (its own defaults fill in only unset keys), so the
command runs on the cluster the submit targets with the submit's confs
(deploy/README.md has the full recipe):

    spark-submit --py-files s3f2.zip deploy/submit_cli.py \
        --state-dir /mnt/shared/s3f2-state \
        curate --input s3://lake/docs --out s3://lake/curated \
        --steps exact-dedup,decontaminate,gopher,split \
        --benchmark s3://bench/docs

Every CLI command works (curate / select-data / dedup-screen /
compact-index / put-mapper / enqueue / process / vacuum / ...); the
one-line JSON report goes to stdout exactly as in local mode.
"""

from __future__ import annotations

import sys

from amazon_s3_find_and_forget_spark.cli import main

if __name__ == "__main__":
    main(sys.argv[1:])
