"""Round-17 optimization harness: per-stage profile of one catalog query.

Runs ONE query with the Spark event log enabled, then parses the log and
prints a per-stage table: stage name-ish description, task count, total
executor run time, GC time, shuffle read/write bytes, input bytes, and
wall-clock span — the quiet-rig substitute for the (disabled) Spark UI.

Usage:
    python tools/profile_stages.py [--sf DIR] query
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile
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
    names = []
    extra: dict[str, str] = {}
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        elif args[i] == "--conf":
            # repeated k=v session-conf overrides for config A/Bs
            k, v = args[i + 1].split("=", 1)
            extra[k] = v; i += 2
        else:
            names.append(args[i]); i += 1

    logdir = tempfile.mkdtemp(prefix="s3f2-eventlog-")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="s3f2-stageprof",
        cpus=cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logdir,
            "spark.eventLog.compress": "false",
            **extra,
        },
    )
    entry_queries.load(spark, sf_dir, "region").count()
    from pyspark.sql.functions import col, pandas_udf

    _warm = pandas_udf(lambda s: s, "long")
    spark.range(100_000).repartition(cpus).select(_warm(col("id"))).count()

    for name in names:
        fn = _resolve(name)
        spark.sparkContext.setJobDescription(f"PROF:{name}")
        start = time.perf_counter()
        n = fn(spark, sf_dir).count()
        wall = time.perf_counter() - start
        print(f"\n=== {name}: {wall:.3f}s ({n} rows) ===")
        spark.sparkContext.setJobDescription(None)
        spark.catalog.clearCache()

    spark.stop()

    # parse the event log
    stages = {}  # id -> dict
    jobs = {}
    paths = []
    for p in glob.glob(os.path.join(logdir, "*")):
        paths.extend(glob.glob(os.path.join(p, "*")) if os.path.isdir(p)
                     else [p])
    for path in paths:
        if os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except Exception:
                    continue
                et = ev.get("Event")
                if et == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    )
                    jobs[jid] = {
                        "desc": desc,
                        "stages": [s["Stage ID"] for s in ev.get(
                            "Stage Infos", []
                        )],
                        "t0": ev.get("Submission Time", 0),
                    }
                elif et == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = ev.get("Completion Time", 0)
                elif et == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sid = si["Stage ID"]
                    st = stages.setdefault(sid, {
                        "run_ms": 0, "gc_ms": 0, "cpu_ns": 0,
                        "sh_read": 0, "sh_write": 0, "input": 0,
                        "spill": 0, "py_ms": 0,
                    })
                    st["name"] = si.get("Stage Name", "")
                    st["tasks"] = si.get("Number of Tasks", 0)
                    st["t0"] = si.get("Submission Time", 0)
                    st["t1"] = si.get("Completion Time", 0)
                elif et == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    st = stages.setdefault(sid, {
                        "name": "?", "tasks": 0, "run_ms": 0, "gc_ms": 0,
                        "cpu_ns": 0, "sh_read": 0, "sh_write": 0,
                        "input": 0, "spill": 0, "py_ms": 0, "t0": 0, "t1": 0,
                    })
                    tm = ev.get("Task Metrics") or {}
                    st["run_ms"] += tm.get("Executor Run Time", 0)
                    st["gc_ms"] += tm.get("JVM GC Time", 0)
                    st["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    st["spill"] += tm.get("Disk Bytes Spilled", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st["sh_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st["sh_write"] += sw.get("Shuffle Bytes Written", 0)
                    im = tm.get("Input Metrics") or {}
                    st["input"] += im.get("Bytes Read", 0)

    def mb(b):
        return f"{b / (1 << 20):8.1f}M"

    for jid in sorted(jobs):
        j = jobs[jid]
        jwall = (j.get("t1", 0) - j.get("t0", 0)) / 1000.0
        print(f"\nJob {jid} [{j['desc'][:60]}] wall={jwall:.2f}s")
        for sid in sorted(j["stages"]):
            s = stages.get(sid)
            if not s or not s.get("t1"):
                continue
            span = (s["t1"] - s["t0"]) / 1000.0
            print(
                f"  stage {sid:4} span={span:7.2f}s run={s['run_ms']/1000.0:8.1f}s "
                f"cpu={s['cpu_ns']/1e9:8.1f}s gc={s['gc_ms']/1000.0:6.1f}s "
                f"in={mb(s['input'])} shR={mb(s['sh_read'])} "
                f"shW={mb(s['sh_write'])} spill={mb(s['spill'])} "
                f"tasks={s['tasks']:4}  {s['name'][:70]}"
            )
    print(f"\n(event log: {logdir})")


if __name__ == "__main__":
    main()
