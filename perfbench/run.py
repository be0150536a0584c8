"""Erasure and curation benchmark for the find-and-forget engine.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the workload's inputs from
``--seed``, starts one Spark session on ``local[<cores>]``, runs the
workload through the engine's public surface (``api.Engine`` for
erasure, the ``operators`` functions for curation) for at least
``--seconds`` and a fixed number of jobs, times each job in CPU
seconds, checks every output with ``verify.py`` and prints one
JSON object as the last line of standard output. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same workload with
spans, the Spark event log and a serial kernel replay, and reports the
per-layer metrics. Exits non-zero when any output is wrong.

Workloads, metrics and the traced breakdown are described in README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import tracing  # noqa: E402
import verify  # noqa: E402

WORKLOADS = ("trickle", "curate")
SETUP_REPS = 3  # set-up repetitions per run; setup_s takes their median
# untimed jobs / passes between the cold one and the timed loop: the JVM
# is still compiling the engine's hot paths over the first few
WARMUP_UNITS = {"trickle": 2, "curate": 2}
# the timed loop runs at least this many jobs / passes, which takes
# longer than --seconds on a 4-core host, so the units a run measures
# rarely depend on how fast the host happened to be
MIN_UNITS = {"trickle": 5, "curate": 4}

# Jobs are timed in CPU seconds of the whole process tree: on a shared
# host, wall time follows the CPU time other tenants steal (the same
# jobs read 2.6 s and 3.4 s in consecutive runs at 8.5 and 8.9 CPU s), so
# wall latency is printed above the result line but not reported in it.
E2E = {
    "job_cpu_s": "s",
    "cold_job_cpu_s": "s",
    "setup_s": "s",
    "verified_frac": "ratio",
    "bytes_out_per_in": "ratio",
    "write_amp": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "api.process_queue_s": "s",
    "api.self_s": "s",
    "jobs.run_job_s": "s",
    "jobs.self_s": "s",
    "jobs.spark_jobs": "count",
    "matches.column_groups_s": "s",
    "matches.write_manifest_s": "s",
    "data_mappers.read_s": "s",
    "find.s": "s",
    "find.bytes_read": "bytes",
    "find.rows_read_frac": "ratio",
    "find.files_affected": "count",
    "find.tasks": "count",
    "forget.s": "s",
    "forget.objects": "count",
    "forget.tasks": "count",
    "forget.dispatch_overhead_s": "s",
    "parquet_file.decode_s": "s",
    "parquet_file.mask_s": "s",
    "parquet_file.encode_s": "s",
    "parquet_file.bytes_in": "bytes",
    "parquet_file.bytes_out": "bytes",
    "jsonl_file.rewrite_s": "s",
    "jsonl_file.lines_per_s": "1/s",
    "versions.commit_s": "s",
    "operators.exact_dedup_s": "s",
    "operators.score_s": "s",
    "operators.contamination_screen_s": "s",
    "operators.minhash_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.tasks": "count",
    "trace.overhead_s": "s",
}


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every live
    descendant (the Spark JVM and its Python workers), including the
    children they have reaped."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(name))
        ticks[int(name)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def tail(values) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least 10 samples
    beyond it, linearly interpolated; with fewer than 20 samples, the
    median."""
    import numpy as np

    pct = 100.0 * (1 - min(10, len(values) / 2) / len(values))
    return pct, float(np.percentile(values, pct))


# --- session ----------------------------------------------------------------


def start_session(work: str, cores: int, event_dir: str | None):
    from amazon_s3_find_and_forget_spark.session import get_spark

    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # C1 only: with the default tiered C2 compiler the engine is still
        # being recompiled after a dozen jobs, and how far it got moves a
        # job's CPU time by 20% between runs; C1 code is steady after the
        # first job or two
        "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1",
    }
    if event_dir:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --- the run ------------------------------------------------------------------


class Run:
    def __init__(self, args, work: str, cores: int):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.cores = cores
        self.erasure = args.workload != "curate"
        self.problems: list[str] = []
        self.attempted = 0
        self.units: list[dict] = []  # one record per timed job / pass
        self.tracer = None
        self.spark = None

    # set-up ------------------------------------------------------------------

    def setup(self) -> None:
        event_dir = os.path.join(self.work, "events") if self.traced else None
        t0 = time.perf_counter()
        self.spark = start_session(self.work, self.cores, event_dir)
        self.session_start_s = time.perf_counter() - t0
        self.prep_s = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            self._prepare(rep)
            self.prep_s.append(time.perf_counter() - t0)
        self.setup_s = self.session_start_s + median(self.prep_s)
        if self.traced:
            self.tracer = tracing.Tracer(self.spark)

    def _prepare(self, rep: int) -> None:
        """Generate the inputs, restore the lakes and register the mappers."""
        previous = getattr(self, "gen_dir", None)
        self.gen_dir = os.path.join(self.work, f"gen{rep}")
        self.spec = gen.generate(self.workload, self.seed, self.gen_dir)
        if previous:
            shutil.rmtree(previous)
        if not self.erasure:
            self.corpus = os.path.join(self.gen_dir, "corpus")
            return
        from amazon_s3_find_and_forget_spark.api import Engine

        self.lakes = [
            dict(lake, pristine=os.path.join(self.gen_dir, lake["name"]),
                 live=os.path.join(self.work, "lakes", lake["name"]))
            for lake in self.spec["lakes"]
        ]
        for lake in self.lakes:
            shutil.rmtree(lake["live"], ignore_errors=True)
            shutil.copytree(lake["pristine"], lake["live"])
        state = os.path.join(self.work, "state")
        shutil.rmtree(state, ignore_errors=True)
        self.engine = Engine(self.spark, state)
        for lake in self.lakes:
            config = {"Location": lake["live"], "Columns": [lake["id_column"]],
                      "Format": lake["format"]}
            if lake.get("schema"):
                config["Schema"] = lake["schema"]
            self.engine.put_data_mapper(lake["name"], config)

    # erasure -------------------------------------------------------------------

    def _snapshot(self) -> dict:
        out = {}
        for lake in self.lakes:
            for p in verify.lake_files(lake["live"]):
                st = os.stat(p)
                out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
        return out

    def erase(self, ids: list[int]) -> dict:
        """Queue ``ids`` for every mapper and run one deletion job."""
        mappers = [lake["name"] for lake in self.lakes]
        self.engine.enqueue_matches(
            [{"Type": "Simple", "MatchId": i, "DataMappers": mappers} for i in ids]
        )
        before = self._snapshot()
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        if self.tracer and self.tracer.active:
            with self.tracer.span("api.process_queue") as span:
                doc = self.engine.process_queue()
        else:
            span = None
            doc = self.engine.process_queue()
        latency = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        after = self._snapshot()
        changed = [p for p in before if after.get(p) != before[p]]
        self.attempted += 1
        self.problems += verify.job(doc, len(changed))
        return {
            "latency": latency,
            "cpu": cpu,
            "ids": ids,
            "changed": changed,
            "bytes_in": sum(before[p][1] for p in changed),
            "bytes_out": sum(after[p][1] for p in changed if p in after),
            "lake_bytes": sum(v[1] for v in before.values()),
            "span": span,
        }

    def verify_lakes(self, deleted: list[int], survivors: dict) -> None:
        """``survivors``: lake name -> expected (rows, checksum)."""
        for lake in self.lakes:
            check = verify.parquet_lake if lake["format"] == "parquet" else verify.json_lake
            self.problems += check(lake["live"], lake["pristine"], lake["id_column"],
                                   deleted, survivors[lake["name"]])
            self.attempted += lake["objects"]

    def run_trickle(self) -> None:
        jobs = iter(self.spec["jobs"])
        self.cold = self.erase(next(jobs))
        for _ in range(WARMUP_UNITS["trickle"]):
            self.erase(next(jobs))
        self._loop(lambda: self.erase(next(jobs)))
        done = 1 + WARMUP_UNITS["trickle"] + len(self.units)
        deleted = [i for job in self.spec["jobs"][:done] for i in job]
        survivors = {}
        for lake in self.lakes:
            gone = [lake["per_id"][str(i)] for i in deleted]
            survivors[lake["name"]] = (
                lake["rows"] - sum(n for n, _ in gone),
                (lake["checksum"] - sum(c for _, c in gone)) & gen.MASK64,
            )
        self.verify_lakes(deleted, survivors)

    # curation --------------------------------------------------------------------

    def curate_pass(self) -> dict:
        """The curation chain, then MinHash near-dup dedup at t=0.8, written
        as Parquet. In a traced unit each operator's output is materialized
        inside its own span so the operators can be timed apart."""
        from pyspark.sql import functions as F

        from amazon_s3_find_and_forget_spark.operators import dedup, text

        tr = self.tracer if (self.tracer and self.tracer.active) else None

        def stage(name, df, untraced=lambda df: df):
            if tr is None:
                return untraced(df)
            with tr.span(name):
                return df.localCheckpoint(eager=True)

        out_dir = os.path.join(self.work, "curated")
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        docs = self.spark.read.parquet(self.corpus)
        survivors = stage("operators.exact_dedup", dedup.exact_dedup(docs))
        tokd = survivors.withColumn("_ct_toks", text.tokens(F.col("text")))
        scored = text.with_token_count(
            text.with_lang_id(
                text.with_quality(tokd, tokens_col="_ct_toks"),
                tokens_col="_ct_toks",
            ),
            tokens_col="_ct_toks",
        ).select("doc_id", "quality_score", "lang_pred", "n_tokens")
        # the catalog's composition: a lazy barrier before the joins
        scored = stage("operators.score", scored,
                       lambda df: df.localCheckpoint(eager=False))
        bench = docs.where(F.col("doc_id") % 50 == 0)
        flags = stage("operators.contamination_screen",
                      text.contamination_screen(docs, bench, n=3))
        hits = flags.where("contaminated").select("doc_id")
        chain = scored.join(hits, "doc_id", "left_anti").where(
            (F.col("quality_score") >= 0.6) & (F.col("lang_pred") == "en")
        )
        # the chain's output is materialized before the near-dup pass, as
        # a pipeline writing its intermediate result would
        chain = stage("operators.filter", chain,
                      lambda df: df.localCheckpoint(eager=True))
        near_in = chain.join(docs.select("doc_id", "text"), "doc_id")
        if tr is None:
            near = dedup.minhash_dedup(near_in, threshold=0.8)
        else:  # minhash_dedup runs Spark jobs itself: call it in the span
            with tr.span("operators.minhash"):
                near = dedup.minhash_dedup(near_in, threshold=0.8).localCheckpoint(eager=True)
        result = near.select("doc_id", "quality_score", "lang_pred", "n_tokens")
        with tr.span("write") if tr else contextlib.nullcontext():
            result.write.mode("overwrite").parquet(out_dir)
        latency = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        out_bytes = sum(os.path.getsize(os.path.join(out_dir, n))
                        for n in os.listdir(out_dir) if n.endswith(".parquet"))
        self.attempted += 1
        self.problems += verify.curate_output(out_dir, self.spec)
        return {"latency": latency, "cpu": cpu, "bytes_in": self.spec["bytes"],
                "bytes_out": out_bytes, "lake_bytes": self.spec["bytes"]}

    def run_curate(self) -> None:
        self.cold = self.curate_pass()
        for _ in range(WARMUP_UNITS["curate"]):
            self.curate_pass()
        self._loop(self.curate_pass)

    # the timed loop ----------------------------------------------------------

    def _loop(self, step) -> None:
        """Run ``step`` (one deletion job or one curation pass) until
        ``seconds`` have passed, at least MIN_UNITS times. In the traced
        run every other unit is traced; the rest measure the same work
        untraced, for ``trace.overhead_s``."""
        deadline = time.monotonic() + self.seconds
        while len(self.units) < MIN_UNITS[self.workload] or time.monotonic() < deadline:
            i = len(self.units)
            traced = self.tracer is not None and i % 2 == 1
            with self.tracer.unit() if traced else contextlib.nullcontext():
                rec = step()
            rec["traced"] = traced
            self.units.append(rec)

    # metrics ---------------------------------------------------------------------

    def wall_times(self) -> list[str]:
        """Wall latency of the untraced timed units and of the cold one:
        printed for reading, too host-dependent to report."""
        lat = [u["latency"] for u in self.units if not u["traced"]]
        pct, tail_s = tail(lat)
        return [f"job_p50_s {median(lat):.3f} s, job_tail_s (p{pct:.1f}) "
                f"{tail_s:.3f} s over {len(lat)} jobs; cold_job_s "
                f"{self.cold['latency']:.3f} s (wall time)"]

    def end_to_end(self) -> dict:
        """{metric: (value, samples)} over the untraced timed units."""
        units = [u for u in self.units if not u["traced"]]
        bytes_out = sum(u["bytes_out"] for u in units)
        return {
            "job_cpu_s": (median([u["cpu"] for u in units]), len(units)),
            "cold_job_cpu_s": (self.cold["cpu"], 1),
            "setup_s": (self.setup_s, SETUP_REPS),
            "verified_frac": (1.0 - len(self.problems) / max(self.attempted, 1),
                              self.attempted),
            "bytes_out_per_in": (
                bytes_out / max(sum(u["bytes_in"] for u in units), 1), len(units)),
            "write_amp": (
                bytes_out / max(sum(u["lake_bytes"] for u in units), 1), len(units)),
        }

    def run(self) -> None:
        self.marks = [("start", time.perf_counter())]
        self.setup()
        self.marks.append(("setup", time.perf_counter()))
        if self.erasure:
            self.run_trickle()
        else:
            self.run_curate()
        self.marks.append(("workload", time.perf_counter()))


# --- per-layer metrics from the traced units -------------------------------------


def layer_metrics(run: Run) -> tuple[dict, list[str]]:
    """The per-layer metrics and a printable breakdown table. Must be
    called after the session stopped (the event log is complete then)."""
    phases = tracing.spark_phases(os.path.join(run.work, "events"))
    roots = [s for s in run.tracer.roots if s.name == "unit"]
    traced = [u for u in run.units if u["traced"]]
    plain = [u for u in run.units if not u["traced"]]
    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = run.session_start_s
    m["trace.overhead_s"] = (median([u["latency"] for u in traced])
                             - median([u["latency"] for u in plain]))
    per_unit = [tracing.spark_totals(phases, tracing.walk([r])) for r in roots]
    m["spark.executor_cpu_s"] = median([t["cpu_s"] for t in per_unit])
    m["spark.shuffle_bytes"] = median([t["shuffle_bytes"] for t in per_unit])
    m["spark.spill_bytes"] = median([t["spill_bytes"] for t in per_unit])
    m["spark.tasks"] = median([t["tasks"] for t in per_unit])
    table = breakdown(roots, phases)

    def span_s(parents, name):
        return median([sum(c.duration for c in p.children if c.name == name)
                       for p in parents])

    def phase_stat(parents, name, key):
        return median([tracing.spark_totals(
            phases, [c for c in p.children if c.name == name])[key]
            for p in parents])

    if not run.erasure:
        for op in ("exact_dedup", "score", "contamination_screen", "minhash"):
            m[f"operators.{op}_s"] = span_s(roots, f"operators.{op}")
        return m, table

    spans = [j["span"] for j in traced]
    runs = [_child(s, "jobs.run_job") for s in spans]
    m["api.process_queue_s"] = median([s.duration for s in spans])
    m["api.self_s"] = median([s.self_time for s in spans])
    m["jobs.run_job_s"] = median([r.duration for r in runs])
    m["jobs.self_s"] = median([r.self_time for r in runs])
    m["jobs.spark_jobs"] = median(
        [tracing.spark_totals(phases, tracing.walk([r]))["jobs"] for r in runs])
    m["matches.column_groups_s"] = span_s(runs, "matches.column_groups")
    m["matches.write_manifest_s"] = span_s(runs, "matches.write_manifest")
    m["data_mappers.read_s"] = span_s(runs, "data_mappers.read")
    m["find.s"] = span_s(runs, "find")
    m["find.bytes_read"] = phase_stat(runs, "find", "bytes_read")
    m["find.rows_read_frac"] = (phase_stat(runs, "find", "records_read")
                                / sum(lake["rows"] for lake in run.lakes))
    m["find.tasks"] = phase_stat(runs, "find", "tasks")
    m["find.files_affected"] = median([len(j["changed"]) for j in traced])
    m["forget.s"] = span_s(runs, "forget")
    m["forget.objects"] = median([sum(c.attrs["objects"] for c in r.children
                                      if c.name == "forget") for r in runs])
    m["forget.tasks"] = phase_stat(runs, "forget", "tasks")
    replays = [kernel_replay(run, j) for j in traced]
    # per forget call: its wall time minus the serial kernel time of the
    # same objects spread over the cores the call could use
    m["forget.dispatch_overhead_s"] = median([
        sum(c.duration - rep[c.attrs["fmt"]]["kernel_s"]
            / max(min(run.cores, rep[c.attrs["fmt"]]["objects"]), 1)
            for c in r.children if c.name == "forget")
        for r, rep in zip(runs, replays)
    ])
    m["versions.commit_s"] = median([sum(k["commit_s"] for k in rep.values())
                                     for rep in replays])
    pq_reps = [rep["parquet"] for rep in replays if "parquet" in rep]
    for key in ("decode_s", "mask_s", "encode_s", "bytes_in", "bytes_out"):
        m[f"parquet_file.{key}"] = median([k[key] for k in pq_reps])
    js_reps = [rep["json"] for rep in replays if "json" in rep]
    m["jsonl_file.rewrite_s"] = median([k["rewrite_s"] for k in js_reps])
    m["jsonl_file.lines_per_s"] = median([k["lines"] / k["rewrite_s"] for k in js_reps])
    return m, table


def _child(span, name):
    for c in span.children:
        if c.name == name:
            return c
    raise LookupError(f"{span.name} has no {name} child")


def kernel_replay(run: Run, job: dict) -> dict:
    """Serial in-process rewrite of the objects ``job`` changed (their
    pristine copies, the job's match ids), per lake format."""
    out = {}
    for lake in run.lakes:
        paths = [os.path.join(lake["pristine"], os.path.basename(p))
                 for p in job["changed"] if os.path.dirname(p) == lake["live"]]
        if paths:
            spec = [{"Type": "Simple", "Column": lake["id_column"],
                     "MatchIds": list(job["ids"])}]
            replay = tracing.replay_parquet if lake["format"] == "parquet" else tracing.replay_json
            out[lake["format"]] = replay(paths, spec, os.path.join(run.work, "replay"))
    return out


def breakdown(roots, phases) -> list[str]:
    """Median total and self time per span name over the traced units,
    with the Spark work its phases ran. Self times sum to the unit wall."""
    per_name: dict[str, list] = {}
    for root in roots:
        acc: dict[str, list] = {}
        for s in tracing.walk([root]):
            acc.setdefault(s.name, []).append(s)
        for name, spans in acc.items():
            t = tracing.spark_totals(phases, spans)
            per_name.setdefault(name, []).append((
                sum(s.duration for s in spans), sum(s.self_time for s in spans),
                t["jobs"], t["cpu_s"], t["tasks"], t["shuffle_bytes"]))
    lines = [f"{'span':28} {'total_s':>8} {'self_s':>8} {'jobs':>5} "
             f"{'cpu_s':>7} {'tasks':>6} {'shuffle_B':>10}"]
    self_sum = 0.0
    for name, rows in per_name.items():
        cols = [median([r[i] for r in rows]) for i in range(6)]
        self_sum += cols[1]
        lines.append(f"{name:28} {cols[0]:8.3f} {cols[1]:8.3f} {cols[2]:5.0f} "
                     f"{cols[3]:7.2f} {cols[4]:6.0f} {cols[5]:10.0f}")
    wall = median([r.duration for r in roots])
    lines.append(f"{'sum of self_s (unit wall)':28} {self_sum:8.3f} ({wall:.3f})")
    return lines


# --- entry point ----------------------------------------------------------------


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    import amazon_s3_find_and_forget_spark  # noqa: F401  fail before any work

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args, work, cores)
    try:
        run.run()
        stop_session(run.spark)
        run.spark = None
        run.marks.append(("stop", time.perf_counter()))
        if run.traced:
            metrics, table = layer_metrics(run)
            units = PER_LAYER
            n = sum(u["traced"] for u in run.units)
            rows = [(k, v, n) for k, v in metrics.items()]
        else:
            e2e = run.end_to_end()
            metrics = {k: v[0] for k, v in e2e.items()}
            units = E2E
            rows = [(k, *v) for k, v in e2e.items()]
            table = run.wall_times()
    finally:
        if run.spark is not None:
            stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    for line in table:
        print(line)
    print("run phases: " + ", ".join(
        f"{name} {t - run.marks[i][1]:.2f} s" for i, (name, t) in enumerate(run.marks[1:])))
    for name, value, samples in rows:
        print(f"{name:34} {value:16.6f} {units[name]:6} n={samples}")
    for p in run.problems:
        print(f"FAILED: {p}")
    correct = not run.problems
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": len(run.problems),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
