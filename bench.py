"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Includes an end-to-end find+forget deletion job over a multi-file copy of
lineitem — the reference's whole reason to exist — plus the heaviest
analytic / dedup / similarity queries.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from amazon_s3_find_and_forget_spark import entry_queries  # noqa: E402
from amazon_s3_find_and_forget_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

BENCH_QUERIES = [
    "find_rows_simple",
    "forget_survivors_simple",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "events_hourly",
    "events_sessions",
    "dedup_exact_survivors",
    "dedup_minhash_survivors",
    "dedup_minhash_survivors_t08",
    "dedup_simhash_pairs",
    "text_quality",
    "text_lang_id",
    "similarity_cosine",
    "job_stats_fold",
    # round 13: DSIR Gumbel-top-k selection (fit + score + cut), the
    # round's new heavy text operator, timed where the driver measures
    "text_dsir_sample",
]

# The sf1 lane swaps the permuted-corpus SimHash row for the v2
# near-dup-corpus row (round-15, r14 verdict ask #1): the sf1
# dedup_simhash_pairs cell carried the round-14 record's only tripwire
# flag (4.386 s vs calibrated floor 2.058 on UNTOUCHED code — the same
# same-code JIT/weather banding that retired the sf10 sibling in round
# 14), and a floor-continuity cell that can only false-flag is
# measurement debt. documents_v2 exists in every derived lane dir, so
# the lane now measures SimHash on real near-dup structure at both
# scales; the permuted row still runs at sf0.1 (where its band is
# stable) and stays oracle-gated via dedup_simhash_complete. Archived
# sf1 floors: SCALE.md (round-15 entry).
SF1_QUERIES = [
    "dedup_simhash_pairs_v2" if q == "dedup_simhash_pairs" else q
    for q in BENCH_QUERIES
]


def ensure_sf1(base_dir: str) -> str | None:
    """Derive (once, ~7 s, cached by marker) the 10x-tiled sf1 dataset for
    the second bench lane. Shuffle-bound regressions (tpch_q5/q3, the
    dedup joins) only show where they actually bite — at the bigger
    scale — so BENCH records both lanes per round. Returns None (lane
    skipped) when disabled, when benching a non-standard dir, or when
    derivation fails."""
    if os.environ.get("SPARK_GRAFT_BENCH_SF1", "1") != "1":
        return None
    if os.path.basename(base_dir.rstrip("/")) != "sf0.1":
        return None  # only the standard lane gets a derived big sibling
    out = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/s3f2-sf1-bench")
    # marker is VERSIONED: bumping it invalidates lanes derived by an
    # older generator (v4: class-conditional marker vocabulary in tiled
    # documents copies, round 14 — keeps classifier/DSIR claims
    # assertable at lane scale; v3 was the multi-file/bounded-row-group
    # layout + the documents_v2 near-dup corpus, round 13)
    marker = os.path.join(out, "_complete_v4")
    if os.path.exists(marker):
        return out
    import subprocess

    tool = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tools", "make_scale_data.py")
    try:
        subprocess.run(
            [sys.executable, tool, out, "--src", base_dir, "--mult", "10"],
            check=True, capture_output=True, timeout=600,
        )
        with open(marker, "w") as f:
            f.write("ok")
        return out
    except Exception as e:  # noqa: BLE001 — lane is optional
        print(f"# sf1 lane skipped: {type(e).__name__}: {e}", file=sys.stderr)
        return None


def ensure_sf10(sf1_dir: str | None) -> str | None:
    """Derive (once, ~45 s, cached by marker) the 100x dataset for the
    third lane by tiling the sf1 lane 10x further: 60M-row lineitem,
    500k-doc corpus, 200k embeddings (~1.5 GB parquet). The lane that
    converts 100-TB design claims from sf1 extrapolation into measured
    scaling exponents — round 12 it caught an O(len^2) expression
    blowup and a planner broadcast OOM that sf1 never exposed."""
    if os.environ.get("SPARK_GRAFT_BENCH_SF10", "1") != "1":
        return None
    if sf1_dir is None:
        return None  # sf10 tiles the sf1 lane; no sf1, no sf10
    out = os.environ.get("SPARK_GRAFT_SF10_DIR", "/tmp/s3f2-sf10-bench")
    marker = os.path.join(out, "_complete_v4")
    if os.path.exists(marker):
        return out
    import subprocess

    tool = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tools", "make_scale_data.py")
    try:
        subprocess.run(
            [sys.executable, tool, out, "--src", sf1_dir, "--mult", "10"],
            check=True, capture_output=True, timeout=900,
        )
        with open(marker, "w") as f:
            f.write("ok")
        return out
    except Exception as e:  # noqa: BLE001 — lane is optional
        print(f"# sf10 lane skipped: {type(e).__name__}: {e}",
              file=sys.stderr)
        return None


# The sf10 lane runs the HEAVIES once each (min-of-1: the lane exists to
# catch scaling-shape breaks, not to band sub-second noise).
# dedup_minhash_survivors (t=0.5 legacy r=4 banding) is deliberately
# absent: measured at sf10, that layout generates 1.03e9 band-collision
# candidate pairs on this corpus (max bucket 16k docs) vs 598k pairs for
# the tuned t=0.8 layout — a pathological operating point, not a lane
# query; the analysis lives in SCALE.md.
# text_contamination is NOT here although it is a heavy: its catalog
# shape ends in a left-outer flag join that .count() lets Catalyst
# eliminate entirely, so a bench count would time a bare scan (the
# curation pipeline exercises the same screen through an inner join
# that cannot be eliminated).
SF10_QUERIES = [
    "tpch_q5",
    "dedup_minhash_survivors_t08",
    "dedup_simhash_pairs_v2",
    "dedup_clusters_minhash",
    "dedup_span_removal",
    "text_curation_pipeline",
    "text_curation_pipeline_v2",
    "text_stratified_sample",
    "text_dsir_sample",
    "text_llm_pipeline",
    # round 14: density-based pruning claims (Sorscher 2022) over the
    # 200k-vector corpus — k-means train + 3 prune passes + separation
    # aggregates; the claims must HOLD at scale, not just time
    "similarity_prototype_prune",
    # round 14: the composed embedding pipeline (exact PCA -> prune ->
    # SemDeDup, built TWICE for the determinism claim) at 200k vectors
    "similarity_llm_pipeline",
    # round 14: paragraph-level exact dedup (C4/Dolma granularity) over
    # the deterministically paragraph-ized 500k-doc corpus
    "dedup_paragraphs",
    # round 15: ExactSubstr (Lee et al. 2021) — variable-length verbatim
    # repeat removal via hash-counted + string-verified 20-token
    # windows; the tiled lane corpus is a worst case (nearly every
    # window duplicated ~100x), so this cell prices the verify phase's
    # duplicated-mass bound, not a sparse-dup best case
    "dedup_exact_substrings",
    # round 15: Bloom screening claims asserted at the decade — the
    # row builds the filter over 333k history docs, screens the 167k
    # arriving batch, and cross-checks against the exact screen
    "dedup_incremental_bloom",
]
# Round-13 lane additions:
# - dedup_simhash_pairs_v2 runs over the documents_v2 near-dup variant
#   corpus (linear pair mass by construction) so SimHash wall-clock
#   measures the engine, not the permuted corpus's output-quadratic
#   artifact. Lane-only: documents_v2 exists only in derived dirs.
#   The permuted-corpus dedup_simhash_pairs row was RETIRED round 14
#   (r13 verdict ask #4): its recorded spreads ([35.0, 11.9] closing,
#   [49.8, 37.1] dev — a 4x same-code JIT band) could only false-flag;
#   floors archived in SCALE.md.
# - dedup_clusters_minhash is the transitive-components soak at scale:
#   CC over the MinHash pair source that completes at 500k docs (the
#   exact n-gram pair source dedup_components gates on DNFs at sf10).
# - text_stratified_sample gives the lane a map-heavy text query whose
#   sf10 output is NON-empty (the curation pipeline's 0-row sf10 result
#   is semantically explained but a dead regression canary on its own).
# - text_curation_pipeline_v2 runs the SAME composed pipeline over the
#   v2 corpus, where the screen doesn't flag everything — a non-empty
#   curation canary. Since round 14 it is a gated catalog row
#   (corpus-adaptive: documents_v2 here, a synthesized SQL-replicable
#   near-dup variant in gate/sweep dirs).
# - text_dsir_sample soaks the round-13 DSIR fit+score+cut at 500k docs.
# - text_llm_pipeline soaks the composed decontaminate -> Gopher-filter
#   -> DSIR-select chain (sf1 9.9s -> sf10 26.4s, 2.7x for 10x; each
#   stage's gram/feature work is corpus-linear, the cut is k-bounded).


def _resolve_query(name: str):
    """Catalog lookup plus the lane-only rows: queries over corpora
    that exist only in derived scale dirs (``documents_v2``) are not in
    the sweep registry — see catalog/dedup.py — but both derived lanes
    time them."""
    if name == "dedup_simhash_pairs_v2":
        from amazon_s3_find_and_forget_spark.catalog.dedup import (
            q_dedup_simhash_pairs_v2,
        )

        return q_dedup_simhash_pairs_v2
    return entry_queries.QUERIES[name]


def bench_find_forget_job(spark, sf_dir: str = None) -> float:
    """End-to-end deletion job over a 16-file copy of lineitem."""
    from amazon_s3_find_and_forget_spark.data_mappers import DataMapper
    from amazon_s3_find_and_forget_spark.jobs import run_job
    from amazon_s3_find_and_forget_spark.matches import QueueItem

    workdir = tempfile.mkdtemp(prefix="s3f2-bench-")
    lake = os.path.join(workdir, "lineitem")
    try:
        src = entry_queries.load(spark, sf_dir or SF_DIR, "lineitem")
        src.repartition(16).write.parquet(lake)
        mapper = DataMapper("lineitem", lake, ["l_orderkey"], format="parquet")
        items = [QueueItem(match_id=k) for k in entry_queries.MATCH_ORDERKEYS]
        start = time.perf_counter()
        result = run_job(spark, [mapper], items)
        elapsed = time.perf_counter() - start
        assert result.status == "COMPLETED", result.status
        return elapsed
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def run_suite(
    spark,
    sf_dir: str,
    runs: int,
    label: str,
    queries: list[str] = BENCH_QUERIES,
) -> dict[str, float]:
    """Min-of-``runs`` per query over one sf dir (one lane)."""
    timings: dict[str, float] = {}
    for name in queries:
        fn = _resolve_query(name)
        best, n = None, 0
        for _ in range(runs):
            start = time.perf_counter()
            n = fn(spark, sf_dir).count()
            elapsed = time.perf_counter() - start
            best = elapsed if best is None else min(best, elapsed)
        timings[name] = round(best, 3)
        print(f"# [{label}] {name}: {timings[name]}s ({n} rows)", file=sys.stderr)
        # drop caches a query persisted so queries don't interfere
        # (within a query's runs, plan-keyed cache reuse is a real
        # engine feature and stays), and release the queries'
        # localCheckpoint blocks NOW: they are freed by the
        # ContextCleaner only after GC notices the dropped DataFrames,
        # and letting them pile up produces multi-second GC spikes
        # inside later queries' timed runs
        spark.catalog.clearCache()
        import gc as _gc

        _gc.collect()
        spark.sparkContext._jvm.System.gc()

    timings["find_forget_job"] = round(
        min(bench_find_forget_job(spark, sf_dir) for _ in range(runs)), 3
    )
    print(
        f"# [{label}] find_forget_job: {timings['find_forget_job']}s",
        file=sys.stderr,
    )
    return timings


CAL_WORKLOAD = "range150m-xxhash64-xoragg-mod65536-p32-v1"


def calibration_probe(spark, runs: int = 3) -> float:
    """Fixed pure-JVM workload with a pinned plan, timed min-of-``runs``.

    The host this bench runs on drifts: round 10 measured identical
    code +24 % suite-over-suite (driver) and a further +27 % (judge
    rerun) — pure neighbor load. A row's seconds alone cannot tell a
    slow host from a slow plan, so every BENCH record carries this
    probe as its reader's reference for host weather. The workload is all
    whole-stage-codegen arithmetic (range -> xxhash64 -> partial
    hash-agg over 65536 groups, one tiny exchange) with partition count
    pinned at 32 regardless of $SPARK_GRAFT_CPUS, so the number is
    comparable across rounds even if the session shape changes."""
    from pyspark.sql import functions as F

    best = None
    for _ in range(runs):
        start = time.perf_counter()
        (
            spark.range(0, 150_000_000, 1, 32)
            .groupBy((F.col("id") % 65536).alias("k"))
            # xor-fold: overflow-free under ANSI mode, still one
            # xxhash64 per row inside whole-stage codegen
            .agg(F.expr("bit_xor(xxhash64(id))").alias("h"))
            .selectExpr("bit_xor(h) AS total")
            .collect()
        )
        elapsed = time.perf_counter() - start
        best = elapsed if best is None else min(best, elapsed)
    return round(best, 3)


def shuffle_probe(spark, runs: int = 2) -> dict:
    """Pinned corpus-scale SHUFFLE workload, timed min-of-``runs`` —
    the machinery the arithmetic probe is blind to.

    Round-17 evidence for why this exists: at identical data (sweep
    row counts byte-identical to r16) and untouched operator code, the
    shuffle-heavy sf10 dedup rows ran 1.5-2x their bands while the
    arithmetic calibration probe read FASTER than the prior round
    (0.584 vs 0.673) and both io probes sat mid-range — and the
    driver's own r16-closing record shows the same elevated regime at
    cal 0.577 (simhash_v2 68.7 single-sample, clusters 14.6) where the
    builder's same-HEAD closing run hours earlier recorded 9.7/22.3 at
    cal 0.673. The host oscillates between two parallel-throughput
    regimes (shared-infra memory bandwidth / shuffle-spill disk) that
    neither the single-plan codegen probe nor the sequential-write
    probe spans. This workload — 12M md5-string rows through a
    64-partition hash exchange + wide agg — moves ~0.5 GiB through
    serialization, shuffle block write/read on spark.local.dir, and
    the sort/agg memory path, so its seconds track exactly the
    resource those rows burn."""
    from pyspark.sql import functions as F

    best = None
    for _ in range(runs):
        start = time.perf_counter()
        (
            spark.range(0, 12_000_000, 1, 32)
            .select(
                F.md5(F.col("id").cast("string")).alias("k"),
                F.col("id").alias("v"),
            )
            .repartition(64, "k")
            .groupBy(F.substring("k", 1, 6).alias("g"))
            .agg(F.count("*").alias("n"), F.max("k").alias("m"))
            .agg(F.count("*").alias("c"), F.max("m").alias("mm"))
            .collect()
        )
        elapsed = time.perf_counter() - start
        best = elapsed if best is None else min(best, elapsed)
    return {
        "value": round(best, 3),
        "unit": "sec",
        "workload": f"shuffle-12M-md5-repart64-agg-min{runs}-v1",
    }


def io_probe(runs: int = 2, mib: int = 256) -> dict:
    """Sequential write+fsync bandwidth (MiB/s, max-of-``runs``) on the
    filesystem the write-heavy lane row actually writes to.

    The CPU calibration probe is blind to DISK weather, and exactly one
    lane row cares: ``find_forget_job`` is the suite's only write-heavy
    query (its forget rewrite moves ~2 GiB through the page cache at
    sf10). Round-14 bisect data: across three sessions the row's raw
    min tracked this probe's reading (197-536 MiB/s, oscillating by
    minutes) while the CPU probe sat flat at 0.62-0.65 s — so a
    reading of that row is weighed against this probe, not the CPU
    one. Max-of-runs because bandwidth is a capacity: the best observed rate
    is the host's ability, the worst is neighbor interference.

    Probe hygiene (round-15, ADVICE): the buffer is ``mib`` MiB of
    FRESH urandom — writing one reused 1-MiB buffer 256 times lets a
    deduplicating/compressing filesystem fold the stream and report
    memory bandwidth instead of the lane's real write path. The probed
    directory is ``tempfile.gettempdir()`` because that IS where
    ``bench_find_forget_job`` puts its lake (``tempfile.mkdtemp`` with
    no ``dir``), and it is recorded in the JSON so the reading stays
    interpretable: if that path is tmpfs, the lane's rewrite hits the
    same tmpfs and the probe still prices the right medium.

    Two regimes, two fields (round 16): the 256 MiB default measures
    BURST bandwidth — cloud volumes serve short writes from a credit
    bucket at a rate multi-GiB writes cannot sustain (measured same
    session this round: 500 MiB/s burst vs 197 MiB/s sustained on this
    host, while the sf10 lane row's rewrite moves ~3 GiB). ``main``
    therefore records a second reading at ``mib=1024`` as
    ``calibration_io_sustained``.
    """
    probe_dir = tempfile.gettempdir()
    path = os.path.join(probe_dir, "_s3f2_io_probe.bin")
    data = os.urandom(mib << 20)  # incompressible AND dedup-proof
    best = 0.0
    try:
        for _ in range(runs):
            start = time.perf_counter()
            with open(path, "wb") as f:
                for off in range(mib):
                    f.write(data[off << 20:(off + 1) << 20])
                f.flush()
                os.fsync(f.fileno())
            best = max(best, mib / (time.perf_counter() - start))
    finally:
        try:
            os.remove(path)
        except OSError:
            pass
    return {
        "value": round(best, 1),
        "unit": "MiB/s",
        "workload": f"seq-write-fsync-{mib}MiB-fresh-max{runs}",
        "path": probe_dir,
    }


def sf10_should_retry(
    name: str,
    runs: list[float],
    watch,
    rerun_under: float = 60.0,
    spread_third: float = 1.25,
) -> bool:
    """Whether the sf10 lane takes another sample after ``runs``.

    Watch rows always run min-of-3: their first samples sat near the
    60 s cutoff and a single weather-inflated sample is what min-of-1
    would record. Other rows at or above the cutoff stay min-of-1; they
    exist to catch scaling-shape breaks, and a second multi-minute run
    buys no noise rejection worth its wall-clock. Sub-cutoff rows run
    min-of-2 with a third sample when the two spread past
    ``spread_third``."""
    if len(runs) >= 3:
        return False
    if name in watch:
        return True
    if runs[-1] >= rerun_under:
        return False
    want = 2
    if len(runs) >= 2 and max(runs) > spread_third * min(runs):
        want = 3
    return len(runs) < want



def main():
    spark = get_spark(app_name="s3f2-bench", cpus=CPUS)
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")

    # warm the JVM/codegen and the Arrow python-UDF worker pool on trivial
    # actions (worker spawn + pandas import would otherwise be billed to
    # the first pandas_udf query)
    entry_queries.load(spark, SF_DIR, "region").count()
    from pyspark.sql.functions import col, pandas_udf

    _warm = pandas_udf(lambda s: s, "long")
    # repartition so ALL worker slots spawn their python process now
    spark.range(100_000).repartition(CPUS).select(_warm(col("id"))).count()

    # min of RUNS runs per query: the engine's cost is the minimum; the
    # delta between runs is host/JIT noise (this rig shows 2-4x run-to-run
    # variance under neighbor load, with identical plans)
    RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    cal = calibration_probe(spark, RUNS)
    print(f"# calibration probe: {cal}s ({CAL_WORKLOAD})", file=sys.stderr)
    timings = run_suite(spark, SF_DIR, RUNS, f"sf{sf}")
    total = round(sum(timings.values()), 3)

    out = {
        "metric": f"headline suite wall-clock (min of {RUNS} runs/query)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "calibration": {"value": cal, "workload": CAL_WORKLOAD},
        "calibration_io": io_probe(),
        # sustained regime (1 GiB): what a multi-GiB rewrite actually
        # gets on a burst-credit volume (round 16)
        "calibration_io_sustained": io_probe(runs=1, mib=1024),
        # parallel shuffle/memory regime (round 17)
        "calibration_shuffle": shuffle_probe(spark),
    }

    # second lane: the same suite at 10x data (derived once, cached) so
    # shuffle-bound scaling regressions are measured per round, not once
    sf1_dir = ensure_sf1(SF_DIR)
    if sf1_dir:
        sf1 = run_suite(spark, sf1_dir, RUNS, "sf1", SF1_QUERIES)
        out["sf1"] = {"value": round(sum(sf1.values()), 3), "queries": sf1}
        # Claim soak at lane scale (round 14, r13 verdict ask #5): the
        # v4 corpora carry a class-conditional vocabulary shift, so the
        # classifier's AUC/calibration/tilt/kept booleans must hold at
        # sf1 (measured AUC 0.9955 vs 0.58 on the v3 attenuated
        # markers) — asserted here, not just timed, and recorded.
        try:
            claims = entry_queries.QUERIES["text_quality_classifier"](
                spark, sf1_dir
            ).collect()[0].asDict()
            bools = {k: v for k, v in claims.items() if isinstance(v, bool)}
            out["sf1"]["claims"] = {"text_quality_classifier": bools}
            if not all(bools.values()):
                print(f"# [sf1] CLAIM FAILURE text_quality_classifier: "
                      f"{bools}", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 — lane is optional
            out["sf1"]["claims"] = {
                "text_quality_classifier": f"ERR {type(e).__name__}: {e}"
            }
        spark.catalog.clearCache()

    # third lane: the heavies at 100x. Rows under SF10_RERUN_UNDER run
    # min-of-2 with the spread recorded (round-12 verdict ask #6: a
    # single 3-48 s sample on a shared rig will eventually false-flag a
    # "scaling regression"); rows at or above the bound stay min-of-1 —
    # they exist to catch scaling-SHAPE breaks, and a second multi-minute
    # run buys no noise rejection worth its wall-clock.
    sf10_dir = ensure_sf10(sf1_dir)
    if sf10_dir:
        SF10_RERUN_UNDER = 60.0
        sf10: dict[str, float] = {}
        sf10_spread: dict[str, list[float]] = {}
        sf10_errors: dict[str, str] = {}

        def _lane_gc():
            spark.catalog.clearCache()
            import gc as _gc

            _gc.collect()
            spark.sparkContext._jvm.System.gc()

        # Watch cells (r15 verdict ask #2): text_llm_pipeline and
        # dedup_paragraphs drifted >20% between r14 and r15 on UNTOUCHED
        # code, with a same-HEAD rerun contradicting the drift — classic
        # min-of-2 weather on a shared rig. These rows always take a
        # third sample; any other row whose two samples spread past 25%
        # earns a spread-triggered third. min-of-3 shrinks the
        # probability that BOTH recorded rounds caught a bad-weather min
        # without paying a third multi-minute run on quiet rows.
        # dedup_span_removal joined the watch set in round 17: its r16
        # min-of-2 (30.06/29.99 s) read as a 1.49x calibrated drift,
        # but the same-session standalone A/B at the same HEAD
        # (SCALE.md round-17 entry; reproduce with
        # `git show ef4b941:tools/adjudicate_span_removal.py`)
        # measured [34.5, 24.2, 18.6, 20.0] at probe 0.651 — a JIT
        # warm-up curve whose converged min (28.6 cal-sec) sits INSIDE
        # the r15 floor (30.0 cal-sec). Two samples caught only the
        # head of the curve; min-of-3 reaches the converged tail.
        # dedup_exact_substrings joined in the r17 optimization round
        # on identical evidence: two quiet-rig lane cells recorded
        # 53.4/54.7 s while the same-HEAD standalone min-of-3 converged
        # 86.4 -> 59.1 -> 34.7 s (control row flat) — its >60 s first
        # samples hit the above-cutoff path, which records one sample.
        # dedup_minhash_survivors_t08 joined in round 18 closing the
        # r17 verdict's drift adjudication: the row's recorded r17
        # cells ([12.0, 11.4], [13.8, 12.1] — spreads too tight to
        # trigger a third) sat on the HEAD of a 4-6-sample warm-up
        # curve (standalone min-of-6 converged 22.5 -> 16.5 -> 14.4 ->
        # 11.1 -> 11.1 -> 9.9 s, control flat), while the r16 floor
        # (7.73) was itself sample 3 of a fast-converging session.
        # Interleaved HEAD-vs-r16 rounds moved BOTH directions (9.9 vs
        # 8.6, then 10.3 vs 11.2) — no code drift; min-of-2 was
        # recording the curve's head.
        SF10_WATCH = {
            "text_llm_pipeline", "dedup_paragraphs", "dedup_span_removal",
            "dedup_exact_substrings", "dedup_minhash_survivors_t08",
        }
        SF10_SPREAD_THIRD = 1.25

        def sf10_run(name, thunk):
            # ``thunk`` runs the row once and returns its own seconds; a
            # lane query failing (the likeliest break at a new scale)
            # must cost its own number, not the whole BENCH record
            runs: list[float] = []
            try:
                while True:
                    runs.append(round(thunk(), 3))
                    _lane_gc()
                    if not sf10_should_retry(
                        name,
                        runs,
                        SF10_WATCH,
                        rerun_under=SF10_RERUN_UNDER,
                        spread_third=SF10_SPREAD_THIRD,
                    ):
                        break
                sf10[name] = min(runs)
                sf10_spread[name] = runs
                print(f"# [sf10] {name}: {sf10[name]}s (spread {runs})",
                      file=sys.stderr)
            except Exception as exc:  # noqa: BLE001
                sf10_errors[name] = f"{type(exc).__name__}: {exc}"[:400]
                if runs:
                    sf10_spread[name] = runs
                print(f"# [sf10] {name} FAILED: {sf10_errors[name]}",
                      file=sys.stderr)
                _lane_gc()

        def timed_count(fn):
            start = time.perf_counter()
            fn(spark, sf10_dir).count()
            return time.perf_counter() - start

        for name in SF10_QUERIES:
            fn = _resolve_query(name)
            sf10_run(name, lambda f=fn: timed_count(f))
        # find_forget_job times itself: its lake setup is excluded
        sf10_run(
            "find_forget_job", lambda: bench_find_forget_job(spark, sf10_dir)
        )
        out["sf10"] = {
            "value": round(sum(sf10.values()), 3),
            "queries": sf10,
            # actual per-row sample counts (r16 ADVICE: the old
            # hardcoded 2 misdescribed watched/spread-tripled rows)
            "runs": {q: len(r) for q, r in sf10_spread.items()},
            "watch_min3": sorted(SF10_WATCH),
            "spread_third_over": SF10_SPREAD_THIRD,
            "rerun_under_sec": SF10_RERUN_UNDER,
            "spread": sf10_spread,
        }
        if sf10_errors:
            out["sf10"]["errors"] = sf10_errors
        # Claim soak at the 100x decade too (round-15, r14 verdict ask
        # #6): the v4 class markers tile into the sf10 corpus unchanged,
        # so the classifier's quality booleans must HOLD there — the
        # selection layer's evidence rides the decade the scale claims
        # live on, not just sf1.
        try:
            start = time.perf_counter()
            claims = entry_queries.QUERIES["text_quality_classifier"](
                spark, sf10_dir
            ).collect()[0].asDict()
            bools = {k: v for k, v in claims.items() if isinstance(v, bool)}
            out["sf10"]["claims"] = {"text_quality_classifier": bools}
            out["sf10"]["claims_sec"] = round(
                time.perf_counter() - start, 3
            )
            if not all(bools.values()):
                print(f"# [sf10] CLAIM FAILURE text_quality_classifier: "
                      f"{bools}", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 — lane is optional
            out["sf10"]["claims"] = {
                "text_quality_classifier": f"ERR {type(e).__name__}: {e}"
            }
        _lane_gc()

    emit_record(out)


def emit_record(out: dict, argv: list[str] | None = None) -> str:
    """Write the record to disk and print it as the SINGLE FINAL stdout
    line. The one-line-JSON stdout contract is the driver's parse
    surface and it has been lost twice to interleaved diagnostics
    (BENCH_r13/r14 truncation; BENCH_r16's tail ended in an interleaved
    diagnostic dump — r17 verdict ask #3), so this function is the only
    stdout writer in the module: every diagnostic and lane log prints
    to stderr (asserted by test_bench_contract.py against
    the source), stderr is flushed BEFORE the payload so a merged
    stdout+stderr pipe cannot interleave a late diagnostic into the
    JSON line, and the payload is flushed immediately after.

    Persisting the full payload to disk (round-15, r14 verdict ask #7):
    two rounds running the driver's tail capture truncated the recorded
    artifact (BENCH_r13/r14 ``parsed: null``) — the on-disk copy is the
    artifact of record when stdout gets clipped. By DEFAULT every run
    overwrites BENCH_rlast_local.json in the repo, a copy of the latest
    run for its reader; no code reads it back, and a record is never
    judged against earlier ones (compare two commits with
    ``tools/ab.py`` instead). Round-record copies like
    BENCH_r15_local.json are kept by passing --json-out /
    SPARK_GRAFT_BENCH_JSON_OUT explicitly."""
    payload = json.dumps(out)
    json_out = os.environ.get(
        "SPARK_GRAFT_BENCH_JSON_OUT",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_rlast_local.json",
        ),
    )
    args = sys.argv if argv is None else argv
    for i, a in enumerate(args):
        if a == "--json-out" and i + 1 < len(args):
            json_out = args[i + 1]
        elif a.startswith("--json-out="):
            json_out = a.split("=", 1)[1]
    if json_out:
        try:
            with open(json_out, "w") as f:
                f.write(payload + "\n")
        except OSError as e:  # a read-only checkout must not lose stdout
            print(f"# json-out skipped: {e}", file=sys.stderr)
    sys.stderr.flush()
    print(payload)
    sys.stdout.flush()
    return payload


if __name__ == "__main__":
    main()
