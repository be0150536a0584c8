"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes (100 TB):
- every candidate-generation step is a shuffle on a SMALL derived key
  (hash bucket / band), never an all-pairs product;
- signature computation (MinHash, SimHash) runs in Arrow-batched numpy
  kernels — vectorized, shuffle-free, one pass over the corpus; all
  candidate generation and verification stays JVM-side (xxhash64 band
  keys, bit_count, array intersections) inside whole-stage codegen;
- "keep the smallest id among duplicates" (not full connected
  components) is the dedup policy: a doc is dropped iff it duplicates a
  smaller-id doc. Deterministic, single join, no iterative convergence.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def _eager(df: DataFrame) -> DataFrame:
    """Materialize a SMALL final relation once, with auto-released storage.

    ``localCheckpoint(eager=True)``: blocks are dropped by the
    ContextCleaner when the DataFrame is garbage-collected, so returning
    a checkpointed result never accumulates session-wide cache entries.

    Checkpoint discipline (A/B-measured at sf0.1): exactly ONE eager
    materialization per operator call — the final small output (pair
    list / drop-id set) — and it doubles as the release point for every
    persisted intermediate. Intermediates that feed both sides of a
    self-join are ``persist()``-ed lazily WITHOUT a ``count()`` barrier:
    the single materializing job populates the cache on first access,
    and the worst case is a benign concurrent double-compute of a
    partition, which costs far less than the extra synchronous job the
    barrier used to pay (each pandas-UDF stage has a ~1 s floor on a
    32-thread local rig regardless of data size).

    Trade-off: checkpointing truncates lineage, so a lost executor fails
    the query instead of recomputing — acceptable for these short-lived
    derived relations.
    """
    return df.localCheckpoint(eager=True)


def _is_cached(df: DataFrame) -> bool:
    level = df.storageLevel
    return bool(level.useMemory or level.useDisk)


def _populated(df: DataFrame) -> DataFrame:
    """Populate a lazily-persisted relation NOW (one count job) when it
    feeds two or more query stages of the SAME downstream action.

    Round-17 stage-profile evidence (guide §1/§5): AQE materializes
    independent query stages CONCURRENTLY, so every consumer of a
    still-empty lazy persist races the others and recomputes the full
    subtree — ``text_dsir_sample``'s gram stream ran 3x (3 x 26.4
    executor-seconds at sf1 for one 26.4 s relation),
    ``dedup_span_removal``'s occurrence stream 2x. The round-16 simhash
    fix (`simhash_near_duplicates`' eager ``sh.count()``) was this same
    inversion proven for a 5-branch plan; the stage profiles show it
    binds at TWO branches once the subtree costs more than a
    scheduling round. The barrier costs one extra job (~0.1-0.2 s at
    gate scale) and removes O(branches - 1) recomputes of the most
    expensive subtree in the plan."""
    df.count()
    return df


# _pair_agg_confs mutates SESSION-global SQL confs; two threads driving
# pair-aggregate operators on the same session would interleave their
# set/restore windows and leak a transient value as the "saved" state.
# Serializing entrants is correct (the confs are session-wide anyway, so
# concurrent windows could not coexist) and costs nothing in the common
# single-driver case.
_PAIR_AGG_LOCK = threading.RLock()


@contextmanager
def _pair_agg_confs(spark):
    """Session confs for the candidate-pair aggregate jobs, restored on exit.

    Two levers against the same failure (a reduce-side external sort with
    so many spill files that the merge phase's 1 MiB read-ahead buffers
    alone exhaust a small heap — measured at 50k docs / 1 GB):

    1. raise the initial shuffle-partition floor so the pre-AQE plan
       starts fine-grained;
    2. drop AQE's coalesce advisory from its 64 MiB default to 4 MiB —
       WITHOUT this, AQE coalesces the 1024-partition floor straight
       back (measured: 9 reduce tasks at 50k docs) and re-creates the
       giant spill-merging partitions the floor was meant to prevent.
       4 MiB of compressed shuffle per reduce task keeps each final
       aggregate comfortably in-memory at any corpus size, while a
       small-SF run still coalesces to a handful of tasks.
    """
    with _PAIR_AGG_LOCK:
        conf = spark.conf
        saved: dict[str, str | None] = {}

        def _set(key: str, value: str) -> None:
            try:
                saved[key] = conf.get(key)
            except Exception:  # noqa: BLE001 — unset key
                saved[key] = None
            conf.set(key, value)

        try:
            old_parts = conf.get("spark.sql.shuffle.partitions")
            _set(
                "spark.sql.shuffle.partitions",
                str(max(int(old_parts), 1024)),
            )
        except ValueError:  # "auto" or non-numeric: leave it alone
            pass
        _set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        # parallelismFirst makes AQE ignore the advisory in favor of one
        # partition per core — explicitly defer to the advisory here
        _set(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "false",
        )
        try:
            yield
        finally:
            for key, old in saved.items():
                if old is None:
                    conf.unset(key)
                else:
                    conf.set(key, old)


def _spread(df: DataFrame) -> DataFrame:
    """Ensure CPU-bound per-doc work is spread across cores.

    A small corpus often arrives as one file -> one partition, which
    serializes signature computation on a single core. Repartition up to
    the cluster's parallelism when the input has too few partitions (a
    no-op shuffle of the doc table; at real scale the input already has
    more partitions than cores and this never triggers).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(target // 2, 2):
        return df.repartition(target)
    return df


def exact_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct content hash: the survivor id + group size."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Survivors only: the min-id doc of every exact-content group.

    One shuffle, keyed by the content hash: a min-id ranking window.
    The groupBy-then-join-back alternative shuffles the corpus TWICE
    (once to group, once to semi-join), and its "keep" relation is one
    row per DISTINCT document — at low duplication that is nearly the
    corpus itself, far past any broadcast threshold.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# shingles + MinHash + LSH
# --------------------------------------------------------------------------

# xxhash64 each shingle ONCE, then derive the j-th permutation as
# (a_j * h + b_j) mod p over 31-bit space (the classic universal-hash
# scheme, same shape as Spark MLlib's MinHashLSH). One string hash per
# shingle instead of num_perm of them — at 100 TB the string hashing
# dominates, so this is a ~num_perm x cut of the hot loop — and every
# product stays < 2^62 (ANSI-mode safe).
_MINHASH_PRIME = 2038074743


def _affine_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = np.random.RandomState(seed)
    return [
        (int(rng.randint(1, _MINHASH_PRIME)), int(rng.randint(0, _MINHASH_PRIME)))
        for _ in range(num_perm)
    ]


def _minhash_kernel_factory(k: int, num_perm: int, seed: int = 42):
    """Vectorized per-batch MinHash kernel.

    Per document: byte-level k-shingles hashed with a vectorized
    polynomial rolling hash (one ``sliding_window_view`` matmul — no
    per-shingle Python), deduplicated, then all ``num_perm`` affine
    permutations minimized in one (n_shingles x num_perm) numpy matrix
    (chunked to bound memory on huge documents).
    """
    params = _affine_params(num_perm, seed)
    A = np.array([a for a, _ in params], dtype=np.uint64)
    B = np.array([b for _, b in params], dtype=np.uint64)
    P = np.uint64(_MINHASH_PRIME)
    base = np.uint64(1099511628211)
    pw = np.empty(k, dtype=np.uint64)
    pw[0] = np.uint64(1)
    with np.errstate(over="ignore"):  # deliberate mod-2^64 wraparound
        for i in range(1, k):
            pw[i] = pw[i - 1] * base

    def kernel(texts: pd.Series) -> pd.Series:
        sigs = []
        for t in texts:
            raw = (str(t).lower() if t is not None else "").encode(
                "utf-8", "ignore"
            )
            if len(raw) < k:
                raw = raw.ljust(k, b"\0")
            arr = np.frombuffer(raw, dtype=np.uint8).astype(np.uint64)
            win = np.lib.stride_tricks.sliding_window_view(arr, k)
            h = np.unique((win * pw).sum(axis=1, dtype=np.uint64) % P)
            best = np.full(num_perm, P, dtype=np.uint64)
            # 8k-shingle chunks keep the (chunk x num_perm) uint64
            # affine block ~4 MB — inside L2/L3, so the intermediate
            # never round-trips DRAM. A/B on a 2M-shingle document:
            # 12.7 s at the old 128k chunk (64 MB blocks) vs 1.25 s
            # at 8k; identical output (min is associative across
            # chunks), and typical documents fit one chunk either way.
            for i in range(0, len(h), 1 << 13):
                m = (h[i : i + (1 << 13), None] * A + B) % P
                np.minimum(best, m.min(axis=0), out=best)
            sigs.append(best.astype(np.int64))
        return pd.Series(sigs)

    return kernel


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_perm: int = 64,
) -> DataFrame:
    """(id, sig array<long>) MinHash signatures.

    Computed map-side in one Arrow-batched pass: no explode, no shuffle —
    each task turns its documents directly into 64-long signatures. At
    100 TB the alternative (explode shingles + 64 min-aggregates) ships
    every shingle through codegen and a hash aggregate; the vectorized
    kernel does the same arithmetic in numpy at memory bandwidth and the
    signature relation (num_perm longs per doc) is the ONLY thing that
    ever leaves the scan stage.
    """
    mh = pandas_udf(
        _minhash_kernel_factory(k, num_perm), "array<long>"
    )
    return _spread(df).select(
        F.col(id_col).alias("_id"), mh(F.col(text_col)).alias("_sig")
    )


def _with_shingles(df: DataFrame, text_col: str, k: int) -> DataFrame:
    # sequence(1, greatest(len-k+1, 1)) then substring per index
    return df.withColumn(
        "_shingles",
        F.expr(
            f"array_distinct(transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
            f"i -> substring(lower({text_col}), i, {k})))"
        ),
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    shingle -> minhash (num_perm perms) -> split into ``bands`` bands of
    r = num_perm/bands rows -> hash each band -> explode -> self-join on
    the band hash -> intra-bucket pairs (a < b). The shuffle key is the
    band hash, so the pair blow-up stays local to genuinely-similar
    clusters; ``max_bucket`` caps even that (see ``band_pairs``).
    """
    assert num_perm % bands == 0
    sigs = minhash_signatures(df, text_col, id_col, k, num_perm)
    return band_pairs(sigs, bands, num_perm, max_bucket)


def sig_agreement(col_a: str, col_b: str):
    """Count of positionally-equal signature components — the shared
    inline-verify expression for every fused band join (batch and
    incremental must agree on it or cross-path screens drift).

    Shape A/B'd at sf1 (round 11, interleaved runs): one
    ``aggregate`` over one ``zip_with`` beats
    ``size(filter(zip_with(...)))`` by ~8 % end-to-end (one fewer
    intermediate array per candidate row); a 64-term codegen'd
    unrolling of ``element_at`` comparisons measured 6x SLOWER
    (expression-tree blowup), so the higher-order form stays despite
    being interpreted."""
    return F.expr(
        f"aggregate(zip_with({col_a}, {col_b}, (x, y) -> IF(x = y, 1, 0)),"
        " 0, (acc, v) -> acc + v)"
    )


def optimal_bands(num_perm: int, threshold: float) -> int:
    """Threshold-tuned LSH banding: the band count whose collision
    S-curve midpoint t* = (1/b)^(1/r) sits closest BELOW ``threshold``.

    Banding is a filter in front of the inline agreement verify, and the
    two are CORRELATED (both read the same signature), so the honest
    quality metric is end-to-end detection P(collide AND est >=
    threshold), simulated exactly for (64, 0.8) over 200k signature
    draws (round 11): r=8/b=8 vs the old fixed r=4/b=16 detects
    44.1 % vs 47.3 % at true J=0.8, 81.2 % vs 84.4 % at 0.85, 98.1 %
    vs 99.0 % at 0.9, identical >= 0.95 — at the threshold boundary the
    64-perm ESTIMATOR is the coin flip (it rejects half of true-J=0.8
    pairs under ANY banding), and tighter banding costs at most ~3
    points of it. What r=8 buys: at threshold 0.8 the old r=4
    (t*=0.5) generated 10.3M candidates from 50k sf1 docs — 99.96 %
    verify-rejected, ~55 % of the whole survivors query — and
    t*-matched banding is 2.3x faster end-to-end with measured
    recall/precision 1.0 on the exact-Jaccard baseline
    (``git show ef4b941:tools/ab_minhash_presets.py``). Raise num_perm
    (sharper estimator AND sharper banding) when boundary pairs matter;
    every threshold-bearing entry point defaults ``bands=None`` -> this,
    and
    an explicit ``bands`` pins a layout (band keys derive at call time,
    so persisted signature indexes remain valid under ANY choice)."""
    best_r = 1  # r=1: t* = 1/num_perm, below any sane threshold
    for r in range(2, num_perm + 1):
        if num_perm % r:
            continue
        b = num_perm // r
        t_star = (1.0 / b) ** (1.0 / r) if b > 1 else 1.0
        if t_star <= threshold:
            best_r = r
    return num_perm // best_r


# Serialized-build-side budget for broadcasting a banded relation in
# the band self-joins. Catalyst cannot make this call: its size
# estimate of the UDF-derived signature relation is off by orders of
# magnitude (measured at sf10: estimated 12 MB, actual ~2.4 GB — the
# planner's broadcast OOM'd an 8 GB build budget), so the operators
# compute the size from a COUNTED row number and an exact per-row
# payload instead. Under the budget, broadcasting wins big on small
# corpora (sf1 A/B: 5.8 s broadcast vs 13.0 s shuffle — the exchange of
# the signature payload dominates); over it, the join is pinned to
# sort-merge (AQE skew-join still splits hot bands). At 100 TB the
# estimate always exceeds any sane budget and the shuffle is the only
# correct plan — the budget exists so toy/medium corpora keep the
# single-stage plan without ever letting a corpus-growing relation
# near the driver.
BAND_BROADCAST_BUDGET = 256 << 20


def _band_join_side(banded_b, n_rows: int, bands: int, row_bytes: int):
    """Pick the band self-join strategy for the right side from an
    exact size estimate (see BAND_BROADCAST_BUDGET)."""
    est = n_rows * bands * row_bytes
    if est <= BAND_BROADCAST_BUDGET:
        return F.broadcast(banded_b)
    return banded_b.hint("merge")


def banded_signatures(
    sigs: DataFrame, bands: int, num_perm: int, with_sig: bool = False
) -> DataFrame:
    """Explode (_id[, _sig]) signatures into one row per LSH band:
    ``band_hash = xxhash64(slice(sig, band), band)``. The single
    definition of the banding key — the batch self-join pipelines and
    the incremental index screens must derive IDENTICAL band hashes
    from the same signature or cross-path candidates silently vanish.
    ``with_sig`` carries the signature through for inline verifies.

    ``bands`` must divide ``num_perm``: a non-dividing value silently
    ignores the signature tail, and ``bands > num_perm`` degenerates to
    r=0 — EVERY document hashing the same empty slice, which turns any
    band join into a full cross join. Refused here, at the one site
    every banding path funnels through.

    The carried ``_sig`` is DOWNCAST to ``array<int>``: every component
    is < P < 2^31 (a mod-P residue), so the cast is exact and the
    verify's component-equality is unchanged, while the explode
    duplicates the signature ``bands`` times through the join exchange
    — halving that payload measured -8..13 % on the sf1 survivors
    query (round-11 A/B, interleaved runs). Band hashes still come
    from the LONG array (``xxhash64(array<int>)`` would hash different
    bytes), so banding keys stay identical across persisted indexes
    and code versions."""
    if bands <= 0 or bands > num_perm or num_perm % bands:
        raise ValueError(
            f"bands={bands} must divide num_perm={num_perm} "
            "(1 <= bands <= num_perm): non-dividing bands drop the "
            "signature tail; bands > num_perm band-hashes an empty "
            "slice and every pair collides"
        )
    r = num_perm // bands
    cols = (
        ["_id", F.transform("_sig", lambda x: x.cast("int")).alias("_sig")]
        if with_sig
        else ["_id"]
    )
    return sigs.select(
        *cols,
        F.explode(
            F.array(
                *[
                    F.xxhash64(F.slice(F.col("_sig"), b * r + 1, r), F.lit(b))
                    for b in range(bands)
                ]
            )
        ).alias("band_hash"),
    )


def band_pairs(
    sigs: DataFrame,
    bands: int,
    num_perm: int = 64,
    max_bucket: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Candidate pairs from precomputed signatures via LSH banding.

    Pair generation is a self-equi-join on the band hash (the shape of
    MLlib's ``approxSimilarityJoin``): pairs stream out of a shuffled
    hash join and spill gracefully, instead of materializing an O(s^2)
    array per bucket in a single row — a skewed bucket (a boilerplate
    phrase shared by thousands of docs) would otherwise build one
    multi-GB row at 100 TB.

    ``max_bucket`` is the skew guard for that boilerplate case: buckets
    with more than ``max_bucket`` members switch from all-pairs (s^2/2
    candidates) to star-pairing against the bucket's minimum id (s-1
    candidates). For dedup's "drop docs duplicating a smaller id" policy
    the star still catches the dominant mass-duplication pattern (every
    member verifies against the bucket min); what it can miss is a
    member pairing with a *different* smaller id when it does NOT
    duplicate the bucket min — a recall trade-off that bounds the
    worst-case candidate count linearly. Off (None) by default.

    When the caller has already persisted ``sigs`` (``minhash_dedup``
    does), nothing here needs its own cache: the banded relation is a
    cheap JVM projection of the cached signatures, so with
    ``materialize=False`` the whole pair derivation stays lazy and fuses
    into the caller's single materializing job.
    """
    input_cached = _is_cached(sigs)
    banded = banded_signatures(sigs, bands, num_perm)
    if not input_cached:
        # feeds BOTH join sides and contains the signature-UDF subtree:
        # persist (lazily — the materializing job below populates it)
        banded = banded.persist()
    try:
        a = banded.select(F.col("_id").alias("id_a"), "band_hash")
        b = banded.select(F.col("_id").alias("id_b"), "band_hash")
        # counting the banded relation populates whichever persist is
        # live (banded's own, or the caller's cached sigs it derives
        # from); rows already include the bands factor
        n_banded = banded.count()
        side = lambda rel: _band_join_side(rel, n_banded, 1, 24)  # noqa: E731
        if max_bucket is None:
            out = (
                a.join(side(b), "band_hash")
                .where(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
                .distinct()
            )
            if input_cached and not materialize:
                return out
            return _eager(out)
        # the skewed buckets are FEW by definition (that's what makes them
        # skewed) — that tiny relation broadcasts; the full per-bucket stats
        # relation (one row per distinct band hash) never would at scale
        big = (
            banded.groupBy("band_hash")
            .agg(F.count(F.lit(1)).alias("_sz"), F.min("_id").alias("_min_id"))
            .where(F.col("_sz") > max_bucket)
            .persist()
        )
        try:
            dense = (
                a.join(
                    F.broadcast(big.select("band_hash")),
                    "band_hash",
                    "left_anti",
                )
                .join(side(b), "band_hash")
                .where(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
            )
            star = (
                banded.join(F.broadcast(big), "band_hash")
                .where(F.col("_id") > F.col("_min_id"))
                .select(
                    F.col("_min_id").alias("id_a"), F.col("_id").alias("id_b")
                )
            )
            return _eager(dense.unionAll(star).distinct())
        finally:
            big.unpersist()
    finally:
        # the checkpointed pair relation is self-contained — release the
        # exploded cache instead of leaking it into the CacheManager
        if not input_cached:
            banded.unpersist()


def _candidate_join_side(pairs: DataFrame) -> DataFrame:
    """Size-aware join side for a candidate-pair lookup: broadcast when
    the EXACT size (counted rows x ~48-byte two-long row) fits
    BAND_BROADCAST_BUDGET, shuffled merge join otherwise — the same
    counted-size discipline as the band self-join (Catalyst's estimate
    of UDF-derived relations is unreliable in both directions). The
    count is cheap at the internal call sites (the banding returns a
    checkpointed pair relation); callers passing a lazy candidate
    relation pay one evaluation for it."""
    n = pairs.count()
    if n * 48 <= BAND_BROADCAST_BUDGET:
        return F.broadcast(pairs)
    return pairs.hint("merge")


def verified_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs; keeps >= threshold.

    The candidate relation is usually the small side (two longs per
    pair, bounded by the banding) — under the broadcast budget both
    shingle lookups broadcast it, so the big shingle relation never
    shuffles for the lookup; a candidate set whose EXACT size (counted
    rows x 48-byte pair row) exceeds the budget switches to shuffled
    joins instead — the only correct plan once the pair list itself is
    corpus-scale (the count is cheap at every internal call site: the
    banding materializes its pair relation). The two halves (pair + one
    side's shingles each, |pairs| rows) then equi-join on the pair key
    itself; only pair-bounded rows ever cross the wire.
    """
    sh = _with_shingles(_spread(df), text_col, k).select(
        F.col(id_col).alias("_jid"), F.col("_shingles").alias("_sh")
    )
    a = sh.withColumnRenamed("_jid", "id_a").withColumnRenamed("_sh", "_sh_a")
    b = sh.withColumnRenamed("_jid", "id_b").withColumnRenamed("_sh", "_sh_b")
    cand = _candidate_join_side(pairs)
    half_a = a.join(cand, "id_a").select(
        "id_a", "id_b", "_sh_a"
    )
    half_b = b.join(cand, "id_b").select(
        "id_a", "id_b", "_sh_b"
    )
    joined = half_a.join(half_b, ["id_a", "id_b"])
    inter = F.size(F.array_intersect("_sh_a", "_sh_b")).cast("double")
    union = F.size(F.array_union("_sh_a", "_sh_b")).cast("double")
    return (
        joined.withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def signature_similarity_pairs(
    sigs: DataFrame, pairs: DataFrame, num_perm: int = 64, threshold: float = 0.8
) -> DataFrame:
    """Estimate Jaccard per candidate pair as the fraction of agreeing
    signature components (unbiased, se ~= sqrt(j(1-j)/num_perm)).

    O(num_perm) per pair against O(|shingle set|) for the exact check —
    at 100 TB this is the difference between joining 64-long signatures
    and re-shuffling full shingle sets. Use ``verified_jaccard_pairs``
    when exactness matters more than cost.
    """
    a = sigs.select(
        F.col("_id").alias("id_a"), F.col("_sig").alias("_sig_a")
    )
    b = sigs.select(
        F.col("_id").alias("id_b"), F.col("_sig").alias("_sig_b")
    )
    agree = sig_agreement("_sig_a", "_sig_b")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard", F.round(agree / F.lit(float(num_perm)), 6)
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_perm: int = 64,
    bands: int | None = None,
    threshold: float = 0.8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Survivors after near-dup removal: drop docs duplicating a smaller id.

    The verify uses the signature estimate of Jaccard (fraction of
    agreeing components), computed inline on the band self-join.
    ``bands=None`` tunes the banding to ``threshold`` (see
    ``optimal_bands`` — at the 0.8 default this is 2.3x faster than the
    old fixed 16 bands with measured recall/precision 1.0).
    """
    if bands is None:
        bands = optimal_bands(num_perm, threshold)
    if max_bucket is not None:
        # skew-guarded path: bucket-size stats + star-pairing need the
        # pair relation explicitly — keep the two-phase pipeline. The
        # signature persist stays: three consumers (two band sides +
        # the verify join) at different partitionings, so exchange
        # reuse cannot serve them (see below).
        sigs = minhash_signatures(df, text_col, id_col, k, num_perm).persist()
        try:
            pairs = band_pairs(
                sigs, bands, num_perm, max_bucket, materialize=False
            )
            dups = signature_similarity_pairs(sigs, pairs, num_perm, threshold)
            drop = _eager(dups.select(F.col("id_b").alias(id_col)).distinct())
        finally:
            sigs.unpersist()
        return df.join(drop, on=id_col, how="left_anti")
    # Fused band-join + verify: the signatures ride THROUGH the band
    # self-join, so the similarity estimate is an inline zip_with on
    # the joined row — no pair materialization, no joins back to the
    # signature relation. Per-row shuffle payload grows by num_perm
    # longs, but the plan loses two whole shuffle stages; a pair
    # colliding in several bands is re-verified (cheap, JVM) instead
    # of deduplicated through an extra exchange.
    #
    # Size the self-join strategy from the DOCUMENT count — the
    # signature relation is row-for-row the input (a select, no
    # filter), so df.count() == sigs.count() without running the
    # signature UDF.
    n_sigs = df.count()
    sigs = minhash_signatures(df, text_col, id_col, k, num_perm)
    over_budget = (
        n_sigs * bands * (4 * num_perm + 48) > BAND_BROADCAST_BUDGET
    )
    if not over_budget:
        # Broadcast path: the build side is collected while the probe
        # side scans — two readers at DIFFERENT partitionings, so the
        # persist is the only thing preventing a second signature-UDF
        # pass (round-5 A/B: recompute 1.31/1.48 s vs persist
        # 1.08/0.97 s). persist (not localCheckpoint, which times the
        # same) keeps lineage, so an executor loss at scale recomputes
        # instead of failing the job.
        sigs = sigs.persist()
        sigs.count()  # populate before the two readers race
    # Over-budget (sort-merge) path: sigs deliberately stays LAZY
    # (round 18). Both join sides shuffle by band_hash, and with an
    # UNCACHED subtree AQE's stage cache recognizes the two exchanges
    # as one: the final plan carries Exchange + ReusedExchange, so the
    # signature UDF + band explode compute ONCE and one shuffle write
    # serves both sides. Persisting sigs (the old shape) actively
    # BROKE that: AQE wraps each cached side in its own
    # TableCacheQueryStage, which defeats exchange-reuse
    # canonicalization, and the sf10 stage profile showed the banded
    # relation materialized twice (two 714 MB shuffle writes, 59+26
    # executor-seconds). Measured interleaved at sf10 (3 rounds):
    # 11.28/11.20/11.46 s persisted vs 9.12/8.37/9.36 s lazy-reused,
    # result-identical. The exchange (unlike a pre-partitioned cache)
    # also keeps AQE's skew-join splitting available for hot bands —
    # the round-17 co-partitioning rejection does not apply.
    banded = banded_signatures(sigs, bands, num_perm, with_sig=True)
    a = banded.select(
        F.col("_id").alias("id_a"), F.col("_sig").alias("_sig_a"),
        "band_hash",
    )
    b = banded.select(
        F.col("_id").alias("id_b"), F.col("_sig").alias("_sig_b"),
        "band_hash",
    )
    agree = sig_agreement("_sig_a", "_sig_b")
    try:
        dup_ids = (
            a.join(
                # the carried signature is the array<int> DOWNCAST
                # (banded_signatures with_sig=True): 4 bytes/element +
                # ~48 bytes of row/array overhead. Price the relation
                # that actually ships, not minhash_signatures'
                # array<long> source — the round-12 8-byte re-price
                # targeted the long form, over-estimated this side 2x,
                # and flipped the sf1 legacy-banding row from a
                # legitimate 243 MB broadcast to sort-merge
                # (5.3 s -> 13.7 s, tripwire-flagged).
                _band_join_side(b, n_sigs, bands, 4 * num_perm + 48),
                "band_hash",
            )
            .where(F.col("id_a") < F.col("id_b"))
            .where(agree / F.lit(float(num_perm)) >= threshold)
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        # checkpoint the (small) drop set; one materializing job total
        drop = _eager(dup_ids)
    finally:
        # the eager drop-set checkpoint above is the release point: by
        # here every reader of sigs has run
        if not over_budget:
            sigs.unpersist()
    return df.join(drop, on=id_col, how="left_anti")


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_perm: int = 64,
    threshold: float = 0.8,
    bands: int | None = None,
    max_bucket: int | None = None,
    verify: str = "signature",
) -> DataFrame:
    """Verified near-dup pairs (id_a, id_b, jaccard) via MinHash-LSH.

    The scale-viable PAIR source (round-12 verdict ask #3): exact
    all-pairs n-gram Jaccard is the ground-truth family LSH exists to
    replace — its pair volume grows with sum(df^2) and DNFs at 500k
    docs — while this path generates candidates through the banding
    (collision-bounded) and verifies each one in O(num_perm) or
    O(|shingle set|) work. Feed the output to
    ``graph.dedup_clusters`` for transitive duplicate clusters at any
    corpus size the LSH handles.

    ``verify='signature'``: Jaccard estimated as the agreeing-component
    fraction (unbiased, se ~ sqrt(j(1-j)/num_perm)) — the production
    path. ``verify='exact'``: exact k-shingle Jaccard per candidate
    (``verified_jaccard_pairs``) — candidate-bounded, still scale-safe.
    """
    if verify not in ("signature", "exact"):
        raise ValueError(f"verify={verify!r}: use 'signature' or 'exact'")
    if bands is None:
        bands = optimal_bands(num_perm, threshold)
    if verify == "signature" and max_bucket is None:
        # Fused band-join + inline estimate (round 18): the signature
        # verify needs nothing but the two signatures, which can ride
        # the band self-join exactly as in ``minhash_dedup`` — no pair
        # materialization, no joins back to the signature relation
        # (the old shape's two extra exchanges), and on the
        # over-budget path the LAZY signature subtree lets AQE serve
        # both join sides from ONE reused exchange (see minhash_dedup
        # — a persisted side defeats exchange-reuse canonicalization
        # via TableCacheQueryStage). ``jaccard`` uses the same
        # round-to-6dp expression as signature_similarity_pairs;
        # agree/num_perm values are exact at 6dp (k/64 has <= 6
        # decimal digits), so the row set is identical. Pairs
        # colliding in several bands collapse in the trailing
        # distinct, as they did in band_pairs.
        n = df.count()
        sigs = minhash_signatures(df, text_col, id_col, k, num_perm)
        over_budget = (
            n * bands * (4 * num_perm + 48) > BAND_BROADCAST_BUDGET
        )
        if not over_budget:
            # broadcast build + probe scan read at different
            # partitionings — the persist is what keeps the signature
            # UDF single-pass here
            sigs = sigs.persist()
            sigs.count()
        banded = banded_signatures(sigs, bands, num_perm, with_sig=True)
        a = banded.select(
            F.col("_id").alias("id_a"), F.col("_sig").alias("_sig_a"),
            "band_hash",
        )
        b = banded.select(
            F.col("_id").alias("id_b"), F.col("_sig").alias("_sig_b"),
            "band_hash",
        )
        agree = sig_agreement("_sig_a", "_sig_b")
        try:
            out = (
                a.join(
                    _band_join_side(b, n, bands, 4 * num_perm + 48),
                    "band_hash",
                )
                .where(F.col("id_a") < F.col("id_b"))
                .withColumn(
                    "jaccard",
                    F.round(agree / F.lit(float(num_perm)), 6),
                )
                .where(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard")
                .distinct()
            )
            return _eager(out)
        finally:
            if not over_budget:
                sigs.unpersist()
    # exact verify / skew-guarded path: the pair relation is needed
    # explicitly (bucket stats, star-pairing, shingle re-verify), and
    # the signature persist serves its multiple differently-keyed
    # readers
    sigs = minhash_signatures(df, text_col, id_col, k, num_perm).persist()
    try:
        pairs = band_pairs(sigs, bands, num_perm, max_bucket)
        if verify == "signature":
            out = signature_similarity_pairs(sigs, pairs, num_perm, threshold)
        else:
            out = verified_jaccard_pairs(
                df, pairs, text_col, id_col, k, threshold
            )
        # the eager checkpoint is the release point for the sigs persist
        return _eager(out)
    finally:
        sigs.unpersist()


def minhash_dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_perm: int = 64,
    threshold: float = 0.8,
    bands: int | None = None,
    max_bucket: int | None = None,
    verify: str = "signature",
) -> DataFrame:
    """(doc_id, cluster) transitive near-dup clusters over MinHash pairs.

    Composition: ``minhash_near_dup_pairs`` -> pointer-jumping connected
    components (``operators/graph.py``). Cluster = min doc id reachable
    through the verified near-dup graph; docs with no near-dup partner
    don't appear (they are their own singleton cluster by convention).
    """
    from .graph import dedup_clusters

    pairs = minhash_near_dup_pairs(
        df, text_col, id_col, k, num_perm, threshold, bands, max_bucket,
        verify,
    )
    return dedup_clusters(pairs.select("id_a", "id_b"))


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def _simhash64_kernel(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over word tokens — fully vectorized numpy kernel.

    All tokens of the Arrow batch are hashed in ONE ``pd.util.hash_array``
    call (C-level, deterministic fixed-key siphash), bit votes are summed
    per document with ``np.add.reduceat`` — no per-token Python loops.

    Memory discipline (round 17, guide §4.2/§5): the bit matrix is built
    with ``np.unpackbits`` over the hashes' little-endian bytes (64 B per
    token, one C pass) instead of a broadcast ``>> arange(64)`` — which
    materialized a (n_tokens, 64) **uint64** intermediate, 512 B/token —
    and the per-document vote sum runs ``reduceat`` directly over the
    uint8 bit matrix with ``dtype=int64`` accumulation instead of first
    casting to a (n_tokens, 64) int32 +-1 votes matrix (another
    256 B/token + a full-matrix multiply-subtract). Per token the kernel
    now touches ~72 B instead of ~840 B; on a 10k-doc Arrow batch that
    is ~0.1 GB of traffic instead of ~1.2 GB — the difference between a
    compute kernel and a memory-bus stress test when the host bus is
    contended. Bit-for-bit identical output: bit i of the signature is
    set iff the token-bit count b_i satisfies 2*b_i > n_tokens, exactly
    the old "+-1 vote sum > 0" rule (ties stay 0), integer-exact.
    """
    token_lists = [
        str(t).lower().split() if t else [] for t in texts
    ]
    lengths = np.array([len(ts) for ts in token_lists], dtype=np.int64)
    out = np.zeros(len(texts), dtype=np.int64)
    nonempty = lengths > 0
    if not nonempty.any():
        return pd.Series(out)
    flat = np.concatenate(
        [np.asarray(ts, dtype=object) for ts in token_lists if ts]
    )
    hashes = pd.util.hash_array(flat)  # uint64, deterministic
    # bit matrix: (n_tokens, 64) uint8 — column i IS bit i of the hash
    # (little-endian byte j carries bits 8j..8j+7; bitorder='little'
    # unpacks each byte low-bit-first)
    bits = np.unpackbits(
        np.ascontiguousarray(hashes).view(np.uint8).reshape(-1, 8),
        axis=1,
        bitorder="little",
    )
    # per-document segment bit counts, accumulated in int64
    starts = np.concatenate([[0], np.cumsum(lengths[nonempty])[:-1]])
    seg = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
    # majority vote: bit set iff 2*count > n_tokens (tie -> 0)
    simbits = (seg << 1) > lengths[nonempty, None]
    sims = (
        (simbits.astype(np.uint64) << np.arange(64, dtype=np.uint64))
        .sum(axis=1, dtype=np.uint64)
        .astype(np.int64)
    )
    out[nonempty] = sims
    return pd.Series(out)


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    # pandas_udf construction needs an active session -> build lazily
    simhash64 = pandas_udf(_simhash64_kernel, "long")
    return _spread(df).withColumn("simhash", simhash64(F.col(text_col)))


def _block_plan(max_hamming: int) -> tuple[list[tuple[int, int]], int]:
    """Choose a Manku-style block decomposition of the 64-bit simhash.

    Split into B blocks; a pair within Hamming distance d leaves >= B - d
    blocks untouched, so keying every (B - d choose m)... inverted: keying
    every m-block combination with m <= B - d finds ALL true pairs. Wider
    keys (m=3, ~32 bits) keep false-candidate rates near zero; for loose
    budgets where C(B,3) explodes we degrade to m=2 then m=1 (the plain
    pigeonhole chunking). Returns (block (offset,bits) list, m).
    """
    for m, cap in ((3, 64), (2, 128), (1, 65)):
        n_blocks = max_hamming + m
        if n_blocks > 64:
            continue
        from math import comb

        if comb(n_blocks, m) <= cap:
            size, rem = divmod(64, n_blocks)
            blocks, off = [], 0
            for i in range(n_blocks):
                bits = size + (1 if i < rem else 0)
                blocks.append((off, bits))
                off += bits
            return blocks, m
    raise ValueError(f"max_hamming {max_hamming} out of range")


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Hamming-LSH over block combinations (Manku/Jain/Sarma, WWW'07 —
    public algorithm): split the simhash into ``max_hamming + 3`` blocks;
    any pair within the distance budget shares >= 3 intact blocks, so
    hashing every 3-block combination (~32-bit keys) buckets all true
    pairs while colliding far less than single-block (16-bit) chunking —
    the candidate set stays linear in true near-dups instead of
    quadratic in hash-value skew. Candidates verify with bit_count(xor),
    JVM-side.

    The combination join runs over DISTINCT simhash VALUES, not over
    documents (round-11 redesign): mass-duplicated corpora — the normal
    web-corpus shape, and exactly what dedup exists for — put every
    identical document into every one of the C(B,3) buckets, so the
    per-document join re-derived each true pair up to 20 times
    (measured at sf1: 5.56M collision rows for 260k output pairs, 10x
    duplication, join ~2.6 s). Distinct values compress 50k docs to 5k
    rows there; value pairs verify once, then expand through the
    (id, simhash) membership relation — two output-bounded equi-joins
    (AQE broadcasts the verified value-pair relation when small) — and
    hamming-0 pairs come from a direct self-join on the full simhash.
    Output is IDENTICAL to the per-document formulation: a doc pair at
    hamming 0 shares its simhash (same-relation branch); at hamming
    1..max the two distinct values share >= 3 intact blocks (the Manku
    guarantee), so the value pair is found, verified with the same
    bit_count(xor), and expanded to every member pair exactly once."""
    # persist the PRE-explode relation (one 16-byte row per doc — the only
    # thing worth caching at 100 TB); the distinct-value relation feeds
    # both sides of the combination self-join, so it persists too.
    # The simhash persist is populated EAGERLY (one count() job): five
    # plan branches read it (values, both same-hash sides, both
    # expansion sides), and under a lazy persist they race to compute
    # the pandas-UDF subtree concurrently before the cache fills —
    # measured at sf10 (500k docs, 18.6 s UDF): 60-90 s for the full
    # query vs ~27 s with the barrier. At gate scale the barrier job
    # costs a fixed ~0.2 s — the lazy-persist trade the operators
    # default to (see _eager) inverts as soon as the UDF subtree costs
    # more than one scheduling round. ``values`` stays lazy: it reads
    # the already-populated cache.
    sh = with_simhash(df, text_col).select(
        F.col(id_col).alias("_id"), F.col("simhash")
    ).persist()
    sh.count()
    values = sh.select("simhash").distinct().persist()
    try:
        return _eager(_simhash_pair_plan(sh, values, max_hamming))
    finally:
        sh.unpersist()
        values.unpersist()


def _simhash_pair_plan(
    sh: DataFrame, values: DataFrame, max_hamming: int
) -> DataFrame:
    """The LAZY pair plan over a ``(_id, simhash)`` relation and its
    distinct values — split out so the plan-shape test pins the
    PRODUCTION plan (``simhash_near_duplicates`` eagerly checkpoints its
    result, which discards the lineage a test could inspect)."""
    from itertools import combinations

    blocks, m = _block_plan(max_hamming)
    combos = list(combinations(range(len(blocks)), m))

    def block_col(i: int):
        off, bits = blocks[i]
        return F.shiftrightunsigned(F.col("simhash"), off).bitwiseAND(
            F.lit((1 << bits) - 1)
        )

    keys = [
        F.xxhash64(F.lit(ci), *[block_col(i) for i in combo])
        for ci, combo in enumerate(combos)
    ]
    keyed = values.select(
        "simhash", F.explode(F.array(*keys)).alias("bucket")
    )
    a = keyed.select(F.col("simhash").alias("_sha"), "bucket")
    b = keyed.select(F.col("simhash").alias("_shb"), "bucket")
    # verified near-dup VALUE pairs (hamming 1..max): bucket
    # self-join streams + spills (no O(s^2) per-bucket array);
    # groupBy-min dedupes multi-bucket re-collisions map-side
    vpairs = (
        a.join(b, "bucket")
        .where(F.col("_sha") < F.col("_shb"))
        .select(
            "_sha",
            "_shb",
            F.bit_count(F.col("_sha").bitwiseXOR(F.col("_shb"))).alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
        .groupBy("_sha", "_shb")
        .agg(F.min("hamming").alias("hamming"))
    )
    same = (
        sh.select(F.col("_id").alias("id_a"), "simhash")
        .join(sh.select(F.col("_id").alias("id_b"), "simhash"), "simhash")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.lit(0).cast("integer").alias("hamming"),
        )
    )
    # expansion: each unordered doc pair appears exactly once (the
    # value pair is ordered; members cross-product once), so no
    # post-dedup is needed — least/greatest only canonicalizes ids
    cross = (
        vpairs.join(
            sh.select(F.col("_id").alias("ida"),
                      F.col("simhash").alias("_sha")),
            "_sha",
        )
        .join(
            sh.select(F.col("_id").alias("idb"),
                      F.col("simhash").alias("_shb")),
            "_shb",
        )
        .select(
            F.least("ida", "idb").alias("id_a"),
            F.greatest("ida", "idb").alias("id_b"),
            "hamming",
        )
    )
    return same.unionByName(cross)


# --------------------------------------------------------------------------
# word n-gram Jaccard via inverted index
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_posting: int = 1000,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """All pairs with word-n-gram Jaccard >= threshold, via inverted index.

    explode ngrams -> posting lists per ngram (capped at ``max_posting``
    to bound hot-key blowup; at 100 TB a stopword-like ngram would
    otherwise create a quadratic bucket) -> intra-list pairs -> count
    shared ngrams per pair -> jaccard = shared / (|a| + |b| - shared).

    ``candidates`` (id_a, id_b) switches to candidate-restricted exact
    verification: the inverted-index self-join — whose pair volume grows
    with sum(df^2) over eligible grams and makes the all-pairs form a
    bounded-corpus tool (measured DNF at 500k docs, SCALE.md) — is
    replaced by two broadcast lookups of the candidate relation against
    the per-doc gram arrays, exactly the ``verified_jaccard_pairs``
    shape. Only candidate-bounded rows ever cross the wire, so exact
    n-gram verification of an LSH candidate set scales to any corpus
    the LSH itself handles. Semantics match the all-pairs form when no
    posting cap engages (guaranteed whenever the corpus has <=
    ``max_posting`` docs; a capped hot gram is excluded from ``shared``
    by the index form but counted by array_intersect here).
    """
    # Tokens are pre-projected ONCE per doc: referencing split() inside the
    # transform lambda would re-split the whole text per n-gram index
    # (O(tokens^2) per document).
    grams = _spread(df).select(
        F.col(id_col).alias("_id"),
        F.split(F.lower(F.col(text_col)), r"\s+").alias("_t"),
    ).select(
        "_id",
        F.expr(
            f"array_distinct(transform(sequence(1, greatest(size(_t) - {n - 1}, 1)), "
            f"i -> array_join(slice(_t, i, {n}), ' ')))"
        ).alias("_grams"),
    )
    if candidates is not None:
        # size-aware like verified_jaccard_pairs: broadcast a bounded
        # candidate set, shuffle a corpus-scale one
        cand = _candidate_join_side(candidates.select("id_a", "id_b"))
        a = grams.select(
            F.col("_id").alias("id_a"), F.col("_grams").alias("_ga")
        )
        b = grams.select(
            F.col("_id").alias("id_b"), F.col("_grams").alias("_gb")
        )
        half_a = a.join(cand, "id_a").select(
            "id_a", "id_b", "_ga"
        )
        half_b = b.join(cand, "id_b").select(
            "id_a", "id_b", "_gb"
        )
        inter = F.size(F.array_intersect("_ga", "_gb")).cast("double")
        union = F.size(F.array_union("_ga", "_gb")).cast("double")
        return (
            half_a.join(half_b, ["id_a", "id_b"])
            .withColumn("jaccard", F.round(inter / union, 6))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    # Inverted index as a flat (gram, id, doc-gram-count) relation; the
    # per-doc gram count rides WITH every posting row, so the final
    # Jaccard needs no join back to a sizes relation — two whole shuffle
    # stages cheaper. Hot grams (stopword-like, posting > max_posting)
    # are dropped BEFORE the self-join — they would contribute quadratic
    # candidates and near-zero Jaccard evidence.
    flat = grams.select(
        "_id", F.size("_grams").alias("_n"), F.explode("_grams").alias("g")
    )
    eligible_grams = (
        flat.groupBy("g")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where((F.col("_df") > 1) & (F.col("_df") <= max_posting))
        .select("g")
    )
    # feeds both join sides — persist lazily; the one _eager job below
    # populates it on first access. The eligible-grams relation is
    # O(vocabulary) — it GROWS with the corpus, and Spark's
    # post-aggregation size estimate can run low enough to pick a
    # broadcast join (measured: a 316 MiB broadcast at 50k docs, an OOM
    # in a 1 GB session and a non-starter at 100 TB) — force the
    # shuffle join explicitly. DISK_ONLY: the posting relation is
    # O(corpus grams) — deserialized in-memory caching of it OOMs a
    # small heap at 50k docs (measured: heap-OOM during block unroll in
    # a 1 GB session) and could never fit executor memory at 100 TB;
    # written once, read twice (both self-join sides), tiny unroll
    # footprint.
    from pyspark import StorageLevel

    posting = flat.join(eligible_grams.hint("merge"), "g").persist(
        StorageLevel.DISK_ONLY
    )
    # The candidate-pair aggregate is the heavy shuffle (every shared
    # gram contributes a row before map-side combine): at a coarse
    # partition count each reducer's external sort accumulates so many
    # spill files that the merge-phase read-ahead buffers alone OOM a
    # small executor (measured at 50k docs / 1 GB heap) — the eager job
    # runs under _pair_agg_confs (partition floor + small AQE advisory).
    spark = df.sparkSession
    try:
        with _pair_agg_confs(spark):
            a = posting.select(
                F.col("_id").alias("id_a"), F.col("_n").alias("n_a"), "g"
            )
            b = posting.select(
                F.col("_id").alias("id_b"), F.col("_n").alias("n_b"), "g"
            )
            pair_counts = (
                a.join(b, "g")
                .where(F.col("id_a") < F.col("id_b"))
                .groupBy("id_a", "id_b")
                .agg(
                    F.count(F.lit(1)).alias("shared"),
                    # constant per doc — any aggregate picks the value
                    F.first("n_a").alias("n_a"),
                    F.first("n_b").alias("n_b"),
                )
            )
            return _eager(
                pair_counts.withColumn(
                    "jaccard",
                    F.round(
                        F.col("shared")
                        / (F.col("n_a") + F.col("n_b") - F.col("shared")),
                        6,
                    ),
                )
                .where(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard")
            )
    finally:
        posting.unpersist()


# --------------------------------------------------------------------------
# cross-document duplicated-span statistics (exact substring dedup signal)
# --------------------------------------------------------------------------

def shared_ngram_stats(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document fraction of word n-grams that also occur in ANOTHER
    document — the document-level signal of exact-substring train-data
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", public): a long n (default 8) only collides on
    genuinely copied spans, so ``shared_frac`` ~ the fraction of a
    document that is boilerplate / syndicated / mirrored text.

    Returns (id, n_grams, n_distinct, shared_grams, shared_occ,
    shared_frac) for every document with at least one gram, where
    ``shared_grams`` counts distinct grams seen in >= 2 documents and
    ``shared_occ`` counts all their in-document occurrences;
    ``shared_frac = shared_occ / n_grams``.

    Scale shape: the document-frequency relation is a groupBy over the
    per-doc DISTINCT gram set, so partial aggregation collapses each
    document's contribution map-side and a corpus-wide stop-gram is ONE
    shuffled key with a big count — never a row explosion (contrast the
    pair-join in ngram_jaccard_pairs, which must cap postings; counting
    doc-frequency needs no cap). The join back is keyed on the gram and
    only carries grams the document actually contains.
    """
    from .text import word_ngrams

    # tokens pre-projected ONCE per doc (word_ngrams contract: an
    # inline tokenizer expression re-splits the text per gram index —
    # O(len^2) per document). regexp_extract_all of \S+ runs, NOT
    # filter(split(\s+)): identical results, but StringSplit recompiles
    # its regex per row while regexp_* caches the compiled pattern
    # (14x on the tokenization pass — see text.tokens).
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(r"\S+"), F.lit(0)
    )
    # per-(doc, gram) occurrence counts; feeds the doc-frequency agg, the
    # per-doc totals, AND the shared-mass join — persist lazily, released
    # by the one _eager job at the end. DISK_ONLY for the same reason as
    # ngram_jaccard_pairs' posting relation: O(corpus grams) rows can
    # never live in executor memory at scale.
    from pyspark import StorageLevel

    occ = (
        _spread(df)
        .select(F.col(id_col).alias("_id"), toks.alias("_toks"))
        .select(
            "_id",
            F.explode(word_ngrams(F.col("_toks"), n)).alias("g"),
        )
        .groupBy("_id", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist(StorageLevel.DISK_ONLY)
    )
    try:
        # the occ-build and shared-mass aggregates shuffle O(corpus
        # grams) rows — same spill-merge failure shape as the pair
        # aggregate, same confs
        with _pair_agg_confs(df.sparkSession):
            docfreq = (
                occ.groupBy("g")
                .agg(F.count(F.lit(1)).alias("_df"))
                .where(F.col("_df") >= 2)
                .select("g")
            )
            shared = (
                # docfreq is O(shared vocabulary) — corpus-growing, same
                # forced shuffle join as ngram_jaccard_pairs' posting
                # build
                occ.join(docfreq.hint("merge"), "g")
                .groupBy("_id")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("shared_grams"),
                    F.sum("cnt").cast("long").alias("shared_occ"),
                )
            )
            totals = occ.groupBy("_id").agg(
                F.sum("cnt").cast("long").alias("n_grams"),
                F.count(F.lit(1)).cast("long").alias("n_distinct"),
            )
            return _eager(
                totals.join(shared, "_id", "left")
                .select(
                    F.col("_id").alias(id_col),
                    "n_grams",
                    "n_distinct",
                    F.coalesce("shared_grams", F.lit(0)).alias(
                        "shared_grams"
                    ),
                    F.coalesce("shared_occ", F.lit(0)).alias("shared_occ"),
                    F.round(
                        F.coalesce("shared_occ", F.lit(0)).cast("double")
                        / F.col("n_grams"),
                        4,
                    ).alias("shared_frac"),
                )
            )
    finally:
        occ.unpersist()


def remove_duplicated_spans(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "cut",
    mask_token: str = "[DUP]",
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring span REMOVAL (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", public): the transform
    a pretraining pipeline runs on what ``shared_ngram_stats`` only
    measures. Every word position covered by a duplicated ``n``-gram is
    cut (``mode='cut'``) or each maximal removed run is replaced by one
    ``mask_token`` (``mode='mask'``), keeping ONE canonical occurrence
    of every duplicated span.

    Exact semantics (deliberately SQL-replicable so the catalog row
    carries a full value oracle): tokens are the non-empty
    whitespace-split words; gram identity is the lowercased n-gram; a
    gram is duplicated when its TOTAL occurrence count across the
    corpus is >= ``min_count`` (within-document repetition counts, per
    Lee et al.); the canonical occurrence of a duplicated gram is the
    minimum ``(doc_id, position)``; a token position is removed iff
    some duplicated gram occurrence covers it and that occurrence is
    not canonical. A document that is the corpus-first occurrence of a
    span therefore keeps it; every later copy loses it; a span repeated
    within one document keeps only its first occurrence. Documents
    shorter than ``n`` tokens contribute no grams and pass through
    (reconstructed with single-space joins, the one canonicalization
    the transform imposes).

    Returns ``(id, text, n_tokens, removed_tokens)``.

    Scale shape (same inverted-index discipline as
    ``shared_ngram_stats``): the gram-stats relation is a map-side-
    combinable groupBy over occurrences (``count`` + ``min(struct)``) —
    a corpus-wide stop-gram is ONE shuffled key, never a row blowup, so
    no posting cap is needed; it is corpus-growing, hence the forced
    shuffle join back (no broadcast of O(vocabulary)). The removed-
    occurrence join output is linear in the corpus' duplicated mass.
    Reconstruction never shuffles per-token rows: removed START
    positions aggregate to one document-bounded array per affected doc,
    the corpus joins that relation once on the doc id (AQE broadcasts
    it when few documents are affected), and span expansion + token
    reassembly are pure array expressions inside codegen
    (``array_except`` is O(len + removed), no per-token containment
    scans).
    """
    if mode not in ("cut", "mask"):
        raise ValueError(f"mode must be 'cut' or 'mask', got {mode!r}")
    if n < 1:
        raise ValueError(f"n={n} must be >= 1")
    from pyspark import StorageLevel

    toks, occ = _gram_occurrences(df, n, text_col, id_col)
    # feeds gram stats AND the removed-occurrence join — two query
    # stages of ONE action, so the persist is populated eagerly
    # (_populated: the AQE-concurrent consumers otherwise both miss and
    # recompute the posexplode stream; measured 2x at sf1);
    # O(corpus grams) rows stay on disk
    occ = _populated(occ.persist(StorageLevel.DISK_ONLY))
    try:
        with _pair_agg_confs(df.sparkSession):
            gstats = (
                occ.groupBy("g")
                .agg(
                    F.count(F.lit(1)).alias("_cnt"),
                    F.min(F.struct("_id", "_pos")).alias("_c"),
                )
                .where(F.col("_cnt") >= min_count)
                .select(
                    "g",
                    F.col("_c._id").alias("_cid"),
                    F.col("_c._pos").alias("_cpos"),
                )
            )
            removed_starts = (
                occ.join(gstats.hint("merge"), "g")
                .where(
                    ~(
                        (F.col("_id") == F.col("_cid"))
                        & (F.col("_pos") == F.col("_cpos"))
                    )
                )
                .select("_id", "_pos")
            )
            return _reconstruct_without_spans(
                toks, removed_starts, n, mode, mask_token, text_col, id_col
            )
    finally:
        occ.unpersist()


def _gram_occurrences(
    df: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    with_pos: bool = True,
    lowercase: bool = True,
    tokenizer: str = "whitespace",
    merges: list[tuple[str, str]] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared span-operator tokenization: returns ``(toks, occ)`` where
    ``toks`` is the ``(_id, _t)`` whitespace-token-array relation (what
    reconstruction rebuilds from) and ``occ`` is the lowercased n-gram
    occurrence stream — ``(_id, _pos, g)`` with 1-based start positions,
    or just ``(g)`` when ``with_pos=False`` (a benchmark side that only
    needs gram identity). ``lowercase=False`` keeps gram identity
    VERBATIM (the ExactSubstr convention — Lee et al. dedup bytes, not
    case-folded text).

    \\S+ runs via the pattern-cached regexp path (identical to the
    empty-filtered split; see text.tokens for the recompile trap). The
    lowercased shadow array is projected ONCE per doc (lowercasing
    inside the per-start lambda would re-transform the whole array per
    gram index — O(len^2) per document); ``_t`` reconstructs. Grams
    materialize as an array FIRST and posexplode after — exploding
    start positions with ``_t`` carried along would copy the whole
    token array into every gram row. The bounds below deliberately use
    ``size(_tl)``, not ``size(_t)``: multiple ``_tl`` references keep
    CollapseProject from folding the lowercase projection back into the
    lambda (the word_ngrams contract).

    ``tokenizer`` picks the token unit: ``'whitespace'`` (the default,
    pure-JVM regexp split) or ``'bpe'`` (byte-level BPE over ``merges``
    via ``text.with_bpe_units`` — Arrow-batched Python merge loop,
    byte-unicode-alphabet unit strings). BPE callers must pass
    ``lowercase=False``: byte units are case-exact by construction and
    lowercasing the alphabet strings would corrupt byte identity.
    """
    if tokenizer == "whitespace":
        toks = _spread(df).select(
            F.col(id_col).alias("_id"),
            F.regexp_extract_all(
                F.coalesce(F.col(text_col), F.lit("")),
                F.lit(r"\S+"),
                F.lit(0),
            ).alias("_t"),
        )
    elif tokenizer == "bpe":
        if lowercase:
            raise ValueError("tokenizer='bpe' requires lowercase=False")
        from amazon_s3_find_and_forget_spark.operators import text as _text

        toks = _text.with_bpe_units(
            _spread(df).withColumn(
                text_col, F.coalesce(F.col(text_col), F.lit(""))
            ),
            merges or [],
            text_col=text_col,
            out_col="_t",
        ).select(F.col(id_col).alias("_id"), "_t")
    else:
        raise ValueError(
            f"tokenizer must be 'whitespace' or 'bpe', got {tokenizer!r}"
        )
    Ll = F.size("_tl")
    grams_col = F.when(
        Ll >= n,
        F.transform(
            F.sequence(F.lit(1), Ll - (n - 1)),
            lambda i: F.array_join(F.slice("_tl", i, n), " "),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    shadow = F.transform("_t", F.lower) if lowercase else F.col("_t")
    lowered = toks.withColumn("_tl", shadow)
    if with_pos:
        occ = lowered.select(
            "_id", F.posexplode(grams_col).alias("_i", "g")
        ).select("_id", (F.col("_i") + 1).alias("_pos"), "g")
    else:
        occ = lowered.select(F.explode(grams_col).alias("g"))
    return toks, occ


def _reconstruct_without_spans(
    toks: DataFrame,
    removed_starts: DataFrame,
    n: int,
    mode: str,
    mask_token: str,
    text_col: str,
    id_col: str,
    joiner: str = " ",
    postprocess=None,
) -> DataFrame:
    """Shared span-removal reconstruction: expand removed START
    positions (``(_id, _pos)``) to covered token positions, rebuild
    each document's text from the retained tokens (cut mode) or with
    one ``mask_token`` per maximal removed run (mask mode). ``toks`` is
    the ``(_id, _t)`` token-array relation. Removed starts aggregate to
    one document-bounded array per affected doc, the corpus joins that
    relation once on the doc id (AQE broadcasts it when few documents
    are affected), and span expansion + token reassembly are pure array
    expressions inside codegen (``array_except`` is O(len + removed)).
    Returns the eagerly-materialized ``(id, text, n_tokens,
    removed_tokens)``.

    ``joiner`` is the token-reassembly separator (``' '`` for word
    tokens; ``''`` for BPE units, whose byte-unicode strings carry
    their own leading-space bytes). ``postprocess`` — an optional
    Column -> Column hook — runs over the reassembled text before the
    final projection (the BPE path decodes the alphabet back to UTF-8
    there); masks insert BEFORE it, so an ASCII mask survives any
    byte-faithful decode."""
    L = F.size("_t")
    rset = removed_starts.groupBy("_id").agg(
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(
                        F.sequence(
                            F.col("_pos"),
                            F.col("_pos") + F.lit(n - 1),
                        )
                    )
                )
            )
        ).alias("_rpos")
    )
    joined = toks.join(rset, "_id", "left").select(
        "_id",
        "_t",
        F.coalesce(
            "_rpos", F.expr("CAST(array() AS array<int>)")
        ).alias("_rpos"),
    )
    # guard: sequence(1, 0) would DESCEND in Spark ([1, 0]);
    # empty docs need an explicitly empty position domain
    positions = F.when(
        L >= 1, F.sequence(F.lit(1), L)
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    # ascending retained positions: array_except preserves the
    # left argument's order and hashes the right side
    keep = joined.withColumn(
        "_keep", F.array_except(positions, F.col("_rpos"))
    )
    if mode == "cut":
        text_out = F.array_join(
            F.transform("_keep", lambda p: F.element_at("_t", p)),
            joiner,
        )
    else:
        # one mask token per maximal removed run: emitted before
        # a kept token whose predecessor position was removed
        # (gap > 1 from the previous kept position, or a leading
        # gap), plus one trailing mask when the document ends
        # removed; an all-removed document collapses to a single
        # mask. transform's i is 0-based and element_at is
        # 1-based, so element_at(_keep, i) IS the previous
        # element (the i == 0 WHEN branch guards the 0 index —
        # CASE evaluates lazily). DataFrame-API lambdas with
        # F.lit(mask_token): the earlier interpolated-SQL form
        # carried backslash/quote escaping that parses wrong
        # under spark.sql.parser.escapedStringLiterals=true.
        mask = F.lit(mask_token)

        def _piece(p, i):
            tok = F.element_at("_t", p)
            gap = F.when(i == F.lit(0), p > 1).otherwise(
                p - F.element_at("_keep", i) > 1
            )
            return F.when(
                gap, F.concat(mask, F.lit(joiner), tok)
            ).otherwise(tok)

        text_out = F.when(
            F.size("_keep") == 0,
            F.when(F.size("_t") > 0, mask).otherwise(F.lit("")),
        ).otherwise(
            F.concat(
                F.array_join(F.transform("_keep", _piece), joiner),
                F.when(
                    F.element_at("_keep", -1) < F.size("_t"),
                    F.concat(F.lit(joiner), mask),
                ).otherwise(F.lit("")),
            )
        )
    if postprocess is not None:
        text_out = postprocess(text_out)
    return _eager(
        keep.select(
            F.col("_id").alias(id_col),
            text_out.alias(text_col),
            L.cast("long").alias("n_tokens"),
            (L - F.size("_keep")).cast("long").alias("removed_tokens"),
        )
    )


def decontaminate_spans(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "cut",
    mask_token: str = "[DUP]",
) -> DataFrame:
    """Span-level benchmark DECONTAMINATION: cut (or mask) every word
    position of the training pool covered by an ``n``-gram that occurs
    anywhere in the ``benchmark`` relation — the surgical form of
    test-set decontamination (removing the overlapping spans) where
    ``text.contamination_screen`` only FLAGS whole documents. Unlike
    :func:`remove_duplicated_spans` there is no canonical-occurrence
    keep: the benchmark is the contaminant, so EVERY matching pool
    occurrence is removed.

    Same exact conventions as span removal (deliberately SQL-replicable
    for the full value oracle): tokens are non-empty whitespace-split
    words, gram identity is the lowercased n-gram, documents shorter
    than ``n`` contribute no grams and pass through reconstructed with
    single-space joins. Returns ``(id, text, n_tokens,
    removed_tokens)``.

    Scale shape: the pool side is one gram posexplode with NO corpus
    aggregate at all (contrast span removal's gram stats — here gram
    badness comes from the benchmark, not corpus counts). The benchmark
    gram relation is DISTINCT-aggregated to O(benchmark vocabulary) and
    the join strategy derives from its COUNTED size against the band
    budget (the round-12 size-aware discipline: Catalyst's estimate of
    an exploded relation is unusable) — benchmarks are normally tiny
    next to the pool, so the probe broadcasts and the pool stream never
    shuffles; a corpus-scale "benchmark" degrades to a merge join
    instead of an OOM. Reconstruction shares
    ``_reconstruct_without_spans``.
    """
    if mode not in ("cut", "mask"):
        raise ValueError(f"mode must be 'cut' or 'mask', got {mode!r}")
    if n < 1:
        raise ValueError(f"n={n} must be >= 1")

    toks, occ = _gram_occurrences(df, n, text_col, id_col)
    bench_grams = _gram_occurrences(
        benchmark, n, text_col, id_col, with_pos=False
    )[1].distinct()
    # size-aware probe side: count the DISTINCT benchmark grams and
    # price them at their serialized string width — one aggregate over
    # the persisted relation gets both numbers in one job
    bench_grams = bench_grams.persist()
    try:
        stats = bench_grams.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.length("g")).alias("w"),
        ).collect()[0]
        n_grams = int(stats["n"])
        est_bytes = int(n_grams * (float(stats["w"] or 0.0) + 40))
        with _pair_agg_confs(df.sparkSession):
            if est_bytes <= BAND_BROADCAST_BUDGET:
                matched = occ.join(F.broadcast(bench_grams), "g")
            else:
                matched = occ.join(bench_grams.hint("merge"), "g")
            removed_starts = matched.select("_id", "_pos")
            return _reconstruct_without_spans(
                toks, removed_starts, n, mode, mask_token, text_col, id_col
            )
    finally:
        bench_grams.unpersist()


def dedup_exact_substrings(
    df: DataFrame,
    min_tokens: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "cut",
    mask_token: str = "[DUP]",
    min_count: int = 2,
    tokenizer: str = "whitespace",
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Variable-length exact-substring dedup — ExactSubstr (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better",
    public): remove every token that lies inside a VERBATIM substring
    of >= ``min_tokens`` tokens occurring >= ``min_count`` times in the
    corpus (across documents or repeated within one). Unlike
    :func:`remove_duplicated_spans` (fixed-n spans, canonical-keep)
    there is no kept occurrence and no case folding: the released
    ExactSubstr tool cuts EVERY copy of a duplicated sequence
    case-exactly.

    Token unit — the operating point ``min_tokens`` is denominated in:
    ``tokenizer='whitespace'`` (default) counts whitespace words, so
    ``min_tokens=50`` covers roughly 2.5x more text per window than
    Lee et al.'s released tool, which windows over byte-level BPE
    tokens. ``tokenizer='bpe'`` reproduces that operating point
    faithfully: documents tokenize through the real GPT-2-style merge
    loop over ``merges`` (``text.load_merges`` /
    ``text.train_bpe_merges``; ``[]`` degrades to pure byte-level),
    windows and duplicate identity live in the byte-unicode alphabet
    (case- and byte-exact — two spans match iff their BYTES match),
    reassembly concatenates kept units with no separator, and the
    output text decodes back to UTF-8 (``text.bpe_decode_units``), so
    cut mode splices the surviving bytes verbatim. Mask mode glues the
    ASCII ``mask_token`` directly between surviving bytes (there is no
    word boundary to respect at byte level).

    Exactness via window algebra (this is what makes the semantics
    VARIABLE-length with a fixed-width scan): a repeated substring of
    length ``m >= L`` is exactly tiled by its ``m - L + 1`` repeated
    L-token windows, and every repeated L-window is itself a repeated
    substring of length L — so the union of positions covered by
    duplicated L-windows IS the set of positions inside repeated
    substrings of length >= L, at any repeat length. The suffix array
    the reference tool builds becomes two aggregations.

    Scale shape (the 100-TB reading): the occurrence stream that
    persists/shuffles is ``(id, pos, xxhash64(window))`` — ~16 B per
    token position, never the window strings (a gram-string stream
    would write-amplify the corpus ~``min_tokens``-fold; contrast
    ``remove_duplicated_spans``' 8-gram stream, where the string is
    cheap). Window counting is a map-side-combinable groupBy over
    8-byte keys — a corpus-wide stop-window is ONE shuffled key. The
    duplicated-hash relation is priced by its counted size against
    ``BAND_BROADCAST_BUDGET`` (broadcast under, shuffled merge above —
    duplicated mass grows with the corpus, so a forced broadcast would
    OOM exactly like the vocabulary joins). Hash survivors are then
    VERIFIED against real window text, re-sliced from the per-document
    token arrays for candidate positions only — a relation the size of
    the corpus' duplicated mass — so a 64-bit collision can never cut
    a unique span: the result is exact, not probabilistic, at hash-
    stream cost. Reconstruction shares ``_reconstruct_without_spans``
    (document-bounded arrays, codegen expressions, one join).

    Returns ``(id, text, n_tokens, removed_tokens)``.
    """
    if mode not in ("cut", "mask"):
        raise ValueError(f"mode must be 'cut' or 'mask', got {mode!r}")
    if min_tokens < 1:
        raise ValueError(f"min_tokens={min_tokens} must be >= 1")
    if min_count < 2:
        raise ValueError(f"min_count={min_count} must be >= 2")
    if tokenizer not in ("whitespace", "bpe"):
        raise ValueError(
            f"tokenizer must be 'whitespace' or 'bpe', got {tokenizer!r}"
        )
    from pyspark import StorageLevel

    toks, occ = _gram_occurrences(
        df, min_tokens, text_col, id_col, lowercase=False,
        tokenizer=tokenizer, merges=merges,
    )
    joiner, postprocess = " ", None
    if tokenizer == "bpe":
        from amazon_s3_find_and_forget_spark.operators import text as _text

        @F.pandas_udf("string")
        def _decode(texts):
            return texts.map(_text.bpe_decode_units)

        joiner, postprocess = "", lambda c: _decode(c)
        # BPE tokenization is an Arrow-batched Python merge loop, not a
        # JVM regexp — the token relation feeds the occurrence stream,
        # the verify re-slice, AND reconstruction, so persist it once
        # instead of re-tokenizing per consumer (the whitespace path
        # recomputes because its tokenization is cheaper than the read).
        toks = toks.persist(StorageLevel.DISK_ONLY)
    # window identity collapses to 8 bytes BEFORE anything persists or
    # shuffles; feeds the count aggregate AND the candidate probe
    hstream = occ.select(
        "_id", "_pos", F.xxhash64("g").alias("_h")
    ).persist(StorageLevel.DISK_ONLY)
    cand = sliced = None
    try:
        with _pair_agg_confs(df.sparkSession):
            cand = (
                hstream.groupBy("_h")
                .agg(F.count(F.lit(1)).alias("_hc"))
                .where(F.col("_hc") >= min_count)
                .select("_h")
                .persist()
            )
            # counted-size pricing: 8 B key + ~48 B row overhead
            n_cand = cand.count()
            side = (
                F.broadcast(cand)
                if n_cand * 56 <= BAND_BROADCAST_BUDGET
                else cand.hint("merge")
            )
            hits = hstream.join(side, "_h").select("_id", "_pos")
            # verify phase: re-slice the candidate windows' text from
            # the document token arrays (positions aggregate to one
            # document-bounded array; AQE broadcasts the per-doc
            # relation when few documents carry candidates)
            cand_by_doc = hits.groupBy("_id").agg(
                F.collect_list("_pos").alias("_ps")
            )
            sliced = (
                toks.join(cand_by_doc, "_id")
                .select(
                    "_id",
                    F.explode(
                        F.transform(
                            "_ps",
                            lambda p: F.struct(
                                p.alias("_pos"),
                                F.array_join(
                                    F.slice("_t", p, min_tokens), " "
                                ).alias("g"),
                            ),
                        )
                    ).alias("_x"),
                )
                .select("_id", F.col("_x._pos").alias("_pos"),
                        F.col("_x.g").alias("g"))
                .persist(StorageLevel.DISK_ONLY)
            )
            # the verify re-slice feeds the dupg aggregate AND the
            # confirmed-occurrence join — two stages of the final
            # action; populate once (see _populated)
            sliced = _populated(sliced)
            # string-confirmed duplicated windows: every occurrence of a
            # window repeated >= min_count times is removed (no
            # canonical keep). The confirmed-window relation is
            # duplicated-mass-sized and corpus-growing — forced merge
            # join, same discipline as the span-removal gram stats.
            dupg = (
                sliced.groupBy("g")
                .agg(F.count(F.lit(1)).alias("_c"))
                .where(F.col("_c") >= min_count)
                .select("g")
            )
            removed = sliced.join(dupg.hint("merge"), "g").select(
                "_id", "_pos"
            )
            return _reconstruct_without_spans(
                toks, removed, min_tokens, mode, mask_token,
                text_col, id_col, joiner=joiner, postprocess=postprocess,
            )
    finally:
        hstream.unpersist()
        if cand is not None:
            cand.unpersist()
        if sliced is not None:
            sliced.unpersist()
        if tokenizer == "bpe":
            toks.unpersist()


def top_repeated_substrings(
    df: DataFrame,
    min_tokens: int = 20,
    k: int = 25,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokenizer: str = "whitespace",
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """The memorization-audit table: the ``k`` most-repeated verbatim
    ``min_tokens``-token windows in the corpus, with occurrence count,
    distinct-document count, and the first (minimum-id) document
    carrying each — the "most common duplicated substrings" analysis
    of Lee et al. 2021 (their Table of memorized boilerplate) and the
    diagnostic a curation run reads BEFORE deciding its
    ``dedup_exact_substrings`` cut. Ordering is total and
    deterministic: occurrences desc, then the window text asc (unique
    per group), so the LIMIT is stable cross-engine.

    Scale shape: same two-phase discipline as
    :func:`dedup_exact_substrings` — the counting stream is
    ``xxhash64`` windows (8-byte map-side-combinable keys, never the
    L-token strings), hash survivors are re-sliced from the document
    token arrays and re-counted by REAL window text, so a 64-bit
    collision can neither inflate a count nor merge two windows into
    one row. The final cut is a ``TakeOrderedAndProject`` over the
    string-confirmed duplicated-window relation (duplicated-mass-
    sized), k-bounded at the driver.

    ``tokenizer``/``merges`` mirror :func:`dedup_exact_substrings` so
    the audit counts the same unit the cut it informs will use; in BPE
    mode ``substring`` is the DECODED window text (distinct token
    windows can decode to equal byte strings when merge boundaries
    differ — they stay separate rows, counted separately, because they
    ARE distinct repeated token windows; the deterministic order stays
    on the undecoded window identity).

    Returns ``(substring, n_occurrences, n_docs, first_doc_id)``.
    """
    if min_tokens < 1:
        raise ValueError(f"min_tokens={min_tokens} must be >= 1")
    if k < 1:
        raise ValueError(f"k={k} must be >= 1")
    if tokenizer not in ("whitespace", "bpe"):
        raise ValueError(
            f"tokenizer must be 'whitespace' or 'bpe', got {tokenizer!r}"
        )
    from pyspark import StorageLevel

    toks, occ = _gram_occurrences(
        df, min_tokens, text_col, id_col, lowercase=False,
        tokenizer=tokenizer, merges=merges,
    )
    substring_out = F.col("g")
    if tokenizer == "bpe":
        from amazon_s3_find_and_forget_spark.operators import text as _text

        @F.pandas_udf("string")
        def _decode_window(gs):
            return gs.map(
                lambda g: None if g is None
                else _text.bpe_decode_units("".join(g.split(" ")))
            )

        substring_out = _decode_window(F.col("g"))
    hstream = occ.select(
        "_id", "_pos", F.xxhash64("g").alias("_h")
    ).persist(StorageLevel.DISK_ONLY)
    cand = None
    try:
        with _pair_agg_confs(df.sparkSession):
            cand = (
                hstream.groupBy("_h")
                .agg(F.count(F.lit(1)).alias("_hc"))
                .where(F.col("_hc") >= 2)
                .select("_h")
                .persist()
            )
            n_cand = cand.count()
            side = (
                F.broadcast(cand)
                if n_cand * 56 <= BAND_BROADCAST_BUDGET
                else cand.hint("merge")
            )
            hits = hstream.join(side, "_h").select("_id", "_pos")
            cand_by_doc = hits.groupBy("_id").agg(
                F.collect_list("_pos").alias("_ps")
            )
            sliced = toks.join(cand_by_doc, "_id").select(
                "_id",
                F.explode(
                    F.transform(
                        "_ps",
                        lambda p: F.array_join(
                            F.slice("_t", p, min_tokens), " "
                        ),
                    )
                ).alias("g"),
            )
            return _eager(
                sliced.groupBy("g")
                .agg(
                    F.count(F.lit(1)).alias("n_occurrences"),
                    F.count_distinct("_id").alias("n_docs"),
                    F.min("_id").alias("first_doc_id"),
                )
                .where(F.col("n_occurrences") >= 2)
                .orderBy(F.desc("n_occurrences"), F.asc("g"))
                .limit(k)
                .select(
                    substring_out.alias("substring"),
                    F.col("n_occurrences").cast("long").alias(
                        "n_occurrences"
                    ),
                    F.col("n_docs").cast("long").alias("n_docs"),
                    "first_doc_id",
                )
            )
    finally:
        hstream.unpersist()
        if cand is not None:
            cand.unpersist()


def remove_duplicated_paragraphs(
    df: DataFrame,
    sep: str = "\n",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Paragraph-level exact dedup — the C4/Dolma recipe (Raffel et al.
    2020, "Exploring the Limits of Transfer Learning..." §2.2 removed
    repeated three-sentence spans; the AI2 Dolma toolkit, Soldaini et
    al. 2024, dedups newline-delimited paragraphs — both public): split
    each document on the LITERAL ``sep``, drop every NON-CANONICAL
    occurrence of any non-empty paragraph whose corpus-wide occurrence
    count is >= ``min_count`` (canonical = minimum ``(doc, position)``),
    and reassemble the survivors in original order joined by ``sep``.
    The granularity between whole-document ``exact_dedup`` and n-gram
    ``remove_duplicated_spans`` — boilerplate headers/footers and
    syndicated paragraphs go, original prose stays.

    Exact conventions (deliberately SQL-replicable so the catalog row
    carries a FULL value oracle): paragraph identity is the exact
    string — no trim, no case fold; empty paragraphs (adjacent/leading/
    trailing separators) are document STRUCTURE, never duplicates and
    never removed, so surviving separators reassemble byte-exactly;
    NULL text is '' (one empty paragraph). Returns
    ``(id, text, n_paragraphs, removed_paragraphs)``.

    Scale shape: one posexplode; the paragraph-stats relation is a
    map-side-combinable groupBy (``count`` + ``min(struct)``) — a
    corpus-wide boilerplate footer is ONE shuffled key with a big
    count, never a row blowup — and it is corpus-growing, so the join
    back is a forced merge join (the ``shared_ngram_stats``
    discipline: no broadcast of O(distinct paragraphs)).
    Reconstruction never shuffles per-paragraph rows: removed
    positions aggregate to one document-bounded array per affected
    doc, the corpus joins that tiny relation once, and an indexed
    array filter + ``array_join`` rebuild the text map-side.
    """
    import re as _re

    from pyspark import StorageLevel

    if min_count < 2:
        raise ValueError(f"min_count={min_count} must be >= 2")
    if not sep:
        raise ValueError("sep must be a non-empty string")
    paras = F.split(
        F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep)
    )
    base = df.select(F.col(id_col).alias("_id"), paras.alias("_p"))
    occ = _populated(
        base.select(
            "_id", F.posexplode("_p").alias("_pos", "_para")
        )
        .where(F.length("_para") > 0)
        .persist(StorageLevel.DISK_ONLY)  # feeds stats AND the
        # removed-occurrence join (two stages of one action — populated
        # eagerly, see _populated); O(corpus paragraphs) stays on disk
    )
    try:
        with _pair_agg_confs(df.sparkSession):
            stats = (
                occ.groupBy("_para")
                .agg(
                    F.count(F.lit(1)).alias("_cnt"),
                    F.min(F.struct("_id", "_pos")).alias("_canon"),
                )
                .where(F.col("_cnt") >= min_count)
                .select("_para", "_canon")
            )
            removed = (
                occ.join(stats.hint("merge"), "_para")
                .where(
                    (F.col("_id") != F.col("_canon._id"))
                    | (F.col("_pos") != F.col("_canon._pos"))
                )
                .groupBy("_id")
                .agg(F.collect_set("_pos").alias("_rm"))
            )
            out = base.join(removed, "_id", "left").select(
                F.col("_id").alias(id_col),
                F.array_join(
                    F.filter(
                        "_p",
                        lambda x, i: ~F.coalesce(
                            F.array_contains("_rm", i), F.lit(False)
                        ),
                    ),
                    sep,
                ).alias(text_col),
                F.size("_p").cast("long").alias("n_paragraphs"),
                F.when(F.col("_rm").isNull(), F.lit(0))
                .otherwise(F.size("_rm"))
                .cast("long")
                .alias("removed_paragraphs"),
            )
            return _eager(out)
    finally:
        occ.unpersist()
