"""Batch-incremental deduplication against a persisted index.

The batch operators in :mod:`dedup` re-scan the whole corpus; at 100 TB
a daily 1 % ingest must not cost a daily 100 % dedup. These operators
keep a parquet-backed INDEX relation — content hashes for exact dedup,
MinHash signatures for near-dedup, LSH-keyed unit vectors for embedding
near-dedup — and screen each arriving batch against it without ever
shuffling the index:

- the arriving batch is the SMALL side by construction, so every probe
  of the index is either a pushed ``In`` predicate (parquet row-group /
  file pruning on a hash-sorted index — the same predicate-vs-join
  switch the Find phase uses, plans/find.py:42,100-112) or a broadcast
  hash probe riding the index SCAN (map-only; the index never moves);
- the index update is append-only: the novel documents' hashes /
  signatures are returned as a delta relation the caller appends to the
  index location (parquet append at scale; no rewrite, no merge).

Survivor policy matches the batch operators: indexed documents always
outrank arriving ones (they were seen first); within a batch the
smallest id survives — so incremental screening over a stream of
batches converges to exactly the batch result over the union (proven
by the ``dedup_incremental_*`` catalog rows' oracles and the
batch-agreement tests).
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import InputRefused
from .dedup import (
    _eager,
    banded_signatures,
    exact_dedup,
    minhash_signatures,
    optimal_bands,
    sig_agreement,
)

# Above this many distinct batch hashes, an In-predicate stops pruning
# and the broadcast probe wins (same trade as plans/find.py:42).
PREDICATE_VALUE_LIMIT = 2048


def read_index_or_empty(
    spark, index_dir, keep, index_cols, empty_index, defaults=None
):
    """Read the persisted index from ``index_dir``, keeping only rows
    matching ``keep`` (the protocol predicate that hides the current
    batch's own — possibly half-written — delta partition).

    ``defaults`` maps a column name in ``index_cols`` to a SQL type
    string; a listed column ABSENT from the on-disk schema is filled
    with a typed NULL instead of failing the select. This is how
    schema-evolved metadata columns (e.g. the Bloom ``hash_scheme``
    stamp added in round 17) read cleanly over indexes persisted by
    older builds: the NULL marks "written before the stamp existed"
    for the caller to adjudicate.

    The index is its ``batch=<digest>`` partitions (``ValueError`` on
    the removed ``batch_id=<int>`` layout), and ``batch`` reads as the
    string each directory is named by: a digest such as ``12345e2`` or
    ``0123456789012345`` is never inferred as a number.

    An empty index is legitimate in exactly two states, both "no delta
    was ever committed": no ``batch=`` directory exists yet (first
    batch, nothing written), or none holds a committed parquet footer —
    a crash during the FIRST delta's write leaves only
    ``_temporary``/marker files, and the read then fails schema
    inference. Both classify as empty; by the append-only protocol a
    non-empty index always has at least one committed, footer-bearing
    part file, so "unable to infer schema" can never mask real data.
    Any OTHER read failure (corrupt footer on committed data,
    permissions) propagates so the caller's retry machinery re-runs the
    batch — substituting an empty index there would silently re-admit
    every previously-seen document. ``screen_batch`` reads its
    index through here so this classification (whose error text has
    already changed across Spark versions, hence multiple markers)
    lives in one place.
    """
    from pyspark.errors import AnalysisException

    empty_markers = ("UNABLE_TO_INFER_SCHEMA", "Unable to infer schema")
    paths = list(_batch_dirs(spark, index_dir).values())
    if not paths:
        return empty_index()
    try:
        # each partition read as its own root has no partition column,
        # so this read infers no type for ``batch``
        data = spark.read.parquet(*paths).schema
    except AnalysisException as e:
        if not any(m in str(e) for m in empty_markers):
            raise
        return empty_index()
    # a partition column the reader is given is not inferred
    # (SPARK-26188), so ``batch`` keeps its directory-name text
    raw = (
        spark.read.schema(data.add("batch", "string"))
        .option("basePath", index_dir)
        .parquet(*paths)
    )
    cols = [
        F.lit(None).cast(defaults[c]).alias(c)
        if defaults and c in defaults and c not in raw.columns
        else F.col(c)
        for c in index_cols
    ]
    return raw.where(keep).select(*cols)


def _content_hash(text_col: str):
    """Null-safe dedup key. Batch ``exact_dedup`` partitions by
    ``md5(text)`` and SQL grouping folds NULLs into one group, so all
    null-text documents are one content group there; a raw NULL key
    here would never match any join/isin probe and re-admit null-text
    docs every batch (and poison the oracle's NOT IN). The sentinel
    keeps the two paths convergent."""
    return F.coalesce(F.md5(F.col(text_col)), F.lit("__NULL_TEXT__"))


def exact_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Build the exact-dedup index relation: one row per distinct
    content hash with its surviving (minimum) id.

    Persist this sorted by ``content_hash`` (``.sortWithinPartitions``
    after a range repartition, or layout.zorder) so later per-batch
    ``In`` probes prune row groups via parquet zone maps.
    """
    return df.groupBy(_content_hash(text_col).alias("content_hash")).agg(
        F.min(id_col).alias(id_col)
    )


def _seen_hashes(
    batch_hashes: DataFrame,
    index: DataFrame,
    predicate_value_limit: int,
) -> DataFrame:
    """Subset of ``batch_hashes`` already present in the index.

    Small batch (<= limit distinct hashes): collect the hash list and
    push it as an ``In`` predicate into the index scan — parquet stats
    prune whole files/row groups on a hash-sorted index. Large batch:
    broadcast the batch hashes and left-semi the index against them —
    one map-only pass over the index, no shuffle of either side's bulk.
    """
    hashes = [r[0] for r in batch_hashes.limit(predicate_value_limit + 1).collect()]
    if len(hashes) <= predicate_value_limit:
        return index.where(
            F.col("content_hash").isin(hashes)
        ).select("content_hash")
    return index.select("content_hash").join(
        F.broadcast(batch_hashes), "content_hash", "left_semi"
    )


def incremental_exact_dedup(
    new_df: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    predicate_value_limit: int = PREDICATE_VALUE_LIMIT,
) -> tuple[DataFrame, DataFrame]:
    """Screen an arriving batch against the exact index.

    Returns ``(novel, index_delta)``: the batch documents whose content
    was never seen (neither in the index nor earlier in this batch —
    min id survives within the batch), and their index rows to append.

    Plan shape: one shuffle of the BATCH (within-batch first-per-hash
    window), zero shuffles of the index (pushed ``In`` or broadcast
    probe), and a broadcast anti-join of the batch against the seen-set
    (bounded by the batch's own distinct count).
    """
    batch_first = exact_dedup(new_df, text_col, id_col).withColumn(
        "content_hash", _content_hash(text_col)
    )
    # the screened batch is re-read by the anti-join after driving the
    # seen-probe; checkpoint once so the window runs once
    batch_first = _eager(batch_first)
    batch_hashes = batch_first.select("content_hash").distinct()
    seen = _seen_hashes(batch_hashes, index, predicate_value_limit)
    novel = batch_first.join(
        F.broadcast(seen), "content_hash", "left_anti"
    )
    delta = novel.select("content_hash", id_col)
    return novel.drop("content_hash"), delta


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_perm: int = 64,
) -> DataFrame:
    """Build the near-dup index relation: (_id, _sig) MinHash signatures
    (the same kernel the batch path uses, so incremental and batch
    screening can never disagree about a signature)."""
    return minhash_signatures(df, text_col, id_col, k, num_perm)


def incremental_minhash_dedup(
    new_df: DataFrame,
    index_sigs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_perm: int = 64,
    bands: int | None = None,
    threshold: float = 0.8,
    broadcast: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Screen an arriving batch for near-duplicates of the indexed corpus.

    Returns ``(novel, index_delta)``: batch documents that near-match
    nothing in the index and nothing earlier (smaller id) in the batch,
    plus their signatures to append to the index.

    Plan shape: the batch's banded signatures BROADCAST (batch x bands
    rows of three longs + one signature — small by construction) and
    probe the index's banded projection as a map-only hash join riding
    the index scan; signatures travel WITH the bands on both sides, so
    the Jaccard estimate (fraction of agreeing components, the same
    inline verify as minhash_dedup's fused path) happens on the join
    row itself — one scan of the index, no pair materialization, no
    join-back. Within-batch screening reuses the batch fused pipeline
    on the (small) batch signatures.

    ``broadcast`` assumes the batch side fits the broadcast limit
    (~8 GB serialized; at num_perm=64 that is roughly 100M+ docs of
    banded signatures — far past any sane micro-batch). For a
    backfill-sized "batch" pass ``broadcast=False``: the band probe
    becomes a shuffled hash join (both sides exchange on band_hash —
    correct at any size, at the cost of shuffling the index once).

    Before planning, one index row is probed for its signature length
    (an eager one-row job — cheap on a file-backed index, but it
    recomputes a partition when the index is a freshly COMPUTED
    unpersisted relation) so a mismatched index fails at call time.
    """
    if bands is None:
        # threshold-tuned banding (see dedup.optimal_bands); band keys
        # are derived at call time, so a persisted index stays valid
        # under any bands choice — only num_perm is a storage parameter
        bands = optimal_bands(num_perm, threshold)
    # probe the first NON-NULL signature: sampling a null row and
    # passing vacuously would silently disable the fail-fast
    head = (
        index_sigs.where(F.col("_sig").isNotNull()).select("_sig").head(1)
    )
    if head and len(head[0][0]) != num_perm:
        # a persisted index built under a different num_perm would
        # slice past its signatures and silently re-admit every
        # near-duplicate of the indexed history — fail fast instead
        raise ValueError(
            f"index signatures have {len(head[0][0])} components but "
            f"num_perm={num_perm}; rebuild the index or match the "
            "parameters it was built with"
        )
    new_sigs = minhash_signatures(new_df, text_col, id_col, k, num_perm)
    new_sigs = _eager(new_sigs)  # one UDF pass; feeds three consumers
    sim = sig_agreement("_sig_a", "_sig_b") / F.lit(float(num_perm))

    # vs index: every band collision is verified inline; indexed docs
    # always outrank batch docs, so any hit drops the batch doc
    banded_new = banded_signatures(
        new_sigs, bands, num_perm, with_sig=True
    ).select(
        F.col("_id").alias("id_b"), F.col("_sig").alias("_sig_b"),
        "band_hash",
    )
    # in-plan per-row guard riding the index scan: a mismatched
    # signature length mostly KILLS band collisions (different slice
    # contents), so a bad index would lose recall with zero joined rows
    # for any post-join check to see — the guard must run on every
    # scanned index row. It is a FILTER (assert_true returns NULL on
    # success, so `.isNull()` keeps every surviving row): one size()
    # comparison per row before the banding projection, measured ~free,
    # where wrapping the _sig column itself re-evaluated the assert per
    # band (+27% on the sf1 screen). NULL signatures pass (they match
    # nothing); the sampled call-time probe above gives the friendlier
    # error.
    sig_guard = F.assert_true(
        F.col("_sig").isNull() | (F.size("_sig") == num_perm),
        F.lit(
            f"index signature length != num_perm={num_perm}; rebuild "
            "the index or match the parameters it was built with"
        ),
    )
    banded_idx = banded_signatures(
        index_sigs.where(sig_guard.isNull()), bands, num_perm, with_sig=True
    ).select(
        F.col("_id").alias("id_a"), F.col("_sig").alias("_sig_a"),
        "band_hash",
    )
    probe = F.broadcast(banded_new) if broadcast else banded_new
    dup_vs_index = (
        banded_idx.join(probe, "band_hash")
        .where(sim >= threshold)
        .select("id_b")
    )

    # within batch: smaller id survives (the batch fused-verify shape)
    a = banded_new.select(
        F.col("id_b").alias("id_a"), F.col("_sig_b").alias("_sig_a"),
        "band_hash",
    )
    dup_in_batch = (
        a.join(banded_new, "band_hash")
        .where(F.col("id_a") < F.col("id_b"))
        .where(sim >= threshold)
        .select("id_b")
    )

    drop = _eager(
        dup_vs_index.unionAll(dup_in_batch)
        .distinct()
        .withColumnRenamed("id_b", id_col)
    )
    novel = new_df.join(drop, on=id_col, how="left_anti")
    delta = new_sigs.join(
        drop.withColumnRenamed(id_col, "_id"), on="_id", how="left_anti"
    )
    return novel, delta


def bloom_params(capacity: int, fpp: float = 0.01) -> tuple[int, int]:
    """Standard Bloom sizing: ``m = -n ln p / (ln 2)^2`` bits (rounded
    up to a 64-bit word) and ``k = -ln p / ln 2`` hash functions — the
    optimal k expressed directly in ``fpp`` (at the optimum
    ``(m/n) ln 2`` reduces to exactly that), so rounding m up to a
    word can never inflate k: a capacity-1 filter gets the same 7
    probes as a billion-key one, not 44 (which would push bit fill
    past any sane bound on degenerate corpora). At ``fpp=0.01`` that
    is ~9.6 bits and 7 probes per key — 1.2 MB per million documents,
    the bounded-memory point of the structure."""
    import math

    if capacity < 1:
        raise ValueError(f"capacity={capacity} must be >= 1")
    if not 0 < fpp < 1:
        raise ValueError(f"fpp={fpp} must be in (0, 1)")
    m = int(math.ceil(-capacity * math.log(fpp) / (math.log(2) ** 2)))
    m = ((m + 63) // 64) * 64
    k = max(1, round(-math.log(fpp) / math.log(2)))
    return m, k


# Version stamp persisted with every Bloom delta row (round-17, closing
# the round-16 ADVICE gap): scheme 1 is the pre-r16 pair
# ``h1=xxhash64(text), h2=xxhash64(text, lit(1))``; scheme 2 is the
# current independent-seed pair ``h1=xxhash64(text),
# h2=xxhash64(lit(1), text)``. The two schemes place different bit
# patterns for the same document, so probing a scheme-1 bitmap with
# scheme-2 hashes yields FALSE NEGATIVES — previously-seen documents
# screen as novel and duplicates are re-admitted. Rows persisted
# before the stamp existed read back as NULL (see
# ``read_index_or_empty`` defaults) and are ambiguous: scheme-1 AND
# early scheme-2 builds both wrote stampless rows. Callers must
# refuse to screen over them unless the operator explicitly asserts
# the writing build's scheme (CLI ``--assume-hash-scheme``).
BLOOM_HASH_SCHEME = 2


def check_bloom_hash_scheme(rows, where: str, assume: int | None = None):
    """Adjudicate the ``hash_scheme`` stamps of collected Bloom delta
    rows before ORing them into a probe bitmap. ``assume`` resolves
    NULL (pre-stamp) rows to a declared scheme; stamped rows are never
    overridden. Raises ``InputRefused`` when any row's resolved scheme
    differs from ``BLOOM_HASH_SCHEME`` (or stays unknown)."""
    schemes = set()
    for r in rows:
        v = r["hash_scheme"] if "hash_scheme" in r.__fields__ else None
        schemes.add(int(v) if v is not None else assume)
    if None in schemes:
        raise InputRefused(
            f"bloom index at {where} has delta rows written before "
            "hash-scheme stamping (round 16 or earlier); the h2 hash "
            "changed in round 16, so probing an old bitmap with the "
            "current hashes silently re-admits seen documents. If the "
            "index was written by a build WITH the independent-seed h2 "
            "(post-fix), re-run with --assume-hash-scheme "
            f"{BLOOM_HASH_SCHEME}; otherwise rebuild into a fresh "
            "index dir."
        )
    stale = sorted(schemes - {BLOOM_HASH_SCHEME})
    if stale:
        raise InputRefused(
            f"bloom index at {where} was written under hash scheme(s) "
            f"{stale} but this build probes with scheme "
            f"{BLOOM_HASH_SCHEME}; the bitmaps are incompatible — "
            "rebuild the index into a fresh index dir."
        )


def _bloom_hashes(text_col: str):
    """Two independent 64-bit content hashes, computed JVM-side (one
    codegen pass, no Python in the hot path): the Kirsch-Mitzenmacher
    double-hashing base — probe ``i`` lands at ``(h1 + i*h2) mod m``
    in uint64 arithmetic, identical in build and probe because both
    run the same numpy kernel. NULL text folds to the exact screen's
    sentinel so the two screens stay convergent on null-text docs.

    Independence (round-16 ADVICE): ``h2`` hashes ``(lit(1), text)``
    — the constant is folded into the hash state BEFORE the text, so
    ``h2`` is a different-seed hash of the content, not a chained
    function of ``h1``. The earlier ``xxhash64(text, lit(1))`` form
    chained the constant AFTER the text, making ``h2 = g(h1)``: any
    64-bit ``h1`` collision forced identical full probe sequences (a
    guaranteed false positive instead of an independent second
    chance). Probability was negligible, but Kirsch-Mitzenmacher's
    analysis assumes pairwise-independent bases — now it holds.
    HASH-SCHEME NOTE: this changed every bitmap's bit pattern; a
    Bloom index persisted by a pre-r16 build must be rebuilt in a
    fresh index dir (mixing schemes would re-admit seen documents).
    Since round 17 every persisted delta row carries a
    ``hash_scheme`` stamp (``BLOOM_HASH_SCHEME``) and the read paths
    refuse mismatched or pre-stamp rows (``check_bloom_hash_scheme``)
    instead of screening over them."""
    safe = F.coalesce(F.col(text_col), F.lit("__NULL_TEXT__"))
    return F.xxhash64(safe).alias("_h1"), F.xxhash64(F.lit(1), safe).alias(
        "_h2"
    )


def _bloom_positions(h1, h2, num_bits: int, num_hashes: int):
    """k probe positions for int64 hash arrays, uint64 wraparound."""
    import numpy as np

    a = h1.astype(np.uint64)
    b = h2.astype(np.uint64)
    return [
        ((a + np.uint64(i) * b) % np.uint64(num_bits)).astype(np.int64)
        for i in range(num_hashes)
    ]


def bloom_build(
    df: DataFrame,
    num_bits: int,
    num_hashes: int,
    text_col: str = "text",
):
    """Build a Bloom membership filter over document content — the
    bounded-memory screening primitive of the AI2 Dolma dedupe tool
    (Soldaini et al. 2024, public; CCNet uses the same structure):
    where ``exact_index`` stores one row per distinct content (exact,
    index grows with the corpus), the Bloom filter stores a FIXED
    ``num_bits/8`` bytes chosen up front from (capacity, fpp) and
    answers "seen before?" with no false negatives and a priced
    false-positive rate.

    Distributed build: content hashes are JVM codegen (xxhash64 twice);
    each partition folds its documents into one packed ``uint64``
    bitmap in a vectorized numpy kernel (``np.bitwise_or.reduceat``-
    free — plain ``|=`` on k position arrays), and the driver ORs the
    per-partition bitmaps. Driver transfer is ``partitions x
    num_bits/8`` bytes — the filter is a sketch the operator's whole
    contract says fits in memory (1.2 MB per 1M docs at 1 %), so the
    OR-fold is never the bottleneck; a lake-scale build would coalesce
    to O(100) partitions first.

    Returns the bitmap as a numpy ``uint64`` array of ``num_bits/64``
    words (OR filters together to union corpora; serialize with
    ``.tobytes()``).
    """
    import numpy as np

    if num_bits % 64:
        raise ValueError(f"num_bits={num_bits} must be a multiple of 64")
    h1, h2 = _bloom_hashes(text_col)
    hashed = df.select(h1, h2)
    n_words = num_bits // 64
    schema = "bits binary"

    def fold(batches):
        words = np.zeros(n_words, dtype=np.uint64)
        any_rows = False
        for pdf in batches:
            if not len(pdf):
                continue
            any_rows = True
            for pos in _bloom_positions(
                pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy(),
                num_bits, num_hashes,
            ):
                np.bitwise_or.at(
                    words, pos >> 6,
                    np.uint64(1) << (pos.astype(np.uint64) & np.uint64(63)),
                )
        if any_rows:
            import pandas as pd

            yield pd.DataFrame({"bits": [words.tobytes()]})

    parts = hashed.mapInPandas(fold, schema).collect()
    out = np.zeros(n_words, dtype=np.uint64)
    for row in parts:
        out |= np.frombuffer(row["bits"], dtype=np.uint64)
    return out


def bloom_might_contain(
    df: DataFrame,
    bits,
    num_hashes: int,
    text_col: str = "text",
    flag_col: str = "might_contain",
) -> DataFrame:
    """Map-only membership probe: adds ``flag_col`` (boolean). The
    bitmap rides a SparkContext broadcast (shipped once per executor,
    like the prototypicality centroids); per batch the kernel is k
    vectorized gather-and-test passes over the JVM-computed hashes —
    no shuffle, no join, at any corpus size.

    Broadcast lifecycle (round-16 ADVICE): ``bits`` may be a live
    ``pyspark.Broadcast`` of the bitmap instead of the raw array — the
    caller then owns its lifetime and can ``destroy()`` it once every
    action over the returned DataFrame has run, instead of leaking one
    multi-MB broadcast per call until the ContextCleaner happens to
    reclaim it (the per-micro-batch accumulation a long-running stream
    cannot afford; ``incremental_bloom_dedup`` does exactly this). A
    raw array still works for one-shot batch callers — that single
    broadcast is reclaimed when the result is garbage-collected."""
    import numpy as np

    from pyspark import Broadcast

    if isinstance(bits, Broadcast):
        bc = bits
        num_bits = len(bc.value) * 64
    else:
        num_bits = len(bits) * 64
        bc = df.sparkSession.sparkContext.broadcast(bits)
    h1, h2 = _bloom_hashes(text_col)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def probe(h1s, h2s):
        import pandas as pd

        words = bc.value
        hit = None
        for pos in _bloom_positions(
            h1s.to_numpy(), h2s.to_numpy(), num_bits, num_hashes
        ):
            w = words[pos >> 6]
            b = (
                w >> (pos.astype(np.uint64) & np.uint64(63))
            ).astype(np.uint64) & np.uint64(1)
            hit = b if hit is None else (hit & b)
        if hit is None:
            return pd.Series([], dtype=bool)
        return pd.Series(hit.astype(bool))

    return df.withColumn(flag_col, probe(h1, h2))


def incremental_bloom_dedup(
    new_df: DataFrame,
    bits,
    num_hashes: int,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Screen an arriving batch against a Bloom filter of everything
    seen so far — the bounded-state sibling of
    :func:`incremental_exact_dedup`: the exact screen's index grows
    with the corpus and must be probed (pushed ``In`` / broadcast
    semi-join against parquet); the Bloom screen's state is a fixed
    few-MB bitmap and the probe is map-only. The price is a priced
    false-positive rate: a novel document can be wrongly dropped with
    probability ~fpp (never the reverse — flagged-as-new is always
    truly new), which a curation pipeline accepts by sizing fpp
    against the data loss it tolerates (Dolma ships 1e-4..1e-2).

    Within-batch duplicate resolution is EXACT (first-per-content via
    the batch window, same survivor policy as every screen); only the
    seen-before-this-batch question goes through the filter.

    Returns ``(novel, delta_bits)``: the surviving batch rows, and a
    bitmap of the survivors' content to OR into the persisted filter
    (``bits | delta_bits`` is the updated state).

    Broadcast lifecycle + single probe pass (round-16 ADVICE): the
    bitmap broadcast is created here, the surviving rows are
    ``_eager``-materialized (one probe pass feeds BOTH the delta build
    and whatever action the caller runs on ``novel`` — previously the
    lazy probe recomputed on each), and the broadcast is destroyed
    before returning — a caller screening thousands of batches holds
    exactly one bitmap broadcast at a time instead of accumulating them
    until GC.
    """
    batch_first = _eager(exact_dedup(new_df, text_col, id_col))
    num_bits = len(bits) * 64
    bc = new_df.sparkSession.sparkContext.broadcast(bits)
    try:
        flagged = bloom_might_contain(
            batch_first, bc, num_hashes, text_col, "_seen"
        )
        novel = _eager(flagged.where(~F.col("_seen")).drop("_seen"))
        delta = bloom_build(novel, num_bits, num_hashes, text_col)
    finally:
        bc.destroy()
    return novel, delta


def embedding_index(
    df: DataFrame,
    dim: int,
    bits: int = 10,
    n_tables: int = 8,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Build the embedding near-dup index relation:
    ``(_id, _u unit-normalized vector, _k array of n_tables bucket keys)``.

    The hyperplane family is a pure function of (dim, bits, seed), so an
    index built today and a batch keyed tomorrow land in the SAME
    buckets — the property that makes the screen incremental. Zero-norm
    vectors have no cosine and are excluded (they can never be anyone's
    near-duplicate). One Arrow gemm per table per batch; the n_tables
    keys are one array column, so the persisted index stays narrow.
    """
    from .similarity import _hyperplanes, _norm, hyperplane_bucket

    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(emb_col).alias("_emb"),
        _norm(F.col(emb_col)).alias("_n"),
    ).where(F.col("_n") > 0)
    keys = [
        F.xxhash64(
            F.lit(t),
            hyperplane_bucket(F.col("_emb"), _hyperplanes(dim, bits, seed + t)),
        )
        for t in range(n_tables)
    ]
    return base.select(
        "_id",
        F.transform("_emb", lambda x: x.cast("double") / F.col("_n")).alias(
            "_u"
        ),
        F.array(*keys).alias("_k"),
    )


def incremental_embedding_dedup(
    new_df: DataFrame,
    index: DataFrame,
    dim: int,
    threshold: float = 0.95,
    bits: int = 10,
    n_tables: int = 8,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    broadcast: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Screen arriving embeddings for near-duplicates of the indexed
    corpus (cosine >= threshold), LSH-bucketed like
    ``similarity.embedding_near_duplicates``.

    Returns ``(novel, index_delta)``. Plan shape mirrors the MinHash
    screen: the batch's exploded ``(bucket, id, unit-vector)`` keys
    BROADCAST and probe the index's exploded keys as a map-only hash
    join riding the index scan — the unit vectors travel WITH the keys
    on both sides, so the exact-cosine verify is an inline dot product
    on the join row. One scan of the index, no shuffle of it, no pair
    relation, precision 1.0 (every candidate exactly verified). A batch
    vector identical to an indexed one collides in EVERY table and
    verifies at cosine 1.0 — exact duplicates are dropped
    deterministically; only near-miss recall is probabilistic.

    Zero-norm batch vectors are never near-duplicates (no cosine) and
    pass through as novel, but are excluded from the index delta like
    the index build excludes them.

    ``broadcast=False`` switches the index probe to a shuffled hash
    join for backfill-sized batches past the broadcast limit (the
    exploded batch carries its unit vectors, so the limit arrives
    sooner here than in the MinHash screen at large dim).

    As in ``incremental_minhash_dedup``, one index row is probed
    eagerly so a mismatched index fails at call time.
    """
    from .similarity import _dot

    # first NON-NULL row, as in the MinHash probe
    head = (
        index.where(F.col("_u").isNotNull() & F.col("_k").isNotNull())
        .select("_u", "_k")
        .head(1)
    )
    if head and (len(head[0][0]) != dim or len(head[0][1]) != n_tables):
        # a mismatched hyperplane family (different dim/bits/tables/
        # seed cannot all be detected, but dim and table count can)
        # would bucket the two sides incompatibly and silently lose
        # recall
        raise ValueError(
            f"index vectors are dim={len(head[0][0])} with "
            f"{len(head[0][1])} tables; got dim={dim}, "
            f"n_tables={n_tables} — match the parameters the index "
            "was built with"
        )
    batch_keyed = _eager(
        embedding_index(new_df, dim, bits, n_tables, emb_col, id_col, seed)
    )
    exploded_new = batch_keyed.select(
        F.col("_id").alias("id_b"),
        F.col("_u").alias("_ub"),
        F.explode("_k").alias("lsh_bucket"),
    )
    # in-plan per-row guard, same rationale and filter form as the
    # MinHash screen: a mismatched hyperplane family mostly loses
    # collisions, so the check must ride the index scan, not the join
    # output; the filter evaluates once per row, before the explode
    vec_guard = F.assert_true(
        (F.col("_u").isNull() | (F.size("_u") == dim))
        & (F.col("_k").isNull() | (F.size("_k") == n_tables)),
        F.lit(
            f"index vector dim/tables mismatch: expected dim={dim}, "
            f"n_tables={n_tables}; rebuild the index or match the "
            "parameters it was built with"
        ),
    )
    exploded_idx = index.where(vec_guard.isNull()).select(
        F.col("_id").alias("id_a"),
        F.col("_u").alias("_ua"),
        F.explode("_k").alias("lsh_bucket"),
    )
    cos = _dot(F.col("_ua"), F.col("_ub"))
    probe = F.broadcast(exploded_new) if broadcast else exploded_new
    dup_vs_index = (
        exploded_idx.join(probe, "lsh_bucket")
        .where(cos >= threshold)
        .select("id_b")
    )
    a = exploded_new.select(
        F.col("id_b").alias("id_a"), F.col("_ub").alias("_ua"), "lsh_bucket"
    )
    dup_in_batch = (
        a.join(exploded_new, "lsh_bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .where(cos >= threshold)
        .select("id_b")
    )
    drop = _eager(
        dup_vs_index.unionAll(dup_in_batch)
        .distinct()
        .withColumnRenamed("id_b", id_col)
    )
    novel = new_df.join(drop, on=id_col, how="left_anti")
    delta = batch_keyed.join(
        drop.withColumnRenamed(id_col, "_id"), on="_id", how="left_anti"
    )
    return novel, delta


# --- index compaction (protocol-aware) -----------------------------------
#
# The ``screen_batch`` idempotent-retry protocol writes one delta
# directory per batch (``batch=<digest>``) and re-reads every prior delta
# on every screen: at a cadence of minutes, a year of batches is ~500k
# partition directories, and the file-LISTING cost grows linearly with
# the index's age until it dominates the screen itself. Naive compaction
# (fold everything into one dir) breaks the protocol, which relies on
# the per-batch partition value (the screen keeps ``batch != digest``)
# to hide a retried batch's own half-written output from itself. The
# fold below keeps the protocol intact: committed deltas fold into
# ``batch=base-<digest-of-committed-source-names>``, and the screen
# refuses user batch ids with the ``base-`` prefix, so no batch can
# ever exclude a base.
#
# A fold NEVER overwrites a committed directory (fresh name above):
# an in-place base rewrite crashing mid-write would leave rows whose
# source deltas are long deleted only in a markerless dir that the next
# run discards as a crashed write — permanent index loss. Re-running
# over an already-base-only index is an explicit no-op, so scheduled
# compaction converges instead of rewriting the index every epoch.
#
# Crash-safety is ordering, not atomicity: (1) fold (reading only
# _SUCCESS-committed directories; a base left by a crashed WRITE lacks
# the marker, and its content is then fully redundant because the
# deletes only run after a successful write), (2) overwrite-write the
# new base, (3) delete the folded directories. A crash between (2) and
# (3) leaves duplicate index rows — harmless to every screen (the index
# is probed for existence, and the fold dedups by key) — and the next
# compaction converges. All filesystem work goes through the Hadoop
# FileSystem API so the same code runs on posix, HDFS, and S3A.


def _hadoop_fs(spark, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jvm


def _list_dirs(spark, root: str) -> list[str]:
    """Immediate child directory NAMES of ``root`` ([] if absent)."""
    fs, jvm = _hadoop_fs(spark, root)
    hroot = jvm.org.apache.hadoop.fs.Path(root)
    if not fs.exists(hroot):
        return []
    return [
        st.getPath().getName()
        for st in fs.listStatus(hroot)
        if st.isDirectory()
    ]


def _batch_dirs(spark, index_dir: str) -> dict[str, str]:
    """``{digest: path}`` of an index's ``batch=<digest>`` partitions.

    Raises ``ValueError`` on ``batch_id=<int>`` partitions — the layout
    of the removed structured-streaming screens, which nothing reads —
    rather than report such an index as empty."""
    names = _list_dirs(spark, index_dir)
    if any(re.fullmatch(r"batch_id=-?\d+", n) for n in names):
        raise ValueError(
            f"{index_dir} holds batch_id=<int> partitions: that is the "
            "removed structured-streaming screen layout, which is no "
            "longer read; rebuild the index with dedup-screen"
        )
    return {
        n[len("batch="):]: f"{index_dir}/{n}"
        for n in names
        if n.startswith("batch=")
    }


def _has_success(spark, dirpath: str) -> bool:
    fs, jvm = _hadoop_fs(spark, dirpath)
    return fs.exists(jvm.org.apache.hadoop.fs.Path(dirpath + "/_SUCCESS"))


def _delete_dir(spark, dirpath: str) -> None:
    fs, jvm = _hadoop_fs(spark, dirpath)
    fs.delete(jvm.org.apache.hadoop.fs.Path(dirpath), True)


# Name of the folded-history manifest a CLI-layout compaction leaves
# inside its base partition: one folded batch digest per line. The
# leading underscore keeps it invisible to Spark's parquet reader (same
# convention as _SUCCESS), so it rides inside the partition directory
# without touching the index relation.
FOLDED_MANIFEST = "_folded_batches"


def _write_folded_manifest(spark, base_dir: str, digests: set[str]) -> None:
    """Write the folded-history manifest inside ``base_dir`` (after the
    parquet commit, before delta deletion — a crash in between leaves
    both the manifest and the deltas, and the next fold converges)."""
    fs, jvm = _hadoop_fs(spark, base_dir)
    out = fs.create(
        jvm.org.apache.hadoop.fs.Path(f"{base_dir}/{FOLDED_MANIFEST}"), True
    )
    try:
        out.write(bytearray("\n".join(sorted(digests)).encode()))
    finally:
        out.close()


def _read_folded_manifest(spark, base_dir: str) -> set[str]:
    fs, jvm = _hadoop_fs(spark, base_dir)
    p = jvm.org.apache.hadoop.fs.Path(f"{base_dir}/{FOLDED_MANIFEST}")
    if not fs.exists(p):
        return set()
    stream = fs.open(p)
    bos = jvm.java.io.ByteArrayOutputStream()
    # copyBytes(close=True) closes both ends even on failure
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, bos, 65536, True)
    data = bytes(bos.toByteArray()).decode()
    return {line.strip() for line in data.splitlines() if line.strip()}


def folded_batch_digests(spark, index_dir: str) -> set[str]:
    """Every CLI batch digest that compaction has folded into a base of
    this index — read from the ``_folded_batches`` manifests of all
    committed ``batch=base-*`` partitions. ``dedup-screen`` consults
    this before screening: a re-run of an already-folded batch would no
    longer exclude its own rows (they live in the base now), so every
    document would self-match and the re-run would overwrite its
    previously-correct novel output with an empty partition."""
    out: set[str] = set()
    for name in _list_dirs(spark, index_dir):
        if name.startswith("batch=base-") and _has_success(
            spark, f"{index_dir}/{name}"
        ):
            out |= _read_folded_manifest(spark, f"{index_dir}/{name}")
    return out


def input_fingerprint(spark, path: str) -> tuple[str, list[str]]:
    """(resolved path, sorted ``relpath|size|mtime`` entries) for a CLI
    batch input, listed through the Hadoop FileSystem API so s3a://,
    hdfs://, and plain posix inputs all fingerprint their landed bytes
    (an os.walk listing is silently empty for remote schemes, degrading
    the digest to path-only and re-opening the reused-path trap).

    Local scheme-less paths are realpath-resolved first so a retry
    reaching the same data through a different symlink spelling maps to
    the same batch partition. NOTE (digest format v2, round 12): for
    local DIRECTORY inputs the entry format changed from os.stat
    (nanosecond mtimes, walk order) to Hadoop status (millisecond
    mtimes, sorted) — a retry of a pre-upgrade crashed batch computes a
    NEW digest and must pass ``--batch-id <old digest>`` explicitly to
    keep excluding its own half-written delta.
    """
    import os as _os

    if "://" not in path:
        path = _os.path.realpath(path)
    fs, jvm = _hadoop_fs(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    entries: list[str] = []
    if fs.exists(hpath):
        qualified = fs.makeQualified(hpath)
        base = str(qualified)
        st0 = fs.getFileStatus(qualified)
        if st0.isDirectory():
            it = fs.listFiles(qualified, True)
            while it.hasNext():
                st = it.next()
                rel = str(st.getPath())[len(base):].lstrip("/")
                entries.append(
                    f"{rel}|{st.getLen()}|{st.getModificationTime()}"
                )
            entries.sort()
        else:
            entries.append(f".|{st0.getLen()}|{st0.getModificationTime()}")
    return path, entries


def _fold_rows(df: DataFrame) -> DataFrame:
    """Dedup the unioned deltas by index key. Duplicates only exist in
    the crash window between a base write and the delta deletes, and
    every row of a key is then identical modulo the survivor id —
    where the earliest (minimum) id is the survivor contract."""
    cols = df.columns
    if "content_hash" in cols:  # exact index: (content_hash, <id_col>)
        others = [c for c in cols if c != "content_hash"]
        return df.groupBy("content_hash").agg(
            *[F.min(c).alias(c) for c in others]
        )
    if "_id" in cols:  # minhash (_id,_sig) / embedding (_id,_u,_k)
        return df.dropDuplicates(["_id"])
    return df.dropDuplicates()


def compact_index(spark, index_dir: str) -> dict:
    """Fold a ``dedup-screen`` index's ``batch=<digest>`` delta
    directories into one ``batch=base-<digest>`` partition without
    breaking the screen's idempotent-retry protocol (see module note
    above). Run it between screens: a screen that lists the index
    mid-delete fails and must be re-run.

    Raises ``ValueError`` on an index holding ``batch_id=<int>``
    partitions (see ``_batch_dirs``) rather than report such an index as
    having nothing to fold.

    Returns ``{"BasePath", "BaseRows", "FoldedDirs", "RemovedDirs"}``
    (all-zero no-op when there is nothing to fold).
    """
    fold = _batch_dirs(spark, index_dir)
    noop = {"BasePath": None, "BaseRows": 0, "FoldedDirs": 0, "RemovedDirs": 0}
    if not fold:
        return noop

    def is_base(key: str) -> bool:
        return key.startswith("base-")

    # a crashed base WRITE has no _SUCCESS and its deltas all survive
    # (deletes run only after a successful write) — drop it from the
    # read set; a committed DELTA missing its marker is an integrity
    # hole we refuse to paper over
    sources = {}
    for key, path in fold.items():
        if _has_success(spark, path):
            sources[key] = path
        elif not is_base(key):
            raise ValueError(
                f"delta partition {path} has no _SUCCESS marker — "
                "refusing to fold (or silently drop) possibly-partial "
                "index data"
            )

    # The new base must NEVER overwrite a committed directory: a crash
    # during an in-place rewrite of the previous base would leave its
    # rows (whose source deltas are long deleted) only in a markerless
    # dir the next run classifies as a crashed write and discards —
    # permanent index loss. The digest covers the COMMITTED source
    # names — a previous base's name encodes its own history, so a
    # digest can only repeat for a retry of the same fold, whose target
    # is then at most a markerless partial.
    digest = hashlib.md5("\n".join(sorted(sources)).encode()).hexdigest()[:16]
    target = f"{index_dir}/batch=base-{digest}"
    already_base_only = len(sources) == 1 and is_base(next(iter(sources)))
    if not sources or already_base_only:
        for path in fold.values():  # clear crashed partial bases
            if path not in sources.values():
                _delete_dir(spark, path)
                noop["RemovedDirs"] += 1
        return noop

    # read without a basePath, so the fold carries (and Spark infers a
    # type for) no ``batch`` column
    folded = _fold_rows(spark.read.parquet(*sources.values()))
    folded = _eager(folded)
    base_rows = folded.count()
    # fresh (or at-most-partial) target, never a committed dir — see note
    folded.write.mode("overwrite").parquet(target)
    # record WHICH batch digests now live in the base (carrying forward
    # any previous base's history), so dedup-screen can refuse a re-run
    # of a folded batch — after the fold its rows are in the base, its
    # own-partition exclusion no longer hides them, and the re-run would
    # self-match every document and overwrite its correct novel output
    # with an empty partition. Written AFTER the parquet commit, BEFORE
    # the deletes: a crash in between leaves manifest + deltas, and the
    # next fold re-derives the same history.
    history: set[str] = set()
    for key, path in sources.items():
        if is_base(key):
            history |= _read_folded_manifest(spark, path)
        else:
            history.add(key)
    _write_folded_manifest(spark, target, history)
    removed = 0
    for path in fold.values():
        if path != target:
            _delete_dir(spark, path)
            removed += 1
    return {
        "BasePath": target,
        "BaseRows": base_rows,
        "FoldedDirs": len(sources),
        "RemovedDirs": removed,
    }


def check_batch_id(batch_id: str) -> None:
    """Refuse (``InputRefused``) an explicit batch id that cannot name
    its own partitions. The id becomes ``batch=<id>`` directories and is
    string-compared against Spark's URL-decoded partition value: '/'
    nests directories, '%' round-trips decoded ('a%2Fb' reads back as
    'a/b' and stops excluding the batch's own delta), '=' breaks
    partition parsing, and ``base-`` names compaction bases."""
    if not re.fullmatch(r"[A-Za-z0-9._-]{1,64}", batch_id):
        raise InputRefused(
            "--batch-id must be 1-64 chars of [A-Za-z0-9._-]: it names a "
            "batch=<id> partition directory and must round-trip Spark's "
            "partition-value decoding verbatim"
        )
    if batch_id.startswith("base-"):
        raise InputRefused(
            "--batch-id must not start with 'base-': that prefix names "
            "compaction base partitions, and a batch id colliding with one "
            "would self-exclude the folded index (compact-index) and "
            "re-admit every indexed document"
        )


_BLOOM_DELTA = "bits binary, num_bits long, num_hashes int, hash_scheme int"


def screen_batch(
    spark, input_path: str, index_dir: str, novel_out: str,
    mode: str = "exact", *, text_col: str = "text", id_col: str = "doc_id",
    threshold: float | None = None, emb_col: str = "embedding",
    dim: int | None = None, bits: int = 10, tables: int = 8,
    lsh_seed: int = 42, bloom_capacity: int | None = None,
    bloom_fpp: float = 0.01, assume_hash_scheme: int | None = None,
    batch_id: str | None = None,
) -> tuple[dict, list[dict]]:
    """Screen the parquet batch at ``input_path`` against the index in
    ``index_dir`` (``mode``: exact, minhash, embedding or bloom). The
    novel rows go to ``novel_out/batch=<id>`` and the index delta to
    ``index_dir/batch=<id>``, both overwritten. Returns the batch-scoped
    report (lake-wide counts would re-scan the history) and warnings.

    ``<id>`` is ``batch_id`` (see ``check_batch_id``), or else a digest
    of the resolved input path plus its file listing
    (``input_fingerprint``). Screening excludes the batch's own
    partition, so a retry after a mid-write failure overwrites instead
    of appending duplicates, and new data at a reused path gets a new
    identity instead of overwriting the earlier delta. Partitions
    without ``_SUCCESS`` never screen: a crashed run's half-written
    delta would drop this batch's documents as seen.

    A bloom index's geometry is pinned by its first batch, which must
    give ``bloom_capacity``; later sizing arguments that disagree are
    ignored with a warning. Raises ``InputRefused`` for a batch already
    folded into a compaction base (its rows now live in the base and
    would all self-match), a bloom index of mixed geometry or of
    another hash scheme, and a first bloom batch without capacity.
    """
    import numpy as np

    warnings: list[dict] = []

    def refuse(msg: str):
        raise InputRefused(msg, warnings)

    batch = spark.read.parquet(input_path)
    if batch_id is not None:
        check_batch_id(batch_id)
        digest = batch_id
    else:
        real, entries = input_fingerprint(spark, input_path)
        digest = hashlib.md5(
            "\n".join([real] + entries).encode()
        ).hexdigest()[:16]
    if digest in folded_batch_digests(spark, index_dir):
        refuse(
            f"batch {digest} was already screened and folded into a "
            "compaction base of this index; re-running it would self-match "
            "every row and overwrite its novel output with an empty "
            "partition. If you intend to re-screen this data as a NEW "
            "batch, pass a fresh --batch-id."
        )
    partials = [
        n[len("batch="):]
        for n in _list_dirs(spark, index_dir)
        if n.startswith("batch=")
        and not _has_success(spark, f"{index_dir}/{n}")
    ]
    keep = F.col("batch") != digest
    if partials:
        warnings.append({
            "Warning": "uncommitted batch partitions "
            "excluded from the screen (crashed run?)",
            "Partitions": sorted(partials),
        })
        keep = keep & ~F.col("batch").isin(partials)

    def empty_index():
        if mode == "exact":
            return exact_index(batch.limit(0), text_col, id_col)
        if mode == "minhash":
            return minhash_index(batch.limit(0), text_col, id_col)
        if mode == "embedding":
            return embedding_index(
                batch.limit(0), dim, bits, tables,
                emb_col=emb_col, id_col=id_col, seed=lsh_seed,
            )
        return spark.createDataFrame([], _BLOOM_DELTA)

    index = read_index_or_empty(
        spark, index_dir, keep,
        {
            "exact": ["content_hash", id_col],
            "minhash": ["_id", "_sig"],
            "embedding": ["_id", "_u", "_k"],
            # one bitmap row per batch, ORed on read, so compaction's
            # row-concatenating fold is already correct for it
            "bloom": ["bits", "num_bits", "num_hashes", "hash_scheme"],
        }[mode],
        empty_index, defaults={"hash_scheme": "int"},
    )
    if threshold is None:
        threshold = {"minhash": 0.8, "embedding": 0.95}.get(mode, 0.0)
    if mode == "exact":
        novel, delta = incremental_exact_dedup(batch, index, text_col, id_col)
    elif mode == "bloom":
        rows = index.collect()  # one bitmap row per committed batch
        if rows:
            try:
                check_bloom_hash_scheme(rows, index_dir, assume_hash_scheme)
            except InputRefused as e:
                refuse(str(e))
            num_bits = int(rows[0]["num_bits"])
            n_hashes = int(rows[0]["num_hashes"])
            if any(
                int(r["num_bits"]) != num_bits
                or int(r["num_hashes"]) != n_hashes
                for r in rows
            ):
                refuse(
                    "bloom index mixes filter geometries — deltas disagree "
                    "on num_bits/num_hashes; screen a new geometry into a "
                    "fresh --index-dir"
                )
            bloom = np.zeros(num_bits // 64, dtype=np.uint64)
            for r in rows:
                bloom |= np.frombuffer(bytes(r["bits"]), dtype=np.uint64)
            if bloom_capacity is not None:
                want = bloom_params(bloom_capacity, bloom_fpp)
                if want != (num_bits, n_hashes):
                    warnings.append({
                        "Warning": "bloom geometry flags ignored: the "
                        "filter keeps its first-batch geometry; to "
                        "resize, rebuild into a fresh --index-dir",
                        "InheritedNumBits": num_bits,
                        "InheritedNumHashes": n_hashes,
                        "RequestedNumBits": want[0],
                        "RequestedNumHashes": want[1],
                    })
        else:
            if bloom_capacity is None:
                refuse(
                    "--mode bloom requires --bloom-capacity on the first "
                    "batch (the filter's fixed memory is sized from it)"
                )
            num_bits, n_hashes = bloom_params(bloom_capacity, bloom_fpp)
            bloom = np.zeros(num_bits // 64, dtype=np.uint64)
        novel, delta_bits = incremental_bloom_dedup(
            batch, bloom, n_hashes, text_col, id_col
        )
        delta = spark.createDataFrame(
            [(bytearray(delta_bits.tobytes()), num_bits, n_hashes,
              BLOOM_HASH_SCHEME)],
            _BLOOM_DELTA,
        )
    elif mode == "minhash":
        novel, delta = incremental_minhash_dedup(
            batch, index, text_col, id_col, threshold=threshold
        )
    else:
        novel, delta = incremental_embedding_dedup(
            batch, index, dim, threshold=threshold, bits=bits,
            n_tables=tables, seed=lsh_seed, emb_col=emb_col, id_col=id_col,
        )
    novel_dir = f"{novel_out}/batch={digest}"
    delta_dir = f"{index_dir}/batch={digest}"
    novel.write.mode("overwrite").parquet(novel_dir)
    delta.write.mode("overwrite").parquet(delta_dir)
    report = {
        "Mode": mode,
        "Batch": digest,
        "BatchRows": batch.count(),
        "NovelRows": spark.read.parquet(novel_dir).count(),
        "IndexRowsAdded": spark.read.parquet(delta_dir).count(),
    }
    return report, warnings
