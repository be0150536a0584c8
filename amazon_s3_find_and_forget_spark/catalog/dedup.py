"""Deduplication catalog rows.

Exact groups/survivors, MinHash/SimHash/n-gram near-dup, transitive
components, semantic dedup — plus the deterministic quality-claim gates
for the seeded approximate operators.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup, similarity
from .loader import _summary_row, load
from .text import TINY_MERGES


def q_dedup_components(spark, sf_dir):
    """Transitive duplicate clusters over the n-gram Jaccard pair graph.

    The iterative min-label/pointer-jumping connected components
    (operators/graph.py) against DuckDB's recursive-CTE reachability —
    an exact value oracle for an iterative algorithm.
    """
    from ..operators.graph import dedup_clusters

    pairs = dedup.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), n=3, threshold=0.5
    )
    return dedup_clusters(pairs.select("id_a", "id_b"))


def q_dedup_components_minhash(spark, sf_dir):
    """Transitive clustering over the SCALE-VIABLE pair source (gate
    check, sample-bounded).

    dedup_components proves the clustering against exact all-pairs
    n-gram Jaccard — a pair source that is inherently quadratic and
    DNFs at 500k docs (SCALE.md), so above sf1 the engine's only
    transitive-dedup evidence was indirect. This row gates the path
    users run at scale: MinHash-LSH candidates, exact-verified with
    candidate-restricted n-gram Jaccard at the SAME (n=3, t=0.5)
    semantics, then pointer-jumping components. Two deterministic
    claims:

    - refine_ok: verified-candidate pairs are a SUBSET of the exact
      pair relation (same similarity, same threshold, no posting cap at
      this corpus bound), so every MinHash cluster must map into
      EXACTLY ONE exact cluster, and every clustered node must appear
      in the exact graph — set algebra, not a statistical floor.
    - recall_ok: >=90% of exact pairs at J >= 0.65 (0.15 above the
      cutoff — 2.4 sigma of the 64-perm estimator, stable under any
      data seed) land in the SAME MinHash cluster; singletons count as
      their own cluster via coalesce(cluster, doc_id).

    Sample-bounded like dedup_minhash_recall (first 1000 ids): the
    exact baseline is the quadratic side, the claim transfers because
    banding recall depends on (num_perm, bands, J), not corpus size.
    """
    from ..operators.graph import dedup_clusters

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    n_docs = docs.count()
    cand = dedup.minhash_candidate_pairs(
        docs, bands=dedup.optimal_bands(64, 0.5)
    )
    mh_pairs = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, candidates=cand
    )
    exact_pairs = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.5
    ).persist()
    try:
        mh = dedup_clusters(mh_pairs.select("id_a", "id_b")).persist()
        ex = dedup_clusters(exact_pairs.select("id_a", "id_b")).select(
            "doc_id", F.col("cluster").alias("ex_cluster")
        )
        n_mh_nodes = mh.count()
        joined = mh.join(ex, "doc_id")
        n_joined = joined.count()
        refine_viol = (
            joined.groupBy("cluster")
            .agg(F.count_distinct("ex_cluster").alias("_nex"))
            .where(F.col("_nex") > 1)
            .count()
        )
        hi = exact_pairs.where(F.col("jaccard") >= 0.65).select(
            "id_a", "id_b"
        )
        ca = mh.select(
            F.col("doc_id").alias("id_a"), F.col("cluster").alias("_cl_a")
        )
        cb = mh.select(
            F.col("doc_id").alias("id_b"), F.col("cluster").alias("_cl_b")
        )
        same = (
            hi.join(ca, "id_a", "left")
            .join(cb, "id_b", "left")
            .where(
                F.coalesce(F.col("_cl_a"), F.col("id_a"))
                == F.coalesce(F.col("_cl_b"), F.col("id_b"))
            )
        )
        n_hi = hi.count()
        n_same = same.count()
    finally:
        exact_pairs.unpersist()
        mh.unpersist()
    return _summary_row(
        spark,
        n_docs=n_docs,
        refine_ok=(refine_viol == 0 and n_joined == n_mh_nodes),
        recall_ok=(n_hi == 0 or n_same / n_hi >= 0.9),
    )


def q_dedup_clusters_minhash(spark, sf_dir):
    """Full-corpus transitive near-dup clusters over MinHash pairs at
    the tuned production point (t=0.8, signature-estimate verify) —
    the composition a 100-TB dedup actually runs, and the sf10 lane's
    components soak row (round-12 verdict ask #3). Rows-only like the
    survivor rows: the pair set is seed-deterministic but not
    SQL-replicable; quality is gated by dedup_components_minhash."""
    return dedup.minhash_dedup_clusters(
        load(spark, sf_dir, "documents"), threshold=0.8
    )


def q_dedup_simhash_pairs_v2(spark, sf_dir):
    """SimHash pairs over the linear-output near-dup variant corpus
    (``documents_v2``, tools/make_scale_data.py): word-PERMUTED tiles
    preserve bag-of-words, so the permutation corpus SimHash-collides
    every copy with every other copy — 28.2M artifact pairs at sf10
    (round-12 SCALE.md) — while the v2 corpus gives each doc O(1)
    near-dup partners, so the lane measures the engine, not the
    generator. LANE-ONLY: documents_v2 exists only in derived scale
    dirs, so this is not in the sweep registry (the kernel itself is
    oracle-gated by dedup_simhash_complete/dedup_simhash_pairs)."""
    return dedup.simhash_near_duplicates(
        load(spark, sf_dir, "documents_v2"), max_hamming=3
    )


def q_semantic_dedup_complete(spark, sf_dir):
    """SemDeDup completeness (quality-gate shape, sample-bounded).

    The operator's cluster-keyed join must produce EXACTLY the survivor
    set of an independent brute-force replication of the rule (all
    in-cluster pairs via plain crossJoin-filter on the 1000-id sample):
    drop y iff a lower id x in the same cluster has cosine(x,y) >=
    threshold. Set equality, not a statistical floor — the clusters and
    the rule are deterministic for a fixed seed.
    """
    embs = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 1000)
    n_vecs = embs.count()
    cent = similarity.train_ivf_centroids(
        embs, n_centroids=8, sample_size=2000
    )
    surv = {
        r["vec_id"]
        for r in similarity.semantic_dedup(
            embs, cent, threshold=0.9
        ).collect()
    }
    assigned = similarity.with_ivf_cell(embs, cent).select(
        "vec_id", "embedding", "ivf_cell"
    )
    rows = assigned.collect()
    import numpy as np

    ids = np.array([r["vec_id"] for r in rows])
    cells = np.array([r["ivf_cell"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1)
    order = np.argsort(ids)
    ids, cells, X, norms = ids[order], cells[order], X[order], norms[order]
    dropped = set()
    nz = norms > 0
    U = np.zeros_like(X)
    U[nz] = X[nz] / norms[nz][:, None]
    for c in np.unique(cells):
        sel = np.where((cells == c) & nz)[0]
        if len(sel) < 2:
            continue
        sims = U[sel] @ U[sel].T
        for j in range(1, len(sel)):
            if (sims[:j, j] >= 0.9).any():
                dropped.add(int(ids[sel[j]]))
    surv_bf = {int(i) for i in ids} - dropped
    return _summary_row(
        spark,
        n_vecs=n_vecs,
        complete_ok=(surv == surv_bf),
        nonempty_ok=(0 < len(surv) <= n_vecs),
    )


def q_dedup_exact_groups(spark, sf_dir):
    return dedup.exact_dup_groups(load(spark, sf_dir, "documents"))


def q_dedup_exact_survivors(spark, sf_dir):
    return dedup.exact_dedup(load(spark, sf_dir, "documents")).select(
        "doc_id", "n_chars"
    )


def q_dedup_minhash_survivors(spark, sf_dir):
    """Legacy operating point: threshold=0.5 deliberately maps to the
    original r=4 banding layout (optimal_bands' output contract), so
    this row's survivor set stays byte-stable across rounds. It is the
    engine's SLOWEST supported MinHash configuration; the _t08 sibling
    below benchmarks the tuned default."""
    return dedup.minhash_dedup(
        load(spark, sf_dir, "documents"), threshold=0.5
    ).select("doc_id")


def q_dedup_minhash_survivors_t08(spark, sf_dir):
    """The tuned PRODUCTION operating point (threshold=0.8, the
    operator's default): optimal_bands selects the threshold-tuned
    banding preset (b=16, r=4 at num_perm=64 resolves differently —
    see dedup.optimal_bands), measured 2.3x faster than the legacy
    layout at equal recall/precision in the round-11 A/B
    (``git show ef4b941:tools/ab_minhash_presets.py``). Registered so
    the headline bench exercises the configuration users actually get
    by default, not only the slowest supported one (r11 VERDICT ask
    #3). Rows-only
    like the t=0.5 row: the survivor set is seed-deterministic but
    not SQL-replicable; quality is gated by dedup_minhash_recall."""
    return dedup.minhash_dedup(
        load(spark, sf_dir, "documents"), threshold=0.8
    ).select("doc_id")


def q_dedup_simhash_pairs(spark, sf_dir):
    return dedup.simhash_near_duplicates(
        load(spark, sf_dir, "documents"), max_hamming=3
    )


def q_dedup_ngram_pairs(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), n=3, threshold=0.5
    )


def q_dedup_shared_ngrams(spark, sf_dir):
    return dedup.shared_ngram_stats(load(spark, sf_dir, "documents"), n=8)


def q_dedup_span_removal(spark, sf_dir):
    """Exact-substring span removal (Lee et al. 2022) — the transform
    on dedup_shared_ngrams' measurement: every position covered by a
    duplicated 8-gram is cut, keeping the corpus-first (min doc_id,
    pos) occurrence. Fully deterministic and SQL-replicable, so this
    row carries a FULL value oracle: the rewritten text itself is
    hash-compared, not just counts."""
    return dedup.remove_duplicated_spans(
        load(spark, sf_dir, "documents"), n=8
    )


def q_dedup_span_mask(spark, sf_dir):
    """Mask-mode sibling of dedup_span_removal: each maximal removed
    run collapses to ONE '[DUP]' token (leading/trailing/all-removed
    shapes included), preserving where cuts happened for downstream
    audit. Same full value oracle discipline — the masked text is
    hash-compared."""
    return dedup.remove_duplicated_spans(
        load(spark, sf_dir, "documents"), n=8, mode="mask"
    )



def q_dedup_decontaminate_spans(spark, sf_dir):
    """Span-level benchmark decontamination: every pool position
    covered by an 8-gram occurring in the pseudo-benchmark (every 50th
    doc) is cut — the surgical counterpart of text_contamination's
    whole-doc flags, with NO canonical keep (the benchmark is the
    contaminant). FULL value oracle: the rewritten text is
    hash-compared."""
    docs = load(spark, sf_dir, "documents")
    return dedup.decontaminate_spans(
        docs.where(F.col("doc_id") % 50 != 0),
        docs.where(F.col("doc_id") % 50 == 0),
        n=8,
    )


def q_dedup_exact_substrings(spark, sf_dir):
    """ExactSubstr (Lee et al. 2021) at min_tokens=20: every token
    inside a VERBATIM >= 20-token substring occurring >= 2 times
    anywhere in the corpus is cut from ALL occurrences — variable-
    length repeats via the window-tiling algebra, no canonical keep,
    no case folding (the released tool's semantics; contrast
    dedup_span_removal's fixed-8-gram canonical-keep). The engine runs
    the hash-count + string-verify two-phase; the oracle recomputes the
    same semantics directly over window strings, so the hash phase's
    exactness (a 64-bit collision must be filtered by verification,
    never cut a unique span) is what the hash compare proves. FULL
    value oracle: the rewritten text itself is hash-compared."""
    return dedup.dedup_exact_substrings(
        load(spark, sf_dir, "documents"), min_tokens=20
    )


def q_dedup_exact_substrings_mask(spark, sf_dir):
    """Mask-mode sibling of dedup_exact_substrings (the standing
    every-kernel rule: both reassembly modes of every span kernel are
    gated): each maximal removed run collapses to ONE '[DUP]' token,
    preserving where the duplicated mass sat. Same full value oracle
    discipline — the masked text is hash-compared."""
    return dedup.dedup_exact_substrings(
        load(spark, sf_dir, "documents"), min_tokens=20, mode="mask"
    )


def _ascii_docs(spark, sf_dir):
    """The ASCII document subset (char length == byte length, NULLs
    excluded): the relation the BPE-operating-point rows run on, so the
    DuckDB oracle's character arithmetic IS byte arithmetic. Identical
    filter in both engines; the non-ASCII path (multi-byte units +
    decode round-trip) is pytest-covered where SQL cannot follow."""
    return load(spark, sf_dir, "documents").where(
        F.length("text") == F.octet_length("text")
    )


def q_dedup_exact_substrings_bpe(spark, sf_dir):
    """ExactSubstr at the BYTE-FAITHFUL operating point (round-16
    verdict ask #3): min_tokens=50 denominated in byte-level BPE tokens
    — what Lee et al.'s released tool means by 50 tokens — through the
    REAL merge loop over the catalog's closed-form TINY_MERGES table.

    Why the oracle is exact: under TINY_MERGES [(a,n),(an,d)] the BPE
    token sequence over ASCII text equals the leftmost-first regex scan
    ``and|an|.`` — every 'an'/'and' in raw text lies inside one letter
    pre-token (letters never straddle pre-token boundaries; the only
    zero-width split carries an apostrophe — catalog/text.py's
    closed-form proof), rank order merges all 'an' then 'an'+'d' which
    fuses exactly the 'and' substrings, and since 'a','n','d' are
    distinct chars occurrences never overlap, so the leftmost
    alternation reproduces the merge result (property-fuzzed in
    tests). DuckDB then re-runs the window-tiling semantics over that
    token array; windows join on chr(31) (injective — tokens never
    contain it) where the engine joins byte-unicode units on ' '
    (injective — the alphabet maps 0x20 away). FULL value oracle: the
    byte-spliced output text itself is hash-compared, and n_tokens
    doubles as a tokenizer-exactness check."""
    return dedup.dedup_exact_substrings(
        _ascii_docs(spark, sf_dir),
        min_tokens=50,
        tokenizer="bpe",
        merges=TINY_MERGES,
    )


def q_dedup_exact_substrings_bpe_mask(spark, sf_dir):
    """Mask-mode sibling of the BPE operating point (the every-kernel
    rule: the joiner='' + decode reassembly is a NEW kernel path, so
    both modes gate). At byte level the ASCII '[DUP]' glues directly
    between surviving bytes — no word boundary exists to respect — and
    survives the UTF-8 decode verbatim. Same full value oracle."""
    return dedup.dedup_exact_substrings(
        _ascii_docs(spark, sf_dir),
        min_tokens=50,
        tokenizer="bpe",
        merges=TINY_MERGES,
        mode="mask",
    )


def q_dedup_top_repeats(spark, sf_dir):
    """The memorization-audit table (Lee et al. 2021's most-duplicated-
    substrings analysis): top-25 verbatim 20-token windows by
    occurrence count, with distinct-doc counts and the first carrying
    document. Total deterministic order (count desc, window text asc —
    unique per group), so the LIMIT is stable and the row carries a
    FULL value oracle including the window text itself."""
    return dedup.top_repeated_substrings(
        load(spark, sf_dir, "documents"), min_tokens=20, k=25
    )


_PARA_FOOTER = "shared boilerplate footer"


def q_dedup_paragraphs(spark, sf_dir):
    """Paragraph-level exact dedup (C4/Dolma granularity) with a FULL
    value oracle. The flat documents corpus has no newlines, so the row
    first paragraph-izes it DETERMINISTICALLY in a way DuckDB replicates
    byte-exactly: tokens chunked 3-per-paragraph joined by newline,
    plus one constant footer paragraph appended to every doc — the
    footer guarantees cross-doc duplicated-paragraph mass (every doc
    but the canonical one loses it) and the 3-token chunks collide
    organically, so the canonical-keep, within-doc-repeat, and
    reassembly-with-empty-structure paths all carry real rows under
    the hash compare."""
    docs = load(spark, sf_dir, "documents")
    t = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
        lambda x: x != "",
    )
    nch = F.ceil(F.size(t) / F.lit(3.0)).cast("int")
    paras = F.when(
        F.size(t) > 0,
        F.transform(
            F.sequence(F.lit(0), nch - 1),
            lambda i: F.array_join(
                F.slice(t, i * 3 + 1, 3), " "
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    corpus = docs.select(
        "doc_id",
        F.concat(
            F.array_join(paras, "\n"), F.lit("\n" + _PARA_FOOTER)
        ).alias("text"),
    )
    return dedup.remove_duplicated_paragraphs(corpus, sep="\n")


def q_dedup_decontaminate_mask(spark, sf_dir):
    """Mask-mode sibling of dedup_decontaminate_spans (the standing
    every-kernel rule: the span twins both gate both modes, so the
    decontaminate pair must too — r13 verdict ask #7): each maximal
    benchmark-covered run collapses to ONE '[DUP]' token instead of
    being cut, preserving where the contamination sat for audit. Shares
    ``_reconstruct_without_spans`` with all three siblings; FULL value
    oracle — the masked text is hash-compared."""
    docs = load(spark, sf_dir, "documents")
    return dedup.decontaminate_spans(
        docs.where(F.col("doc_id") % 50 != 0),
        docs.where(F.col("doc_id") % 50 == 0),
        n=8,
        mode="mask",
    )


def q_dedup_incremental_exact(spark, sf_dir):
    """Batch-incremental exact dedup against a persisted hash index
    (operators/incremental.py): history (doc_id % 3 != 0) is indexed,
    the arriving batch (doc_id % 3 == 0) is screened without shuffling
    the index — pushed In-predicate or broadcast probe, the same
    switch as the Find phase. Novel = first-per-content within the
    batch and unseen in the index; fully SQL-expressible, so this row
    carries an exact value oracle."""
    from ..operators import incremental as inc

    docs = load(spark, sf_dir, "documents")
    hist = docs.where(F.col("doc_id") % 3 != 0)
    arriving = docs.where(F.col("doc_id") % 3 == 0)
    novel, _ = inc.incremental_exact_dedup(arriving, inc.exact_index(hist))
    return novel.select("doc_id")


def q_dedup_incremental_complete(spark, sf_dir):
    """Incremental MinHash screening quality (gate check).

    exact_complete: every arriving doc whose text EXACTLY matches an
    indexed doc or a smaller-id batch doc must be dropped — exact
    duplicates have identical signatures, so every band collides and
    the inline verify sees similarity 1.0; deterministic under any
    seed. sound: every dropped doc has a witness at signature
    similarity >= threshold somewhere in history or earlier batch —
    verified by a bounded cross-check of the (small) dropped set
    against all signatures, independent of the banding that proposed
    it. Sample-bounded (doc_id < 1500: the whole corpus at gate scale).
    """
    from ..operators import incremental as inc

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 1500)
    hist = docs.where(F.col("doc_id") % 3 != 0)
    arriving = docs.where(F.col("doc_id") % 3 == 0)
    n_arriving = arriving.count()
    index = inc.minhash_index(hist)
    novel, _ = inc.incremental_minhash_dedup(
        arriving, index, threshold=0.8
    )
    novel_ids = {r[0] for r in novel.select("doc_id").collect()}
    arr_ids = {r[0] for r in arriving.select("doc_id").collect()}
    dropped = arr_ids - novel_ids

    # exact-dup completeness via md5 (JVM-side, seed-free)
    hashed = docs.select(
        "doc_id", F.md5(F.col("text")).alias("h")
    ).collect()
    by_hash = {}
    for r in hashed:
        by_hash.setdefault(r["h"], []).append(r["doc_id"])
    exact_dup_batch = set()
    for ids in by_hash.values():
        ids.sort()
        for d in ids[1:]:
            if d % 3 == 0 and (
                any(x % 3 != 0 for x in ids if x != d)
                or any(x % 3 == 0 and x < d for x in ids)
            ):
                exact_dup_batch.add(d)
    exact_complete = exact_dup_batch.isdisjoint(novel_ids)

    # soundness: every dropped doc has a global witness at sim>=0.8
    sigs = {r["_id"]: r["_sig"] for r in
            inc.minhash_index(docs).collect()}
    def sim(a, b):
        sa, sb = sigs[a], sigs[b]
        return sum(x == y for x, y in zip(sa, sb)) / len(sa)
    sound = all(
        any(
            sim(d, o) >= 0.8
            for o in sigs
            if o % 3 != 0 or (o % 3 == 0 and o < d)
        )
        for d in dropped
    )
    return _summary_row(
        spark,
        n_arriving=n_arriving,
        exact_complete=exact_complete,
        sound=sound,
    )


def q_dedup_incremental_bloom(spark, sf_dir):
    """Bloom-filter batch screening quality (gate check; Dolma's
    bounded-memory dedupe primitive, Soldaini et al. 2024). History
    (doc_id % 3 != 0) folds into a filter sized by ``bloom_params``
    (capacity = history count, fpp = 1 %); the arriving batch
    (doc_id % 3 == 0) is screened map-only. Deterministic claims
    (hashes are seed-free xxhash64, so every set below is a pure
    function of the corpus):

    - no_false_negatives: the Bloom novel set is a SUBSET of the exact
      screen's novel set — the structure can only over-drop (a false
      positive claims "seen"), never re-admit a duplicate;
    - fp_ok: the over-drop count is within 5 + ceil(5% of the exact
      novel count) — 5x the priced 1 % rate plus an absolute floor,
      sized across the three corpora like the recall gates;
    - fill_ok: the built filter's bit fill is in (0, 0.55] — optimal-k
      sizing lands near 0.5; a fill past 0.55 means the sizing or the
      double-hashing kernel broke;
    - update_ok: OR-ing the returned delta into the filter and
      re-screening the same batch yields ZERO novel rows — the
      append-only update contract.
    """
    from ..operators import incremental as inc
    import numpy as np

    docs = load(spark, sf_dir, "documents")
    hist = docs.where(F.col("doc_id") % 3 != 0)
    arriving = docs.where(F.col("doc_id") % 3 == 0)
    n_arriving = arriving.count()
    n_hist = hist.count()
    m, k = inc.bloom_params(max(n_hist, 1), 0.01)
    bits = inc.bloom_build(hist, m, k)
    fill = int(np.unpackbits(bits.view(np.uint8)).sum()) / m
    novel, delta = inc.incremental_bloom_dedup(arriving, bits, k)
    bloom_ids = {r[0] for r in novel.select("doc_id").collect()}
    exact_novel, _ = inc.incremental_exact_dedup(
        arriving, inc.exact_index(hist)
    )
    exact_ids = {r[0] for r in exact_novel.select("doc_id").collect()}
    overdrop = len(exact_ids - bloom_ids)
    rescreen, _ = inc.incremental_bloom_dedup(arriving, bits | delta, k)
    return _summary_row(
        spark,
        n_arriving=n_arriving,
        no_false_negatives=bloom_ids.issubset(exact_ids),
        fp_ok=(overdrop <= 5 + -(-len(exact_ids) * 5 // 100)),
        fill_ok=(0 < fill <= 0.55),
        update_ok=(rescreen.count() == 0),
    )


def q_dedup_minhash_recall(spark, sf_dir):
    """MinHash-LSH dedup quality vs exact shingle Jaccard (gate check).

    recall_ok: >=90% of docs that exactly duplicate a smaller id at
    J >= 0.65 are dropped by the LSH path (0.15 above the operator's
    0.5 cutoff — 2.4 sigma of the 64-perm estimator, so the claim is
    stable under any data seed). precision_ok: every LSH-dropped doc has
    SOME exact partner at J >= 0.3 (same margin below the cutoff). The
    exact baseline is an all-pairs shingle intersection — quadratic, so
    the evaluation corpus is SAMPLE-BOUNDED (first 1000 ids: the whole
    corpus at gate scale, a fixed-cost sample at any larger one — the
    standard way ground truth is measured for LSH at scale).
    """
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    n_docs = docs.count()
    survivors = dedup.minhash_dedup(docs, threshold=0.5).select("doc_id")
    dropped = docs.select("doc_id").join(survivors, "doc_id", "left_anti")
    sh = dedup._with_shingles(docs, "text", 5).select(
        F.col("doc_id").alias("_id"), "_shingles"
    )
    a = sh.select(F.col("_id").alias("id_a"), F.col("_shingles").alias("_sa"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_shingles").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("double")
    union = F.size(F.array_union("_sa", "_sb")).cast("double")
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (inter / union).alias("j"))
        .where(F.col("j") >= 0.3)
        .persist()
    )
    try:
        exact_hi = (
            pairs.where(F.col("j") >= 0.65)
            .select(F.col("id_b").alias("doc_id"))
            .distinct()
        )
        near_any = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        n_hi = exact_hi.count()
        n_hit = exact_hi.join(dropped, "doc_id", "left_semi").count()
        n_dropped = dropped.count()
        n_prec = dropped.join(near_any, "doc_id", "left_semi").count()
    finally:
        pairs.unpersist()
    return _summary_row(
        spark,
        n_docs=n_docs,
        recall_ok=(n_hi == 0 or n_hit / n_hi >= 0.9),
        precision_ok=(n_prec == n_dropped),
    )


def q_dedup_simhash_complete(spark, sf_dir):
    """SimHash block-LSH completeness (gate check).

    The Manku block-combination keying is COMPLETE for pairs within the
    Hamming budget and every candidate is verified with the exact
    bit_count — so the LSH pair set must EQUAL the brute-force pair set
    over the same simhash values. Set equality, not a threshold; the
    brute-force side is quadratic, so the corpus is sample-bounded
    (first 2000 ids — the whole corpus at gate scale).
    """
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 2000)
    n_docs = docs.count()
    lsh = dedup.simhash_near_duplicates(docs, max_hamming=3).select(
        "id_a", "id_b"
    )
    sh = dedup.with_simhash(docs).select(
        F.col("doc_id").alias("_id"), "simhash"
    )
    a = sh.select(F.col("_id").alias("id_a"), F.col("simhash").alias("_ha"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("simhash").alias("_hb"))
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .where(
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))) <= 3
        )
        .select("id_a", "id_b")
    )
    missing = brute.exceptAll(lsh).count()
    spurious = lsh.exceptAll(brute).count()
    return _summary_row(
        spark, n_docs=n_docs, complete_ok=(missing == 0 and spurious == 0)
    )


QUERIES = {
    "dedup_minhash_recall": q_dedup_minhash_recall,
    "semantic_dedup_complete": q_semantic_dedup_complete,
    "dedup_components": q_dedup_components,
    "dedup_ngram_pairs": q_dedup_ngram_pairs,
    "dedup_shared_ngrams": q_dedup_shared_ngrams,
    "dedup_exact_groups": q_dedup_exact_groups,
    "dedup_span_removal": q_dedup_span_removal,
    "dedup_span_mask": q_dedup_span_mask,
    "dedup_exact_substrings": q_dedup_exact_substrings,
    "dedup_exact_substrings_mask": q_dedup_exact_substrings_mask,
    "dedup_exact_substrings_bpe": q_dedup_exact_substrings_bpe,
    "dedup_exact_substrings_bpe_mask": q_dedup_exact_substrings_bpe_mask,
    "dedup_top_repeats": q_dedup_top_repeats,
    "dedup_decontaminate_spans": q_dedup_decontaminate_spans,
    "dedup_decontaminate_mask": q_dedup_decontaminate_mask,
    "dedup_paragraphs": q_dedup_paragraphs,
    "dedup_incremental_exact": q_dedup_incremental_exact,
    "dedup_incremental_complete": q_dedup_incremental_complete,
    "dedup_incremental_bloom": q_dedup_incremental_bloom,
    "dedup_exact_survivors": q_dedup_exact_survivors,
    "dedup_simhash_complete": q_dedup_simhash_complete,
    "dedup_minhash_survivors": q_dedup_minhash_survivors,
    "dedup_minhash_survivors_t08": q_dedup_minhash_survivors_t08,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_components_minhash": q_dedup_components_minhash,
    "dedup_clusters_minhash": q_dedup_clusters_minhash,
}

def _bpe_exact_substr_oracle(mask: bool) -> str:
    """Shared DuckDB template for the two BPE-operating-point rows.

    Tokenization: leftmost-first ``and|an|[\\s\\S]`` == the TINY_MERGES
    BPE merge result on ASCII text (proof in the query docstring);
    window identity joins on chr(31) (text never contains it under the
    ASCII word corpus, and tokens never do); reassembly concatenates
    with '' — the byte-splice the engine's decode path produces."""
    reassembly = (
        """
        ), marked AS (
          SELECT doc_id, p, tok,
                 CASE WHEN p - lag(p, 1, 0) OVER (
                        PARTITION BY doc_id ORDER BY p) > 1
                      THEN '[DUP]' || tok ELSE tok END AS piece
          FROM kept
        ), agg AS (
          SELECT doc_id, string_agg(piece, '' ORDER BY p) AS body,
                 max(p) AS maxp, count(*) AS kept_n
          FROM marked GROUP BY doc_id
        )
        SELECT t.doc_id,
               CASE WHEN len(t.t) = 0 THEN ''
                    WHEN a.doc_id IS NULL THEN '[DUP]'
                    WHEN a.maxp < len(t.t) THEN a.body || '[DUP]'
                    ELSE a.body END AS text,
        """
        if mask
        else """
        ), agg AS (
          SELECT doc_id, string_agg(tok, '' ORDER BY p) AS text,
                 count(*) AS kept_n
          FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               coalesce(a.text, '') AS text,
        """
    )
    return (
        """
        WITH docs AS (
          SELECT doc_id, text FROM documents
          WHERE length(text) = strlen(text)
        ), toks AS (
          SELECT doc_id,
                 regexp_extract_all(text, 'and|an|[\\s\\S]') AS t
          FROM docs
        ), occ AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, len(t) - 49),
                   i -> struct_pack(
                     pos := i,
                     g := array_to_string(t[i:i+49], chr(31))))) AS o
          FROM toks WHERE len(t) >= 50
        ), dup AS (
          SELECT o.g AS g FROM occ GROUP BY o.g HAVING count(*) >= 2
        ), removed_pos AS (
          SELECT DISTINCT doc_id, o.pos + off AS p
          FROM occ JOIN dup ON occ.o.g = dup.g
          CROSS JOIN (SELECT unnest(generate_series(0, 49)) AS off)
        ), tokrows AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, len(t)),
                   i -> struct_pack(p := i, tok := t[i]))) AS x
          FROM toks
        ), kept AS (
          SELECT tr.doc_id, tr.x.p AS p, tr.x.tok AS tok
          FROM tokrows tr
          WHERE NOT EXISTS (
            SELECT 1 FROM removed_pos r
            WHERE r.doc_id = tr.doc_id AND r.p = tr.x.p)
        """
        + reassembly
        + """
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(len(t.t) - coalesce(a.kept_n, 0) AS BIGINT)
                 AS removed_tokens
        FROM toks t LEFT JOIN agg a USING (doc_id)
    """
    )


ORACLES = {
    "dedup_span_removal": """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(coalesce(text, ''), '\\s+'),
                   x -> x <> '') AS t
          FROM documents
        ), lowered AS (
          SELECT doc_id, t, list_transform(t, x -> lower(x)) AS tl
          FROM toks
        ), occ AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, len(tl) - 7),
                   i -> struct_pack(
                     pos := i,
                     g := array_to_string(tl[i:i+7], ' ')))) AS o
          FROM lowered WHERE len(tl) >= 8
        ), ranked AS (
          SELECT doc_id, o.pos AS pos, o.g AS g,
                 row_number() OVER (
                   PARTITION BY o.g ORDER BY doc_id, o.pos) AS rn,
                 count(*) OVER (PARTITION BY o.g) AS cnt
          FROM occ
        ), removed_pos AS (
          SELECT DISTINCT doc_id, pos + off AS p
          FROM (SELECT doc_id, pos FROM ranked
                WHERE cnt >= 2 AND rn > 1)
          CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS off)
        ), tokrows AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, len(t)),
                   i -> struct_pack(p := i, tok := t[i]))) AS x
          FROM toks
        ), kept AS (
          SELECT tr.doc_id, tr.x.p AS p, tr.x.tok AS tok
          FROM tokrows tr
          WHERE NOT EXISTS (
            SELECT 1 FROM removed_pos r
            WHERE r.doc_id = tr.doc_id AND r.p = tr.x.p)
        ), agg AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text,
                 count(*) AS kept_n
          FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               coalesce(a.text, '') AS text,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(len(t.t) - coalesce(a.kept_n, 0) AS BIGINT)
                 AS removed_tokens
        FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
    "dedup_span_mask": """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(coalesce(text, ''), '\\s+'),
                   x -> x <> '') AS t
          FROM documents
        ), lowered AS (
          SELECT doc_id, t, list_transform(t, x -> lower(x)) AS tl
          FROM toks
        ), occ AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, len(tl) - 7),
                   i -> struct_pack(
                     pos := i,
                     g := array_to_string(tl[i:i+7], ' ')))) AS o
          FROM lowered WHERE len(tl) >= 8
        ), ranked AS (
          SELECT doc_id, o.pos AS pos, o.g AS g,
                 row_number() OVER (
                   PARTITION BY o.g ORDER BY doc_id, o.pos) AS rn,
                 count(*) OVER (PARTITION BY o.g) AS cnt
          FROM occ
        ), removed_pos AS (
          SELECT DISTINCT doc_id, pos + off AS p
          FROM (SELECT doc_id, pos FROM ranked
                WHERE cnt >= 2 AND rn > 1)
          CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS off)
        ), tokrows AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, len(t)),
                   i -> struct_pack(p := i, tok := t[i]))) AS x
          FROM toks
        ), kept AS (
          SELECT tr.doc_id, tr.x.p AS p, tr.x.tok AS tok
          FROM tokrows tr
          WHERE NOT EXISTS (
            SELECT 1 FROM removed_pos r
            WHERE r.doc_id = tr.doc_id AND r.p = tr.x.p)
        ), marked AS (
          SELECT doc_id, p, tok,
                 CASE WHEN p - lag(p, 1, 0) OVER (
                        PARTITION BY doc_id ORDER BY p) > 1
                      THEN '[DUP] ' || tok ELSE tok END AS piece
          FROM kept
        ), agg AS (
          SELECT doc_id, string_agg(piece, ' ' ORDER BY p) AS body,
                 max(p) AS maxp, count(*) AS kept_n
          FROM marked GROUP BY doc_id
        )
        SELECT t.doc_id,
               CASE WHEN len(t.t) = 0 THEN ''
                    WHEN a.doc_id IS NULL THEN '[DUP]'
                    WHEN a.maxp < len(t.t) THEN a.body || ' [DUP]'
                    ELSE a.body END AS text,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(len(t.t) - coalesce(a.kept_n, 0) AS BIGINT)
                 AS removed_tokens
        FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
    "dedup_top_repeats": """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(coalesce(text, ''), '\\s+'),
                   x -> x <> '') AS t
          FROM documents
        ), occ AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, len(t) - 19),
                   i -> array_to_string(t[i:i+19], ' '))) AS g
          FROM toks WHERE len(t) >= 20
        ), agg AS (
          SELECT g, count(*) AS n_occurrences,
                 count(DISTINCT doc_id) AS n_docs,
                 min(doc_id) AS first_doc_id
          FROM occ GROUP BY g HAVING count(*) >= 2
        )
        SELECT g AS substring,
               CAST(n_occurrences AS BIGINT) AS n_occurrences,
               CAST(n_docs AS BIGINT) AS n_docs,
               first_doc_id
        FROM agg
        ORDER BY n_occurrences DESC, g ASC
        LIMIT 25
    """,
    "dedup_exact_substrings": """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(coalesce(text, ''), '\\s+'),
                   x -> x <> '') AS t
          FROM documents
        ), occ AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, len(t) - 19),
                   i -> struct_pack(
                     pos := i,
                     g := array_to_string(t[i:i+19], ' ')))) AS o
          FROM toks WHERE len(t) >= 20
        ), dup AS (
          SELECT o.g AS g FROM occ GROUP BY o.g HAVING count(*) >= 2
        ), removed_pos AS (
          SELECT DISTINCT doc_id, o.pos + off AS p
          FROM occ JOIN dup ON occ.o.g = dup.g
          CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS off)
        ), tokrows AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, len(t)),
                   i -> struct_pack(p := i, tok := t[i]))) AS x
          FROM toks
        ), kept AS (
          SELECT tr.doc_id, tr.x.p AS p, tr.x.tok AS tok
          FROM tokrows tr
          WHERE NOT EXISTS (
            SELECT 1 FROM removed_pos r
            WHERE r.doc_id = tr.doc_id AND r.p = tr.x.p)
        ), agg AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text,
                 count(*) AS kept_n
          FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               coalesce(a.text, '') AS text,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(len(t.t) - coalesce(a.kept_n, 0) AS BIGINT)
                 AS removed_tokens
        FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
    "dedup_exact_substrings_mask": """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(coalesce(text, ''), '\\s+'),
                   x -> x <> '') AS t
          FROM documents
        ), occ AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, len(t) - 19),
                   i -> struct_pack(
                     pos := i,
                     g := array_to_string(t[i:i+19], ' ')))) AS o
          FROM toks WHERE len(t) >= 20
        ), dup AS (
          SELECT o.g AS g FROM occ GROUP BY o.g HAVING count(*) >= 2
        ), removed_pos AS (
          SELECT DISTINCT doc_id, o.pos + off AS p
          FROM occ JOIN dup ON occ.o.g = dup.g
          CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS off)
        ), tokrows AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, len(t)),
                   i -> struct_pack(p := i, tok := t[i]))) AS x
          FROM toks
        ), kept AS (
          SELECT tr.doc_id, tr.x.p AS p, tr.x.tok AS tok
          FROM tokrows tr
          WHERE NOT EXISTS (
            SELECT 1 FROM removed_pos r
            WHERE r.doc_id = tr.doc_id AND r.p = tr.x.p)
        ), marked AS (
          SELECT doc_id, p, tok,
                 CASE WHEN p - lag(p, 1, 0) OVER (
                        PARTITION BY doc_id ORDER BY p) > 1
                      THEN '[DUP] ' || tok ELSE tok END AS piece
          FROM kept
        ), agg AS (
          SELECT doc_id, string_agg(piece, ' ' ORDER BY p) AS body,
                 max(p) AS maxp, count(*) AS kept_n
          FROM marked GROUP BY doc_id
        )
        SELECT t.doc_id,
               CASE WHEN len(t.t) = 0 THEN ''
                    WHEN a.doc_id IS NULL THEN '[DUP]'
                    WHEN a.maxp < len(t.t) THEN a.body || ' [DUP]'
                    ELSE a.body END AS text,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(len(t.t) - coalesce(a.kept_n, 0) AS BIGINT)
                 AS removed_tokens
        FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
    "dedup_exact_substrings_bpe": _bpe_exact_substr_oracle(mask=False),
    "dedup_exact_substrings_bpe_mask": _bpe_exact_substr_oracle(mask=True),
    "dedup_decontaminate_spans": """
        WITH pool AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
        ), toks AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(coalesce(text, ''), '\\s+'),
                   x -> x <> '') AS t
          FROM pool
        ), lowered AS (
          SELECT doc_id, t, list_transform(t, x -> lower(x)) AS tl
          FROM toks
        ), occ AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, len(tl) - 7),
                   i -> struct_pack(
                     pos := i,
                     g := array_to_string(tl[i:i+7], ' ')))) AS o
          FROM lowered WHERE len(tl) >= 8
        ), btoks AS (
          SELECT list_transform(
                   list_filter(
                     regexp_split_to_array(coalesce(text, ''), '\\s+'),
                     x -> x <> ''), x -> lower(x)) AS tl
          FROM documents WHERE doc_id % 50 = 0
        ), bgrams AS (
          SELECT DISTINCT unnest(list_transform(
                   generate_series(1, len(tl) - 7),
                   i -> array_to_string(tl[i:i+7], ' '))) AS g
          FROM btoks WHERE len(tl) >= 8
        ), removed_pos AS (
          SELECT DISTINCT doc_id, o.pos + off AS p
          FROM occ JOIN bgrams ON occ.o.g = bgrams.g
          CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS off)
        ), tokrows AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, len(t)),
                   i -> struct_pack(p := i, tok := t[i]))) AS x
          FROM toks
        ), kept AS (
          SELECT tr.doc_id, tr.x.p AS p, tr.x.tok AS tok
          FROM tokrows tr
          WHERE NOT EXISTS (
            SELECT 1 FROM removed_pos r
            WHERE r.doc_id = tr.doc_id AND r.p = tr.x.p)
        ), agg AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text,
                 count(*) AS kept_n
          FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               coalesce(a.text, '') AS text,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(len(t.t) - coalesce(a.kept_n, 0) AS BIGINT)
                 AS removed_tokens
        FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
    "dedup_paragraphs": f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(coalesce(text, ''), '\\s+'),
                   x -> x <> '') AS t
          FROM documents
        ), corpus AS (
          SELECT doc_id,
                 coalesce(array_to_string(
                   list_transform(
                     generate_series(0,
                       CAST(ceil(len(t) / 3.0) AS INT) - 1),
                     i -> array_to_string(t[i*3+1 : i*3+3], ' ')),
                   chr(10)), '')
                 || chr(10) || '{_PARA_FOOTER}' AS text
          FROM toks
        ), paras AS (
          SELECT doc_id, string_split(text, chr(10)) AS p FROM corpus
        ), prows AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, len(p)),
                   i -> struct_pack(pos := i - 1, para := p[i]))) AS x
          FROM paras
        ), ranked AS (
          SELECT doc_id, x.pos AS pos, x.para AS para,
                 row_number() OVER (
                   PARTITION BY x.para ORDER BY doc_id, x.pos) AS rn,
                 count(*) OVER (PARTITION BY x.para) AS cnt
          FROM prows WHERE len(x.para) > 0
        ), removed AS (
          SELECT doc_id, pos FROM ranked WHERE cnt >= 2 AND rn > 1
        ), kept AS (
          SELECT pr.doc_id, pr.x.pos AS pos, pr.x.para AS para
          FROM prows pr
          WHERE NOT EXISTS (
            SELECT 1 FROM removed r
            WHERE r.doc_id = pr.doc_id AND r.pos = pr.x.pos)
        ), agg AS (
          SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text,
                 count(*) AS kept_n
          FROM kept GROUP BY doc_id
        )
        SELECT p.doc_id,
               coalesce(a.text, '') AS text,
               CAST(len(p.p) AS BIGINT) AS n_paragraphs,
               CAST(len(p.p) - coalesce(a.kept_n, 0) AS BIGINT)
                 AS removed_paragraphs
        FROM paras p LEFT JOIN agg a USING (doc_id)
    """,
    "dedup_decontaminate_mask": """
        WITH pool AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
        ), toks AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(coalesce(text, ''), '\\s+'),
                   x -> x <> '') AS t
          FROM pool
        ), lowered AS (
          SELECT doc_id, t, list_transform(t, x -> lower(x)) AS tl
          FROM toks
        ), occ AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, len(tl) - 7),
                   i -> struct_pack(
                     pos := i,
                     g := array_to_string(tl[i:i+7], ' ')))) AS o
          FROM lowered WHERE len(tl) >= 8
        ), btoks AS (
          SELECT list_transform(
                   list_filter(
                     regexp_split_to_array(coalesce(text, ''), '\\s+'),
                     x -> x <> ''), x -> lower(x)) AS tl
          FROM documents WHERE doc_id % 50 = 0
        ), bgrams AS (
          SELECT DISTINCT unnest(list_transform(
                   generate_series(1, len(tl) - 7),
                   i -> array_to_string(tl[i:i+7], ' '))) AS g
          FROM btoks WHERE len(tl) >= 8
        ), removed_pos AS (
          SELECT DISTINCT doc_id, o.pos + off AS p
          FROM occ JOIN bgrams ON occ.o.g = bgrams.g
          CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS off)
        ), tokrows AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, len(t)),
                   i -> struct_pack(p := i, tok := t[i]))) AS x
          FROM toks
        ), kept AS (
          SELECT tr.doc_id, tr.x.p AS p, tr.x.tok AS tok
          FROM tokrows tr
          WHERE NOT EXISTS (
            SELECT 1 FROM removed_pos r
            WHERE r.doc_id = tr.doc_id AND r.p = tr.x.p)
        ), marked AS (
          SELECT doc_id, p, tok,
                 CASE WHEN p - lag(p, 1, 0) OVER (
                        PARTITION BY doc_id ORDER BY p) > 1
                      THEN '[DUP] ' || tok ELSE tok END AS piece
          FROM kept
        ), agg AS (
          SELECT doc_id, string_agg(piece, ' ' ORDER BY p) AS body,
                 max(p) AS maxp, count(*) AS kept_n
          FROM marked GROUP BY doc_id
        )
        SELECT t.doc_id,
               CASE WHEN len(t.t) = 0 THEN ''
                    WHEN a.doc_id IS NULL THEN '[DUP]'
                    WHEN a.maxp < len(t.t) THEN a.body || ' [DUP]'
                    ELSE a.body END AS text,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(len(t.t) - coalesce(a.kept_n, 0) AS BIGINT)
                 AS removed_tokens
        FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
    "dedup_incremental_exact": """
        WITH hist AS (
          SELECT coalesce(md5(text), '__NULL_TEXT__') AS h
          FROM documents WHERE doc_id % 3 <> 0
        ), arr AS (
          SELECT doc_id, coalesce(md5(text), '__NULL_TEXT__') AS h
          FROM documents WHERE doc_id % 3 = 0
        ), first_arr AS (
          SELECT h, min(doc_id) AS doc_id FROM arr GROUP BY h
        )
        SELECT doc_id FROM first_arr
        WHERE h NOT IN (SELECT h FROM hist)
    """,
    "dedup_incremental_complete": """
        SELECT count(*) AS n_arriving, TRUE AS exact_complete,
               TRUE AS sound
        FROM documents WHERE doc_id < 1500 AND doc_id % 3 = 0
    """,
    "dedup_incremental_bloom": """
        SELECT count(*) AS n_arriving, TRUE AS no_false_negatives,
               TRUE AS fp_ok, TRUE AS fill_ok, TRUE AS update_ok
        FROM documents WHERE doc_id % 3 = 0
    """,
    "dedup_minhash_recall": """
        SELECT count(*) AS n_docs, TRUE AS recall_ok, TRUE AS precision_ok
        FROM documents WHERE doc_id < 1000
    """,
    "dedup_components_minhash": """
        SELECT count(*) AS n_docs, TRUE AS refine_ok, TRUE AS recall_ok
        FROM documents WHERE doc_id < 1000
    """,
    "semantic_dedup_complete": """
        SELECT count(*) AS n_vecs, TRUE AS complete_ok, TRUE AS nonempty_ok
        FROM embeddings WHERE vec_id < 1000
    """,
    "dedup_components": """
        WITH RECURSIVE toks AS (
          SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
          FROM documents
        ), grams AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> array_to_string(t[i:i+2], ' '))) AS gs
          FROM toks
        ), flat AS (
          SELECT doc_id, len(gs) AS n, unnest(gs) AS g FROM grams
        ), elig AS (
          SELECT g FROM flat GROUP BY g
          HAVING count(*) > 1 AND count(*) <= 1000
        ), post AS (
          SELECT f.doc_id, f.n, f.g FROM flat f JOIN elig USING (g)
        ), pre AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 count(*) AS shared,
                 any_value(a.n) AS n_a, any_value(b.n) AS n_b
          FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        ), pairs AS (
          SELECT id_a, id_b FROM pre
          WHERE round(shared / (n_a + n_b - shared), 6) >= 0.5
        ), edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach(node, lbl) AS (
          SELECT u, u FROM edges
          UNION
          SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
        )
        SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster
        FROM reach GROUP BY node
    """,
    "dedup_ngram_pairs": """
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
          FROM documents
        ), grams AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> array_to_string(t[i:i+2], ' '))) AS gs
          FROM toks
        ), flat AS (
          SELECT doc_id, len(gs) AS n, unnest(gs) AS g FROM grams
        ), elig AS (
          SELECT g FROM flat GROUP BY g
          HAVING count(*) > 1 AND count(*) <= 1000
        ), post AS (
          SELECT f.doc_id, f.n, f.g FROM flat f JOIN elig USING (g)
        ), pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 count(*) AS shared,
                 any_value(a.n) AS n_a, any_value(b.n) AS n_b
          FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b,
               round(shared / (n_a + n_b - shared), 6) AS jaccard
        FROM pairs
        WHERE round(shared / (n_a + n_b - shared), 6) >= 0.5
    """,
    "dedup_shared_ngrams": """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             x -> x <> '') AS t
          FROM documents
        ), grams AS (
          SELECT doc_id,
                 unnest(list_filter(list_transform(
                   generate_series(1, greatest(len(t) - 7, 1)),
                   i -> array_to_string(t[i:i+7], ' ')),
                   g -> g <> '')) AS gram
          FROM toks
        ), occ AS (
          SELECT doc_id, gram, count(*) AS cnt
          FROM grams GROUP BY doc_id, gram
        ), df_g AS (
          SELECT gram FROM occ GROUP BY gram HAVING count(*) >= 2
        ), shared AS (
          SELECT o.doc_id, count(*) AS shared_grams, sum(o.cnt) AS shared_occ
          FROM occ o JOIN df_g USING (gram) GROUP BY o.doc_id
        ), totals AS (
          SELECT doc_id, sum(cnt) AS n_grams, count(*) AS n_distinct
          FROM occ GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(t.n_grams AS BIGINT) AS n_grams,
               CAST(t.n_distinct AS BIGINT) AS n_distinct,
               CAST(coalesce(s.shared_grams, 0) AS BIGINT) AS shared_grams,
               CAST(coalesce(s.shared_occ, 0) AS BIGINT) AS shared_occ,
               round(coalesce(s.shared_occ, 0) * 1.0 / t.n_grams, 4)
                 AS shared_frac
        FROM totals t LEFT JOIN shared s USING (doc_id)
    """,
    "dedup_exact_groups": """
        SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
               count(*) AS n_docs
        FROM documents GROUP BY md5(text)
    """,
    "dedup_exact_survivors": """
        SELECT doc_id, n_chars FROM documents
        WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
    """,
    "dedup_simhash_complete": """
        SELECT count(*) AS n_docs, TRUE AS complete_ok
        FROM documents WHERE doc_id < 2000
    """,
}
