"""Text-pipeline catalog rows.

Quality, lang-id, tokenization, fingerprinting, redaction, packing,
train-split, contamination, stratified/balanced sampling.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup, text
from .loader import _summary_row, load


def q_text_train_split(spark, sf_dir):
    """Deterministic train/val/test assignment (hash split) — exact
    cross-engine reproducibility is the whole point, so it is
    oracle-checked value-for-value."""
    docs = load(spark, sf_dir, "documents")
    return text.deterministic_split(docs).select("doc_id", "split")


def q_text_train_order(spark, sf_dir):
    """Deterministic seeded training-order permutation — like the split,
    cross-engine reproducibility IS the contract, so the full
    (doc_id, order_rank) permutation is oracle-checked value-for-value.
    """
    docs = load(spark, sf_dir, "documents")
    return text.training_order(docs, seed="r10", epoch=1).select(
        "doc_id", "order_rank"
    )


def q_text_redact(spark, sf_dir):
    """PII redaction parity: fingerprint of the redacted corpus must be
    identical across engines (masking is erasure — it has to be
    deterministic to be auditable)."""
    docs = load(spark, sf_dir, "documents")
    out = text.redact_pii(docs)
    return out.select(
        "doc_id",
        F.md5(F.col("text_redacted")).alias("redacted_md5"),
        (F.col("text_redacted") != F.col("text")).alias("was_redacted"),
    )


def q_text_length_percentiles(spark, sf_dir):
    """Exact percentiles (linear interpolation) of document length per
    language — distribution profiling for corpus curation."""
    docs = load(spark, sf_dir, "documents")
    pct = F.expr("percentile(n_chars, array(0.5, 0.9, 0.99))")
    return docs.groupBy("lang").agg(
        F.round(pct[0], 6).alias("p50"),
        F.round(pct[1], 6).alias("p90"),
        F.round(pct[2], 6).alias("p99"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def q_text_c4_clean(spark, sf_dir):
    """The C4 cleaning stage (Raffel et al. 2020 SS2.2) with a FULL
    value oracle. The flat documents corpus has no lines or
    punctuation, so the row first line-izes it DETERMINISTICALLY the
    way DuckDB replicates byte-exactly (the dedup_paragraphs device):
    tokens chunked 6-per-line, a terminal '.' appended except every
    third (doc_id + line_index) — so the terminal-punctuation rule,
    the min-words rule (short tail chunks), and the min-sentences page
    rule all fire organically — plus deterministically injected hazard
    lines: a javascript boilerplate line (doc_id % 13, exercises the
    LINE drop while the page survives), a lorem-ipsum line (% 17), a
    curly-brace line (% 19), and a badword line (% 23) — each of the
    last three survives the line rules and must condemn the PAGE. The
    cleaned text, both counters, and the kept verdict are all
    hash-compared."""
    docs = load(spark, sf_dir, "documents")
    t = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
        lambda x: x != "",
    )
    nln = F.ceil(F.size(t) / F.lit(6.0)).cast("int")
    did = F.col("doc_id")
    lines = F.when(
        F.size(t) > 0,
        F.transform(
            F.sequence(F.lit(0), nln - 1),
            lambda i: F.concat(
                F.array_join(F.slice(t, i * 6 + 1, 6), " "),
                F.when((did + i) % 3 == 0, F.lit("")).otherwise(
                    F.lit(".")
                ),
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))

    def _hazard(mod, line):
        return F.when(
            did % mod == 0, F.lit("\n" + line)
        ).otherwise(F.lit(""))

    corpus = docs.select(
        "doc_id",
        F.concat(
            F.array_join(lines, "\n"),
            _hazard(13, "please enable javascript to view this page."),
            _hazard(17, "Lorem ipsum dolor sit amet consectetur adipiscing."),
            _hazard(19, "the config block is { not prose } at all."),
            _hazard(23, "this page mentions badmarker once too often."),
        ).alias("text"),
    )
    return text.c4_clean(corpus, badwords=["badmarker"])


def q_text_token_count(spark, sf_dir):
    return text.with_token_count(load(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "n_tokens_bpe"
    )


# The gate row's merge table. Chosen so the BPE count has a CLOSED FORM
# a SQL engine can compute exactly — count = bytes - #an - #and —
# because (proofs in the operator's test):
# - 'a','n' are distinct chars, so 'an' occurrences never overlap and
#   the rank-0 merge applies to EVERY 'an' substring;
# - after it, an (an,d) adjacency exists iff the original text had an
#   'and' substring, and each such merge saves exactly one token;
# - letter-letter pairs cannot straddle a pre-token boundary: letter
#   runs are single pre-tokens, and the only zero-width split (the
#   contraction suffix) always carries an apostrophe in the raw text,
#   so no 'an'/'and' substring crosses it.
# The kernel itself is the fully-general merge loop (pytest goldens
# run it against a reference implementation on a 20-merge table); this
# row value-gates that loop end-to-end through DuckDB.
TINY_MERGES = [("a", "n"), ("an", "d")]


def q_text_token_count_bpe(spark, sf_dir):
    """Tokenizer-EXACT BPE token counts (round-12 verdict ask #7): the
    real byte-level merge loop (operators/text.py
    ``with_bpe_token_count``), Arrow-batched, instantiated on the
    closed-form TINY_MERGES table so the oracle is a full value check,
    not a rows-only count."""
    docs = load(spark, sf_dir, "documents")
    return text.with_bpe_token_count(
        docs, TINY_MERGES, out_col="n_bpe"
    ).select("doc_id", "n_bpe")


def q_text_quality(spark, sf_dir):
    return text.with_quality(load(spark, sf_dir, "documents")).select(
        "doc_id", "mean_word_len", "punct_ratio", "stopword_ratio", "quality_score"
    )


def q_text_lang_id(spark, sf_dir):
    return text.with_lang_id(load(spark, sf_dir, "documents")).select(
        "doc_id", "lang_pred", "lang_score"
    )


def q_text_fingerprint(spark, sf_dir):
    return text.with_fingerprint(load(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint"
    )


def q_text_repetition(spark, sf_dir):
    return text.repetition_stats(load(spark, sf_dir, "documents"), n=2)


def q_text_mixture(spark, sf_dir):
    return text.mixture_sample(
        load(spark, sf_dir, "documents"),
        {"src0": 2.5, "src1": 1.0, "src2": 0.4},
    ).select("doc_id", "source", "copy")


def q_text_bpe_train(spark, sf_dir):
    """BPE merge-table TRAINING gated by deterministic claims (the
    learned table is engine-internal float-free symbol manipulation,
    but the distributed vocabulary cut + driver loop have no SQL
    equivalent — the *_recall pattern):

    - ``learned_ok``: the trainer returns the requested 60 merges on
      this corpus (it may legitimately stop early only when no pair
      repeats — never the case here);
    - ``compression_ok``: tokenizer-exact counts under the learned
      table are strictly below the 0-merge (byte-unit) baseline;
    - ``monotone_ok``: the full table compresses at least as well as
      its own first half — merge tables are prefix-monotone by
      construction, so a violation means the counter and trainer
      disagree about rank semantics;
    - ``deterministic_ok``: retraining returns the identical table
      (the vocabulary cut and every merge pick carry total-order
      tie-breaks).
    """
    from pyspark.sql import functions as _F

    docs = load(spark, sf_dir, "documents")
    merges = text.train_bpe_merges(docs, n_merges=60, max_vocab=5000)
    merges2 = text.train_bpe_merges(docs, n_merges=60, max_vocab=5000)

    def avg_tokens(table):
        return (
            text.with_bpe_token_count(docs, table)
            .agg(_F.avg("n_tokens_bpe_exact"))
            .collect()[0][0]
        )

    full = avg_tokens(merges)
    half = avg_tokens(merges[: len(merges) // 2])
    base = avg_tokens([])
    return _summary_row(
        spark,
        n_docs=docs.count(),
        learned_ok=(len(merges) == 60),
        compression_ok=(full < base),
        monotone_ok=(full <= half),
        deterministic_ok=(merges == merges2),
    )


def q_text_temperature_mixture(spark, sf_dir):
    """Temperature-scaled mixture (T5 / XLM-R alpha-sampling) at
    alpha=0.5 with a FULL value oracle over the materialized mixture:
    the data-dependent per-stratum rates reduce to IEEE-correctly-
    rounded ops (sqrt, ordered sum, left-associated mul/div chain)
    that DuckDB reproduces bit-exactly, so the hash-threshold copy
    draw — and therefore every (doc, copy) row — matches across
    engines. Small sources upsample (epoch replication), big ones
    downsample, expected total stays at corpus size.

    Known oracle dependencies (round-15 ADVICE adjudication): the
    bit-exactness claim leans on (a) alpha=0.5 making ``n^alpha`` a
    correctly-rounded sqrt — any other alpha is libm-``pow`` and this
    row deliberately does NOT gate it — and (b) DuckDB honoring
    ``sum(... ORDER BY s)`` as an ordered FP fold, which current
    DuckDB guarantees for ordered aggregates. If a future DuckDB made
    that sum parallel/unordered the gate would fail LOUDLY (a value-
    hash mismatch on a deterministic row, not intermittent flake:
    both engines are deterministic per version, so a divergence is
    stable until re-pinned). Contingency, pre-agreed so a failure is a
    mechanical swap: re-gate as a claims row (copy counts per stratum
    within +-1 of n_s*rate, total in the binomial band) — the same
    downgrade path every seeded row already uses."""
    return text.temperature_mixture(
        load(spark, sf_dir, "documents"), alpha=0.5, salt="r14tm"
    ).select("doc_id", "source", "copy")


def q_text_exact_mixture(spark, sf_dir):
    """Exact-count mixture: remix languages to fixed integer budgets
    (en capped hard, zh kept whole via an over-budget target, fr
    whitelisted out) by deterministic hash rank — full value oracle."""
    docs = load(spark, sf_dir, "documents")
    return text.exact_mixture_sample(
        docs, {"en": 50, "es": 20, "de": 15, "zh": 10_000}
    ).select("doc_id", "lang")


def q_documents_source_rollup(spark, sf_dir):
    """Per-source corpus health rollup — operator COMPOSITION: the
    quality and token-count transforms feed one grouped aggregate, all
    in a single scan (both operators are map-only expression
    pipelines, so composing them adds zero stages)."""
    docs = load(spark, sf_dir, "documents")
    enriched = text.with_quality(text.with_token_count(docs))
    return enriched.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("quality_score"), 4).alias("avg_quality"),
        F.round(F.avg("n_chars_measured"), 2).alias("avg_chars"),
    )


def q_text_tfidf(spark, sf_dir):
    return text.tfidf_top_terms(load(spark, sf_dir, "documents"), k=3)


def q_text_unigram_nll(spark, sf_dir):
    return text.unigram_logprob(load(spark, sf_dir, "documents"))


def q_text_gopher_quality(spark, sf_dir):
    """Gopher/MassiveWeb rule filters (Rae et al. 2021): per-rule
    booleans + the conjunction, full value oracle (scalar regexp counts
    reproduce exactly; ratios round to 4)."""
    docs = load(spark, sf_dir, "documents")
    return text.gopher_quality_flags(docs).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_word_frac",
        "symbol_ratio",
        "stop_word_hits",
        "ok_word_count",
        "ok_mean_word_len",
        "ok_symbol_ratio",
        "ok_alpha_words",
        "ok_stop_words",
        "gopher_pass",
    )


def q_text_quality_classifier(spark, sf_dir):
    """GPT-3-style quality classifier, gated by deterministic claims
    (the *_recall pattern: the trained weights are engine-internal —
    iterative float math has no cross-engine oracle — so the row
    asserts exact class counts plus margin-sized quality claims).

    Threshold provenance (sized across three corpora like the PQ
    recall gates): the en-vs-rest task's signal is SPARSE by generator
    construction (~0.8 distinct en-marker hits per doc in EVERY
    language), so train-set AUC is 0.93 on the 500-doc gate corpus
    (small-corpus memorization headroom in 4096 buckets) but 0.69 at
    sf0.1 — near the data ceiling, not model failure. Claims: AUC >=
    0.62 (chance is 0.5; measured 0.69-0.94), precision@100 of the
    score ranking >= base_rate + 0.15 (self-normalizing across corpora;
    measured margins 0.17-0.48), GD loss strictly improved, and the
    Pareto filter keeps >= 1 doc (measured 9-130).

    Claim scope: ALL corpora since round 14 — the registry corpora
    (driver gate sf0.01, sweep sf0.1, adversarial variants) where the
    row is hash-checked, AND the derived v4 lane corpora, whose tiled
    copies carry a class-conditional vocabulary shift
    (tools/make_scale_data.py ``inject_class_markers``) precisely so
    this row's booleans stay assertable at scale: measured AUC 0.9955
    at sf1 (v3's attenuated markers capped it at 0.58). bench.py's sf1
    lane asserts and records the booleans each round."""
    docs = load(spark, sf_dir, "documents")
    labeled = docs.withColumn(
        "y", F.coalesce((F.col("lang") == "en").cast("int"), F.lit(0))
    )
    model = text.train_quality_classifier(labeled, "y", iters=15, lr=2.0)
    # scored feeds the AUC, the p@100 cut, AND the Pareto draw —
    # checkpoint so the gram-scoring pass runs once, not three times
    # (the ccnet_buckets multi-consumer pattern)
    scored = (
        text.score_quality_classifier(docs, model)
        .join(labeled.select("doc_id", "y"), "doc_id")
        .localCheckpoint(eager=False)
    )
    auc_row = text.binary_auc(scored, "quality_prob", "y")
    p100 = (
        scored.orderBy(F.desc("quality_prob"), F.asc("doc_id"))
        .limit(100)
        .agg(F.avg("y").alias("_p100"))
    )
    kept_n = text.pareto_quality_filter(
        docs, model, salt="r13", scored=scored
    ).agg(F.count(F.lit(1)).alias("_k"))
    loss_ok = bool(model["losses"][-1] < model["losses"][0] - 1e-9)
    return (
        auc_row.crossJoin(p100)
        .crossJoin(kept_n)
        .select(
            "n_pos",
            "n_neg",
            (F.col("auc") >= 0.62).alias("auc_ok"),
            F.lit(loss_ok).alias("loss_ok"),
            (
                F.col("_p100")
                >= F.col("n_pos") / (F.col("n_pos") + F.col("n_neg"))
                + F.lit(0.15)
            ).alias("tilt_ok"),
            (F.col("_k") >= 1).alias("kept_ok"),
        )
    )


def q_text_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): score the whole pool
    against an English-document target — full value oracle (bucket ids
    reproduce exactly via the fixed-width-hex md5 hash; log-weight sums
    round to 6 like unigram_logprob's nll)."""
    docs = load(spark, sf_dir, "documents")
    return text.dsir_importance_weights(
        docs, target_predicate=F.col("lang") == "en"
    )


def q_text_dsir_sample(spark, sf_dir):
    """DSIR Gumbel-top-k resampling: 120 docs drawn without replacement
    proportional to softmax importance weight, noise a pure function of
    (doc_id, salt) — the selection itself is value-oracled row-for-row."""
    docs = load(spark, sf_dir, "documents")
    return text.dsir_select(
        docs, None, 120, salt="r13",
        target_predicate=F.col("lang") == "en",
    )


def q_text_pareto_filter(spark, sf_dir):
    """The GPT-3 Pareto keep rule (Brown et al. 2020, App. A) with a
    FIXED literal model — a FULL value oracle for the scoring + draw
    kernel that text_quality_classifier can only claims-gate (its
    trained weights are engine-internal iterative float math; a fixed
    model has no training, so every number here is closed-form in both
    engines). The 64-bucket weight table is the pure expression
    ``w[b] = (((b * 37) % 13) - 6) / 10`` computed independently by
    Spark and DuckDB; scoring is the tf-average of ``w[bucket]`` over
    the md5-hashed unigram+bigram occurrence stream plus bias through
    a sigmoid; the keep decision draws Pareto(alpha=9) noise from the
    fixed-width-hex md5 of ``(doc_id, '|pareto|', salt)``.

    ``quality_prob`` is rounded to 6 BEFORE the keep comparison (the
    dsir-row rounding convention) so the cross-engine float decision
    compares rounded values — an ulp of summation-order drift cannot
    flip a row in or out of the result."""
    docs = load(spark, sf_dir, "documents")
    B = 64
    model = {
        "weights": [(((b * 37) % 13) - 6) / 10.0 for b in range(B)],
        "bias": -0.2,
        "n_buckets": B,
        "hash_fn": "md5",
    }
    scored = text.score_quality_classifier(docs, model).select(
        "doc_id", F.round("quality_prob", 6).alias("quality_prob")
    )
    return text.pareto_quality_filter(
        docs, model, alpha=9.0, salt="r17", scored=scored
    )


def q_text_bigram_nll(spark, sf_dir):
    """Bigram stupid-backoff fluency score (Brants et al. 2007) — the
    context-aware upgrade of text_unigram_nll, FULL value oracle
    (deterministic counts; the per-doc mean rounds to 6)."""
    return text.bigram_logprob(load(spark, sf_dir, "documents"))


def q_text_ccnet_buckets(spark, sf_dir):
    """The CCNet head/middle/tail split (Wenzek et al. 2020): rank the
    corpus by LM score and cut at the tertiles. Thresholds are two
    driver scalars from one exact-percentile aggregate (same pattern as
    the histogram range); the labeling pass is map-only."""
    # scored feeds BOTH the percentile collect and the labeling select —
    # checkpoint so the heavy LM pipeline (explode + vocab agg +
    # broadcast join) runs once, not once per consumer
    scored = text.unigram_logprob(
        load(spark, sf_dir, "documents")
    ).localCheckpoint(eager=False)
    p33, p66 = scored.agg(
        F.percentile("nll", F.lit(1.0 / 3)),
        F.percentile("nll", F.lit(2.0 / 3)),
    ).collect()[0]
    return scored.select(
        "doc_id",
        "nll",
        F.when(F.col("nll") <= p33, "head")
        .when(F.col("nll") <= p66, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


def q_text_chunks(spark, sf_dir):
    """Overlapping token-window chunking (32-token windows, 8 overlap),
    value-checked chunk-for-chunk against the SQL oracle."""
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return text.chunk_documents(docs, max_tokens=32, overlap=8)


def q_text_pack(spark, sf_dir):
    """Per-language context-window packing at a 256-token budget."""
    docs = load(spark, sf_dir, "documents")
    with_counts = docs.withColumn(
        "n_tokens", F.size(text.tokens(F.col("text")))
    )
    return text.pack_sequences(with_counts, budget=256, group_col="lang")


def _curation_pipeline(spark, docs):
    """The composed curation chain shared by the v1 and v2 rows:
    exact-dedup survivorship -> quality scoring -> lang-id -> token
    counting -> benchmark decontamination -> filter.

    Plan shape, tuned at sf10 (round 14): the scored relation is
    PRUNED to its four output columns and lazily localCheckpointed
    BEFORE the contamination join. Fully fused, the pushed-down
    quality/lang filter re-inlines the expensive scoring expressions
    through the join (the r13 predicate-pushdown-inlining failure
    mode, this time at plan level) and the 500k-doc composed query
    measured 55.5 s; the one barrier cuts it to ~21-24 s with
    value-identical output (A/B in SCALE.md). The contaminated-id
    filter is a LEFT ANTI join against the screen's hit set —
    measured faster than carrying the boolean flag column through an
    inner join, and semantically identical because the screen's flag
    relation covers every doc.

    The screen deliberately runs over RAW docs, not survivors: flags
    of dropped duplicates are discarded by the join (wasted map-side
    gram work proportional to the dup rate), but feeding survivors
    would re-derive the dedup window inside the screen's own branches
    — column pruning makes those exchanges non-identical, so
    ReuseExchange cannot serve them and the full-text window shuffle
    runs THREE times (measured round 12: 5 hashpartitioning exchanges
    vs 3). A corpus-sized text exchange dwarfs map-side tokenization,
    so the raw-docs screen is the cheaper plan at any duplication
    rate."""
    survivors = dedup.exact_dedup(docs)
    # ONE tokenization shared across quality / lang-id / token-count
    # (round 18): each operator re-tokenized independently, and with
    # the quality counters staged (multi-reference CollapseProject
    # guard) codegen's cross-projection subexpression elimination can
    # no longer dedupe them — the shared staged array is the explicit
    # fix. Values identical: same token array feeds the stopword
    # intersect, the language intersects, and size() == the documented
    # regexp_count token-count contract (NULL-in/NULL-out included).
    tokd = survivors.withColumn("_ct_toks", text.tokens(F.col("text")))
    scored = (
        text.with_token_count(
            text.with_lang_id(
                text.with_quality(tokd, tokens_col="_ct_toks"),
                tokens_col="_ct_toks",
            ),
            tokens_col="_ct_toks",
        )
        .select("doc_id", "quality_score", "lang_pred", "n_tokens")
        .localCheckpoint(eager=False)
    )
    benchmark = docs.where(F.col("doc_id") % 50 == 0)
    flags = text.contamination_screen(docs, benchmark, n=3)
    hits = flags.where("contaminated").select("doc_id")
    return (
        scored.join(hits, "doc_id", "left_anti")
        .where(
            (F.col("quality_score") >= 0.6)
            & (F.col("lang_pred") == "en")
        )
        .select("doc_id", "quality_score", "lang_pred", "n_tokens")
    )


def q_text_curation_pipeline(spark, sf_dir):
    """The composed curation pipeline — what a user actually runs
    before training. Each stage is the same operator the standalone
    rows gate; the composition and its plan tuning live in
    ``_curation_pipeline``."""
    return _curation_pipeline(spark, load(spark, sf_dir, "documents"))


def _neardup_corpus(spark, sf_dir):
    """The corpus the v2 curation pipeline runs over, resolved per dir.

    Derived scale dirs carry the generator's ``documents_v2``
    (token-salted near-dup rewrites; ``tools/make_scale_data.py``) —
    the sf10 lane keeps using it, preserving the non-empty canary and
    its floors. Gate/sweep dirs don't have the file, so the row
    synthesizes a deterministic near-dup variant FROM ``documents``
    that DuckDB replicates exactly (the driver's oracle views cover
    only the ten standard tables, so a gated oracle row cannot read a
    generated sibling file): every third doc gains a copy at
    ``doc_id + 1e9`` whose text drops the first word (a near-dup
    sharing almost all 3-grams), and every fifteenth an EXACT copy —
    so survivorship, the contamination screen, and the quality filter
    all do non-trivial work at gate scale and the result is value-
    checked end to end (round-13 verdict ask #3)."""
    import os

    if os.path.exists(os.path.join(sf_dir, "documents_v2.parquet")):
        return load(spark, sf_dir, "documents_v2")
    base = load(spark, sf_dir, "documents").select("doc_id", "text")
    dups = base.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
        F.when(F.col("doc_id") % 5 == 0, F.col("text"))
        .otherwise(
            F.regexp_replace("text", r"^\s*\S+\s+", "")
        )
        .alias("text"),
    )
    return base.unionByName(dups)


def q_text_curation_pipeline_v2(spark, sf_dir):
    """The same composed curation pipeline over a NEAR-DUP corpus (see
    ``_neardup_corpus``: the generator's ``documents_v2`` in derived
    scale dirs — the sf10 lane's non-empty canary — and a
    SQL-replicable synthesized variant at gate/sweep scale, where this
    row carries a FULL value oracle over the final survivor rows).
    Near-dup structure makes every stage non-trivial: exact dedup
    drops the exact copies, the screen flags gram-sharing docs without
    flagging everything (the permuted sf10 ``documents`` tiles trip it
    corpus-wide — the v1 row's 0-row caveat), and the quality filter
    sees rewritten text. Shares ``_curation_pipeline`` (and its
    round-14 plan tuning) with the v1 row."""
    return _curation_pipeline(spark, _neardup_corpus(spark, sf_dir))


def q_text_llm_pipeline(spark, sf_dir):
    """The round-13 additions composed end-to-end AS A PIPELINE, with
    one FULL value oracle across all three stages: span-level benchmark
    decontamination (cut mode) -> Gopher rule filtering on the
    REWRITTEN text (the four live rules; the stop-word rule is vacuous
    on this corpus — 0/500 docs carry two distinct Gopher stop words —
    and a pipeline stage that drops everything would gate nothing) ->
    DSIR Gumbel-top-k selection (English target) over the survivors.
    Every stage is deterministic and SQL-replicable, so the final
    40-row selection is hash-compared row-for-row — the composition
    itself is what this row gates (each stage is already gated alone)."""
    docs = load(spark, sf_dir, "documents")
    pool = docs.where(F.col("doc_id") % 50 != 0)
    bench = docs.where(F.col("doc_id") % 50 == 0)
    clean = dedup.decontaminate_spans(pool, bench, n=8).select(
        "doc_id", "text"
    )
    survivors = text.gopher_filter(clean, text.GOPHER_RULES[:4]).select(
        "doc_id", "text"
    )
    pool2 = survivors.join(docs.select("doc_id", "lang"), "doc_id")
    return text.dsir_select(
        pool2, None, 40, salt="r13pipe",
        target_predicate=F.col("lang") == "en",
    )


def q_text_selection_pipeline(spark, sf_dir):
    """The round-17 curate selection lane AS A PIPELINE with one FULL
    value oracle across all three stages: Gopher rule filtering (the
    four live rules) -> the GPT-3 Pareto keep rule over the FIXED
    literal model (the text_pareto_filter kernel, bias raised to +1.2
    so the screen keeps ~15% and every stage contributes survivors to
    gate) -> DSIR Gumbel-top-k selection (English-survivor target)
    over the doubly-screened pool. It is the step order of
    ``curation.curate(steps=["gopher", "classifier", "dsir"])``, with
    three differences that keep the composition closed-form in both
    engines: the classifier is a fixed literal model, never trained;
    the Pareto draw reads scores rounded to 6 places (``scored=``),
    where ``curate`` scores unrounded; and the row returns the DSIR
    picks with their scores, where ``curate`` keeps the picked rows'
    own columns. Each stage is gated alone
    (text_gopher_quality / text_pareto_filter / text_dsir_sample);
    this row gates their composition: the Pareto screen changes the
    DSIR pool AND its importance-weight denominator, so a drift in
    any stage moves the final 25-row selection."""
    docs = load(spark, sf_dir, "documents")
    survivors = text.gopher_filter(docs, text.GOPHER_RULES[:4]).select(
        "doc_id", "text"
    )
    B = 64
    model = {
        "weights": [(((b * 37) % 13) - 6) / 10.0 for b in range(B)],
        "bias": 1.2,
        "n_buckets": B,
        "hash_fn": "md5",
    }
    scored = text.score_quality_classifier(survivors, model).select(
        "doc_id", F.round("quality_prob", 6).alias("quality_prob")
    )
    kept = text.pareto_quality_filter(
        survivors, model, alpha=9.0, salt="r17sel", scored=scored
    ).select("doc_id")
    pool = survivors.join(kept, "doc_id").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return text.dsir_select(
        pool, None, 25, salt="r17sel",
        target_predicate=F.col("lang") == "en",
    )


def q_text_contamination(spark, sf_dir):
    """Benchmark-overlap decontamination screen: docs sharing any word
    3-gram with the pseudo-benchmark (every 50th doc) are flagged."""
    docs = load(spark, sf_dir, "documents")
    benchmark = docs.where(F.col("doc_id") % 50 == 0)
    return text.contamination_screen(docs, benchmark, n=3)


def q_text_stratified_sample(spark, sf_dir):
    """Deterministic 20% stratified sample per language (hash-ranked,
    exact per-stratum counts)."""
    docs = load(spark, sf_dir, "documents")
    return text.stratified_sample(docs, 0.2, strata_col="lang").select(
        "doc_id", "lang"
    )


def q_text_balanced_sample(spark, sf_dir):
    """Fixed-count class rebalancing: every language capped at 40 docs
    by deterministic hash rank (smaller classes keep all rows)."""
    docs = load(spark, sf_dir, "documents")
    return text.balanced_sample(docs, 40, strata_col="lang").select(
        "doc_id", "lang"
    )


_TOKENS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'), x -> x <> '')"


_LANG_SCORES = {
    lang: (
        f"len(list_intersect({_TOKENS}, "
        f"[{', '.join(repr(w) for w in text.LANG_MARKERS[lang])}]))"
    )
    for lang in text.LANG_MARKERS
}


def q_text_url_screen(spark, sf_dir):
    """URL-level curation screen (C4 §2.2 dedup-by-URL + domain
    blocklist; Dolma ships the same two taggers) with a FULL value
    oracle. The documents table carries no URL column, so the row
    derives one DETERMINISTICALLY from (source, doc_id) in a way DuckDB
    replicates byte-exactly, with every normalization rule carrying
    real rows: scheme case varies (doc_id % 2), a ``www.`` prefix
    (% 3), the TLD rotates .com/.net/.org/.io (% 4), an explicit port
    (% 5), a trailing slash (% 7), and EVERY url carries a unique
    ``?session=`` query plus ``#f`` fragment — so no two raw strings
    are equal and every collision the dedup finds was created by
    normalization. The blocklist drops one whole TLD group by suffix
    match (``example.org``) and one exact host
    (``host-src3.example.com``); survivors then dedup to the minimum
    doc_id per normalized URL (path identity is ``doc_id % 40``)."""
    from ..operators import urls

    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("https://")).otherwise(F.lit("HTTP://")),
        F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("Host-"),
        F.upper("source"),
        F.lit(".Example"),
        F.when(d % 4 == 0, F.lit(".com"))
        .when(d % 4 == 1, F.lit(".net"))
        .when(d % 4 == 2, F.lit(".org"))
        .otherwise(F.lit(".io")),
        F.when(d % 5 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/Docs/"),
        (d % 40).cast("string"),
        F.when(d % 7 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?session="),
        d.cast("string"),
        F.lit("#f"),
    )
    with_url = docs.select("doc_id", url.alias("url"))
    kept = urls.filter_blocked_domains(
        with_url, ["example.org", "Host-SRC3.Example.com"]
    )
    out = urls.dedup_by_url(kept)
    return out.select(
        "doc_id",
        "url_norm",
        urls.url_domain(F.col("url")).alias("domain"),
    )


# chained redaction built from the SAME pattern table the operator uses
# (DuckDB needs the explicit 'g' flag; Spark replaces globally by default)
_REDACT_EXPR = "text"


for _pat, _repl in text.PII_PATTERNS:
    _REDACT_EXPR = f"regexp_replace({_REDACT_EXPR}, '{_pat}', '{_repl}', 'g')"


QUERIES = {
    "text_balanced_sample": q_text_balanced_sample,
    "text_stratified_sample": q_text_stratified_sample,
    "text_contamination": q_text_contamination,
    "text_curation_pipeline": q_text_curation_pipeline,
    "text_curation_pipeline_v2": q_text_curation_pipeline_v2,
    "text_repetition": q_text_repetition,
    "text_mixture": q_text_mixture,
    "text_bpe_train": q_text_bpe_train,
    "text_temperature_mixture": q_text_temperature_mixture,
    "text_exact_mixture": q_text_exact_mixture,
    "text_token_count": q_text_token_count,
    "text_c4_clean": q_text_c4_clean,
    "text_token_count_bpe": q_text_token_count_bpe,
    "text_url_screen": q_text_url_screen,
    "text_length_percentiles": q_text_length_percentiles,
    "text_chunks": q_text_chunks,
    "text_tfidf": q_text_tfidf,
    "text_unigram_nll": q_text_unigram_nll,
    "text_bigram_nll": q_text_bigram_nll,
    "text_gopher_quality": q_text_gopher_quality,
    "text_quality_classifier": q_text_quality_classifier,
    "text_dsir_weights": q_text_dsir_weights,
    "text_dsir_sample": q_text_dsir_sample,
    "text_pareto_filter": q_text_pareto_filter,
    "text_selection_pipeline": q_text_selection_pipeline,
    "text_llm_pipeline": q_text_llm_pipeline,
    "text_ccnet_buckets": q_text_ccnet_buckets,
    "documents_source_rollup": q_documents_source_rollup,
    "text_quality": q_text_quality,
    "text_lang_id": q_text_lang_id,
    "text_train_split": q_text_train_split,
    "text_train_order": q_text_train_order,
    "text_redact": q_text_redact,
    "text_pack": q_text_pack,
    "text_fingerprint": q_text_fingerprint,
}

# DSIR hashed-n-gram weights, shared by the weights row and the Gumbel
# selection row. Bucket hash = int(md5(gram)[:8], 16) % 4096 — identical
# in Spark (conv(substring(md5(g),1,8),16,10)) and DuckDB (the 0x-cast);
# verified bit-exact at sf0.001/0.01 before the rows were registered.
_DSIR_WEIGHTS_SQL = f"""
        WITH toks AS (
          SELECT doc_id, {_TOKENS} AS t FROM documents
        ), grams AS (
          SELECT doc_id, unnest(t) AS g FROM toks
          UNION ALL
          SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1])) AS g
          FROM toks WHERE len(t) >= 2
        ), occ AS (
          SELECT doc_id,
                 CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 4096 AS bkt
          FROM grams
        ), qcnt AS (
          SELECT bkt, count(*) AS qc FROM occ GROUP BY bkt
        ), tcnt AS (
          SELECT bkt, count(*) AS tc FROM occ
          WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
          GROUP BY bkt
        ), tot AS (
          SELECT (SELECT coalesce(sum(qc), 0) FROM qcnt) AS Q,
                 (SELECT coalesce(sum(tc), 0) FROM tcnt) AS T
        ), ratio AS (
          SELECT qcnt.bkt,
                 ln((coalesce(tc, 0) + 1.0) / (T + 1.0 * 4096))
               - ln((qc + 1.0) / (Q + 1.0 * 4096)) AS contrib
          FROM qcnt LEFT JOIN tcnt USING (bkt), tot
        ), w AS (
          SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                 round(sum(r.contrib), 6) AS log_w
          FROM occ o JOIN ratio r USING (bkt)
          GROUP BY o.doc_id
        )
"""


ORACLES = {
    "text_url_screen": """
        WITH u AS (
          SELECT doc_id,
            (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END)
            || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
            || 'Host-' || upper(source) || '.Example'
            || (CASE WHEN doc_id % 4 = 0 THEN '.com'
                     WHEN doc_id % 4 = 1 THEN '.net'
                     WHEN doc_id % 4 = 2 THEN '.org'
                     ELSE '.io' END)
            || (CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END)
            || '/Docs/' || CAST(doc_id % 40 AS VARCHAR)
            || (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)
            || '?session=' || CAST(doc_id AS VARCHAR) || '#f' AS url
          FROM documents
        ), stripped AS (
          SELECT doc_id,
                 regexp_replace(regexp_replace(regexp_replace(trim(url),
                   '#.*', '', 's'), '\\?.*', '', 's'),
                   '^[A-Za-z][A-Za-z0-9+.\\-]*://', '') AS rest
          FROM u
        ), hp AS (
          SELECT doc_id,
                 regexp_replace(regexp_replace(
                   lower(regexp_replace(split_part(rest, '/', 1),
                                        '^[^/@]*@', '')),
                   ':\\d+$', ''), '^www\\.', '') AS host,
                 regexp_replace(
                   substr(rest, length(split_part(rest, '/', 1)) + 1),
                   '/+$', '') AS path
          FROM stripped
        ), kept AS (
          SELECT doc_id, host, host || path AS url_norm
          FROM hp
          WHERE NOT (host = 'example.org'
                     OR host LIKE '%.example.org'
                     OR host = 'host-src3.example.com'
                     OR host LIKE '%.host-src3.example.com')
        )
        SELECT doc_id, url_norm, host AS domain
        FROM kept
        QUALIFY row_number() OVER (
          PARTITION BY url_norm ORDER BY doc_id) = 1
    """,
    "text_curation_pipeline": f"""
        WITH survivors AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
        ), t AS (
          SELECT doc_id, text, {_TOKENS} AS toks,
                 length(text) AS n_chars,
                 length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct,
                 len(list_intersect({_TOKENS},
                     [{", ".join(repr(w) for w in text.STOPWORDS_EN)}])) AS stop_hits,
                 {_LANG_SCORES['en']} AS s_en, {_LANG_SCORES['de']} AS s_de,
                 {_LANG_SCORES['fr']} AS s_fr, {_LANG_SCORES['es']} AS s_es
          FROM survivors
        ), scored AS (
          SELECT doc_id,
            CAST(round((CASE WHEN len(toks) > 0 AND CAST(n_chars AS DOUBLE) / len(toks) BETWEEN 3 AND 12 THEN 0.4 ELSE 0.0 END)
                + (CASE WHEN n_chars = 0 OR CAST(punct AS DOUBLE) / n_chars < 0.2 THEN 0.3 ELSE 0.0 END)
                + (CASE WHEN len(toks) > 0 AND CAST(stop_hits AS DOUBLE) / len(toks) > 0.05 THEN 0.3 ELSE 0.0 END), 2) AS DOUBLE) AS quality_score,
            CASE WHEN greatest(s_en, s_de, s_fr, s_es) <= 0 THEN 'und'
                 WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                 WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                 WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
                 ELSE 'fr' END AS lang_pred,
            CAST(len(toks) AS BIGINT) AS n_tokens
          FROM t
        ), all_toks AS (
          SELECT doc_id, {_TOKENS} AS t FROM documents
        ), grams AS (
          SELECT doc_id,
                 unnest(list_filter(list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> array_to_string(t[i:i+2], ' '))),
                   g -> g IS NOT NULL AND g <> '')) AS g
          FROM all_toks
        ), bench AS (
          SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
        ), hits AS (
          SELECT DISTINCT grams.doc_id FROM grams JOIN bench USING (g)
        )
        SELECT s.doc_id, s.quality_score, s.lang_pred, s.n_tokens
        FROM scored s LEFT JOIN hits h ON s.doc_id = h.doc_id
        WHERE s.quality_score >= 0.6 AND s.lang_pred = 'en'
          AND h.doc_id IS NULL
    """,
    # same pipeline as text_curation_pipeline, over the SYNTHESIZED
    # near-dup corpus (_neardup_corpus: gate/sweep dirs have no
    # documents_v2 file, so both engines build the identical variant
    # from documents — every 3rd doc gains a first-word-dropped copy at
    # doc_id + 1e9, every 15th an exact copy)
    "text_curation_pipeline_v2": f"""
        WITH docs_v2 AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000000 AS doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN text
                      ELSE regexp_replace(text, '^\\s*\\S+\\s+', '')
                 END AS text
          FROM documents WHERE doc_id % 3 = 0
        ), survivors AS (
          SELECT doc_id, text FROM docs_v2
          WHERE doc_id IN (SELECT min(doc_id) FROM docs_v2 GROUP BY text)
        ), t AS (
          SELECT doc_id, text, {_TOKENS} AS toks,
                 length(text) AS n_chars,
                 length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct,
                 len(list_intersect({_TOKENS},
                     [{", ".join(repr(w) for w in text.STOPWORDS_EN)}])) AS stop_hits,
                 {_LANG_SCORES['en']} AS s_en, {_LANG_SCORES['de']} AS s_de,
                 {_LANG_SCORES['fr']} AS s_fr, {_LANG_SCORES['es']} AS s_es
          FROM survivors
        ), scored AS (
          SELECT doc_id,
            CAST(round((CASE WHEN len(toks) > 0 AND CAST(n_chars AS DOUBLE) / len(toks) BETWEEN 3 AND 12 THEN 0.4 ELSE 0.0 END)
                + (CASE WHEN n_chars = 0 OR CAST(punct AS DOUBLE) / n_chars < 0.2 THEN 0.3 ELSE 0.0 END)
                + (CASE WHEN len(toks) > 0 AND CAST(stop_hits AS DOUBLE) / len(toks) > 0.05 THEN 0.3 ELSE 0.0 END), 2) AS DOUBLE) AS quality_score,
            CASE WHEN greatest(s_en, s_de, s_fr, s_es) <= 0 THEN 'und'
                 WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                 WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                 WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
                 ELSE 'fr' END AS lang_pred,
            CAST(len(toks) AS BIGINT) AS n_tokens
          FROM t
        ), all_toks AS (
          SELECT doc_id, {_TOKENS} AS t FROM docs_v2
        ), grams AS (
          SELECT doc_id,
                 unnest(list_filter(list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> array_to_string(t[i:i+2], ' '))),
                   g -> g IS NOT NULL AND g <> '')) AS g
          FROM all_toks
        ), bench AS (
          SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
        ), hits AS (
          SELECT DISTINCT grams.doc_id FROM grams JOIN bench USING (g)
        )
        SELECT s.doc_id, s.quality_score, s.lang_pred, s.n_tokens
        FROM scored s LEFT JOIN hits h ON s.doc_id = h.doc_id
        WHERE s.quality_score >= 0.6 AND s.lang_pred = 'en'
          AND h.doc_id IS NULL
    """,
    "text_train_order": """
        SELECT doc_id,
               row_number() OVER (
                 ORDER BY md5(CAST(doc_id AS VARCHAR) || '|r10|1'), doc_id
               ) AS order_rank
          FROM documents
    """,
    "text_balanced_sample": """
        SELECT doc_id, lang FROM documents
        QUALIFY row_number() OVER (
            PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
          ) <= 40
    """,
    "text_stratified_sample": """
        SELECT doc_id, lang FROM documents
        QUALIFY row_number() OVER (
            PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
          ) <= ceil(count(*) OVER (PARTITION BY lang) * 0.2)
    """,
    "text_contamination": f"""
        WITH toks AS (
          SELECT doc_id, {_TOKENS} AS t FROM documents
        ), grams AS (
          SELECT doc_id,
                 unnest(list_filter(list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> array_to_string(t[i:i+2], ' '))),
                   g -> g IS NOT NULL AND g <> '')) AS g
          FROM toks
        ), bench AS (
          SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
        ), hits AS (
          SELECT DISTINCT grams.doc_id FROM grams JOIN bench USING (g)
        )
        SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
    "text_repetition": f"""
        WITH toks AS (
          SELECT doc_id, length(text) AS nch, {_TOKENS} AS t
          FROM documents
        ), grams AS (
          SELECT doc_id, nch,
                 unnest(list_filter(list_transform(
                   generate_series(1, greatest(len(t) - 1, 1)),
                   i -> array_to_string(t[i:i+1], ' ')),
                   g -> g <> '')) AS gram
          FROM toks
        ), counts AS (
          SELECT doc_id, any_value(nch) AS nch, gram, count(*) AS cnt
          FROM grams GROUP BY doc_id, gram
        ), ranked AS (
          SELECT doc_id, nch, gram, cnt,
                 sum(cnt) OVER (PARTITION BY doc_id) AS n_grams,
                 count(*) OVER (PARTITION BY doc_id) AS n_distinct,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY cnt DESC, gram DESC) AS rn
          FROM counts
        )
        SELECT doc_id,
               CAST(n_grams AS BIGINT) AS n_grams,
               CAST(n_distinct AS BIGINT) AS n_distinct,
               round((n_grams - n_distinct) * 1.0 / n_grams, 4)
                 AS dup_gram_frac,
               gram AS top_gram,
               round(cnt * length(gram) * 1.0 / nch, 4)
                 AS top_gram_char_frac
        FROM ranked WHERE rn = 1
    """,
    "text_bpe_train": """
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               TRUE AS learned_ok, TRUE AS compression_ok,
               TRUE AS monotone_ok, TRUE AS deterministic_ok
        FROM documents
    """,
    # rate math mirrored bit-exactly from operators/text.py
    # temperature_mixture (alpha=0.5): integer total cast to double,
    # sqrt (IEEE correctly rounded), ORDERED stratum sum, the same
    # left-associated T * p / Z / n chain, int-truncated 2^32 threshold
    "text_temperature_mixture": """
        WITH counts AS (
          SELECT source AS s, count(*) AS n
          FROM documents WHERE source IS NOT NULL GROUP BY source
        ), z AS (
          SELECT CAST(sum(n) AS DOUBLE) AS T,
                 sum(sqrt(CAST(n AS DOUBLE)) ORDER BY s) AS Z
          FROM counts
        ), rates AS (
          SELECT s, n,
                 T * sqrt(CAST(n AS DOUBLE)) / Z / CAST(n AS DOUBLE)
                   AS rate
          FROM counts, z
        ), bounds AS (
          SELECT s, CAST(floor(rate) AS BIGINT) AS base,
                 least(CAST(floor((rate - floor(rate)) * 4294967296.0)
                            AS BIGINT), 4294967295) AS bound
          FROM rates
        ), drawn AS (
          SELECT d.doc_id, d.source, b.base,
                 CASE WHEN CAST(concat('0x', substring(
                        md5(CAST(d.doc_id AS VARCHAR) || 'r14tm'), 1, 8))
                        AS BIGINT) < b.bound
                      THEN 1 ELSE 0 END AS extra
          FROM documents d JOIN bounds b ON d.source = b.s
        )
        SELECT doc_id, source,
               CAST(unnest(generate_series(1, base + extra)) AS BIGINT)
                 AS copy
        FROM drawn WHERE base + extra > 0
    """,
    "text_mixture": """
        WITH base AS (
          SELECT doc_id, source,
                 substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
          FROM documents WHERE source IN ('src0', 'src1', 'src2')
        ), n AS (
          SELECT doc_id, source,
                 CASE source
                   WHEN 'src0' THEN 2 + CASE WHEN h < '80000000'
                                             THEN 1 ELSE 0 END
                   WHEN 'src1' THEN 1
                   WHEN 'src2' THEN CASE WHEN h < '66666666'
                                         THEN 1 ELSE 0 END
                 END AS nc
          FROM base
        )
        SELECT doc_id, source,
               CAST(unnest(generate_series(1, nc)) AS BIGINT) AS copy
        FROM n WHERE nc > 0
    """,
    "text_exact_mixture": """
        SELECT doc_id, lang FROM documents
        QUALIFY row_number() OVER (
            PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
          ) <= CASE lang
                 WHEN 'en' THEN 50
                 WHEN 'es' THEN 20
                 WHEN 'de' THEN 15
                 WHEN 'zh' THEN 10000
                 ELSE 0
               END
    """,
    "text_c4_clean": """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(coalesce(text, ''), '\\s+'),
                   x -> x <> '') AS t
          FROM documents
        ), lined AS (
          SELECT doc_id,
                 coalesce(array_to_string(
                   list_transform(
                     generate_series(0,
                       CAST(ceil(len(t) / 6.0) AS INT) - 1),
                     i -> array_to_string(t[i*6+1:i*6+6], ' ')
                          || CASE WHEN (doc_id + i) % 3 = 0
                                  THEN '' ELSE '.' END),
                   chr(10)), '')
                 || CASE WHEN doc_id % 13 = 0 THEN chr(10) ||
                      'please enable javascript to view this page.'
                      ELSE '' END
                 || CASE WHEN doc_id % 17 = 0 THEN chr(10) ||
                      'Lorem ipsum dolor sit amet consectetur adipiscing.'
                      ELSE '' END
                 || CASE WHEN doc_id % 19 = 0 THEN chr(10) ||
                      'the config block is { not prose } at all.'
                      ELSE '' END
                 || CASE WHEN doc_id % 23 = 0 THEN chr(10) ||
                      'this page mentions badmarker once too often.'
                      ELSE '' END AS text
          FROM toks
        ), ls AS (
          SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined
        ), keptl AS (
          SELECT doc_id,
                 list_filter(ls, l ->
                   len(regexp_extract_all(l, '\\S+')) >= 5
                   AND regexp_matches(rtrim(l), '[.!?]["'']?$')
                   AND NOT contains(lower(l), 'javascript')) AS ka,
                 len(ls) AS nl
          FROM ls
        ), o AS (
          SELECT doc_id,
                 coalesce(array_to_string(ka, chr(10)), '') AS text,
                 nl, len(ka) AS kl
          FROM keptl
        )
        SELECT doc_id, text,
               (len(regexp_extract_all(text, '[.!?]')) >= 3
                AND NOT contains(lower(text), 'lorem ipsum')
                AND NOT contains(text, '{')
                AND NOT regexp_matches(text,
                      '(?i)\\b(?:badmarker)\\b')) AS kept,
               CAST(nl AS BIGINT) AS n_lines,
               CAST(kl AS BIGINT) AS kept_lines
        FROM o
    """,
    "text_token_count": f"""
        SELECT doc_id, len({_TOKENS}) AS n_tokens,
               len(regexp_extract_all(text,
                   '''(?:s|t|re|ve|m|ll|d)| ?\\p{{L}}+| ?\\p{{N}}+| ?[^\\s\\p{{L}}\\p{{N}}]+|\\s+'))
                 AS n_tokens_bpe
        FROM documents
    """,
    "text_token_count_bpe": """
        SELECT doc_id,
               CAST(strlen(text)
                 - (strlen(text) - strlen(replace(text, 'an', ''))) // 2
                 - (strlen(text) - strlen(replace(text, 'and', ''))) // 3
                 AS BIGINT) AS n_bpe
        FROM documents
    """,
    "text_length_percentiles": """
        SELECT lang,
               round(quantile_cont(n_chars, 0.5), 6) AS p50,
               round(quantile_cont(n_chars, 0.9), 6) AS p90,
               round(quantile_cont(n_chars, 0.99), 6) AS p99,
               count(*) AS n_docs
        FROM documents GROUP BY lang
    """,
    "text_chunks": f"""
        WITH toks AS (
          SELECT doc_id, {_TOKENS} AS t FROM documents WHERE doc_id < 100
        ), sized AS (
          SELECT doc_id, t,
                 greatest(CAST(ceil((len(t) - 8) / 24.0) AS INT), 1) AS nc
          FROM toks
        ), expl AS (
          SELECT doc_id, t,
                 unnest(generate_series(0, nc - 1)) AS chunk_id
          FROM sized
        )
        SELECT doc_id, chunk_id,
               coalesce(array_to_string(t[chunk_id*24+1 : chunk_id*24+32], ' '),
                        '') AS chunk_text,
               len(t[chunk_id*24+1 : chunk_id*24+32]) AS chunk_tokens
        FROM expl
    """,
    "text_tfidf": f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf FROM toks
          GROUP BY doc_id, term
        ), dfq AS (
          SELECT term, count(*) AS dfc FROM tf GROUP BY term
        ), n AS (
          SELECT count(*) AS n_docs FROM documents
        ), scored AS (
          SELECT tf.doc_id, tf.term, tf.tf,
                 round(tf.tf * (ln((n.n_docs + 1.0) / (dfq.dfc + 1.0))
                                + 1.0), 6) AS score
          FROM tf JOIN dfq USING (term), n
        ), ranked AS (
          SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term ASC) AS rnk
          FROM scored
        )
        SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score,
               CAST(rnk AS BIGINT) AS rank
        FROM ranked WHERE rnk <= 3
    """,
    "text_unigram_nll": f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
        ), lm AS (
          SELECT term, count(*) AS cnt FROM toks GROUP BY term
        ), stats AS (
          SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS vocab
          FROM lm
        )
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               round(avg(-ln((lm.cnt + 1.0) / (stats.total + stats.vocab))),
                     6) AS nll
        FROM toks t JOIN lm USING (term), stats
        GROUP BY t.doc_id
    """,
    "text_ccnet_buckets": f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
        ), lm AS (
          SELECT term, count(*) AS cnt FROM toks GROUP BY term
        ), stats AS (
          SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS vocab
          FROM lm
        ), scored AS (
          SELECT t.doc_id,
                 round(avg(-ln((lm.cnt + 1.0)
                               / (stats.total + stats.vocab))), 6) AS nll
          FROM toks t JOIN lm USING (term), stats
          GROUP BY t.doc_id
        ), q AS (
          SELECT quantile_cont(nll, 1.0/3) AS p33,
                 quantile_cont(nll, 2.0/3) AS p66
          FROM scored
        )
        SELECT doc_id, nll,
               CASE WHEN nll <= p33 THEN 'head'
                    WHEN nll <= p66 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM scored, q
    """,
    "documents_source_rollup": f"""
        WITH t AS (
          SELECT source,
                 len({_TOKENS}) AS n_toks,
                 length(text) AS n_chars,
                 length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct,
                 len(list_intersect({_TOKENS},
                     [{", ".join(repr(w) for w in text.STOPWORDS_EN)}])) AS stop_hits
          FROM documents
        ), scored AS (
          SELECT source, n_toks, n_chars,
            CAST(round((CASE WHEN n_toks > 0 AND CAST(n_chars AS DOUBLE) / n_toks BETWEEN 3 AND 12 THEN 0.4 ELSE 0.0 END)
                + (CASE WHEN n_chars = 0 OR CAST(punct AS DOUBLE) / n_chars < 0.2 THEN 0.3 ELSE 0.0 END)
                + (CASE WHEN n_toks > 0 AND CAST(stop_hits AS DOUBLE) / n_toks > 0.05 THEN 0.3 ELSE 0.0 END), 2) AS DOUBLE) AS q
          FROM t
        )
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS total_tokens,
               round(avg(q), 4) AS avg_quality,
               round(avg(n_chars), 2) AS avg_chars
        FROM scored GROUP BY source
    """,
    "text_quality": f"""
        WITH t AS (
          SELECT doc_id,
                 {_TOKENS} AS toks,
                 length(text) AS n_chars,
                 length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct,
                 len(list_intersect({_TOKENS},
                     [{", ".join(repr(w) for w in text.STOPWORDS_EN)}])) AS stop_hits
          FROM documents
        )
        SELECT doc_id,
          round(CASE WHEN len(toks) > 0 THEN CAST(n_chars AS DOUBLE) / len(toks) ELSE 0.0 END, 4) AS mean_word_len,
          round(CASE WHEN n_chars > 0 THEN CAST(punct AS DOUBLE) / n_chars ELSE 0.0 END, 4) AS punct_ratio,
          round(CASE WHEN len(toks) > 0 THEN CAST(stop_hits AS DOUBLE) / len(toks) ELSE 0.0 END, 4) AS stopword_ratio,
          CAST(round((CASE WHEN len(toks) > 0 AND CAST(n_chars AS DOUBLE) / len(toks) BETWEEN 3 AND 12 THEN 0.4 ELSE 0.0 END)
              + (CASE WHEN n_chars = 0 OR CAST(punct AS DOUBLE) / n_chars < 0.2 THEN 0.3 ELSE 0.0 END)
              + (CASE WHEN len(toks) > 0 AND CAST(stop_hits AS DOUBLE) / len(toks) > 0.05 THEN 0.3 ELSE 0.0 END), 2) AS DOUBLE) AS quality_score
        FROM t
    """,
    "text_lang_id": f"""
        WITH s AS (
          SELECT doc_id,
                 {_LANG_SCORES['en']} AS s_en,
                 {_LANG_SCORES['de']} AS s_de,
                 {_LANG_SCORES['fr']} AS s_fr,
                 {_LANG_SCORES['es']} AS s_es
          FROM documents
        )
        SELECT doc_id,
          CASE WHEN greatest(s_en, s_de, s_fr, s_es) <= 0 THEN 'und'
               WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
               WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
               WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
               ELSE 'fr' END AS lang_pred,
          greatest(s_en, s_de, s_fr, s_es) AS lang_score
        FROM s
    """,
    "text_train_split": """
        SELECT doc_id,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         < 'e6666666' THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         < 'f3333333' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """,
    "text_redact": f"""
        WITH r AS (
          SELECT doc_id, text, {_REDACT_EXPR} AS tr FROM documents
        )
        SELECT doc_id, md5(tr) AS redacted_md5,
               tr <> text AS was_redacted
        FROM r
    """,
    "text_pack": f"""
        WITH counted AS (
          SELECT doc_id, lang, least(len({_TOKENS}), 256) AS packed_tokens
          FROM documents
        )
        SELECT lang, doc_id, packed_tokens,
               CAST(floor(coalesce(sum(packed_tokens) OVER (
                      PARTITION BY lang ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), 0) / 256.0) AS BIGINT) AS pack_id
        FROM counted
    """,
    "text_fingerprint": """
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
        FROM documents
    """,
    "text_quality_classifier": """
        SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
               CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
               true AS auc_ok, true AS loss_ok, true AS tilt_ok,
               true AS kept_ok
        FROM documents
        WHERE len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                              x -> x <> '')) > 0
    """,
    "text_bigram_nll": f"""
        WITH toks AS (
          SELECT doc_id, {_TOKENS} AS t FROM documents
        ), st AS (
          SELECT doc_id, s.prev AS prev, s.cur AS cur
          FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(t)),
                     i -> struct_pack(
                       prev := CASE WHEN i > 1 THEN t[i-1] END,
                       cur := t[i]))) AS s
            FROM toks WHERE len(t) >= 1
          )
        ), uni AS (
          SELECT cur, count(*) AS uc FROM st GROUP BY cur
        ), tot AS (
          SELECT CAST(sum(uc) AS DOUBLE) AS T FROM uni
        ), big AS (
          SELECT prev, cur, count(*) AS bc FROM st
          WHERE prev IS NOT NULL GROUP BY prev, cur
        ), ctx AS (
          SELECT prev, count(*) AS cc FROM st
          WHERE prev IS NOT NULL GROUP BY prev
        ), scored AS (
          SELECT st.doc_id,
                 CASE WHEN big.bc IS NOT NULL
                        THEN CAST(big.bc AS DOUBLE) / ctx.cc
                      WHEN st.prev IS NULL
                        THEN CAST(uni.uc AS DOUBLE) / T
                      ELSE 0.4 * CAST(uni.uc AS DOUBLE) / T END AS s
          FROM st
          LEFT JOIN big ON st.prev = big.prev AND st.cur = big.cur
          LEFT JOIN ctx ON st.prev = ctx.prev
          JOIN uni ON st.cur = uni.cur, tot
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               round(avg(-ln(s)), 6) AS nll2
        FROM scored GROUP BY doc_id
    """,
    "text_gopher_quality": f"""
        WITH m AS (
          SELECT doc_id,
                 len(regexp_extract_all(coalesce(text, ''), '\\S+')) AS n_words,
                 length(regexp_replace(coalesce(text, ''), '\\s', '', 'g')) AS nwc,
                 len(regexp_extract_all(coalesce(text, ''), '\\S*[A-Za-z]\\S*')) AS alpha_words,
                 len(regexp_extract_all(coalesce(text, ''), '#|\\.\\.\\.')) AS symbols,
                 greatest(len(list_intersect({_TOKENS},
                     [{", ".join(repr(w) for w in text.GOPHER_STOP_WORDS)}])), 0) AS stop_word_hits
          FROM documents
        ), r AS (
          SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
                 CASE WHEN n_words > 0
                      THEN round(CAST(nwc AS DOUBLE) / n_words, 4)
                      ELSE 0.0 END AS mean_word_len,
                 CASE WHEN n_words > 0
                      THEN round(CAST(alpha_words AS DOUBLE) / n_words, 4)
                      ELSE 0.0 END AS alpha_word_frac,
                 CASE WHEN n_words > 0
                      THEN round(CAST(symbols AS DOUBLE) / n_words, 4)
                      ELSE 0.0 END AS symbol_ratio,
                 CAST(stop_word_hits AS BIGINT) AS stop_word_hits
          FROM m
        )
        SELECT doc_id, n_words, mean_word_len, alpha_word_frac,
               symbol_ratio, stop_word_hits,
               (n_words BETWEEN 50 AND 100000) AS ok_word_count,
               (mean_word_len BETWEEN 3.0 AND 10.0) AS ok_mean_word_len,
               (symbol_ratio <= 0.1) AS ok_symbol_ratio,
               (alpha_word_frac >= 0.8) AS ok_alpha_words,
               (stop_word_hits >= 2) AS ok_stop_words,
               ((n_words BETWEEN 50 AND 100000)
                AND (mean_word_len BETWEEN 3.0 AND 10.0)
                AND (symbol_ratio <= 0.1)
                AND (alpha_word_frac >= 0.8)
                AND (stop_word_hits >= 2)) AS gopher_pass
        FROM r
    """,
    "text_llm_pipeline": """
        WITH pool0 AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
        ), toks0 AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(coalesce(text, ''), '\\s+'),
                   x -> x <> '') AS t
          FROM pool0
        ), lowered AS (
          SELECT doc_id, t, list_transform(t, x -> lower(x)) AS tl
          FROM toks0
        ), occ0 AS (
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
          FROM occ0 JOIN bgrams ON occ0.o.g = bgrams.g
          CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS off)
        ), tokrows AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, len(t)),
                   i -> struct_pack(p := i, tok := t[i]))) AS x
          FROM toks0
        ), kept AS (
          SELECT tr.doc_id, tr.x.p AS p, tr.x.tok AS tok
          FROM tokrows tr
          WHERE NOT EXISTS (
            SELECT 1 FROM removed_pos r
            WHERE r.doc_id = tr.doc_id AND r.p = tr.x.p)
        ), reagg AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text
          FROM kept GROUP BY doc_id
        ), clean AS (
          SELECT t.doc_id, coalesce(a.text, '') AS text
          FROM toks0 t LEFT JOIN reagg a USING (doc_id)
        ), gm AS (
          SELECT doc_id, text,
                 len(regexp_extract_all(coalesce(text, ''), '\\S+')) AS n_words,
                 length(regexp_replace(coalesce(text, ''), '\\s', '', 'g')) AS nwc,
                 len(regexp_extract_all(coalesce(text, ''), '\\S*[A-Za-z]\\S*')) AS alpha_words,
                 len(regexp_extract_all(coalesce(text, ''), '#|\\.\\.\\.')) AS symbols
          FROM clean
        ), survivors AS (
          SELECT doc_id, text FROM gm
          WHERE n_words BETWEEN 50 AND 100000
            AND (CASE WHEN n_words > 0
                      THEN round(CAST(nwc AS DOUBLE) / n_words, 4)
                      ELSE 0.0 END) BETWEEN 3.0 AND 10.0
            AND (CASE WHEN n_words > 0
                      THEN round(CAST(symbols AS DOUBLE) / n_words, 4)
                      ELSE 0.0 END) <= 0.1
            AND (CASE WHEN n_words > 0
                      THEN round(CAST(alpha_words AS DOUBLE) / n_words, 4)
                      ELSE 0.0 END) >= 0.8
        ), stoks AS (
          SELECT s.doc_id,
                 list_filter(regexp_split_to_array(lower(s.text),
                   '[^a-z0-9'']+'), x -> x <> '') AS t,
                 d.lang
          FROM survivors s JOIN documents d USING (doc_id)
        ), grams AS (
          SELECT doc_id, unnest(t) AS g FROM stoks
          UNION ALL
          SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1])) AS g
          FROM stoks WHERE len(t) >= 2
        ), docc AS (
          SELECT doc_id,
                 CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 4096 AS bkt
          FROM grams
        ), qcnt AS (
          SELECT bkt, count(*) AS qc FROM docc GROUP BY bkt
        ), tcnt AS (
          SELECT bkt, count(*) AS tc FROM docc
          WHERE doc_id IN (SELECT doc_id FROM stoks WHERE lang = 'en')
          GROUP BY bkt
        ), tot AS (
          SELECT (SELECT coalesce(sum(qc), 0) FROM qcnt) AS Q,
                 (SELECT coalesce(sum(tc), 0) FROM tcnt) AS T
        ), ratio AS (
          SELECT qcnt.bkt,
                 ln((coalesce(tc, 0) + 1.0) / (T + 1.0 * 4096))
               - ln((qc + 1.0) / (Q + 1.0 * 4096)) AS contrib
          FROM qcnt LEFT JOIN tcnt USING (bkt), tot
        ), w AS (
          SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                 round(sum(r.contrib), 6) AS log_w
          FROM docc o JOIN ratio r USING (bkt)
          GROUP BY o.doc_id
        )
        SELECT doc_id, n_grams, log_w,
               round(log_w + (-ln(-ln(
                 (CAST(concat('0x', substr(md5(
                    CAST(doc_id AS VARCHAR) || '|dsir|r13pipe'), 1, 8))
                   AS BIGINT) + 0.5) / 4294967296.0))), 6) AS score
        FROM w
        ORDER BY score DESC, doc_id
        LIMIT 40
    """,
    "text_dsir_weights": f"""
        {_DSIR_WEIGHTS_SQL}
        SELECT * FROM w
    """,
    "text_selection_pipeline": f"""
        WITH m AS (
          SELECT doc_id,
                 len(regexp_extract_all(coalesce(text, ''), '\\S+')) AS n_words,
                 length(regexp_replace(coalesce(text, ''), '\\s', '', 'g')) AS nwc,
                 len(regexp_extract_all(coalesce(text, ''), '\\S*[A-Za-z]\\S*')) AS alpha_words,
                 len(regexp_extract_all(coalesce(text, ''), '#|\\.\\.\\.')) AS symbols
          FROM documents
        ), surv AS (
          SELECT d.doc_id, d.text
          FROM documents d JOIN m USING (doc_id)
          WHERE m.n_words BETWEEN 50 AND 100000
            AND (CASE WHEN m.n_words > 0
                      THEN round(CAST(m.nwc AS DOUBLE) / m.n_words, 4)
                      ELSE 0.0 END) BETWEEN 3.0 AND 10.0
            AND (CASE WHEN m.n_words > 0
                      THEN round(CAST(m.symbols AS DOUBLE) / m.n_words, 4)
                      ELSE 0.0 END) <= 0.1
            AND (CASE WHEN m.n_words > 0
                      THEN round(CAST(m.alpha_words AS DOUBLE) / m.n_words, 4)
                      ELSE 0.0 END) >= 0.8
        ), ptoks AS (
          SELECT doc_id, {_TOKENS} AS t FROM surv
        ), pgrams AS (
          SELECT doc_id, unnest(t) AS g FROM ptoks
          UNION ALL
          SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1])) AS g
          FROM ptoks WHERE len(t) >= 2
        ), pocc AS (
          SELECT doc_id,
                 CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 64 AS bkt
          FROM pgrams
        ), pscored AS (
          SELECT doc_id,
                 round(1.0 / (1.0 + exp(-(
                   avg((((bkt * 37) % 13) - 6) / 10.0) + 1.2
                 ))), 6) AS quality_prob
          FROM pocc GROUP BY doc_id
        ), pkept AS (
          SELECT doc_id FROM pscored
          WHERE power(
                  1.0 - (CAST(concat('0x', substr(md5(
                          CAST(doc_id AS VARCHAR) || '|pareto|r17sel'), 1, 8))
                        AS BIGINT) + 0.5) / 4294967296.0,
                  -1.0 / 9.0
                ) - 1.0 > 1.0 - quality_prob
        ), occ AS (
          SELECT p.doc_id,
                 CAST(concat('0x', substr(md5(p.g), 1, 8)) AS BIGINT) % 4096 AS bkt
          FROM pgrams p JOIN pkept USING (doc_id)
        ), qcnt AS (
          SELECT bkt, count(*) AS qc FROM occ GROUP BY bkt
        ), tcnt AS (
          SELECT bkt, count(*) AS tc FROM occ
          WHERE doc_id IN (
            SELECT k.doc_id FROM pkept k
            JOIN documents d ON k.doc_id = d.doc_id
            WHERE d.lang = 'en'
          )
          GROUP BY bkt
        ), tot AS (
          SELECT (SELECT coalesce(sum(qc), 0) FROM qcnt) AS Q,
                 (SELECT coalesce(sum(tc), 0) FROM tcnt) AS T
        ), ratio AS (
          SELECT qcnt.bkt,
                 ln((coalesce(tc, 0) + 1.0) / (T + 1.0 * 4096))
               - ln((qc + 1.0) / (Q + 1.0 * 4096)) AS contrib
          FROM qcnt LEFT JOIN tcnt USING (bkt), tot
        ), w AS (
          SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                 round(sum(r.contrib), 6) AS log_w
          FROM occ o JOIN ratio r USING (bkt)
          GROUP BY o.doc_id
        )
        SELECT doc_id, n_grams, log_w,
               round(log_w + (-ln(-ln(
                 (CAST(concat('0x', substr(md5(
                    CAST(doc_id AS VARCHAR) || '|dsir|r17sel'), 1, 8))
                   AS BIGINT) + 0.5) / 4294967296.0))), 6) AS score
        FROM w
        ORDER BY score DESC, doc_id
        LIMIT 25
    """,
    "text_pareto_filter": f"""
        WITH toks AS (
          SELECT doc_id, {_TOKENS} AS t FROM documents
        ), grams AS (
          SELECT doc_id, unnest(t) AS g FROM toks
          UNION ALL
          SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1])) AS g
          FROM toks WHERE len(t) >= 2
        ), occ AS (
          SELECT doc_id,
                 CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 64 AS bkt
          FROM grams
        ), scored AS (
          SELECT doc_id,
                 round(1.0 / (1.0 + exp(-(
                   avg((((bkt * 37) % 13) - 6) / 10.0) - 0.2
                 ))), 6) AS quality_prob
          FROM occ GROUP BY doc_id
        )
        SELECT doc_id, quality_prob
        FROM scored
        WHERE power(
                1.0 - (CAST(concat('0x', substr(md5(
                        CAST(doc_id AS VARCHAR) || '|pareto|r17'), 1, 8))
                      AS BIGINT) + 0.5) / 4294967296.0,
                -1.0 / 9.0
              ) - 1.0 > 1.0 - quality_prob
    """,
    "text_dsir_sample": f"""
        {_DSIR_WEIGHTS_SQL}
        SELECT doc_id, n_grams, log_w,
               round(log_w + (-ln(-ln(
                 (CAST(concat('0x', substr(md5(
                    CAST(doc_id AS VARCHAR) || '|dsir|r13'), 1, 8))
                   AS BIGINT) + 0.5) / 4294967296.0))), 6) AS score
        FROM w
        ORDER BY score DESC, doc_id
        LIMIT 120
    """,
}
