"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen'd) — no Python UDFs. Each operator is a
DataFrame -> DataFrame transform over a ``documents``-shaped table
(``doc_id bigint, text string, ...``).

Operators:
- ``with_token_count``     whitespace tokenization + counts
- ``with_quality``         length / punctuation / stopword-ratio quality score
- ``with_lang_id``         marker-word n-gram heuristic language ID
- ``with_fingerprint``     normalized-text digest fingerprint
- ``deterministic_split``  hash-keyed train/val/test assignment
- ``redact_pii``           engine-portable regex masking
- ``chunk_documents``      overlapping token-window chunking
- ``pack_sequences``       per-group context-window packing
- ``repetition_stats``     Gopher-style within-doc n-gram repetition
- ``contamination_screen`` benchmark n-gram overlap flagging
- ``stratified_sample``    deterministic per-stratum exact-count sample
- ``tfidf_top_terms``      per-doc top-k TF-IDF keyword extraction
- ``unigram_logprob``      CCNet-style corpus-LM perplexity proxy
- ``bigram_logprob``       bigram stupid-backoff fluency score
- ``mixture_sample``       per-source rate mixing w/ deterministic epochs
- ``dsir_importance_weights`` / ``dsir_select``  DSIR hashed-n-gram
  importance weighting + Gumbel-top-k resampling (Xie et al. 2023)
- ``gopher_quality_flags`` / ``gopher_filter``  Gopher/MassiveWeb rule
  filters (Rae et al. 2021) as per-rule booleans + the conjunction, and
  the rows passing a chosen rule subset
- ``train_quality_classifier`` / ``score_quality_classifier`` /
  ``pareto_quality_filter`` / ``binary_auc``  GPT-3-style quality
  classifier (Brown et al. 2020 App. A): NB log-odds features,
  distributed Platt calibration, Pareto keep rule, exact ROC-AUC
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Deliberately small, deterministic marker sets (a real deployment would
# ship per-language frequency tables; the *plumbing* — one scan, all
# JVM-side — is what matters at 100 TB).
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "des", "dans", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "una", "en", "por", "para", "con"],
}

STOPWORDS_EN = LANG_MARKERS["en"]

# Gopher's rule-E stop set (Rae et al. 2021, Appendix A1.1): a document
# must contain at least two of these to pass the stop-word screen.
GOPHER_STOP_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# The per-rule flags of ``gopher_quality_flags`` (``ok_<rule>``), in order.
GOPHER_RULES = (
    "word_count", "mean_word_len", "symbol_ratio", "alpha_words",
    "stop_words",
)


def tokens(col: Column) -> Column:
    """Lowercased word tokens (maximal runs of ``[a-z0-9']``).

    ``regexp_extract_all`` on the token-run pattern, NOT
    ``filter(split(...))`` on the separator pattern: the results are
    identical (runs of allowed chars; NULL in, NULL out), but Spark's
    ``StringSplit`` recompiles its regex per ROW while the regexp_*
    family caches the compiled pattern — measured at 500k docs, one
    split pass costs 18.7 s vs 1.3 s for the extract form (the entire
    round-12 "curation-pipeline straggler" was this recompile tax
    multiplied by pushdown-inlined references, not the parquet layout
    it was attributed to)."""
    return F.regexp_extract_all(F.lower(col), F.lit("[a-z0-9']+"), F.lit(0))


def word_ngrams(toks: Column, n: int) -> Column:
    """Space-joined word n-grams of a token array.

    THE clamp convention, shared by every n-gram operator and its DuckDB
    oracle: a document shorter than ``n`` yields one (short) gram
    (``greatest(..., 1)`` + slice clamping), and empty grams are
    filtered so a token-less document contributes nothing.

    PASS A PRE-PROJECTED COLUMN, not a tokenizer expression: ``toks``
    is referenced inside the per-index lambda, and a composite
    expression (split/filter of the raw text) is re-evaluated on EVERY
    gram index — O(len) tokenizations, O(len^2) work per document
    (measured at sf10: a 5 s corpus explode became a ~300 s straggler).
    Project the token array with ``.select(tokens(col).alias(...))``
    first and hand the attribute in; two references to the array in
    this expression keep CollapseProject from folding the projection
    back into the lambda.
    """
    return F.filter(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))
            ),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
        lambda g: g != F.lit(""),
    )


# GPT-2-style pre-tokenizer, lookahead-free so the same pattern runs under
# Java regex (Spark) and RE2 (DuckDB oracle): contraction suffixes, then
# space-prefixed letter runs, digit runs, punctuation runs, whitespace.
# An LLM-pipeline token *count* proxy — the real BPE merge table is a
# per-model artifact; the pre-tokenizer split is the engine-side part.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_ish_token_count(col: Column) -> Column:
    # count matches directly: size(regexp_extract_all(...)) materialized
    # every pre-token as a string just to count them — measured 11.5 s
    # of the sf10 corpus pass vs ~1 s for the counting form; same
    # pattern engine, same non-overlapping match count, NULL-in/NULL-out
    # verified identical (round-18, guide §1.2 "don't compute things
    # you throw away")
    return F.regexp_count(col, F.lit(BPE_ISH_PATTERN))


def with_token_count(
    df: DataFrame, text_col: str = "text", tokens_col: str | None = None
) -> DataFrame:
    # counters as long: the Arrow type token must match the BIGINT the
    # SQL oracle emits (int32 values hash differently in the gate).
    # n_tokens as a scalar regexp_count (== size(tokens(text)), incl.
    # NULL-in/NULL-out): no token array materializes, and pushdown
    # duplication stays harmless (see with_quality). A caller that has
    # already projected the token array (the curation pipeline shares
    # ONE tokenization across quality/lang/token-count — round 18)
    # passes it via tokens_col and the count is its size() — equal by
    # the same contract, NULL-in/NULL-out included.
    return (
        df.withColumn(
            "n_tokens",
            (
                F.size(F.col(tokens_col))
                if tokens_col
                else F.regexp_count(
                    F.lower(F.col(text_col)), F.lit("[a-z0-9']+")
                )
            ).cast("long"),
        )
        .withColumn(
            "n_tokens_bpe",
            bpe_ish_token_count(F.col(text_col)).cast("long"),
        )
        .withColumn(
            "n_chars_measured", F.length(F.col(text_col)).cast("long")
        )
    )


def _free_col(df: DataFrame, base: str) -> str:
    """A staging-column name absent from ``df`` (``base``, else
    ``base2``, ``base3``…): an input that already carries the staging
    name must pass through untouched, not be silently overwritten and
    then dropped from the output."""
    name, n = base, 1
    existing = set(df.columns)
    while name in existing:
        n += 1
        name = f"{base}{n}"
    return name


def with_quality(
    df: DataFrame, text_col: str = "text", tokens_col: str | None = None
) -> DataFrame:
    """Quality heuristics: mean word length, punctuation density, stopword
    ratio, and a composite [0,1] score. All single-pass, codegen-friendly.

    Duplication-proof by construction, not by plan shape: a filter on a
    derived column (``quality_score >= 0.6``) that Catalyst pushes
    through the projection inlines each referenced expression at EVERY
    reference — a temp token-array column does not survive that
    substitution. So the token count is a SCALAR ``regexp_count`` (the
    regexp family caches its compiled pattern), and the token ARRAY is
    built exactly once, for the single stopword intersect.

    The four raw counters are STAGED as attribute columns before the
    ratio/score projection (round 18): built as one flat projection,
    ``quality_score``'s three-way ``when`` re-derived every counter per
    reference and codegen's subexpression elimination did not collapse
    them — the full evaluation measured 37 s at sf10 (500k docs) vs
    17 s staged, value-identical. CollapseProject's multi-reference
    guard keeps non-cheap staged expressions from being re-inlined by
    a pushed-down filter (verified in the plan: the staging projection
    survives below the filter). Punctuation is counted directly with
    ``regexp_count`` on the single-char class — the
    ``length - length(regexp_replace(...))`` form built a stripped
    copy of every document (5.9 s vs 1.0 s at sf10, count provably
    identical: every match is exactly one char).

    ``tokens_col``: a caller that has already projected the token
    array (the curation pipeline shares ONE tokenization across
    quality/lang/token-count) passes it here; the stopword intersect
    reads it and the token count is its ``size()`` — equal by the
    documented ``regexp_count == size(tokens(text))`` contract,
    NULL-in/NULL-out included. Staging the array inside this operator
    instead would re-introduce the pushed-filter inlining hazard the
    paragraph above describes, so sharing stays opt-in and
    caller-owned."""
    text = F.col(text_col)
    low = F.lower(text)
    toks = F.col(tokens_col) if tokens_col else tokens(text)
    c_tok = _free_col(df, "_q_ntok")
    c_chr = _free_col(df, "_q_nchr")
    c_pun = _free_col(df, "_q_punct")
    c_stp = _free_col(df, "_q_stop")
    staged = (
        # scalar token count == size(tokens(text)): count of [a-z0-9'] runs
        df.withColumn(
            c_tok,
            F.size(toks)
            if tokens_col
            else F.regexp_count(low, F.lit("[a-z0-9']+")),
        )
        .withColumn(c_chr, F.length(text))
        .withColumn(c_pun, F.regexp_count(text, F.lit(r"[^\w\s]")))
        .withColumn(
            c_stp,
            F.size(
                F.array_intersect(
                    toks, F.array(*[F.lit(w) for w in STOPWORDS_EN])
                )
            ),
        )
    )
    n_tok, n_chars = F.col(c_tok), F.col(c_chr)
    punct, stop_hits = F.col(c_pun), F.col(c_stp)
    mean_word_len = F.when(n_tok > 0, (n_chars.cast("double") / n_tok)).otherwise(0.0)
    punct_ratio = F.when(
        n_chars > 0, punct.cast("double") / n_chars.cast("double")
    ).otherwise(0.0)
    stop_ratio = F.when(
        n_tok > 0, stop_hits.cast("double") / n_tok.cast("double")
    ).otherwise(0.0)
    score = (
        F.when((mean_word_len >= 3) & (mean_word_len <= 12), F.lit(0.4)).otherwise(0.0)
        + F.when(punct_ratio < 0.2, F.lit(0.3)).otherwise(0.0)
        + F.when(stop_ratio > 0.05, F.lit(0.3)).otherwise(0.0)
    )
    return (
        staged.withColumn("mean_word_len", F.round(mean_word_len, 4))
        .withColumn("punct_ratio", F.round(punct_ratio, 4))
        .withColumn("stopword_ratio", F.round(stop_ratio, 4))
        .withColumn("quality_score", F.round(score, 2))
        .drop(c_tok, c_chr, c_pun, c_stp)
    )


def with_lang_id(
    df: DataFrame, text_col: str = "text", tokens_col: str | None = None
) -> DataFrame:
    """Language ID by distinct-marker-word hits; deterministic tie-break by
    language code order. One scan; scoring via array_intersect (JVM).

    Tokens materialize once per row (``_l_toks``) and every per-language
    intersect references the attribute (see ``with_quality`` for why the
    tokenizer itself must stay on the pattern-cached regexp path). A
    caller holding a pre-projected token array passes it via
    ``tokens_col`` (the curation pipeline's shared tokenization)."""
    if tokens_col:
        tcol = tokens_col
    else:
        tcol = _free_col(df, "_l_toks")
        df = df.withColumn(tcol, tokens(F.col(text_col)))
    toks = F.col(tcol)
    scores = [
        F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in markers]))
        ).alias(f"_score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    ]
    langs = list(LANG_MARKERS)
    # Winner pick stays INSIDE whole-stage codegen: greatest() over
    # (score, tie_rank) structs, where codes sorted ascending carry
    # DESCENDING ranks so equal scores resolve toward the smallest
    # code; the code string comes back via element_at on a literal
    # array. The previous formulations (array_max + a filter lambda
    # comparing against it; then array_sort with a comparator lambda)
    # both forced interpreted evaluation and — worse — once a
    # downstream filter on lang_pred was pushed through the projection,
    # inlined the whole multi-language tokenization tree per array
    # element, compounding multiplicatively (the sf10 curation-pipeline
    # straggler). Predictions are byte-identical.
    by_code = sorted(langs)
    rank_of = {code: len(by_code) - i for i, code in enumerate(by_code)}
    code_by_rank = F.array(*[F.lit(c) for c in reversed(by_code)])
    best = F.greatest(
        *[
            F.struct(
                F.col(f"_score_{lang}").alias("score"),
                F.lit(rank_of[lang]).alias("rank"),
            )
            for lang in langs
        ]
    )
    tmp = df.select("*", *scores)
    out = tmp.withColumn(
        "lang_pred",
        F.when(best["score"] <= 0, F.lit("und")).otherwise(
            F.element_at(code_by_rank, best["rank"])
        ),
    ).withColumn("lang_score", best["score"].cast("long"))
    # a caller-owned tokens_col is NOT dropped — the caller shares it
    # with other operators and drops it itself
    drops = [] if tokens_col else [tcol]
    return out.drop(*drops, *[f"_score_{lang}" for lang in langs])


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of whitespace-collapsed lowercased text.

    Two docs differing only in case/whitespace collide — the standard
    "fingerprint dedup" normalization.
    """
    normalized = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.withColumn("fingerprint", F.md5(normalized))


def hash_draw(key_col: str, salt: str = "") -> Column:
    """A uniform 32-bit draw per row, a pure function of (key, salt):
    the first 8 hex chars of ``md5(key || salt)``. Fixed-width hex
    compares lexicographically as it does numerically, so
    ``hash_draw(k) < hash_threshold(frac)`` keeps a ``frac`` share of
    the keys, map-only and identically on every engine."""
    return F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))), 1, 8
    )


def hash_uniform(key_col: str, salt: str = "") -> Column:
    """``hash_draw`` as a double in (0, 1), never 0 or 1 by the half
    offset: ``(int(draw, 16) + 0.5) / 2^32``."""
    return (
        F.conv(hash_draw(key_col, salt), 16, 10).cast("double") + F.lit(0.5)
    ) / F.lit(float(2**32))


def hash_threshold(frac: float) -> str:
    """The ``hash_draw`` bound below which a ``frac`` share of keys
    fall. ``ValueError`` outside [0, 1]: a negative fraction would
    format with a minus sign, which every draw compares above."""
    if not 0 <= frac <= 1 + 1e-9:
        raise ValueError(f"hash fraction {frac} must be in [0, 1]")
    return format(min(int(frac * 2**32), 2**32 - 1), "08x")


def deterministic_split(
    df: DataFrame,
    key_col: str = "doc_id",
    ratios: dict[str, float] | None = None,
    salt: str = "",
) -> DataFrame:
    """Deterministic train/val/test assignment by hashed key.

    A training-data pipeline must split reproducibly: the same document
    lands in the same split on every run, on every engine, regardless of
    partitioning — so the assignment is a pure function of the key, not
    of ``rand()``. The first 8 hex chars of ``md5(key || salt)`` are a
    uniform 32-bit draw; cumulative-ratio thresholds, compared as
    fixed-width hex strings (lexicographic == numeric), pick the split.
    Changing ``salt`` re-rolls every assignment at once.

    Map-only, JVM-side (``md5`` + ``substring`` + ``when``): no shuffle,
    no Python, trivially 100 TB-safe.
    """
    ratios = ratios or {"train": 0.9, "val": 0.05, "test": 0.05}
    if any(not 0 <= r <= 1 for r in ratios.values()):
        raise ValueError(f"split fractions must be in [0, 1]: {ratios}")
    assert abs(sum(ratios.values()) - 1.0) < 1e-9
    h = hash_draw(key_col, salt)
    names = list(ratios)
    cum = 0.0
    expr = None
    for name in names[:-1]:
        cum += ratios[name]
        bound = hash_threshold(cum)
        expr = (
            F.when(h < bound, name)
            if expr is None
            else expr.when(h < bound, name)
        )
    expr = (
        expr.otherwise(names[-1]) if expr is not None else F.lit(names[-1])
    )
    return df.withColumn("split", expr)


# (pattern, replacement) applied in order; patterns restricted to syntax
# that means the same thing in Java regex (Spark) and RE2 (DuckDB) so the
# redaction is engine-reproducible
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    (r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b", "<PHONE>"),
)


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "text_redacted"
) -> DataFrame:
    """Mask PII-shaped spans (emails, SSNs, phone numbers) in text.

    The document-level analog of the row-level Forget: erasure by
    rewrite, deterministic, idempotent, applied as chained JVM
    ``regexp_replace`` — map-only, no Python, safe at corpus scale.
    Patterns intentionally stay in the Java-regex/RE2 common subset so
    the output is reproducible across engines (oracle-checked).
    """
    col = F.col(text_col)
    for pattern, repl in PII_PATTERNS:
        col = F.regexp_replace(col, pattern, repl)
    return df.withColumn(out_col, col)


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 5,
    min_sentences: int = 3,
    badwords: list[str] | None = None,
    line_sep: str = "\n",
) -> DataFrame:
    """The C4 cleaning stage (Raffel et al. 2020, "Exploring the Limits
    of Transfer Learning with a Unified Text-to-Text Transformer" §2.2
    — public): the most-cited curation heuristic in the literature,
    line-level rules then page-level rules.

    Line rules (a line survives iff ALL hold):
    - ends in a terminal punctuation mark — period, exclamation mark,
      question mark, optionally followed by a closing quote (trailing
      whitespace ignored);
    - has at least ``min_words`` words (maximal ``\\S+`` runs, the
      engine's standard word tokenizer);
    - does not contain the word "javascript" (case-insensitive — C4
      drops warning boilerplate).

    Page rules, evaluated over the RETAINED text (one documented
    deterministic choice — the paper does not pin the order; applying
    them post-line-filter means a dropped boilerplate line cannot
    condemn an otherwise-clean page):
    - at least ``min_sentences`` sentences, counted as terminal
      punctuation marks in the retained text;
    - no "lorem ipsum" (lowercased substring);
    - no curly brace ``{`` (code/JSON);
    - no word from ``badwords`` (the paper's "List of Dirty, Naughty,
      Obscene or Otherwise Bad Words" — user-supplied, the engine
      ships no list), matched case-insensitively on word boundaries.

    Returns ``(id, text, kept, n_lines, kept_lines)``: ``text`` is the
    retained-lines rejoin (audit-friendly even when ``kept`` is false);
    a pipeline keeps ``where(kept)``. NULL text is '' (one empty line,
    dropped by the word rule).

    Scale shape: pure JVM higher-order expressions (split -> filter ->
    array_join + regexp counts) — map-only, no shuffle, no Python; at
    100 TB this costs exactly one scan. Every pattern stays in the
    Java-regex/RE2 common subset so the catalog row carries a full
    value oracle.
    """
    import re as _re

    if min_words < 1:
        raise ValueError(f"min_words={min_words} must be >= 1")
    if min_sentences < 0:
        raise ValueError(f"min_sentences={min_sentences} must be >= 0")
    lines = F.split(
        F.coalesce(F.col(text_col), F.lit("")), _re.escape(line_sep)
    )

    def _line_ok(l):
        words = F.size(F.regexp_extract_all(l, F.lit(r"\S+"), F.lit(0)))
        return (
            (words >= min_words)
            & F.rtrim(l).rlike("[.!?][\"']?$")
            & ~F.lower(l).contains("javascript")
        )

    kept_arr = F.filter(lines, _line_ok)
    text_out = F.array_join(kept_arr, line_sep)
    sentences = F.size(
        F.regexp_extract_all(text_out, F.lit("[.!?]"), F.lit(0))
    )
    kept = (
        (sentences >= min_sentences)
        & ~F.lower(text_out).contains("lorem ipsum")
        & ~text_out.contains("{")
    )
    if badwords:
        pat = "(?i)\\b(?:" + "|".join(
            _re.escape(w) for w in badwords
        ) + ")\\b"
        kept = kept & ~text_out.rlike(pat)
    return df.select(
        F.col(id_col),
        text_out.alias(text_col),
        kept.alias("kept"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept_arr).cast("long").alias("kept_lines"),
    )


# --------------------------------------------------------------------------
# tokenizer-exact BPE token counting (GPT-2 byte-level BPE)
# --------------------------------------------------------------------------

def _bytes_to_unicode() -> dict[int, str]:
    """GPT-2's reversible byte -> printable-unicode map (public recipe):
    the 188 printable latin-1 bytes map to themselves; the rest map to
    256+offset so every byte is a distinct, visible character — merges
    files are written in this alphabet (``Ġ`` is the space byte)."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("¡"), ord("¬") + 1))
        + list(range(ord("®"), ord("ÿ") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, [chr(c) for c in cs]))


def train_bpe_merges(
    df: DataFrame,
    n_merges: int = 200,
    text_col: str = "text",
    max_vocab: int = 50_000,
) -> list[tuple[str, str]]:
    """Learn a GPT-2-format BPE merge table FROM the corpus (Sennrich
    et al. 2016, "Neural Machine Translation of Rare Words with
    Subword Units", public — adapted to byte-level units so the output
    feeds :func:`with_bpe_token_count` directly). Closes the tokenizer
    loop: train merges -> count tokens exactly -> pack sequences.

    Scale shape (the reason this is NOT the textbook trainer): ONE
    distributed aggregation produces the frequency-weighted pre-token
    vocabulary — Arrow-batched pre-tokenization (the same
    ``BPE_ISH_PATTERN`` as the counter) -> explode -> map-side-
    combinable groupBy (a corpus-hot word is one shuffled key) ->
    ``max_vocab``-bounded TakeOrderedAndProject cut, deterministic
    tie-break (count desc, pre-token asc). The merge-learning loop then
    runs DRIVER-side over that bounded weighted vocabulary: ``n_merges``
    iterations never touch the corpus again. The textbook trainer
    rescans the corpus per merge — 200 corpus passes at 100 TB; this
    shape pays exactly one.

    Deterministic end to end: per merge, ties break by
    (pair frequency desc, pair asc). Stops early when no pair repeats.
    """
    import pandas as pd

    if n_merges < 1:
        raise ValueError(f"n_merges={n_merges} must be >= 1")
    if max_vocab < 1:
        raise ValueError(f"max_vocab={max_vocab} must be >= 1")
    pat = _bpe_pretokenize_re()

    @F.pandas_udf("array<string>")
    def _pretoks(texts):
        return texts.map(
            lambda t: [] if t is None else pat.findall(t)
        )

    vocab_rows = (
        df.select(F.explode(_pretoks(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(max_vocab)
        .collect()
    )
    b2u = _bytes_to_unicode()
    words: list[tuple[list[str], int]] = [
        ([b2u[b] for b in r["w"].encode("utf-8")], int(r["c"]))
        for r in vocab_rows
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for units, cnt in words:
            for pair in zip(units, units[1:]):
                pairs[pair] = pairs.get(pair, 0) + cnt
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < 2:
            break  # nothing repeats: further merges memorize the sample
        merges.append(best)
        a, b = best
        for wi, (units, cnt) in enumerate(words):
            if len(units) < 2:
                continue
            out: list[str] = []
            i = 0
            while i < len(units):
                if (
                    i < len(units) - 1
                    and units[i] == a
                    and units[i + 1] == b
                ):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(units[i])
                    i += 1
            words[wi] = (out, cnt)
    return merges


def load_merges(path: str) -> list[tuple[str, str]]:
    """Parse a GPT-2-format merges.txt: one ``left right`` pair per
    line, rank = line order; ``#version`` header and blank lines
    skipped. The file is a per-model public artifact the user supplies;
    the engine ships no vocabulary."""
    merges: list[tuple[str, str]] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            a, b = line.split(" ")
            merges.append((a, b))
    return merges


def _bpe_pretokenize_re():
    """The Python mirror of ``BPE_ISH_PATTERN``. With the ``regex``
    module present the pattern is used verbatim (same ``\\p{L}``/
    ``\\p{N}`` classes as the JVM side); the stdlib fallback mirrors
    those classes with ``[^\\W\\d_]`` / ``\\d`` under re.UNICODE."""
    try:
        import regex as _re

        return _re.compile(BPE_ISH_PATTERN)
    except ImportError:  # pragma: no cover - regex is in the image
        import re as _re

        return _re.compile(
            r"'(?:s|t|re|ve|m|ll|d)| ?[^\W\d_]+| ?\d+| ?(?:[^\w\s]|_)+|\s+"
        )


def _bpe_units_factory(merges: list[tuple[str, str]]):
    """Full-tokenization kernel for one merge table: pre-tokenize,
    byte-map, merge by rank (standard lowest-rank-pair loop), and
    return the TOKEN SEQUENCE in the byte-unicode alphabet — the
    counting kernel is ``len`` of this, and the byte-faithful
    ExactSubstr operating point (operators/dedup.py) windows over it.
    Per-batch memoization on the pre-token: natural-language batches
    repeat a small working set of words, so the merge loop runs once
    per DISTINCT pre-token, not once per occurrence."""
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    b2u = _bytes_to_unicode()
    pat = _bpe_pretokenize_re()

    def merge_units(pre_token: str) -> list:
        units: list[str] = [b2u[b] for b in pre_token.encode("utf-8")]
        if len(units) < 2 or not ranks:
            return units
        while len(units) > 1:
            best = None
            best_rank = None
            for pair in zip(units, units[1:]):
                r = ranks.get(pair)
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = pair, r
            if best is None:
                break
            a, b = best
            out: list[str] = []
            i = 0
            while i < len(units):
                if i < len(units) - 1 and units[i] == a and units[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(units[i])
                    i += 1
            units = out
        return units

    def units_text(text, cache: dict) -> list | None:
        if text is None:
            return None
        out: list[str] = []
        for tok in pat.findall(text):
            u = cache.get(tok)
            if u is None:
                u = merge_units(tok)
                cache[tok] = u
            out.extend(u)
        return out

    return units_text


def bpe_decode_units(s: str | None) -> str | None:
    """Invert the byte-unicode alphabet: a concatenation of BPE token
    strings decodes back to the original UTF-8 text (the GPT-2 decode
    path). C-speed: ``str.translate`` maps each alphabet character to
    the latin-1 character of its byte, then one encode/decode pair
    reassembles multi-byte UTF-8. ASCII characters outside the
    encoder's image (e.g. a caller-inserted mask token) map to
    themselves, so masks survive the decode verbatim."""
    if s is None:
        return None
    return (
        s.translate(_DECODE_TRANS)
        .encode("latin-1", errors="replace")
        .decode("utf-8", errors="replace")
    )


_DECODE_TRANS = {ord(u): chr(b) for b, u in _bytes_to_unicode().items()}


def _bpe_count_factory(merges: list[tuple[str, str]]):
    """Token-count kernel: ``len`` over the unit sequence (shared
    memoized merge loop — see ``_bpe_units_factory``)."""
    units_of = _bpe_units_factory(merges)

    def count_text(text, cache: dict) -> int | None:
        units = units_of(text, cache)
        return None if units is None else len(units)

    return count_text


def with_bpe_token_count(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "n_tokens_bpe_exact",
) -> DataFrame:
    """Tokenizer-EXACT token counts: GPT-2-style byte-level BPE driven
    by a user-supplied merge table (``load_merges`` reads the standard
    merges.txt format). Unlike ``n_tokens_bpe`` (the pre-tokenizer
    proxy), this runs the actual merge loop, so counts match what the
    model's tokenizer would produce for the same merges.

    Execution shape for 100 TB: an Arrow-batched pandas UDF (the merge
    loop is inherently per-token-iterative — no built-in expresses it),
    map-only, no shuffle; the merge table is captured in the UDF
    closure (broadcast once per executor, the standard distribution
    path for per-model artifacts), and a per-batch memo collapses the
    loop to once per distinct pre-token."""
    counter = _bpe_count_factory(merges)

    # no annotations: under ``from __future__ import annotations`` they
    # are strings, which pandas_udf's signature inference rejects
    @F.pandas_udf("long")
    def _count(texts):
        cache: dict = {}
        return texts.map(lambda t: counter(t, cache)).astype("Int64")

    return df.withColumn(out_col, _count(F.col(text_col)))


def with_bpe_units(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_units",
) -> DataFrame:
    """Full tokenizer output: the BPE token SEQUENCE (byte-unicode
    alphabet strings) for each document — what the byte-faithful
    ExactSubstr operating point (``dedup_exact_substrings``,
    ``tokenizer='bpe'``) windows over, where
    :func:`with_bpe_token_count` only needs the length.
    ``bpe_decode_units`` over the concatenation inverts it exactly.

    Same execution shape as the counter: Arrow-batched pandas UDF,
    map-only, merge table in the closure, per-batch memo on distinct
    pre-tokens. NULL text stays NULL (callers coalesce if they need
    empty arrays)."""
    units_of = _bpe_units_factory(merges)

    @F.pandas_udf("array<string>")
    def _units(texts):
        cache: dict = {}
        return texts.map(lambda t: units_of(t, cache))

    return df.withColumn(out_col, _units(F.col(text_col)))


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per overlapping token window: the context-length chunking
    every embedding/pretraining pipeline runs before encode.

    Chunk ``i`` covers tokens ``[i*stride, i*stride + max_tokens)`` with
    ``stride = max_tokens - overlap``; the last chunk is the first one
    that reaches the end of the document. Pure JVM higher-order
    expressions (``sequence`` -> ``slice`` -> ``explode``): map-side
    only — the per-doc fan-out never shuffles, so at 100 TB this costs
    one scan plus the write of the (larger) chunk relation.
    """
    assert 0 <= overlap < max_tokens
    stride = max_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # number of stride steps with a non-empty window: ceil(max(n-overlap,1)/stride)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / F.lit(stride)).cast("int"),
        F.lit(1),
    )
    chunk_idx = F.explode(F.sequence(F.lit(0), n_chunks - 1))
    with_idx = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        chunk_idx.alias("chunk_id"),
    )
    piece = F.slice(
        F.col("_toks"), F.col("chunk_id") * stride + 1, max_tokens
    )
    # counters surface as long so the Arrow type token matches the
    # BIGINT the SQL oracle produces (int32 values hash differently)
    return with_idx.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("long").alias("chunk_tokens"),
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    group_col: str = "lang",
    order_col: str = "doc_id",
    token_col: str = "n_tokens",
) -> DataFrame:
    """Assign documents to fixed-token-budget packs (context windows).

    Packing is inherently sequential, so it runs WITHIN a group key
    (language, split, shard) — each group is one window partition, which
    is exactly how a 100 TB pipeline shards the problem; a global pack
    over one partition would serialize the corpus. Documents are taken
    in deterministic ``order_col`` order; a document's pack is the
    budget-bin its preceding cumulative token count lands in (contiguous
    fill — a document longer than the budget occupies its own pack(s)
    via capping). One shuffle (the window partition), no Python.
    """
    from pyspark.sql import Window

    capped = F.least(F.col(token_col), F.lit(budget))
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(capped).over(w), F.lit(0))
    return df.select(
        group_col,
        order_col,
        capped.cast("long").alias("packed_tokens"),
        F.floor(cum_before / F.lit(budget)).cast("long").alias("pack_id"),
    )


def repetition_stats(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style within-document repetition measures over word n-grams.

    For each document: total n-gram occurrences, distinct n-grams, the
    duplicate-gram fraction ((total - distinct) / total — the mass of
    repeated phrasing), and the character fraction covered by the single
    most frequent n-gram (count * gram length / text length). These are
    the "repetition" removal signals of the Gopher/MassiveText quality
    rules (Rae et al. 2021, public) — a document whose top bigram covers
    20% of its characters is boilerplate, not prose.

    Shape: one explode + two keyed aggregations. The per-(doc, gram)
    groupBy is keyed on a well-spread composite, and partial (map-side)
    aggregation collapses each document's repeats before the shuffle, so
    the shuffled relation is near the distinct-gram size — this is the
    scan-shaped plan a 100 TB corpus needs, never a per-doc Python loop.
    Documents with no tokens produce no row (no grams to measure).

    Tie-break for the top gram is (count desc, gram desc) via a
    lexicographic struct max — deterministic across engines.
    """
    from .dedup import _spread

    # tokens pre-projected ONCE per doc (word_ngrams contract: an
    # inline tokenizer expression would re-split the text per gram
    # index — O(len^2) per document); _spread parallelizes the explode
    # when the input arrives in degenerate few-partition layouts
    exploded = _spread(df).select(
        F.col(id_col).alias("_rid"),
        F.length(F.col(text_col)).alias("_nchars"),
        tokens(F.col(text_col)).alias("_toks"),
    ).select(
        "_rid",
        "_nchars",
        F.explode(word_ngrams(F.col("_toks"), n)).alias("gram"),
    )
    counts = exploded.groupBy("_rid", "gram").agg(
        F.count("*").alias("cnt"), F.first("_nchars").alias("_nchars")
    )
    per_doc = counts.groupBy("_rid").agg(
        F.sum("cnt").cast("long").alias("n_grams"),
        F.count("*").cast("long").alias("n_distinct"),
        F.max(F.struct(F.col("cnt"), F.col("gram"))).alias("_top"),
        F.first("_nchars").alias("_nchars"),
    )
    return per_doc.select(
        F.col("_rid").alias(id_col),
        "n_grams",
        "n_distinct",
        F.round(
            (F.col("n_grams") - F.col("n_distinct")).cast("double")
            / F.col("n_grams"),
            4,
        ).alias("dup_gram_frac"),
        F.col("_top.gram").alias("top_gram"),
        F.round(
            F.col("_top.cnt") * F.length(F.col("_top.gram"))
            / F.col("_nchars").cast("double"),
            4,
        ).alias("top_gram_char_frac"),
    )


def contamination_screen(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag documents sharing any word n-gram with a benchmark corpus —
    the decontamination step run before training on scraped data.

    The benchmark's distinct n-gram set is TINY next to the corpus
    (eval suites are megabytes), so it broadcasts and the screen is a
    map-only semi-join over the corpus scan: no corpus shuffle at any
    scale. (One exception: a corpus arriving in fewer partitions than
    half the cores — e.g. one fat row group — is repartitioned first
    (``dedup._spread``), or the whole gram explode serializes on one
    task; at real scale the input always has more splits and this is a
    no-op.) Returns (id, contaminated) for every corpus document.
    """
    from .dedup import _spread

    def grams(frame):
        # tokens pre-projected ONCE per doc (word_ngrams contract: an
        # inline tokenizer expression re-splits the text per gram index
        # — the sf10 straggler this round's scale lane caught)
        return frame.select(
            F.col(id_col).alias("_gid"),
            tokens(F.col(text_col)).alias("_toks"),
        ).select(
            "_gid",
            # word_ngrams carries the shared clamp/empty-filter contract
            # (a token-less document must not "contaminate" via the
            # empty string — Spark's array_join([]) = '' where DuckDB's
            # array_to_string([]) is NULL); per-doc distinct on top
            F.explode(
                F.array_distinct(word_ngrams(F.col("_toks"), n))
            ).alias("g"),
        )

    bench_grams = F.broadcast(grams(benchmark).select("g").distinct())
    hits = (
        grams(_spread(df))
        .join(bench_grams, "g", "left_semi")
        .select(F.col("_gid").alias(id_col))
        .distinct()
    )
    return df.select(id_col).join(
        hits.withColumn("contaminated", F.lit(True)), id_col, "left"
    ).select(
        id_col, F.coalesce("contaminated", F.lit(False)).alias("contaminated")
    )


# Sampling histogram grid: md5 is uniform over its output space, so
# FIXED equi-width buckets over the 60-bit hash prefix hold ~|stratum|/
# _SAMPLE_GRID rows each — no data-dependent percentile sketch needed,
# and the per-bucket counts are EXACT (a plain map-side-combinable
# groupBy count), so cutoff selection needs no verify pass and no
# probabilistic keep-all escalation.
_SAMPLE_GRID = 1024
# a boundary bucket bigger than this is re-histogrammed (one more
# column-pruned aggregate scan, grid-x finer) before it is windowed;
# 2M rows rank comfortably inside a single task
_BOUNDARY_BUDGET = 2_000_000
_MAX_REFINE = 3
_HSPACE = 16**15  # the hash-prefix domain: 15 hex chars = 60 bits

def _stratum_key(v):
    """Canonical dict key for a stratum value: NaN floats collected by
    two different Spark jobs are DISTINCT Python objects (and NaN !=
    NaN), so a raw-value dict would KeyError pairing counts rows with
    boundary rows; Spark itself normalizes NaN in groupBy/joins, so one
    sentinel key mirrors its semantics."""
    if isinstance(v, float) and v != v:
        return ("__nan__",)
    return v


def _select_boundary_rows(hist, needs, strata_type):
    """One collected row per stratum: the first bucket (ordered by
    ``_b``) where the cumulative count crosses that stratum's need
    (``cum < need <= cum + n``). ``hist`` is a (_stratum, _b, _n[,
    extras]) relation; extras ride along on the returned rows. The
    cumulative sum runs ON THE CLUSTER (windowed per stratum over the
    tiny histogram relation) and only the crossing rows reach the
    driver — O(strata) memory, independent of the grid. The crossing is
    unique for 1 <= need <= total because the cumulative count is
    strictly monotone in ``_b``. One definition for the first pass and
    every refinement round, so their crossing semantics cannot drift."""
    from pyspark.sql import Window
    from pyspark.sql.types import LongType, StructField, StructType

    need_schema = StructType(
        [
            StructField("_q_stratum", strata_type, True),
            StructField("_q_need", LongType(), False),
        ]
    )
    cumw = (
        Window.partitionBy("_stratum")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        hist.withColumn(
            "_cum", F.coalesce(F.sum("_n").over(cumw), F.lit(0))
        )
        .join(
            F.broadcast(
                hist.sparkSession.createDataFrame(needs, need_schema)
            ),
            F.col("_stratum").eqNullSafe(F.col("_q_stratum")),
        )
        .where(
            (F.col("_cum") < F.col("_q_need"))
            & (F.col("_cum") + F.col("_n") >= F.col("_q_need"))
        )
        .collect()
    )


def _hash_rank_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    salt: str,
    target_of_count,
    max_strata: int = 10_000,
    grid: int = _SAMPLE_GRID,
    boundary_budget: int = _BOUNDARY_BUDGET,
    max_refine: int = _MAX_REFINE,
    stats_out: dict | None = None,
) -> DataFrame:
    """Shared skew-safe engine for ``stratified_sample`` / ``balanced_sample``.

    Semantics (unchanged from the single-window formulation): per
    stratum, keep the ``target_of_count(|stratum|, stratum)`` rows with
    the smallest ``(md5(key||salt), key)`` — a pure function of the
    data, so every run and every engine draws the identical sample.

    Scale shape (round-10 redesign; supersedes the round-8
    approx-percentile prefilter, whose rank window still serialized
    O(fraction * |stratum|) survivor rows through one task): md5 is
    uniform, so a FIXED equi-width histogram over the 60-bit hash
    prefix gives exact per-bucket counts in ONE map-side-combinable
    aggregate (materialized once; the counts and the selection share
    the scan). Boundary selection runs ON THE CLUSTER — a cumulative
    window over the tiny hist relation — and the driver collects only
    per-stratum counts plus ONE boundary row each (never the full
    strata x grid histogram), deriving per stratum:

    - the boundary bucket where the target'th smallest hash lands, and
    - ``c_below``, the exact count of rows ordered strictly below it.

    Rows below the boundary are DEFINITELY in the sample (a hash-prefix
    bound is downward-closed under the full ``(md5, key)`` order), so
    they are admitted by a map-only filter with NO shuffle. Only the
    boundary bucket — ~|stratum|/grid rows, independent of the sampled
    fraction — enters the exact rank window, which admits the remaining
    ``target - c_below``. A boundary bucket above ``boundary_budget``
    rows is first re-histogrammed grid-x finer (another column-pruned
    aggregate scan, at most ``max_refine`` rounds), so the windowed set
    stays bounded for strata of any size. Exactness is unconditional:
    every count involved is exact, so the old verify pass is gone.

    Cost at scale: one column-pruned stats scan + (rarely) refinement
    scans, then a final job whose union reads the input twice (the
    definite map-only branch and the boundary window branch) — the
    extra read buys zero shuffle on ~all of the sample. The only
    exchange in the final plan is the boundary window's hash partition.

    Strata are class labels (languages, sources), so the per-stratum
    stats collect is bounded; ``max_strata`` fails fast if a
    high-cardinality column is passed by mistake (the same guard shape
    as ``sketches.count_min_check``).
    """
    from pyspark.sql import Window
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    spark = df.sparkSession
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    # 15 hex chars = 60 bits: fits a long; equal-length lowercase-hex
    # lexicographic order == numeric order, so a prefix bound keeps a
    # downward-closed set under the exact (md5, key) ordering.
    hp = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    prepared = df.withColumn("_h", h).withColumn("_hp", hp)

    width0 = -(-_HSPACE // grid)  # ceil: bucket ids stay in [0, grid)
    # null hash (null key) sorts FIRST in the rank order (Spark window
    # default asc_nulls_first) -> bucket -1, below every real bucket
    bucket0 = F.when(F.col("_h").isNull(), F.lit(-1)).otherwise(
        F.floor(F.col("_hp") / F.lit(width0))
    )
    from .dedup import _eager

    # the histogram relation is tiny (<= strata * (grid+1) counted
    # rows) but derives from a full input scan — materialize it once so
    # the per-stratum counts and the boundary selection below share ONE
    # scan of the input
    hist = _eager(
        prepared.groupBy(
            F.col(strata_col).alias("_stratum"), bucket0.alias("_b")
        ).agg(F.count(F.lit(1)).alias("_n"))
    )
    counts = (
        hist.groupBy("_stratum")
        .agg(F.sum("_n").alias("_cnt"))
        .limit(max_strata + 1)
        .collect()
    )
    if len(counts) > max_strata:
        raise ValueError(
            f"{strata_col!r} has more than {max_strata} distinct strata; "
            "sampling strata must be class labels (languages, sources). "
            "Raise max_strata explicitly if this is intentional."
        )

    strata_type = df.schema[strata_col].dataType

    plans: list[dict] = []
    targets_rows = []
    for r in counts:
        cnt = int(r["_cnt"])
        target = min(cnt, int(target_of_count(cnt, r["_stratum"])))
        st = {"stratum": r["_stratum"], "cnt": cnt, "target": target,
              "keepall": target >= cnt}
        if not st["keepall"]:
            if target <= 0:  # degenerate: sample nothing from this
                # stratum — no boundary bucket exists (cum < 0 never
                # holds), so admit-nothing directly
                st["c_below"] = 0
                st["bcount"] = 0
                st["lo"] = st["hi"] = None
            else:
                targets_rows.append((st["stratum"], target))
        plans.append(st)

    # boundary-bucket selection stays ON THE CLUSTER: the full
    # histogram is up to max_strata * (grid+1) rows — collecting it
    # would put ~10M structs on the driver at the guard limit — so only
    # the one boundary row per non-keepall stratum is collected
    # (_select_boundary_rows): O(strata) driver memory.
    if targets_rows:
        bound_rows = _select_boundary_rows(hist, targets_rows, strata_type)
        by_s = {_stratum_key(r["_stratum"]): r for r in bound_rows}
        for st in plans:
            if st["keepall"] or "c_below" in st:
                continue
            r = by_s[_stratum_key(st["stratum"])]
            st["c_below"] = int(r["_cum"])
            st["bcount"] = int(r["_n"])
            b = int(r["_b"])
            if b < 0:  # boundary is the null-hash bucket
                st["lo"] = st["hi"] = None
            else:
                st["lo"] = b * width0
                st["hi"] = min(_HSPACE, (b + 1) * width0)

    # refinement: re-histogram oversized boundary buckets grid-x finer
    # until each windowed set fits the budget (each round is one
    # column-pruned, map-side-filtered aggregate over the input)
    for _ in range(max_refine):
        todo = [
            st
            for st in plans
            if not st["keepall"]
            and st["lo"] is not None
            and st["bcount"] > boundary_budget
            and st["hi"] - st["lo"] > 1
        ]
        if not todo:
            break
        rng_schema = StructType(
            [
                StructField("_stratum", strata_type, True),
                StructField("_rlo", LongType(), False),
                StructField("_rhi", LongType(), False),
                StructField("_rw", LongType(), False),
            ]
        )
        rng_rows = [
            (
                st["stratum"],
                st["lo"],
                st["hi"],
                max(1, -(-(st["hi"] - st["lo"]) // grid)),
            )
            for st in todo
        ]
        ranges = spark.createDataFrame(rng_rows, rng_schema)
        sub = (
            prepared.join(
                F.broadcast(ranges),
                prepared[strata_col].eqNullSafe(ranges["_stratum"]),
                "inner",
            )
            .where(
                (F.col("_hp") >= F.col("_rlo"))
                & (F.col("_hp") < F.col("_rhi"))
            )
            .groupBy(
                "_stratum",
                F.floor(
                    (F.col("_hp") - F.col("_rlo")) / F.col("_rw")
                ).alias("_b"),
            )
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.first("_rlo").alias("_lo"),
                F.first("_rw").alias("_w"),
            )
        )
        # same cluster-side boundary selection as the first pass
        # (_select_boundary_rows): the refined histogram never reaches
        # the driver, only its one boundary row per refined stratum does
        need_rows = [
            (st["stratum"], st["target"] - st["c_below"]) for st in todo
        ]
        bound_rows = _select_boundary_rows(sub, need_rows, strata_type)
        by_stratum = {_stratum_key(r["_stratum"]): r for r in bound_rows}
        for st in todo:
            r = by_stratum[_stratum_key(st["stratum"])]
            w_ = int(r["_w"])
            b = int(r["_b"])
            st["c_below"] += int(r["_cum"])
            st["bcount"] = int(r["_n"])
            st["lo"] = int(r["_lo"]) + b * w_
            st["hi"] = min(st["hi"], int(r["_lo"]) + (b + 1) * w_)

    # final selection relation, broadcast to both branches
    sel_schema = StructType(
        [
            StructField("_stratum", strata_type, True),
            StructField("_keep_all", BooleanType(), False),
            StructField("_lo", LongType(), True),
            StructField("_cutoff", LongType(), True),  # exclusive hi
            StructField("_need", LongType(), True),
            StructField("_null_boundary", BooleanType(), False),
        ]
    )
    sel_rows = []
    # per-call stats: {stratum: (count, target, admitted, window_rows)}
    # — ``admitted`` is the prefilter survivor count (definite +
    # boundary), ``window_rows`` the rows that actually enter the rank
    # window (the boundary bucket only; 0 for keep-all strata). Callers
    # needing them (exact_mixture_sample's missing-stratum guard,
    # tests proving the window input stayed bounded) pass ``stats_out``
    # and read their own copy — there is deliberately NO module-level
    # view, so concurrent samplers can't read each other's strata.
    stats: dict = {}
    for st in plans:
        s = st["stratum"]
        if st["keepall"]:
            sel_rows.append((s, True, None, None, None, False))
            stats[s] = (st["cnt"], st["target"], st["cnt"], 0)
        else:
            admitted = st["c_below"] + st["bcount"]
            need = st["target"] - st["c_below"]
            if st["lo"] is None:  # null-hash boundary bucket
                sel_rows.append((s, False, None, None, need, True))
            else:
                sel_rows.append(
                    (s, False, st["lo"], st["hi"], need, False)
                )
            stats[s] = (
                st["cnt"],
                st["target"],
                admitted,
                st["bcount"],
            )
    if stats_out is not None:
        stats_out.clear()
        stats_out.update(stats)
    sel = F.broadcast(spark.createDataFrame(sel_rows, sel_schema))

    joined = prepared.join(
        sel, prepared[strata_col].eqNullSafe(sel["_stratum"]), "left"
    )
    is_null_h = F.col("_h").isNull()
    definite = F.col("_keep_all") | (
        F.when(is_null_h, ~F.col("_null_boundary")).otherwise(
            F.col("_lo").isNotNull() & (F.col("_hp") < F.col("_lo"))
        )
    )
    boundary = (~F.col("_keep_all")) & (
        F.when(is_null_h, F.col("_null_boundary")).otherwise(
            F.col("_lo").isNotNull()
            & (F.col("_hp") >= F.col("_lo"))
            & (F.col("_hp") < F.col("_cutoff"))
        )
    )
    w = Window.partitionBy(strata_col).orderBy(F.col("_h"), key_col)
    definite_branch = joined.where(definite).select(*df.columns)
    boundary_branch = (
        joined.where(boundary)
        .withColumn("_rnk", F.row_number().over(w))
        .where(F.col("_rnk") <= F.col("_need"))
        .select(*df.columns)
    )
    return definite_branch.unionByName(boundary_branch)


def stratified_sample(
    df: DataFrame,
    fraction: float,
    strata_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "",
    max_strata: int = 10_000,
    stats_out: dict | None = None,
) -> DataFrame:
    """Deterministic exact-count stratified sample: ceil(fraction * |stratum|)
    rows per stratum, chosen by hash rank.

    Like ``deterministic_split``, membership is a pure function of the
    key (hash order, not ``rand()``), so every run and every engine
    draws the same sample. Skew-safe: rows below the exact histogram
    boundary are admitted map-only (no shuffle); only the boundary
    bucket (~|stratum|/grid rows, independent of ``fraction``) enters
    the rank window — see ``_hash_rank_sample``.
    """
    import math

    return _hash_rank_sample(
        df,
        strata_col,
        key_col,
        salt,
        # same double arithmetic as the old F.ceil(_sz * lit(fraction))
        lambda cnt, _s: math.ceil(cnt * fraction),
        max_strata=max_strata,
        stats_out=stats_out,
    )


def balanced_sample(
    df: DataFrame,
    n_per_stratum: int,
    strata_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "",
    max_strata: int = 10_000,
    stats_out: dict | None = None,
) -> DataFrame:
    """Fixed-count class rebalancing: cap every stratum at
    ``n_per_stratum`` rows, chosen by hash rank (strata smaller than the
    cap keep all their rows).

    The "equal representation" subsample every multi-lingual /
    multi-source training mix needs — ``stratified_sample``'s sibling
    with an absolute cap instead of a fraction. Same determinism
    contract (pure function of the md5 order) and same skew-safe
    two-phase plan — a dominant stratum costs a bounded window over one
    histogram bucket, not a single-task sort of the whole class.
    """
    return _hash_rank_sample(
        df,
        strata_col,
        key_col,
        salt,
        lambda cnt, _s: n_per_stratum,
        max_strata=max_strata,
        stats_out=stats_out,
    )


def exact_mixture_sample(
    df: DataFrame,
    targets: dict,
    strata_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "",
    max_strata: int = 10_000,
    missing_ok: bool = False,
) -> DataFrame:
    """Exact-count training-mix sampling: draw EXACTLY
    ``targets[stratum]`` rows per stratum (capped at the stratum size),
    chosen by the same deterministic hash rank as
    ``stratified_sample``. The downsampling complement of
    ``mixture_sample`` below: that one materializes RATES (in
    expectation, with upsampling by replication); this one hits integer
    row budgets exactly — the "remix to target source proportions under
    a fixed token budget" step of corpus assembly, with cross-engine-
    replayable membership.

    ``targets`` maps stratum VALUES to integer row counts; strata
    absent from it contribute nothing (a whitelist, so the same call
    also filters sources out of the mix). Integer targets are the API
    on purpose: deriving them from float weights invites the
    ``ceil(200 * 0.3) == 61`` float trap — callers converting weights
    should do exact arithmetic (``Fraction``) or accept their own
    rounding. Same skew-safe two-phase plan as the other samplers
    (definite map-only admit below the exact histogram boundary; only
    the ~|stratum|/grid boundary bucket is windowed).

    A NONZERO target whose stratum does not exist in the data raises
    (``missing_ok=True`` downgrades to allowed): a casing typo like
    ``{"Es": 2000}`` would otherwise ship a mix silently missing the
    whole class — the per-stratum counts are already on the driver, so
    the check is free.
    """
    bad = {}
    for st, t in targets.items():
        try:
            ok = float(t) == int(t) and int(t) >= 0
        except (TypeError, ValueError, OverflowError):
            ok = False
        if not ok:
            bad[st] = t
    if bad:
        raise ValueError(
            f"mixture targets must be non-negative integers: {bad}"
        )
    stats: dict = {}
    out = _hash_rank_sample(
        df,
        strata_col,
        key_col,
        salt,
        lambda cnt, s: int(targets.get(s, 0)),
        max_strata=max_strata,
        stats_out=stats,
    )
    if not missing_ok:
        observed = set(stats)
        missing = sorted(
            str(s) for s, t in targets.items()
            if int(t) > 0 and s not in observed
        )
        if missing:
            raise ValueError(
                f"mixture targets name strata absent from the data "
                f"(typo? casing?): {missing}; pass missing_ok=True if "
                "intentional"
            )
    return out


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document (keyword extraction).

    ``idf = ln((N + 1) / (df + 1)) + 1`` (smoothed, scikit-learn
    convention — public); ``score = tf * idf``, ranked per document by
    (score desc, term asc) for full determinism.

    Plan shape: one explode into a (doc, term) count (partial agg
    collapses repeats map-side), a term-keyed doc-frequency aggregate
    (a stopword is ONE shuffled key with a big count — no row blowup),
    a join back keyed on the term, and a per-doc rank window. The
    corpus size N is one count() job — the only driver-side scalar, the
    same one any IDF model needs.

    Returns (id, term, tf, score, rank), k rows per non-empty document.
    """
    from pyspark.sql import Window

    n_docs = df.count()
    tf = (
        df.select(
            F.col(id_col).alias("_tid"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("_tid", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    scored = tf.join(docfreq, "term").select(
        "_tid",
        "term",
        "tf",
        F.round(
            F.col("tf")
            * (
                F.log(
                    F.lit(float(n_docs + 1)) / (F.col("_df") + F.lit(1.0))
                )
                + F.lit(1.0)
            ),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("_tid").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("_tid").alias(id_col),
            "term",
            F.col("tf").cast("long").alias("tf"),
            "score",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _sized_model_side(model, n_rows: int, avg_key_width: float):
    """Join-side wrapper for a COUNTED model relation: broadcast when
    the priced size (rows x (avg key width + 48 B count/row overhead))
    fits the shared ``BAND_BROADCAST_BUDGET``, shuffled merge join
    above — the ``decontaminate_spans`` size-aware discipline
    (``operators/dedup.py``). An explicit ``F.broadcast`` hint is
    never demoted by AQE, so a model relation whose cardinality grows
    with the corpus (token vocabularies under Heaps' law) must be
    priced from a real count before hinting; Catalyst's own estimate
    of an aggregate over an exploded stream is unusable.
    """
    from .dedup import BAND_BROADCAST_BUDGET

    if n_rows * (avg_key_width + 48) <= BAND_BROADCAST_BUDGET:
        return F.broadcast(model)
    return model.hint("merge")


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean negative log-probability under the corpus's own
    unigram language model — the CCNet-style (Wenzek et al. 2020,
    public) perplexity proxy used to rank scraped documents by fluency:
    documents full of rare tokens score high (surprising), boilerplate
    scores low.

    Model: ``p(w) = (count(w) + 1) / (total + vocab)`` (add-one
    smoothing); per doc ``nll = mean(-ln p(w))`` over its token stream.

    Plan shape: the LM is ONE aggregate over the exploded token stream
    (partial agg map-side; vocabulary-sized result). The per-token
    probability lookup is a term-keyed join whose strategy derives
    from the model relation's COUNTED size (the
    ``BAND_BROADCAST_BUDGET`` discipline shared with
    ``decontaminate_spans``): the ``\\S+`` vocabulary of raw web text
    GROWS with the corpus (URLs, numbers, typos — Heaps' law), so a
    forced broadcast hint — which AQE never demotes — would be a
    driver/executor OOM at the 100-TB design point. The model stats
    collect already runs for the smoothing denominator, so pricing the
    relation is free: under budget the lookup broadcasts and scoring
    stays map-only (a hot stopword key never skews a broadcast join);
    above budget it degrades to a shuffled merge join instead of an
    OOM. Totals ride into the score expression as two literal scalars,
    exactly like IDF's N.

    The result is eagerly materialized (``_eager``, the same pattern as
    ``bigram_logprob``) BEFORE the LM cache is released: returning a
    lazy plan and unpersisting in ``finally`` would recompute the LM
    aggregate — and the tokenize+explode under it — when the caller
    finally executes (the round-14 double-compute seam).

    Returns (id, n_tokens, nll) for every document with >= 1 token.
    """
    from .dedup import _eager

    toks = (
        df.select(
            F.col(id_col).alias("_uid"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
    )
    lm = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt")).persist()
    try:
        total, vocab, avg_w = lm.select(
            F.sum("cnt").cast("long"),
            F.count(F.lit(1)),
            F.avg(F.length("term")),
        ).collect()[0]
        if total is None:  # token-less corpus: no LM, no scorable docs
            return toks.groupBy("_uid").agg(
                F.count(F.lit(1)).cast("long").alias("n_tokens"),
                F.lit(0.0).alias("nll"),
            ).select(F.col("_uid").alias(id_col), "n_tokens", "nll")
        denom = float(total + vocab)
        scored = toks.join(
            _sized_model_side(lm, int(vocab), float(avg_w or 0.0)),
            "term",
        ).select(
            "_uid",
            (-F.log((F.col("cnt") + F.lit(1.0)) / F.lit(denom))).alias(
                "_nl"
            ),
        )
        return _eager(
            scored.groupBy("_uid")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_tokens"),
                F.round(F.avg("_nl"), 6).alias("nll"),
            )
            .select(F.col("_uid").alias(id_col), "n_tokens", "nll")
        )
    finally:
        lm.unpersist()


def temperature_mixture(
    df: DataFrame,
    alpha: float = 0.5,
    target_total: int | None = None,
    stratum_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "",
    max_rate: float | None = None,
) -> DataFrame:
    """Temperature-scaled mixture sampling — the multilingual/multi-
    source rebalancing recipe of T5 (Raffel et al. 2020 §3.4.3,
    "temperature-scaled mixing") and XLM-R (Conneau et al. 2020), both
    public: stratum ``s`` gets mixing probability
    ``p_s = n_s^alpha / sum_t n_t^alpha``, so its per-document sampling
    rate is ``rate_s = target_total * p_s / n_s``. ``alpha = 1`` is
    natural sampling (every stratum at the same rate); ``alpha -> 0``
    approaches uniform-over-strata (heavy upsampling of small strata —
    rates above 1 replicate deterministically via
    :func:`mixture_sample`'s epoch mechanism). ``target_total``
    defaults to the corpus size (a pure re-balance); ``max_rate`` caps
    the replication factor (the XLM-R guard against epoch explosion on
    tiny strata). NULL-stratum rows are dropped (no defined share).

    The stratum-count collect is strata-bounded (the only driver
    transfer); everything after is :func:`mixture_sample`'s map-only
    hash-threshold materialization — no shuffle anywhere at any corpus
    size.

    Cross-engine determinism (the catalog row's full value oracle
    hash-compares the materialized mixture): rates are data-dependent
    doubles, so the driver mirrors IEEE-exact SQL arithmetic — strata
    iterate in SORTED order (the normalizer is an ordered FP sum),
    ``alpha=0.5`` uses ``math.sqrt`` (correctly rounded by IEEE 754 in
    every engine, unlike ``pow``), and the rate expression is the same
    left-associated ``T * p / Z / n`` chain of correctly-rounded ops on
    both sides — bit-identical thresholds, row-identical mixtures. For
    other alphas ``pow`` parity is libm-dependent; the operator stays
    deterministic WITHIN the engine either way.
    """
    import math

    if alpha <= 0:
        raise ValueError(f"alpha={alpha} must be > 0")
    counts = {
        r[0]: r[1]
        for r in df.groupBy(stratum_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r[0] is not None
    }
    if not counts:
        raise ValueError("no non-null strata to mix")
    total = int(target_total if target_total is not None else
                sum(counts.values()))
    strata = sorted(counts)
    p = {
        s: (math.sqrt(float(counts[s])) if alpha == 0.5
            else math.pow(float(counts[s]), alpha))
        for s in strata
    }
    z = 0.0
    for s in strata:  # ordered sum — mirrors the oracle's ORDER BY
        z += p[s]
    rates = {}
    for s in strata:
        r = float(total) * p[s] / z / float(counts[s])
        if max_rate is not None:
            r = min(r, float(max_rate))
        rates[s] = r
    return mixture_sample(df, rates, stratum_col, key_col, salt)


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Materialize a data-mixture by per-stratum sampling rates — the
    mixing step of LLM corpus assembly (DoReMi / domain-reweighting
    style, public): rate < 1 downsamples a stratum, rate > 1 UPSAMPLES
    it by deterministic replication (epochs), rate 0 or an unlisted
    stratum drops it.

    Every document contributes ``floor(rate)`` whole copies, plus one
    more iff its key-hash draw falls below the fractional remainder —
    the same fixed-width-hex md5 threshold trick as
    ``deterministic_split``, so the materialized mixture is a pure
    function of (key, salt): re-runs, retries, and other engines agree
    row-for-row, and in expectation every stratum lands exactly at its
    rate. Changing ``salt`` re-rolls the fractional draws only.

    Map-only until the per-row ``explode`` of the copy sequence (no
    shuffle at all); the output carries a 1-based ``copy`` column so
    downstream packing/shuffling can spread replicas. At 100 TB this is
    the exact shape wanted: the mixture never sorts, joins, or groups —
    it streams.
    """
    import math

    h = hash_draw(key_col, salt)
    rate_expr = None
    frac_expr = None
    for s, rate in rates.items():
        if rate < 0:
            raise ValueError(f"negative rate for stratum {s!r}")
        base = int(math.floor(rate))
        frac = rate - base
        bound = hash_threshold(frac)
        # NULL keys: the hash (and the comparison) is NULL — coalesce the
        # fractional draw to 0 so a NULL-key row contributes exactly its
        # floor(rate) copies on EVERY stratum (the SQL convention: NULL <
        # bound is not-true), instead of being dropped on fractional-rate
        # strata only
        extra = (
            F.coalesce((h < bound).cast("int"), F.lit(0))
            if frac > 0
            else F.lit(0)
        )
        n = F.lit(base) + extra
        cond = F.col(stratum_col) == s
        rate_expr = F.when(cond, n) if rate_expr is None else rate_expr.when(cond, n)
    if rate_expr is None:
        raise ValueError("rates must be non-empty")
    n_copies = rate_expr.otherwise(F.lit(0))
    return (
        df.withColumn("_n_copies", n_copies)
        .where(F.col("_n_copies") > 0)
        .withColumn("copy", F.explode(F.sequence(F.lit(1), F.col("_n_copies"))))
        .withColumn("copy", F.col("copy").cast("long"))
        .drop("_n_copies")
    )


def training_order(
    df: DataFrame,
    key_col: str = "doc_id",
    seed: str = "",
    epoch: int = 0,
    bucket_chars: int = 4,
) -> DataFrame:
    """Deterministic global shuffle for training order.

    Training runs want documents in a pseudo-random order that is (a)
    reproducible across runs/engines/partitionings and (b) cheap to
    re-roll per epoch. ``rand()`` is neither; instead each row's sort
    key is ``md5(key || seed || epoch)`` — a pure function of the key,
    so the permutation is stable, and bumping ``epoch`` re-deals the
    whole corpus at zero extra cost. ``order_rank`` is the 1-based
    position in that permutation (the global sample index).

    Scale shape: a naive ``row_number() OVER (ORDER BY hash)`` compiles
    to Exchange SinglePartition — the whole corpus through one task.
    Instead the rank is computed in two levels keyed on the first
    ``bucket_chars`` hex chars of the hash (a PREFIX of the sort key,
    so bucket order refines hash order): (1) a map-side count per
    bucket, cumulated into per-bucket offsets over at most
    16^bucket_chars rows and broadcast; (2) ``row_number`` within each
    bucket. One full-data hash exchange on the bucket key (max task
    ~N/65536 at the default — md5 prefixes are uniform, so no skew), a
    tiny aggregate, a broadcast join: every stage is distributed and
    the whole thing stays lazy. At 100 TB the standard deployment is
    still to WRITE the corpus ordered once per epoch and let consumers
    read it back sequentially rather than re-rank per consumer.
    """
    # null-safe: concat propagates NULL through md5, and the engines
    # disagree on where NULL sort keys land (Spark first, DuckDB last) —
    # the same hazard incremental._content_hash guards with a sentinel.
    # Rows sharing a NULL key still have no identity to order BETWEEN
    # them; a unique non-null key column is the documented precondition
    # for a fully stable permutation.
    from pyspark.sql import Window

    if not 1 <= bucket_chars <= 5:
        # 0 buckets on a constant '' key is the single-task shape this
        # function exists to avoid; past 5 hex chars (16^5 = 1M
        # buckets) the offsets relation stops being trivially
        # broadcastable — the same guard class as banded_signatures
        raise ValueError(
            f"bucket_chars={bucket_chars} must be in [1, 5]: 0 ranks "
            "the whole corpus in one task, >5 makes the broadcast "
            "offsets relation itself large"
        )
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("__NULL_KEY__"))
    h = F.md5(F.concat(key, F.lit(f"|{seed}|{epoch}")))
    hashed = df.withColumn("_to_k", h).withColumn(
        "_to_b", F.substring("_to_k", 1, bucket_chars)
    )
    # per-bucket offsets: counts are a map-side partial aggregate; the
    # running sum windows over <= 16^bucket_chars rows (bounded by the
    # bucket-id space, NOT the data), so its single partition is fine.
    cum = Window.orderBy("_to_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        hashed.groupBy("_to_b")
        .agg(F.count(F.lit(1)).alias("_to_n"))
        .select(
            "_to_b",
            F.coalesce(F.sum("_to_n").over(cum), F.lit(0)).alias("_to_off"),
        )
    )
    within = Window.partitionBy("_to_b").orderBy("_to_k", key)
    return (
        hashed.join(F.broadcast(offsets), "_to_b")
        .withColumn(
            "order_rank",
            (F.col("_to_off") + F.row_number().over(within)).cast("long"),
        )
        .drop("_to_b", "_to_k", "_to_off")
    )


def _hashed_gram_buckets(
    df: DataFrame,
    n_buckets: int,
    text_col: str,
    id_col: str,
    hash_fn: str = "md5",
    target_flag=None,
) -> DataFrame:
    """``(_id, bkt)`` stream: one row per unigram AND bigram occurrence,
    each gram hashed into ``n_buckets``. With ``target_flag`` (a boolean
    Column over ``df``'s rows) the stream carries a third ``_tgt``
    column — ``coalesce(flag, false)``, i.e. exactly the rows a
    ``df.where(flag)`` would keep — so ONE tokenize+explode+hash pass
    can serve both the pool model and a pool-subset target model
    (round-17 optimization: the target side used to recompute the
    whole upstream chain).

    ``hash_fn='md5'`` (default) is the fixed-width-hex trick
    (``int(md5(gram)[:8], 16) % n_buckets``) — the same engine-portable
    hash family as ``deterministic_split``, so a DuckDB oracle
    reproduces every bucket id exactly. ``hash_fn='xxhash64'`` is the
    production path: a codegen'd 64-bit integer hash with no string
    digest/substring/base-conversion work — measured ~1.2x faster
    end-to-end on the 500k-doc soak (the explode + joins dominate, not
    the digest) — at the cost of oracle portability (weights remain
    deterministic and engine-internal consistent; only the cross-engine
    replication goes).

    Bigrams are STRICT (a ``len(t)-1`` window over docs with >= 2
    tokens), not the ``word_ngrams`` short-doc clamp: DSIR features are
    occurrence counts, and a 1-token doc contributing its unigram twice
    (once as a clamped "bigram") would double-weight it. The token
    array is pre-projected and the per-index lambda references only the
    attribute (the ``word_ngrams`` O(len^2) contract).
    """
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(
            f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}"
        )
    from .dedup import _spread

    # _spread (round 17, guide §2.5 input skew): the documents parquet
    # arrives in ~7 row-group splits, which capped the expensive
    # explode+digest stream at 7-task parallelism on a 32-core rig
    # (stage-profiled at sf1: the stream stage held 7 tasks while 25
    # cores idled). The repartition is a cheap shuffle of the raw doc
    # rows; at real scale the input has more splits than cores and it
    # is a no-op.
    sel = [F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_t")]
    if target_flag is not None:
        # where(flag) semantics: NULL-evaluated rows are NOT target rows
        sel.append(
            F.coalesce(target_flag.cast("boolean"), F.lit(False)).alias(
                "_tgt"
            )
        )
    toks = _spread(df).select(*sel)
    Lt = F.size("_t")
    bigrams = F.when(
        Lt >= 2,
        F.transform(
            F.sequence(F.lit(1), Lt - 1),
            lambda i: F.array_join(F.slice("_t", i, 2), " "),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    if hash_fn == "md5":
        bkt = (
            F.conv(F.substring(F.md5("_g"), 1, 8), 16, 10).cast("long")
            % F.lit(n_buckets)
        )
    else:
        # pmod: xxhash64 is signed; Java % would keep the sign
        bkt = F.pmod(F.xxhash64("_g"), F.lit(n_buckets))
    carry = ["_id"] + (["_tgt"] if target_flag is not None else [])
    return toks.select(
        *carry, F.explode(F.concat("_t", bigrams)).alias("_g")
    ).select(*carry, bkt.alias("bkt"))


def dsir_importance_weights(
    pool: DataFrame,
    target: DataFrame | None = None,
    n_buckets: int = 4096,
    lam: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    eager: bool = True,
    target_predicate=None,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", public): score every
    pool document by how much more likely its hashed-n-gram features are
    under the TARGET distribution than under the pool itself —
    the data-selection step that tilts a raw crawl toward a
    high-quality / in-domain corpus.

    Features: unigram + bigram occurrences hashed into ``n_buckets``
    (the paper's hashed n-gram generative model). Bucket models are
    add-``lam`` smoothed multinomials fit on each side's occurrence
    counts; a pool doc's log importance weight is::

        log_w = sum_over_doc_grams( ln p_target(bkt) - ln p_pool(bkt) )

    rounded to 6 decimals (the ``unigram_logprob`` cross-engine float
    convention). Documents with >= 1 token are returned (a token-less
    doc has no features, same contract as ``unigram_logprob``); buckets
    the target never saw still score via smoothing, and target grams in
    buckets absent from the pool contribute to the target total only
    (they can never match a pool gram).

    Returns ``(id, n_grams, log_w)``.

    Scale shape: each bucket-count model is ONE map-side-combinable
    aggregate collapsing the gram stream to <= ``n_buckets`` keys — a
    corpus-wide hot bucket is one shuffled key. The model relation
    (<= ``n_buckets`` rows, both counts + the log-ratio expression) is
    broadcast, so the scoring pass is a map-only broadcast-hash join +
    a doc-keyed partial-agg sum. The pool's gram stream feeds BOTH the
    fit and the score, so it persists DISK_ONLY between them as two
    longs per gram occurrence (~16 bytes vs re-reading AND re-tokenizing
    the full text corpus — A/B at 500k docs: 8.8 s persisted vs 19.9 s
    recomputed, and the byte ratio only improves as documents grow);
    the result is eagerly materialized inside the persist scope (the
    ``dedup._eager`` discipline) so the release below is safe. The only
    full-width exchange is the O(docs) weight rows themselves.

    ``target_predicate`` (round-17 optimization, guide §1.2 step 1 —
    don't compute things twice): when the target IS a slice of the
    pool (``target = pool.where(pred)``, the common in-domain-target
    shape), pass the predicate instead of the sliced DataFrame and the
    pool gram stream is computed ONCE carrying a ``_tgt`` membership
    bit; the target bucket model is the flagged subset of the same
    persisted relation instead of a full recomputation of the pool's
    upstream chain (measured at sf10: the target pass duplicated
    ~270 of ~630 executor-seconds in ``text_llm_pipeline``). Result-
    identical to the two-DataFrame form by construction: the flagged
    gram multiset is exactly ``grams(pool.where(pred))`` — same rows,
    same tokenizer, same hash — so every bucket count, total, and
    contribution is bit-identical. Exactly one of ``target`` /
    ``target_predicate`` must be given.

    NOTE: the one-pass property requires ``eager=True`` (the default).
    With ``eager=False`` the shared gram stream is deliberately NOT
    persisted (that mode exists to return the pure lazy plan for
    inspection/composition), so the fit and score branches each
    recompute the chain — correctness is unaffected, but a lazy caller
    does not get the single-pass saving this parameter advertises.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets={n_buckets} must be >= 1")
    if not lam > 0:
        # lam == 0 puts ln(0) = -inf on every target-unseen bucket
        raise ValueError(f"lam={lam} must be > 0 (add-lambda smoothing)")
    if (target is None) == (target_predicate is None):
        raise ValueError(
            "exactly one of target / target_predicate must be given"
        )
    from pyspark import StorageLevel

    from .dedup import _eager

    pg = _hashed_gram_buckets(
        pool, n_buckets, text_col, id_col, hash_fn,
        target_flag=target_predicate,
    )
    if eager:
        # the gram stream feeds BOTH the fit and the score; ``eager=False``
        # skips the persist + checkpoint and returns the pure lazy plan
        # (for plan inspection / composition into a larger lazy pipeline
        # at the cost of recomputing the stream per consumer).
        # _populated (round 17): the fit and score stages materialize
        # CONCURRENTLY under AQE, so a lazy persist was recomputed by
        # every consumer — stage-profiled at sf1 as THREE overlapping
        # 26-executor-second computations of the same stream; the
        # eager populate runs it once.
        from .dedup import _populated

        pg = _populated(pg.persist(StorageLevel.DISK_ONLY))
    stream = pg  # the (possibly persisted) handle — unpersisted below
    if target_predicate is not None:
        # the flagged subset of the SAME persisted stream — no second
        # pass over the pool's upstream chain
        tg = stream.where(F.col("_tgt")).select("_id", "bkt")
        pg = stream.select("_id", "bkt")
    else:
        tg = _hashed_gram_buckets(
            target, n_buckets, text_col, id_col, hash_fn
        )
    qcnt = pg.groupBy("bkt").agg(F.count(F.lit(1)).alias("_qc"))
    tcnt = tg.groupBy("bkt").agg(F.count(F.lit(1)).alias("_tc"))
    # totals ride in as a broadcast 1-row cross join (the SQL `, stats`
    # shape) — no driver collect, the whole plan stays lazy. T counts
    # ALL target grams (incl. buckets the pool lacks), so it comes from
    # tcnt before the pool-keyed join.
    totals = qcnt.agg(
        F.coalesce(F.sum("_qc"), F.lit(0)).cast("double").alias("_Q")
    ).crossJoin(
        tcnt.agg(
            F.coalesce(F.sum("_tc"), F.lit(0)).cast("double").alias("_T")
        )
    )
    denom_b = float(lam) * float(n_buckets)
    ratios = (
        qcnt.join(tcnt, "bkt", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bkt",
            (
                F.log(
                    (F.coalesce(F.col("_tc"), F.lit(0)) + F.lit(float(lam)))
                    / (F.col("_T") + F.lit(denom_b))
                )
                - F.log(
                    (F.col("_qc") + F.lit(float(lam)))
                    / (F.col("_Q") + F.lit(denom_b))
                )
            ).alias("_contrib"),
        )
    )
    out = (
        pg.join(F.broadcast(ratios), "bkt")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.round(F.sum("_contrib"), 6).alias("log_w"),
        )
        .select(F.col("_id").alias(id_col), "n_grams", "log_w")
    )
    if not eager:
        return out
    try:
        return _eager(out)
    finally:
        stream.unpersist()


def dsir_select(
    pool: DataFrame,
    target: DataFrame | None,
    k: int,
    method: str = "gumbel",
    salt: str = "",
    n_buckets: int = 4096,
    lam: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    target_predicate=None,
) -> DataFrame:
    """Select ``k`` pool documents by DSIR importance weight.

    ``method='topk'`` takes the hard top-k by ``log_w`` (deterministic
    ranking). ``method='gumbel'`` is the paper's importance
    RESAMPLING: adding independent Gumbel(0,1) noise to each log weight
    and taking the top-k draws k documents without replacement with
    probability proportional to their (softmax-normalized) importance
    weights — the Gumbel-top-k trick. The noise is a pure function of
    ``(key, salt)``: uniform ``u = (int(md5(key || '|dsir|' || salt)[:8],
    16) + 0.5) / 2^32`` (never 0 or 1 by the half-offset), then
    ``g = -ln(-ln(u))`` — re-runs, retries, and the DuckDB oracle agree
    row-for-row, and changing ``salt`` re-deals the sample.

    Both orderings tie-break on the id so the cut is total. Returns
    ``(id, n_grams, log_w, score)`` — ``score`` is ``log_w`` itself for
    'topk', ``log_w + gumbel`` for 'gumbel', rounded to 6.

    Scale shape: weights as in ``dsir_importance_weights``; the
    selection compiles to TakeOrderedAndProject (per-partition top-k,
    merge of k-row heaps — never a global sort of the corpus).
    ``target_predicate`` passes through to ``dsir_importance_weights``
    (one-pass pool-subset target; exactly one of target / predicate).
    """
    if method not in ("topk", "gumbel"):
        raise ValueError(f"method must be 'topk' or 'gumbel', got {method!r}")
    if k < 1:
        raise ValueError(f"k={k} must be >= 1")
    w = dsir_importance_weights(
        pool,
        target,
        n_buckets=n_buckets,
        lam=lam,
        text_col=text_col,
        id_col=id_col,
        hash_fn=hash_fn,
        target_predicate=target_predicate,
    )
    if method == "topk":
        score = F.col("log_w")
    else:
        u = hash_uniform(id_col, f"|dsir|{salt}")
        score = F.col("log_w") + (-F.log(-F.log(u)))
    return (
        w.withColumn("score", F.round(score, 6))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stop_word_hits: int = 2,
) -> DataFrame:
    """Gopher/MassiveWeb rule-based quality filters (Rae et al. 2021,
    "Scaling Language Models: Methods, Analysis & Insights from Training
    Gopher", Appendix A — public): the standard pre-LLM-training document
    screens, each surfaced as its own boolean so a pipeline can audit
    WHICH rule fired, plus the conjunction ``gopher_pass``.

    Rules (words = maximal ``\\S+`` runs, the span-removal tokenizer):

    - ``ok_word_count``: ``min_words <= n_words <= max_words``
    - ``ok_mean_word_len``: mean word length in
      ``[min_mean_word_len, max_mean_word_len]`` (computed as
      non-whitespace chars / words — one scalar regexp strip, no array)
    - ``ok_symbol_ratio``: (# of ``#`` + ``...`` occurrences) / words
      ``<= max_symbol_ratio``
    - ``ok_alpha_words``: fraction of words containing >= 1 ASCII letter
      ``>= min_alpha_word_frac``
    - ``ok_stop_words``: >= ``min_stop_word_hits`` DISTINCT members of
      Gopher's stop set {the, be, to, of, and, that, have, with} appear

    Ratios are rounded to 4 (the cross-engine float convention).
    Word-less documents fail the count rule and report 0-valued ratios.

    Scale shape: every rule is a scalar built-in expression over the raw
    text (pattern-cached ``regexp_*`` family — the round-13 recompile
    lesson), so the whole operator is one map-only projection inside
    whole-stage codegen: no shuffle, no UDF, no array materialization
    except the single stop-word intersect.
    """
    text = F.col(text_col)
    # COUNT of \S+ runs as a scalar (regexp_count, cached pattern) —
    # the array itself is never built
    n_words = F.regexp_count(F.coalesce(text, F.lit("")), F.lit(r"\S+"))
    non_ws_chars = F.length(
        F.regexp_replace(F.coalesce(text, F.lit("")), r"\s", "")
    )
    mean_wl = F.when(
        n_words > 0, F.round(non_ws_chars.cast("double") / n_words, 4)
    ).otherwise(F.lit(0.0))
    # a match of \S*[A-Za-z]\S* consumes a full token (greedy \S* cannot
    # cross whitespace, and any token containing a letter matches from
    # its first char), so the count == # words with >= 1 ASCII letter;
    # the pattern family is lookaround-free on purpose — the DuckDB
    # oracle runs RE2
    alpha_words = F.regexp_count(
        F.coalesce(text, F.lit("")), F.lit(r"\S*[A-Za-z]\S*")
    )
    alpha_frac = F.when(
        n_words > 0, F.round(alpha_words.cast("double") / n_words, 4)
    ).otherwise(F.lit(0.0))
    symbols = F.regexp_count(
        F.coalesce(text, F.lit("")), F.lit(r"#|\.\.\.")
    )
    symbol_ratio = F.when(
        n_words > 0, F.round(symbols.cast("double") / n_words, 4)
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.array_intersect(
            tokens(text),
            F.array(*[F.lit(w) for w in GOPHER_STOP_WORDS]),
        )
    )
    stop_hits = F.greatest(stop_hits, F.lit(0))  # size(NULL array) is -1
    ok_wc = (n_words >= min_words) & (n_words <= max_words)
    ok_mwl = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    ok_sym = symbol_ratio <= max_symbol_ratio
    ok_alpha = alpha_frac >= min_alpha_word_frac
    ok_stop = stop_hits >= min_stop_word_hits
    return (
        df.withColumn("n_words", n_words.cast("long"))
        .withColumn("mean_word_len", mean_wl)
        .withColumn("alpha_word_frac", alpha_frac)
        .withColumn("symbol_ratio", symbol_ratio)
        .withColumn("stop_word_hits", stop_hits.cast("long"))
        .withColumn("ok_word_count", ok_wc)
        .withColumn("ok_mean_word_len", ok_mwl)
        .withColumn("ok_symbol_ratio", ok_sym)
        .withColumn("ok_alpha_words", ok_alpha)
        .withColumn("ok_stop_words", ok_stop)
        .withColumn(
            "gopher_pass", ok_wc & ok_mwl & ok_sym & ok_alpha & ok_stop
        )
    )


def gopher_filter(
    df: DataFrame, rules: Sequence[str], text_col: str = "text"
) -> DataFrame:
    """The rows of ``gopher_quality_flags(df)`` that pass every named
    rule (``GOPHER_RULES`` names them), flag columns included.
    ``ValueError`` on an empty or unknown rule list."""
    bad = sorted(set(rules) - set(GOPHER_RULES))
    if bad or not rules:
        raise ValueError(f"bad Gopher rules: {bad or 'empty'}")
    cond = F.col(f"ok_{rules[0]}")
    for rule in rules[1:]:
        cond = cond & F.col(f"ok_{rule}")
    return gopher_quality_flags(df, text_col=text_col).where(cond)


def train_quality_classifier(
    df: DataFrame,
    label_col: str,
    n_buckets: int = 4096,
    iters: int = 20,
    lr: float = 0.5,
    l2: float = 1e-6,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> dict:
    """GPT-3-style quality classifier (Brown et al. 2020, Appendix A,
    public): fit a logistic regression over hashed n-gram features to
    separate a curated/target corpus (label 1) from the raw crawl
    (label 0); the scored probability is the document quality signal
    that feeds the Pareto keep rule. The feature space is the same
    hashed unigram+bigram bucketing DSIR uses, tf-normalized per doc
    (``x[b] = count(b) / n_grams``) so margins stay bounded.

    The fit is two-stage, both stages distributed:

    1. **Feature weights = smoothed naive-Bayes log-odds** of the two
       classes (one <= ``n_buckets``-row aggregate off the feature
       matrix). Measured on the en-vs-rest gate task the NB odds rank
       at AUC 0.935, while a zero-init full-weight GD stalls near 0.73
       in 20 iterations — hashed-text logistic regressions are
       ill-conditioned under one global learning rate (marker features
       carry tiny tf mass), so the closed form is where the separation
       comes from.
    2. **Platt-scaled calibration trained by gradient descent**: the NB
       margin per doc is computed ONCE (the weights are fixed),
       standardized, and a 2-parameter logistic ``p = sigmoid(a*z + b)``
       is fit by full-batch GD — each iteration is ONE tiny aggregate
       over the persisted O(docs) margin relation (loss + both
       gradients), and 2-parameter GD on standardized inputs converges
       in a handful of steps where the raw fit could not move. The
       learned ``(a, b)`` fold back into the returned weights/bias, so
       scoring stays a single linear-sigmoid pass.

    The feature matrix ``(doc, bkt, cnt, x, y)`` is built once and
    persisted DISK_ONLY — the corpus text is tokenized exactly once;
    the only driver transfers are the B-row NB counts and one
    (loss, grad_a, grad_b) row per iteration.

    At 100 TB you train on a bounded labeled SAMPLE (the reference
    setup trains on ~10^5-10^6 docs) and score the full corpus with
    :func:`score_quality_classifier` — scoring is the map-only pass,
    training cost is sample-bounded by construction.

    Returns a plain dict model: ``{"weights": list[float] (len B),
    "bias": float, "n_buckets": B, "hash_fn": hash_fn,
    "losses": [per-iteration mean logistic loss]}`` (JSON-serializable
    so a model can be persisted next to the lake).
    """
    import numpy as np

    if iters < 1:
        raise ValueError(f"iters={iters} must be >= 1")
    if n_buckets < 1:
        raise ValueError(f"n_buckets={n_buckets} must be >= 1")
    from pyspark import StorageLevel
    from pyspark.sql import Window

    spark = df.sparkSession
    g = _hashed_gram_buckets(df, n_buckets, text_col, id_col, hash_fn)
    # NULL labels are dropped HERE, before the stats aggregate: a
    # null-label doc would otherwise count in n_docs (the GD
    # denominator and n_neg = n_docs - n_pos) while its rows vanish
    # from every loss/gradient sum, silently mis-scaling the Platt
    # calibration and the class prior.
    labels = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).cast("double").alias("_y"),
    ).where(F.col("_y").isNotNull())
    feats = (
        g.groupBy("_id", "bkt")
        .agg(F.count(F.lit(1)).cast("double").alias("_cnt"))
        .withColumn(
            "_x",
            F.col("_cnt") / F.sum("_cnt").over(Window.partitionBy("_id")),
        )
        .join(labels, "_id")
        .select("_id", "bkt", "_cnt", "_x", "_y")
        .persist(StorageLevel.DISK_ONLY)
    )
    try:
        stats = feats.groupBy().agg(
            F.count_distinct("_id").alias("n"),
            F.sum(F.when(F.col("_y") > 0, F.col("_cnt"))).alias("tpos"),
            F.sum(F.when(F.col("_y") <= 0, F.col("_cnt"))).alias("tneg"),
            F.count_distinct(F.when(F.col("_y") > 0, F.col("_id"))).alias(
                "npos"
            ),
        ).collect()[0]
        n_docs = stats["n"]
        if n_docs == 0:
            raise ValueError("no documents with >= 1 token to train on")
        n_pos, n_neg = int(stats["npos"]), int(n_docs - stats["npos"])
        if n_pos == 0 or n_neg == 0:
            raise ValueError(
                f"training needs both classes (n_pos={n_pos}, n_neg={n_neg})"
            )
        # NB log-odds init: per-bucket smoothed class-conditional counts,
        # one <= B-row collect off the persisted feature matrix
        lam = 1.0
        nb_rows = (
            feats.groupBy("bkt")
            .agg(
                F.sum(F.when(F.col("_y") > 0, F.col("_cnt"))).alias("cp"),
                F.sum(F.when(F.col("_y") <= 0, F.col("_cnt"))).alias("cn"),
            )
            .collect()
        )
        tpos = float(stats["tpos"] or 0.0) + lam * n_buckets
        tneg = float(stats["tneg"] or 0.0) + lam * n_buckets
        w = np.zeros(n_buckets, dtype=np.float64)
        for row in nb_rows:
            w[row["bkt"]] = np.log((float(row["cp"] or 0.0) + lam) / tpos) - (
                np.log((float(row["cn"] or 0.0) + lam) / tneg)
            )
        # fixed-weight NB margins, computed once and persisted (O(docs)
        # rows of (_m, _y)); standardized so the 2-parameter GD below is
        # well-conditioned regardless of the corpus's log-odds scale
        wdf = spark.createDataFrame(
            [(int(b), float(v)) for b, v in enumerate(w)],
            "bkt long, _w double",
        )
        margins = (
            feats.join(F.broadcast(wdf), "bkt", "left")
            .groupBy("_id")
            .agg(
                F.sum(
                    F.col("_x") * F.coalesce(F.col("_w"), F.lit(0.0))
                ).alias("_m"),
                F.first("_y").alias("_y"),
            )
            .persist(StorageLevel.DISK_ONLY)
        )
        try:
            mstats = margins.agg(
                F.avg("_m").alias("mu"), F.stddev_pop("_m").alias("sd")
            ).collect()[0]
            mu = float(mstats["mu"])
            sd = float(mstats["sd"]) or 1.0
            a, b = 1.0, float(np.log(n_pos / n_neg))
            z = (F.col("_m") - F.lit(mu)) / F.lit(sd)
            losses: list[float] = []
            for _ in range(iters):
                p = F.lit(1.0) / (
                    F.lit(1.0) + F.exp(-(F.lit(a) * z + F.lit(b)))
                )
                r = p - F.col("_y")
                agg = margins.agg(
                    F.avg(
                        -(
                            F.col("_y")
                            * F.log(F.greatest(p, F.lit(1e-12)))
                            + (F.lit(1.0) - F.col("_y"))
                            * F.log(
                                F.greatest(F.lit(1.0) - p, F.lit(1e-12))
                            )
                        )
                    ).alias("loss"),
                    F.sum(r * z).alias("ga"),
                    F.sum(r).alias("gb"),
                ).collect()[0]
                a -= lr * (float(agg["ga"]) / n_docs + l2 * a)
                b -= lr * float(agg["gb"]) / n_docs
                losses.append(float(agg["loss"]))
        finally:
            margins.unpersist()
        # fold the standardized calibration back into the linear model:
        # a*(m - mu)/sd + b == (a/sd)*m + (b - a*mu/sd)
        scale = a / sd
        return {
            "weights": [float(v * scale) for v in w],
            "bias": float(b - a * mu / sd),
            "n_buckets": n_buckets,
            "hash_fn": hash_fn,
            "losses": losses,
        }
    finally:
        feats.unpersist()


def score_quality_classifier(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document with a trained quality classifier:
    ``quality_prob = sigmoid(bias + sum_b tf[b] * w[b])``.

    The corpus-scale pass: one gram explode, a broadcast join against
    the <= B-row nonzero-weight relation, one doc-keyed partial-agg —
    the same map-only shape as DSIR scoring. Since the feature is the
    tf vector (``x[b] = cnt[b] / n_grams``), the margin
    ``sum_b x[b] * w[b]`` equals the plain AVERAGE of ``w[bucket]``
    over the raw gram-occurrence stream — so no per-(doc, bucket)
    count relation, no window, and no second exchange are ever built
    (the earlier tf materialization cost a groupBy + Window sort of
    the corpus for an algebraically identical number). Documents with
    no tokens are not returned (no features, same contract as
    ``dsir_importance_weights``).
    """
    import numpy as np

    spark = df.sparkSession
    w = np.asarray(model["weights"], dtype=np.float64)
    rows = [(int(b), float(w[b])) for b in np.nonzero(w)[0]] or [
        (0, float(w[0]))
    ]
    wdf = spark.createDataFrame(rows, "bkt long, _w double")
    g = _hashed_gram_buckets(
        df, model["n_buckets"], text_col, id_col, model.get("hash_fn", "md5")
    )
    return (
        g.join(F.broadcast(wdf), "bkt", "left")
        .groupBy("_id")
        .agg(
            (
                F.avg(F.coalesce(F.col("_w"), F.lit(0.0)))
                + F.lit(float(model["bias"]))
            ).alias("_m")
        )
        .select(
            F.col("_id").alias(id_col),
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("_m")))).alias(
                "quality_prob"
            ),
        )
    )


def pareto_quality_filter(
    df: DataFrame,
    model: dict,
    alpha: float = 9.0,
    salt: str = "",
    text_col: str = "text",
    id_col: str = "doc_id",
    scored: DataFrame | None = None,
) -> DataFrame:
    """The GPT-3 keep rule (Brown et al. 2020, Appendix A): keep a
    document iff ``pareto_draw(alpha) > 1 - quality_prob`` — high-score
    docs are (almost) always kept, low-score docs survive with a heavy
    tail so the filtered corpus is not a hard threshold cut.

    The Pareto draw is deterministic: ``u`` from the fixed-width-hex
    md5 of ``(id, salt)`` (never 0/1 by the half offset), inverse-CDF
    ``draw = (1 - u)^(-1/alpha) - 1`` — re-runs and engines agree
    row-for-row, ``salt`` re-deals. Map-only on top of the scoring
    pass; returns the scored survivors ``(id, quality_prob)``.

    Pass ``scored`` (a relation carrying ``id_col`` + ``quality_prob``,
    e.g. the output of :func:`score_quality_classifier`) when the
    caller already scored the corpus — the draw is map-only over it,
    so reusing it halves the corpus scans for score-and-filter flows.
    """
    if not alpha > 0:
        raise ValueError(f"alpha={alpha} must be > 0")
    if scored is None:
        scored = score_quality_classifier(df, model, text_col, id_col)
    u = hash_uniform(id_col, f"|pareto|{salt}")
    draw = F.pow(F.lit(1.0) - u, F.lit(-1.0 / float(alpha))) - F.lit(1.0)
    return scored.where(draw > (F.lit(1.0) - F.col("quality_prob")))


def binary_auc(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """Exact ROC-AUC of a score against binary labels as ONE aggregate:
    the Mann-Whitney U statistic over average ranks (ties get the mean
    of their rank run, the standard mid-rank convention), so
    ``auc = (sum_ranks(pos) - n_pos*(n_pos+1)/2) / (n_pos * n_neg)``.

    Scale shape: one global rank over the scores (two-level bucketed
    ranking is the ``training_order`` upgrade path if a corpus-sized
    AUC is ever needed; classifier evaluation runs on the bounded
    labeled sample, where a single window is the right plan) and one
    1-row aggregate. Returns ``(n_pos, n_neg, auc)``.
    """
    from pyspark.sql import Window

    ranked = df.select(
        F.col(score_col).alias("_s"),
        F.col(label_col).cast("double").alias("_y"),
    ).withColumn(
        # mid-rank: average of min and max row_number within a tie run
        "_rank",
        (
            F.rank().over(Window.orderBy("_s"))
            + (
                F.count(F.lit(1)).over(
                    Window.partitionBy("_s").rowsBetween(
                        Window.unboundedPreceding,
                        Window.unboundedFollowing,
                    )
                )
                - 1
            )
            / 2.0
        ),
    )
    return ranked.agg(
        F.sum(F.col("_y")).cast("long").alias("n_pos"),
        F.sum(F.lit(1.0) - F.col("_y")).cast("long").alias("n_neg"),
        F.round(
            (
                F.sum(F.col("_rank") * F.col("_y"))
                - F.sum("_y") * (F.sum("_y") + 1) / 2.0
            )
            / (F.sum("_y") * F.sum(F.lit(1.0) - F.col("_y"))),
            6,
        ).alias("auc"),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    backoff: float = 0.4,
) -> DataFrame:
    """Per-document mean negative log-score under a corpus bigram model
    with STUPID BACKOFF (Brants et al. 2007, "Large Language Models in
    Machine Translation", public) — the web-scale LM scoring recipe:
    no discounting mass to tune, just::

        score(w_i | w_{i-1}) = count(w_{i-1} w_i) / count(w_{i-1})
                               if the bigram was seen,
                               else backoff * count(w_i) / total

    The first token of each document always scores its unigram
    (no history). Scores are not normalized probabilities (that is the
    point of stupid backoff — at corpus scale the normalization never
    pays for itself); the per-doc mean of ``-ln score`` still ranks
    fluency exactly like ``unigram_logprob``'s nll, with bigram
    context. Returns ``(id, n_tokens, nll2)`` for documents with >= 1
    token, ``nll2`` rounded to 6 (the cross-engine float convention).

    Plan shape: the bigram-count relation is CORPUS-GROWING, so the
    per-position lookup joins it with a forced shuffle join on the
    (prev, cur) key — the ``shared_ngram_stats`` discipline: a
    corpus-wide hot bigram is one shuffled key with a big count, never
    a broadcast of O(distinct bigrams). The unigram and prev-context
    models are vocabulary-sized, and the ``\\S+`` vocabulary of raw
    web text also grows with the corpus (Heaps' law), so their join
    sides derive from the COUNTED vocabulary size via
    ``_sized_model_side`` (broadcast under ``BAND_BROADCAST_BUDGET``,
    merge join above — a forced broadcast hint is never AQE-demoted
    and would OOM at the 100-TB design point). The count job is free:
    it is the same aggregate that produces the backoff total ``T``,
    which now rides into the score expression as a literal instead of
    a 1-row crossJoin. All count models are single map-side-combinable
    aggregates over one token posexplode.
    """
    if not 0 < backoff <= 1:
        raise ValueError(f"backoff={backoff} must be in (0, 1]")
    from pyspark import StorageLevel

    from .dedup import _eager, _pair_agg_confs

    # (doc, prev, cur) per position, prev NULL at position 1. The
    # (prev, cur) pairs materialize as a struct array FIRST and explode
    # after — exploding positions with the token array carried along
    # would copy the whole array into every row (the span-removal
    # posexplode discipline); _t is a pre-projected attribute so the
    # per-index lambda does no re-tokenization (word_ngrams contract).
    toks = df.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_t")
    )
    Lt = F.size("_t")
    pairs = F.when(
        Lt >= 1,
        F.transform(
            F.sequence(F.lit(1), Lt),
            lambda i: F.struct(
                F.when(i > 1, F.element_at("_t", i - 1)).alias("_prev"),
                F.element_at("_t", i).alias("_cur"),
            ),
        ),
    ).otherwise(
        F.expr(
            "CAST(array() AS array<struct<_prev:string,_cur:string>>)"
        )
    )
    stream = (
        toks.select("_id", F.explode(pairs).alias("_p"))
        .select("_id", F.col("_p._prev").alias("_prev"),
                F.col("_p._cur").alias("_cur"))
        .persist(StorageLevel.DISK_ONLY)  # feeds both count models AND
        # the scoring join; O(corpus tokens) rows stay on disk
    )
    try:
        with _pair_agg_confs(df.sparkSession):
            uni = stream.groupBy("_cur").agg(
                F.count(F.lit(1)).alias("_uc")
            )
            # one stats job prices the vocabulary-sized models AND
            # produces the backoff total T (no separate crossJoin)
            total, vocab, avg_w = uni.select(
                F.sum("_uc").cast("double"),
                F.count(F.lit(1)),
                F.avg(F.length("_cur")),
            ).collect()[0]
            T = float(total) if total is not None else 1.0
            vocab = int(vocab)
            avg_w = float(avg_w or 0.0)
            big = (
                stream.where(F.col("_prev").isNotNull())
                .groupBy("_prev", "_cur")
                .agg(F.count(F.lit(1)).alias("_bc"))
            )
            # prev-context totals == unigram counts of the prev token
            # for every non-final position; counting them directly from
            # the stream keeps the semantics exact at document edges
            ctx = (
                stream.where(F.col("_prev").isNotNull())
                .groupBy("_prev")
                .agg(F.count(F.lit(1)).alias("_cc"))
            )
            scored = (
                stream.join(big.hint("merge"), ["_prev", "_cur"], "left")
                .join(
                    _sized_model_side(ctx, vocab, avg_w), "_prev", "left"
                )
                .join(_sized_model_side(uni, vocab, avg_w), "_cur")
                .select(
                    "_id",
                    F.when(
                        F.col("_bc").isNotNull(),
                        F.col("_bc").cast("double") / F.col("_cc"),
                    )
                    .when(
                        # document-initial token: plain unigram, no
                        # backoff penalty (there was no history to miss)
                        F.col("_prev").isNull(),
                        F.col("_uc").cast("double") / F.lit(T),
                    )
                    .otherwise(
                        F.lit(float(backoff))
                        * F.col("_uc").cast("double")
                        / F.lit(T)
                    )
                    .alias("_s"),
                )
            )
            return _eager(
                scored.groupBy("_id")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_tokens"),
                    F.round(F.avg(-F.log("_s")), 6).alias("nll2"),
                )
                .select(F.col("_id").alias(id_col), "n_tokens", "nll2")
            )
    finally:
        stream.unpersist()
