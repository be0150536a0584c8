"""Corpus curation and training-data selection over a DataFrame.

``curate`` runs an ordered, opt-in chain of curation steps and
``select_data`` runs one selection method. Each writes its output
directory and returns a JSON-ready report. The steps they share are one
helper each: ``classifier_survivors`` (the GPT-3 quality classifier
with its Pareto keep rule), ``text.gopher_filter`` and ``dsir_picks``.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators import InputRefused
from .operators import dedup as dedup_ops
from .operators import text as text_ops

# ``curate`` applies the steps it is given in this order
CURATE_STEPS = (
    "url-screen", "c4-clean", "paragraph-dedup", "exact-dedup",
    "exact-substr", "decontaminate", "gopher", "classifier", "dsir",
    "split",
)
SELECT_METHODS = ("dsir", "gopher", "classifier", "prototypes", "temperature")


def _barrier(d: DataFrame) -> DataFrame:
    # A lazy localCheckpoint after every mutating stage: each stage's
    # report count is an action, and without a barrier stage k's count
    # would re-run the text rewrites of stages 1..k-1 (shuffle-file
    # reuse only shields the exchanges). Lazy, so a stage that is never
    # counted costs nothing.
    return d.localCheckpoint(eager=False)


def classifier_survivors(
    df: DataFrame, model: dict | None = None, target_filter: str | None = None,
    *, train_sample: int = 1_000_000, iters: int = 15, buckets: int = 4096,
    hash_fn: str = "md5", alpha: float = 9.0, salt: str = "",
    model_out: str | None = None, text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ``(id, quality_prob)`` rows of ``df`` that the GPT-3 Pareto
    keep rule keeps (Brown et al. 2020, App. A). Give exactly one of
    ``model`` (a trained model, as ``train_quality_classifier`` returns
    it) and ``target_filter`` (a SQL predicate over ``df`` defining the
    positive class). With ``target_filter`` the model trains on a
    deterministic hash sample of about ``train_sample`` documents (0:
    all of them) — train on a bounded sample, score the lake: map-only,
    no sort. ``model_out`` saves the model as JSON, atomically."""
    if (model is None) == (not target_filter):
        raise ValueError(
            "the classifier needs exactly one of model / target_filter"
        )
    if model is None:
        labeled = df.withColumn(
            "_y",
            F.coalesce(F.expr(target_filter).cast("int"), F.lit(0)),
        )
        if train_sample:
            n_rows = df.count()
            if n_rows > train_sample:
                labeled = labeled.where(
                    text_ops.hash_draw(id_col, "|train-sample")
                    < text_ops.hash_threshold(train_sample / n_rows)
                )
        model = text_ops.train_quality_classifier(
            labeled, "_y", n_buckets=buckets, iters=iters,
            text_col=text_col, id_col=id_col, hash_fn=hash_fn,
        )
    if model_out:
        tmp_model = model_out + ".tmp"
        with open(tmp_model, "w") as fh:
            json.dump(model, fh)
        os.replace(tmp_model, model_out)
    return text_ops.pareto_quality_filter(
        df, model, alpha=alpha, salt=salt, text_col=text_col, id_col=id_col
    )


def dsir_picks(
    df: DataFrame, k: int, target: str | None = None,
    target_filter: str | None = None, *, salt: str = "",
    buckets: int = 4096, hash_fn: str = "md5", text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): the ``k`` documents
    of ``df`` drawn Gumbel-top-k by hashed-n-gram importance weight,
    deterministic under ``salt``. The target is exactly one of a
    separate parquet corpus (``target``, a path) and a SQL predicate
    slice of ``df`` (``target_filter``), which takes the one-pass path:
    the pool gram stream carries the membership bit."""
    if bool(target) == bool(target_filter):
        raise ValueError("DSIR needs exactly one of target / target_filter")
    return text_ops.dsir_select(
        df, df.sparkSession.read.parquet(target) if target else None, k,
        salt=salt, n_buckets=buckets, hash_fn=hash_fn, text_col=text_col,
        id_col=id_col,
        target_predicate=None if target else F.expr(target_filter),
    )


def curate(
    df: DataFrame, steps: list[str], out: str, *,
    text_col: str = "text", id_col: str = "doc_id",
    url_col: str = "url", blocklist: list[str] | None = None,
    c4_min_words: int = 5, c4_min_sentences: int = 3,
    badwords: list[str] | None = None,
    benchmark: str | None = None, ngram: int = 8, decon_mode: str = "cut",
    paragraph_sep: str = "\n",
    substr_min_tokens: int = 50, substr_mode: str = "cut",
    substr_tokenizer: str = "whitespace",
    substr_merges: list[tuple[str, str]] | None = None,
    audit_out: str | None = None, audit_k: int = 25,
    gopher_rules: Sequence[str] = text_ops.GOPHER_RULES[:4],
    clf_model: dict | None = None, clf_target_filter: str | None = None,
    clf_model_out: str | None = None, clf_train_sample: int = 1_000_000,
    clf_iters: int = 15, pareto_alpha: float = 9.0,
    dsir_target: str | None = None, dsir_target_filter: str | None = None,
    dsir_k: int | None = None,
    buckets: int = 4096, hash_fn: str = "md5",
    split_ratios: dict[str, float] | None = None, salt: str = "",
) -> dict:
    """Run the ``steps`` (a subset of ``CURATE_STEPS``, applied in that
    order) over ``df``, write the survivors to ``out`` and return the
    report with per-stage counts. ``benchmark`` and ``dsir_target`` are
    parquet paths; ``blocklist`` and ``badwords`` are the entries of
    the url-screen and c4-clean lists (``None``: no list); ``clf_model``
    and ``substr_merges`` are a loaded model and BPE merge table.

    Raises ``InputRefused`` when a step that rejoins rewritten text on
    ``id_col`` meets NULL ids (the equi-join would drop those rows
    silently; a null-safe rejoin would cross-match them), and when
    url-screen meets no ``url_col``.
    """
    unknown = sorted(set(steps) - set(CURATE_STEPS))
    if unknown or not steps:
        raise ValueError(f"unknown curate steps: {unknown or 'none given'}")
    steps = [s for s in CURATE_STEPS if s in steps]
    if "url-screen" in steps and url_col not in df.columns:
        raise InputRefused(
            f"curate: url-screen needs column {url_col!r} "
            f"(have {df.columns}); pass --url-column"
        )
    spark = df.sparkSession
    tcol, icol = text_col, id_col
    report: dict = {"InputRows": df.count(), "Steps": steps}
    # url-screen is a rejoin step too: dedup_by_url keys its survivor
    # semi-join on (url_norm, id), so a NULL id would drop the row
    rejoin_steps = {
        "url-screen", "c4-clean", "paragraph-dedup", "exact-substr",
        "decontaminate",
    } & set(steps)
    if rejoin_steps:
        n_null_ids = df.where(F.col(icol).isNull()).count()
        report["NullIdRows"] = n_null_ids
        if n_null_ids:
            raise InputRefused(
                f"curate: {n_null_ids} input rows have NULL "
                f"{icol!r}; steps {sorted(rejoin_steps)} rejoin "
                "rewritten text on that column and would silently "
                "drop them — assign non-NULL ids and rerun"
            )
    if "url-screen" in steps:
        from .operators import urls as url_ops

        n_before = report["InputRows"]
        if blocklist is not None:
            df = _barrier(url_ops.filter_blocked_domains(
                df, blocklist, url_col=url_col, id_col=icol
            ))
            n_after_block = df.count()
            report["UrlBlocked"] = n_before - n_after_block
            n_before = n_after_block
        df = _barrier(url_ops.dedup_by_url(
            df, url_col=url_col, id_col=icol
        ).drop("url_norm"))
        n_url = df.count()
        report["UrlDupRows"] = n_before - n_url
        report["UrlSurvivors"] = n_url
    if "c4-clean" in steps:
        c4 = _barrier(text_ops.c4_clean(
            df, text_col=tcol, id_col=icol,
            min_words=c4_min_words,
            min_sentences=c4_min_sentences,
            badwords=badwords,
        ))
        n_before = df.count()
        stats = c4.agg(
            F.sum("n_lines").alias("nl"),
            F.sum("kept_lines").alias("kl"),
            F.sum(F.col("kept").cast("long")).alias("k"),
        ).collect()[0]
        report["C4LinesDropped"] = int(
            (stats["nl"] or 0) - (stats["kl"] or 0)
        )
        report["C4PagesDropped"] = n_before - int(stats["k"] or 0)
        report["C4Survivors"] = int(stats["k"] or 0)
        df = _barrier(df.drop(tcol).join(
            c4.where(F.col("kept")).select(icol, tcol), icol
        ))
    if "paragraph-dedup" in steps:
        pd_out = _barrier(dedup_ops.remove_duplicated_paragraphs(
            df, sep=paragraph_sep, text_col=tcol, id_col=icol
        ))
        report["ParagraphsRemoved"] = int(
            pd_out.agg(F.sum("removed_paragraphs")).collect()[0][0] or 0
        )
        df = _barrier(df.drop(tcol).join(pd_out.select(icol, tcol), icol))
    if "exact-dedup" in steps:
        df = _barrier(dedup_ops.exact_dedup(df, text_col=tcol, id_col=icol))
        report["ExactSurvivors"] = df.count()
    if audit_out:
        # the audit runs on exactly the relation the exact-substr step
        # is about to see (after upstream dedup), at the same min_tokens
        # and token unit, so the recorded table is the one the cut acted on
        audit = dedup_ops.top_repeated_substrings(
            df, min_tokens=substr_min_tokens, k=audit_k,
            text_col=tcol, id_col=icol,
            tokenizer=substr_tokenizer, merges=substr_merges,
        )
        audit.write.mode("error").parquet(audit_out)
        arows = spark.read.parquet(audit_out).collect()
        report["AuditOut"] = audit_out
        report["AuditRows"] = len(arows)
        if arows:
            top = max(
                arows, key=lambda r: (r["n_occurrences"], r["substring"])
            )
            report["AuditTopRepeat"] = {
                "n_occurrences": int(top["n_occurrences"]),
                "n_docs": int(top["n_docs"]),
                "substring": top["substring"][:120],
            }
    if "exact-substr" in steps:
        xs = _barrier(dedup_ops.dedup_exact_substrings(
            df, min_tokens=substr_min_tokens, text_col=tcol,
            id_col=icol, mode=substr_mode,
            tokenizer=substr_tokenizer, merges=substr_merges,
        ))
        report["SubstrTokensRemoved"] = int(
            xs.agg(F.sum("removed_tokens")).collect()[0][0] or 0
        )
        df = _barrier(df.drop(tcol).join(xs.select(icol, tcol), icol))
    if "decontaminate" in steps:
        dc = _barrier(dedup_ops.decontaminate_spans(
            df, spark.read.parquet(benchmark), n=ngram, text_col=tcol,
            id_col=icol, mode=decon_mode,
        ))
        report["ContaminatedTokensRemoved"] = int(
            dc.agg(F.sum("removed_tokens")).collect()[0][0] or 0
        )
        df = _barrier(df.drop(tcol).join(dc.select(icol, tcol), icol))
    if "gopher" in steps:
        df = _barrier(
            text_ops.gopher_filter(df, gopher_rules, tcol).select(*df.columns)
        )
        report["GopherSurvivors"] = df.count()
    if "classifier" in steps:
        # rule filtering upstream, then the Pareto keep rule over the
        # survivors: inline training sees the curated pool, the relation
        # the filter acts on
        kept = classifier_survivors(
            df, clf_model, clf_target_filter,
            train_sample=clf_train_sample, iters=clf_iters,
            buckets=buckets, hash_fn=hash_fn, alpha=pareto_alpha,
            salt=salt, model_out=clf_model_out, text_col=tcol, id_col=icol,
        )
        if clf_model_out:
            report["ClassifierModelOut"] = clf_model_out
        df = _barrier(df.join(kept.select(icol), icol))
        report["ClassifierSurvivors"] = df.count()
    if "dsir" in steps:
        picks = dsir_picks(
            df, dsir_k, dsir_target, dsir_target_filter, salt=salt,
            buckets=buckets, hash_fn=hash_fn, text_col=tcol, id_col=icol,
        )
        df = _barrier(df.join(picks.select(icol), icol))
        report["DsirSelected"] = df.count()
    if "split" in steps:
        df = text_ops.deterministic_split(
            df, key_col=icol, ratios=split_ratios, salt=salt
        )
    df.write.mode("error").parquet(out)
    out_df = spark.read.parquet(out)
    report["OutputRows"] = out_df.count()
    if "split" in steps:
        report["SplitCounts"] = {
            r["split"]: r["count"]
            for r in out_df.groupBy("split").count().collect()
        }
    report["Out"] = out
    return report


def select_data(
    df: DataFrame, method: str, out: str, *,
    target_filter: str | None = None, target: str | None = None,
    k: int | None = None, salt: str = "",
    buckets: int = 4096, hash_fn: str = "md5",
    rules: Sequence[str] = text_ops.GOPHER_RULES,
    pareto_alpha: float = 9.0, iters: int = 15,
    model: dict | None = None, model_out: str | None = None,
    train_sample: int = 1_000_000,
    text_col: str = "text", id_col: str = "doc_id",
    emb_col: str = "embedding", keep_frac: float | None = None,
    clusters: int = 64, prune_mode: str = "hard",
    alpha: float = 0.5, target_total: int | None = None,
    stratum_col: str = "source", max_rate: float | None = None,
) -> dict:
    """Select training data from ``df`` by one of ``SELECT_METHODS``,
    write the selection to ``out`` and return the report:
    - dsir: ``k`` documents by ``dsir_picks``, with ``log_w`` and
      ``score``;
    - gopher: the rows passing ``rules``, with the rule flags;
    - classifier: the ``classifier_survivors``, with ``quality_prob``;
    - prototypes: the ``keep_frac`` of every k-means cluster farthest
      from (``prune_mode`` hard) or nearest to (easy) its prototype;
    - temperature: a temperature-``alpha`` mixture over ``stratum_col``.
    """
    if method not in SELECT_METHODS:
        raise ValueError(f"unknown selection method {method!r}")
    n_in = df.count()
    if method == "gopher":
        selected = text_ops.gopher_filter(df, rules, text_col)
    elif method == "temperature":
        selected = text_ops.temperature_mixture(
            df, alpha=alpha, target_total=target_total,
            stratum_col=stratum_col, key_col=id_col, salt=salt,
            max_rate=max_rate,
        )
    elif method == "prototypes":
        from .operators import similarity as sim_ops

        cent = sim_ops.train_ivf_centroids(
            df, n_centroids=clusters, emb_col=emb_col
        )
        kept = sim_ops.prune_prototypes(
            df, cent, keep_frac, mode=prune_mode, emb_col=emb_col,
            id_col=id_col,
        )
        selected = df.join(
            kept.select(id_col, "ivf_cell", "proto_sim"), id_col
        )
    elif method == "dsir":
        picks = dsir_picks(
            df, k, target, target_filter, salt=salt, buckets=buckets,
            hash_fn=hash_fn, text_col=text_col, id_col=id_col,
        )
        selected = df.join(picks.select(id_col, "log_w", "score"), id_col)
    else:  # classifier
        kept = classifier_survivors(
            df, model, target_filter, train_sample=train_sample,
            iters=iters, buckets=buckets, hash_fn=hash_fn,
            alpha=pareto_alpha, salt=salt, model_out=model_out,
            text_col=text_col, id_col=id_col,
        )
        selected = df.join(kept, id_col)
    selected.write.mode("error").parquet(out)
    return {
        "Method": method,
        "InputRows": n_in,
        "SelectedRows": df.sparkSession.read.parquet(out).count(),
        "Out": out,
    }
