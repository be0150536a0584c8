"""Command-line driver mirroring the reference's REST workflows.

Each subcommand maps 1:1 onto an ``api.Engine`` call (which maps 1:1
onto a reference endpoint — see api.py's per-method citations), so a
user scripting the reference's API can port a runbook line by line:

    python -m amazon_s3_find_and_forget_spark put-mapper customers \\
        --location /lake/customers --format parquet --column customer_id
    python -m amazon_s3_find_and_forget_spark enqueue --match-id 12345
    python -m amazon_s3_find_and_forget_spark enqueue --composite \\
        first=John --composite last=Doe --data-mapper customers
    python -m amazon_s3_find_and_forget_spark process
    python -m amazon_s3_find_and_forget_spark list-jobs
    python -m amazon_s3_find_and_forget_spark job-events <job-id>

State lives under ``--state-dir`` (default ``./.s3f2-state``); output is
one JSON document per command on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _emit(obj) -> None:
    print(json.dumps(obj, indent=2, default=str))


def collect_auth_tokens(
    argv_specs: list[str],
    token_file: str | None,
    env_vars: list[str],
    error,
) -> dict[str, dict]:
    """Merge the three ``serve`` token sources into the
    ``BearerTokenAuthorizer`` table. Argv specs are supported for
    parity but file/env are the documented path — argv leaks into
    process listings and shell history. Each spec is TOKEN[:USERNAME];
    the principal's Sub is a truncated sha256 so no live credential
    bytes reach the persisted job documents (CreatedBy) or GET
    /v1/jobs responses."""
    import hashlib

    specs = list(argv_specs)
    if token_file:
        with open(token_file) as f:
            specs += [
                line.strip()
                for line in f
                if line.strip() and not line.lstrip().startswith("#")
            ]
    for var in env_vars:
        val = os.environ.get(var)
        if not val:
            error(f"--auth-token-env {var}: variable unset or empty")
        specs.append(val)
    if (argv_specs or token_file or env_vars) and not specs:
        # the operator explicitly configured auth, but every source came
        # up empty (e.g. a token file of blank/comment lines) — starting
        # in open mode would silently drop the intended auth wall
        error(
            "auth was configured (--auth-token/-file/-env) but no token "
            "specs were found; refusing to start unauthenticated"
        )
    tokens = {}
    for spec in specs:
        token, _, user = spec.partition(":")
        if not token:
            # a ':user' line would register the EMPTY token, which a bare
            # 'Authorization: Bearer' header hashes to — auth would look
            # enforced while any unauthenticated client passes
            error(
                f"auth token spec {spec!r} has an empty token part "
                "(expected TOKEN[:USERNAME])"
            )
        tokens[token] = {
            "Username": user or "api-user",
            "Sub": hashlib.sha256(token.encode()).hexdigest()[:12],
        }
    return tokens


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="amazon_s3_find_and_forget_spark")
    p.add_argument("--state-dir", default="./.s3f2-state")
    p.add_argument("--cpus", type=int, default=8)
    sub = p.add_subparsers(dest="cmd", required=True)

    pm = sub.add_parser("put-mapper", help="register a lake table")
    pm.add_argument("mapper_id")
    pm.add_argument("--location", required=True)
    pm.add_argument("--format", default="parquet", choices=["parquet", "json"])
    pm.add_argument(
        "--column",
        action="append",
        required=True,
        help="identifier column (dot path); repeatable",
    )
    pm.add_argument("--schema", default="", help="DDL schema (JSON lakes)")
    pm.add_argument("--partition-filter", default="")
    pm.add_argument(
        "--delete-mode",
        default="delete",
        choices=["delete", "redact"],
        help="redact keeps matching rows and nulls --redact-column "
        "(defaults to the identifier columns)",
    )
    pm.add_argument(
        "--redact-column",
        action="append",
        default=[],
        help="column nulled in redact mode (dot path); repeatable",
    )

    sub.add_parser("list-mappers", help="list registered mappers")

    dm = sub.add_parser("delete-mapper")
    dm.add_argument("mapper_id")

    eq = sub.add_parser("enqueue", help="queue simple/composite matches")
    eq.add_argument("--match-id", action="append", default=[],
                    help="simple match id; repeatable")
    eq.add_argument(
        "--composite",
        action="append",
        default=[],
        metavar="COL=VAL",
        help="composite column=value pair; repeat to build one match",
    )
    eq.add_argument("--data-mapper", action="append", default=[],
                    help="restrict the match to specific mappers")

    lq = sub.add_parser(
        "list-queue", help="id-keyed queue page, as GET /v1/queue"
    )
    lq.add_argument("--start-at", help="a page's NextStart (exclusive)")
    lq.add_argument("--page-size", type=int, default=20)
    sub.add_parser("process", help="run the deletion job for the queue")
    sub.add_parser("list-jobs")

    je = sub.add_parser("job-events", help="watermark-paged event log")
    je.add_argument("job_id")
    je.add_argument("--start-at", default="0")
    je.add_argument("--page-size", type=int, default=20)

    dj = sub.add_parser(
        "delete-job", help="delete a job document + its manifest partitions"
    )
    dj.add_argument("job_id")
    dj.add_argument(
        "--force",
        action="store_true",
        help="delete even an active-status job (recover a wedged run)",
    )

    sub.add_parser(
        "expire-jobs",
        help="sweep jobs past their JobDetailsRetentionDays expiry",
    )

    sub.add_parser(
        "metrics", help="operational gauges: queue depth, job statuses"
    )

    ck = sub.add_parser(
        "check", help="declarative data-quality gate over a lake directory"
    )
    ck.add_argument("--location", required=True)
    ck.add_argument("--format", default="parquet", choices=["parquet", "json"])
    ck.add_argument("--schema", default="", help="DDL schema (JSON lakes)")
    ck.add_argument("--not-null", action="append", default=[],
                    help="column that must never be NULL; repeatable")
    ck.add_argument("--unique", action="append", default=[],
                    metavar="COL[,COL...]",
                    help="column list that must be row-unique; repeatable")
    ck.add_argument("--range", action="append", default=[],
                    metavar="COL:LO:HI",
                    help="inclusive numeric bounds; repeatable")
    ck.add_argument("--accepted", action="append", default=[],
                    metavar="COL:V1[,V2...]",
                    help="allowed values; repeatable")
    ck.add_argument(
        "--fail-on-violation",
        action="store_true",
        help="exit 1 if any rule reports violations",
    )

    st = sub.add_parser("settings", help="get or update engine settings")
    st.add_argument(
        "--set",
        action="append",
        default=[],
        metavar="KEY=VALUE",
        help="setting to update (repeatable); no --set prints current",
    )

    vc = sub.add_parser(
        "vacuum",
        help="maintenance pass: compact small files + purge old versions",
    )
    vc.add_argument("--location", required=True)
    vc.add_argument("--target-bytes", type=int, default=128 << 20)
    vc.add_argument(
        "--keep-versions",
        action="store_true",
        help="skip the old-version purge (compaction only)",
    )

    sv = sub.add_parser(
        "serve",
        help="serve the reference's REST API (templates/api.yaml routes) "
        "over this engine on HTTP",
    )
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=8080)
    sv.add_argument(
        "--sync-jobs",
        action="store_true",
        help="DELETE /v1/queue blocks until the job document is "
        "terminal instead of the reference's 202-then-poll",
    )
    sv.add_argument(
        "--auth-token",
        action="append",
        default=[],
        metavar="TOKEN[:USERNAME]",
        help="require 'Authorization: Bearer TOKEN' on every route "
        "(repeatable, one per principal); without any token source the "
        "API is open (private-gateway mode). NOTE: argv is visible in "
        "process listings and shell history — prefer --auth-token-file "
        "or --auth-token-env",
    )
    sv.add_argument(
        "--auth-token-file",
        default=None,
        metavar="PATH",
        help="read TOKEN[:USERNAME] specs from a file, one per line "
        "(blank lines and #-comments skipped) — keeps credentials out "
        "of argv",
    )
    sv.add_argument(
        "--auth-token-env",
        action="append",
        default=[],
        metavar="VAR",
        help="read a TOKEN[:USERNAME] spec from the named environment "
        "variable (repeatable)",
    )

    ds = sub.add_parser(
        "dedup-screen",
        help="screen a newly-landed parquet batch against a persisted "
        "dedup index; novel docs and the index delta are appended",
    )
    ds.add_argument("--input", required=True, help="arriving batch (parquet)")
    ds.add_argument("--index-dir", required=True)
    ds.add_argument("--novel-out", required=True)
    ds.add_argument("--mode", default="exact",
                    choices=["exact", "minhash", "embedding", "bloom"])
    ds.add_argument("--text-column", default="text")
    ds.add_argument("--id-column", default="doc_id")
    ds.add_argument("--threshold", type=float, default=None,
                    help="similarity threshold (minhash default 0.8, "
                    "embedding cosine default 0.95)")
    ds.add_argument("--embedding-column", default="embedding")
    ds.add_argument("--dim", type=int, default=None,
                    help="vector dimension (required for --mode embedding)")
    ds.add_argument("--bits", type=int, default=10,
                    help="hyperplane bits per LSH table (embedding mode); "
                    "MUST match what the index was built with — a "
                    "bits/seed mismatch is undetectable from the keys "
                    "and silently loses recall")
    ds.add_argument("--tables", type=int, default=8,
                    help="LSH tables (embedding mode); must match the "
                    "index (table-count mismatches ARE detected)")
    ds.add_argument("--lsh-seed", type=int, default=42,
                    help="hyperplane seed (embedding mode); must match "
                    "the index — mismatches are undetectable, see --bits")
    ds.add_argument("--bloom-capacity", type=int, default=None,
                    help="bloom mode, FIRST batch only: expected total "
                    "corpus size the filter is sized for (the filter's "
                    "memory is fixed up front — Bloom's whole point); "
                    "later batches inherit the index's geometry")
    ds.add_argument("--bloom-fpp", type=float, default=0.01,
                    help="bloom mode: priced false-positive rate — the "
                    "fraction of genuinely-novel documents the screen "
                    "may wrongly drop (default 1%%)")
    ds.add_argument("--assume-hash-scheme", type=int, default=None,
                    help="bloom mode: declare the hash scheme of an "
                    "index whose delta rows predate hash-scheme "
                    "stamping (NULL hash_scheme). Only the current "
                    "scheme is accepted; declaring an older scheme "
                    "still refuses (the bitmaps are incompatible — "
                    "rebuild). Stamped rows ignore this flag.")
    ds.add_argument(
        "--batch-id",
        default=None,
        help="explicit idempotency key for this batch's output "
        "partitions; defaults to a digest of the resolved --input path "
        "plus its file listing (names, sizes, mtimes), so new data at "
        "a reused path gets a new identity while a pure retry keeps "
        "the old one (pass this when identical data re-lands at a "
        "different path and must screen as the same batch)",
    )

    ci = sub.add_parser(
        "compact-index",
        help="fold a dedup-screen index's per-batch delta directories "
        "into a base partition (protocol-aware: retried batches still "
        "never see their own output); run between screens",
    )
    ci.add_argument("--index-dir", required=True)

    sd = sub.add_parser(
        "select-data",
        help="training-data selection over a parquet corpus: DSIR "
        "importance resampling against a target, Gopher rule "
        "filtering, or a trained quality-classifier Pareto filter",
    )
    sd.add_argument("--input", required=True, help="pool corpus (parquet)")
    sd.add_argument("--out", required=True, help="output directory")
    sd.add_argument(
        "--method",
        required=True,
        choices=["dsir", "gopher", "classifier", "prototypes",
                 "temperature"],
    )
    sd.add_argument(
        "--target-filter",
        default=None,
        help="SQL predicate over the input defining the target/positive "
        "set (dsir + classifier), e.g. \"lang = 'en'\"",
    )
    sd.add_argument(
        "--target",
        default=None,
        help="separate target corpus (parquet path; dsir alternative to "
        "--target-filter)",
    )
    sd.add_argument("--k", type=int, default=None,
                    help="documents to select (dsir; required)")
    sd.add_argument("--salt", default="",
                    help="re-deal the deterministic draws (dsir gumbel / "
                    "classifier pareto)")
    sd.add_argument("--buckets", type=int, default=4096)
    sd.add_argument("--hash", default="md5", choices=["md5", "xxhash64"],
                    help="gram bucket hash: md5 is engine-portable, "
                    "xxhash64 is the faster production path")
    sd.add_argument(
        "--rules",
        default="word_count,mean_word_len,symbol_ratio,alpha_words,"
        "stop_words",
        help="comma-separated Gopher rules the survivors must pass "
        "(gopher mode)",
    )
    sd.add_argument("--pareto-alpha", type=float, default=9.0,
                    help="Pareto shape for the classifier keep rule")
    sd.add_argument("--iters", type=int, default=15,
                    help="classifier calibration GD iterations")
    sd.add_argument("--model-out", default=None,
                    help="save the trained classifier model (JSON) so "
                    "later runs can score without retraining")
    sd.add_argument("--model-in", default=None,
                    help="load a saved classifier model instead of "
                    "training (classifier mode; --target-filter not "
                    "needed)")
    sd.add_argument("--train-sample", type=int, default=1_000_000,
                    help="cap on documents used to TRAIN the classifier "
                    "when --target-filter trains from the input corpus "
                    "(deterministic hash-ordered sample; the operator's "
                    "contract is train on a bounded sample, score the "
                    "lake — without a cap the 15 GD aggregates would "
                    "run over a lake-scale feature matrix). 0 disables "
                    "the cap")
    sd.add_argument("--text-column", default="text")
    sd.add_argument("--id-column", default="doc_id")
    sd.add_argument("--emb-column", default="embedding",
                    help="embedding column (prototypes mode)")
    sd.add_argument("--keep-frac", type=float, default=None,
                    help="fraction of every cluster to keep "
                    "(prototypes mode; required)")
    sd.add_argument("--clusters", type=int, default=64,
                    help="k-means prototype count (prototypes mode)")
    sd.add_argument("--prune-mode", default="hard",
                    choices=["hard", "easy"],
                    help="keep the far-from-prototype (hard) or "
                    "near-prototype (easy) examples")
    sd.add_argument("--alpha", type=float, default=0.5,
                    help="temperature exponent (temperature mode): 1 = "
                    "natural sampling, smaller = flatter across strata")
    sd.add_argument("--target-total", type=int, default=None,
                    help="expected output size (temperature mode; "
                    "default: corpus size)")
    sd.add_argument("--stratum-column", default="source",
                    help="stratum column (temperature mode)")
    sd.add_argument("--max-rate", type=float, default=None,
                    help="cap on per-stratum sampling rate / epoch "
                    "count (temperature mode)")

    cu = sub.add_parser(
        "curate",
        help="composed corpus curation: an ordered, opt-in chain of "
        "url-screen -> c4-clean -> paragraph-dedup -> exact-dedup -> "
        "exact-substr -> benchmark decontamination -> Gopher "
        "filtering -> classifier (GPT-3 Pareto) -> dsir (importance "
        "resampling) -> train/val/test split, one pass, one JSON "
        "report with per-stage counts",
    )
    cu.add_argument("--input", required=True, help="pool corpus (parquet)")
    cu.add_argument("--out", required=True, help="output directory")
    cu.add_argument(
        "--steps",
        default="exact-dedup,gopher,split",
        help="comma-separated subset of: url-screen, c4-clean, "
        "paragraph-dedup, exact-dedup, exact-substr, decontaminate, "
        "gopher, classifier, dsir, split (always applied in that "
        "order)",
    )
    cu.add_argument("--url-column", default="url",
                    help="url-screen step: column carrying the page "
                    "URL (the step fails loudly if absent)")
    cu.add_argument("--blocklist-file", default=None,
                    help="url-screen step: optional domain blocklist, "
                    "one domain per line ('#' comments); entries match "
                    "hosts at label boundaries (example.com blocks "
                    "ads.example.com)")
    cu.add_argument("--c4-min-words", type=int, default=5,
                    help="c4-clean step: minimum words per retained "
                    "line (Raffel et al. 2020 use 5)")
    cu.add_argument("--c4-min-sentences", type=int, default=3,
                    help="c4-clean step: minimum sentences (terminal "
                    "punctuation marks in the retained text) per page")
    cu.add_argument("--badwords-file", default=None,
                    help="c4-clean step: optional word blocklist, one "
                    "word per line ('#' comments) — pages containing "
                    "any entry (word-boundary, case-insensitive) are "
                    "dropped; the engine ships no list")
    cu.add_argument("--benchmark", default=None,
                    help="benchmark corpus (parquet; required for the "
                    "decontaminate step)")
    cu.add_argument("--ngram", type=int, default=8,
                    help="decontamination n-gram length")
    cu.add_argument("--decon-mode", default="cut", choices=["cut", "mask"])
    cu.add_argument("--paragraph-sep", default="\n")
    cu.add_argument("--substr-min-tokens", type=int, default=50,
                    help="exact-substr step: minimum repeated-substring "
                    "length in tokens (Lee et al. 2021 use 50 BPE "
                    "tokens)")
    cu.add_argument("--substr-mode", default="cut",
                    choices=["cut", "mask"])
    cu.add_argument("--substr-tokenizer", default="whitespace",
                    choices=["whitespace", "bpe"],
                    help="exact-substr token unit: whitespace words, or "
                    "byte-level BPE (Lee et al.'s released tool's unit — "
                    "--substr-min-tokens then means BPE tokens; pass the "
                    "model's merge table via --substr-merges, omit for "
                    "pure byte level)")
    cu.add_argument("--substr-merges", default=None,
                    help="GPT-2-format merges.txt for "
                    "--substr-tokenizer bpe")
    cu.add_argument("--audit-out", default=None,
                    help="write the memorization-audit table (top-k "
                    "most-repeated verbatim --substr-min-tokens-token "
                    "windows, Lee et al. 2021) as parquet BEFORE the "
                    "exact-substr step runs — the diagnostic a curation "
                    "run reads to choose its cut threshold, recorded "
                    "alongside the run that acted on it")
    cu.add_argument("--audit-k", type=int, default=25,
                    help="audit table size (rows)")
    cu.add_argument(
        "--rules",
        default="word_count,mean_word_len,symbol_ratio,alpha_words",
        help="Gopher rules survivors must pass (gopher step)",
    )
    cu.add_argument("--clf-model-in", default=None,
                    help="classifier step: load a trained quality-"
                    "classifier model (JSON, as saved by select-data "
                    "--model-out or --clf-model-out) instead of "
                    "training inline")
    cu.add_argument("--clf-model-out", default=None,
                    help="classifier step: save the inline-trained "
                    "model (JSON) so later runs score without "
                    "retraining")
    cu.add_argument("--clf-target-filter", default=None,
                    help="classifier step: SQL predicate over the "
                    "curated pool defining the positive/curated class "
                    "— trains the GPT-3-style classifier inline on a "
                    "bounded sample (exactly one of this and "
                    "--clf-model-in)")
    cu.add_argument("--clf-train-sample", type=int, default=1_000_000,
                    help="classifier step: cap on documents used to "
                    "TRAIN inline (deterministic hash sample; 0 "
                    "disables)")
    cu.add_argument("--clf-iters", type=int, default=15,
                    help="classifier step: calibration GD iterations")
    cu.add_argument("--pareto-alpha", type=float, default=9.0,
                    help="classifier step: Pareto shape for the GPT-3 "
                    "keep rule")
    cu.add_argument("--dsir-target", default=None,
                    help="dsir step: target corpus (parquet path)")
    cu.add_argument("--dsir-target-filter", default=None,
                    help="dsir step: SQL predicate over the curated "
                    "pool defining the target set (exactly one of "
                    "this and --dsir-target)")
    cu.add_argument("--dsir-k", type=int, default=None,
                    help="dsir step: documents to resample (required "
                    "with the step)")
    cu.add_argument("--buckets", type=int, default=4096,
                    help="hashed n-gram feature buckets (classifier "
                    "and dsir steps)")
    cu.add_argument("--hash", default="md5", choices=["md5", "xxhash64"],
                    help="gram bucket hash (classifier/dsir): md5 is "
                    "engine-portable, xxhash64 the faster production "
                    "path")
    cu.add_argument("--split-ratios", default="train:0.9,val:0.05,test:0.05",
                    help="NAME:FRACTION list for the split step")
    cu.add_argument("--salt", default="",
                    help="re-deal the deterministic draws (split "
                    "assignment, classifier Pareto, dsir gumbel)")
    cu.add_argument("--text-column", default="text")
    cu.add_argument("--id-column", default="doc_id")

    zo = sub.add_parser(
        "zorder",
        help="re-cluster a parquet lake on a Z-order curve for "
        "multi-column min/max pruning",
    )
    zo.add_argument("--location", required=True)
    zo.add_argument(
        "--by", required=True, help="comma-separated columns to cluster on"
    )
    zo.add_argument("--out", required=True, help="output directory")
    zo.add_argument("--files", type=int, default=16)

    args = p.parse_args(argv)

    # validate argument semantics first: a data command would otherwise
    # fail only after the Engine has started its session
    if args.cmd == "enqueue":
        if not args.match_id and not args.composite:
            p.error("enqueue needs --match-id and/or --composite")
        bad = [c for c in args.composite if "=" not in c]
        if bad:
            p.error(f"--composite takes COL=VAL, got {bad[0]!r}")
        if args.composite and len(args.data_mapper) != 1:
            p.error(
                "a composite match requires exactly one --data-mapper "
                "(reference queue semantics)"
            )
    if args.cmd == "check":
        if not (args.not_null or args.unique or args.range or args.accepted):
            p.error("check needs at least one rule")
        bad = [s for s in args.range if s.count(":") < 2]
        if bad:
            p.error(f"--range takes COL:LO:HI, got {bad[0]!r}")
        bad = [s for s in args.accepted if ":" not in s]
        if bad:
            p.error(f"--accepted takes COL:V1[,V2...], got {bad[0]!r}")
    gopher_rules: list[str] = []
    if args.cmd == "select-data":
        if args.method == "dsir":
            if args.k is None or args.k < 1:
                p.error("--method dsir requires --k >= 1")
            if not (args.target_filter or args.target):
                p.error("--method dsir requires --target-filter or --target")
        if (
            args.method == "classifier"
            and not args.target_filter
            and not args.model_in
        ):
            p.error(
                "--method classifier requires --target-filter or --model-in"
            )
        if args.method == "prototypes" and (
            args.keep_frac is None or not 0 < args.keep_frac <= 1
        ):
            p.error("--method prototypes requires --keep-frac in (0, 1]")
        if args.method == "gopher":
            known = {
                "word_count", "mean_word_len", "symbol_ratio",
                "alpha_words", "stop_words",
            }
            gopher_rules = [
                r.strip() for r in args.rules.split(",") if r.strip()
            ]
            bad_rules = sorted(set(gopher_rules) - known)
            if not gopher_rules:
                p.error("--rules needs at least one rule")
            if bad_rules:
                p.error(f"unknown Gopher rules: {bad_rules}")
    curate_steps: list[str] = []
    curate_ratios: dict[str, float] = {}
    if args.cmd == "curate":
        _order = [
            "url-screen", "c4-clean", "paragraph-dedup", "exact-dedup",
            "exact-substr", "decontaminate", "gopher", "classifier",
            "dsir", "split",
        ]
        wanted = {s.strip() for s in args.steps.split(",") if s.strip()}
        bad_steps = sorted(wanted - set(_order))
        if bad_steps:
            p.error(f"unknown curate steps: {bad_steps}")
        if not wanted:
            p.error("--steps needs at least one step")
        curate_steps = [s for s in _order if s in wanted]
        if "decontaminate" in wanted and not args.benchmark:
            p.error("the decontaminate step requires --benchmark")
        if "classifier" in wanted and (
            bool(args.clf_model_in) == bool(args.clf_target_filter)
        ):
            p.error(
                "the classifier step needs exactly one of "
                "--clf-model-in / --clf-target-filter"
            )
        if "dsir" in wanted:
            if args.dsir_k is None or args.dsir_k < 1:
                p.error("the dsir step requires --dsir-k >= 1")
            if bool(args.dsir_target) == bool(args.dsir_target_filter):
                p.error(
                    "the dsir step needs exactly one of --dsir-target "
                    "/ --dsir-target-filter"
                )
        known = {
            "word_count", "mean_word_len", "symbol_ratio",
            "alpha_words", "stop_words",
        }
        gopher_rules = [
            r.strip() for r in args.rules.split(",") if r.strip()
        ]
        bad_rules = sorted(set(gopher_rules) - known)
        if "gopher" in wanted and (bad_rules or not gopher_rules):
            p.error(f"bad Gopher rules: {bad_rules or 'empty'}")
        if "split" in wanted:
            try:
                for part in args.split_ratios.split(","):
                    name, frac = part.split(":")
                    curate_ratios[name.strip()] = float(frac)
            except ValueError:
                p.error("--split-ratios takes NAME:FRACTION[,...]")
            if abs(sum(curate_ratios.values()) - 1.0) > 1e-9:
                p.error("--split-ratios must sum to 1")
    zorder_cols: list[str] = []
    if args.cmd == "zorder":
        zorder_cols = [c.strip() for c in args.by.split(",") if c.strip()]
        if not zorder_cols:
            p.error("--by needs at least one column")
        if args.files < 1:
            p.error("--files must be >= 1")
    from .api import Engine
    from .session import get_spark

    if args.cmd == "settings":
        bad = [kv for kv in args.set if "=" not in kv]
        if bad:
            p.error(f"--set takes KEY=VALUE, got {bad[0]!r}")
        unknown = {
            kv.split("=", 1)[0] for kv in args.set
        } - set(Engine.DEFAULT_SETTINGS)
        if unknown:
            p.error(f"unknown settings: {sorted(unknown)}")
    # the Engine starts the session on first use, so commands that only
    # read and write the state dir start no JVM
    eng = Engine(
        lambda: get_spark(app_name="s3f2-cli", cpus=args.cpus), args.state_dir
    )

    if args.cmd == "put-mapper":
        cfg = {
            "Location": args.location,
            "Format": args.format,
            "Columns": args.column,
        }
        if args.schema:
            cfg["Schema"] = args.schema
        if args.partition_filter:
            cfg["PartitionFilter"] = args.partition_filter
        if args.delete_mode != "delete":
            cfg["DeleteMode"] = args.delete_mode
        if args.redact_column:
            cfg["RedactColumns"] = args.redact_column
        _emit(eng.put_data_mapper(args.mapper_id, cfg))
    elif args.cmd == "list-mappers":
        _emit(eng.list_data_mappers())
    elif args.cmd == "delete-mapper":
        eng.delete_data_mapper(args.mapper_id)
        _emit({"Deleted": args.mapper_id})
    elif args.cmd == "enqueue":
        # match ids stay strings: schema.cast_match_id types them per
        # identifier column engine-side ('007' must reach a string
        # column as '007', never a mangled 7)
        matches = [
            {"MatchId": m, "Type": "Simple"} for m in args.match_id
        ]
        if args.data_mapper:
            # --data-mapper scopes EVERY match in the command, simple
            # ones included — silently widening any of them to all
            # mappers would over-delete
            for m in matches:
                m["DataMappers"] = list(args.data_mapper)
        if args.composite:
            pairs = [c.split("=", 1) for c in args.composite]
            matches.append(
                {
                    "MatchId": [
                        {"Column": col, "Value": val} for col, val in pairs
                    ],
                    "Type": "Composite",
                    "DataMappers": args.data_mapper,
                }
            )
        _emit(eng.enqueue_matches(matches))
    elif args.cmd == "list-queue":
        items, next_start = eng.list_queue_page(args.start_at, args.page_size)
        _emit({"MatchIds": items, "NextStart": next_start})
    elif args.cmd == "process":
        _emit(eng.process_queue())
    elif args.cmd == "list-jobs":
        _emit(eng.list_jobs())
    elif args.cmd == "job-events":
        events, next_wm = eng.list_job_events(
            args.job_id, watermark=args.start_at, page_size=args.page_size
        )
        _emit({"Events": events, "NextStart": next_wm})
    elif args.cmd == "delete-job":
        _emit(eng.delete_job(args.job_id, force=args.force))
    elif args.cmd == "expire-jobs":
        _emit({"Expired": eng.expire_jobs()})
    elif args.cmd == "metrics":
        _emit(eng.metrics())
    elif args.cmd == "serve":
        from .http_api import BearerTokenAuthorizer, serve

        authorizer = None
        tokens = collect_auth_tokens(
            args.auth_token, args.auth_token_file, args.auth_token_env,
            p.error,
        )
        if tokens:
            authorizer = BearerTokenAuthorizer(tokens)
        # start the session before listening, so the first request that
        # needs it does not pay the JVM start
        eng.spark
        server = serve(
            eng,
            host=args.host,
            port=args.port,
            detach_jobs=not args.sync_jobs,
            authorizer=authorizer,
        )
        host, port = server.server_address
        print(
            json.dumps({"Serving": f"http://{host}:{port}/v1"}),
            file=sys.stderr,
        )
        try:
            server.serve_forever()
        except KeyboardInterrupt:  # pragma: no cover
            pass
        finally:
            server.server_close()
    elif args.cmd == "dedup-screen":
        import hashlib

        from pyspark.sql import functions as F

        from .operators import incremental as inc

        batch = eng.spark.read.parquet(args.input)
        # idempotency: the batch's identity is its landed input path
        # PLUS a fingerprint of the landed bytes (file listing with
        # sizes and mtimes) — outputs go to batch=<digest> partitions
        # with OVERWRITE, and screening excludes the batch's own
        # partition, so a re-run after a mid-write failure produces
        # byte-identical results instead of appending duplicates.
        # The fingerprint closes the reused-path trap: NEW data landing
        # at yesterday's path gets a NEW digest instead of silently
        # overwriting (and self-excluding) yesterday's index delta,
        # which would re-admit yesterday's documents; a pure retry
        # leaves the input files untouched and keeps the same digest.
        # realpath, not abspath: a retry reaching the same data through
        # a different symlink spelling must map to the SAME partition,
        # or the exclusion stops hiding the first attempt's
        # half-written delta and the batch's rows all match their own
        # index entries. --batch-id overrides for the case no
        # fingerprint can solve (identical data re-landed at a
        # different path that must screen as the SAME batch).
        if args.batch_id is not None:
            import re as _re

            # the id is interpolated into batch=<id> partition paths
            # AND string-compared against Spark's URL-decoded partition
            # value: '/' nests directories, '%' round-trips decoded
            # ('a%2Fb' reads back as 'a/b' and stops excluding the
            # batch's own delta), '=' breaks partition parsing — refuse
            # anything that does not round-trip verbatim
            if not _re.fullmatch(r"[A-Za-z0-9._-]{1,64}", args.batch_id):
                p.error(
                    "--batch-id must be 1-64 chars of [A-Za-z0-9._-]: "
                    "it names a batch=<id> partition directory and must "
                    "round-trip Spark's partition-value decoding "
                    "verbatim"
                )
            if args.batch_id.startswith("base-"):
                p.error(
                    "--batch-id must not start with 'base-': that "
                    "prefix names compaction base partitions, and a "
                    "batch id colliding with one would self-exclude "
                    "the folded index (compact-index) and re-admit "
                    "every indexed document"
                )
            digest = args.batch_id
        else:
            # listed through the Hadoop FS API (inc.input_fingerprint)
            # so s3a://hdfs:// inputs fingerprint their landed bytes too
            # — an os.walk of a remote scheme is silently empty, which
            # would degrade the digest to path-only and re-open the
            # reused-path trap on exactly the stores that matter.
            # Digest format v2 (round 12): local-directory digests
            # changed; a retry of a PRE-upgrade crashed batch must pass
            # --batch-id <old digest> to keep excluding its own delta.
            real, entries = inc.input_fingerprint(eng.spark, args.input)
            digest = hashlib.md5(
                "\n".join([real] + entries).encode()
            ).hexdigest()[:16]
        # a batch whose digest was already FOLDED into a compaction base
        # must not re-run: its rows now live in the base, the
        # own-partition exclusion below no longer hides them, and every
        # document would self-match — overwriting the previously-correct
        # novel output with an empty partition. (Re-screening the same
        # DATA on purpose needs a fresh --batch-id; it will then —
        # correctly — find everything already indexed.)
        if digest in inc.folded_batch_digests(eng.spark, args.index_dir):
            p.error(
                f"batch {digest} was already screened and folded into a "
                "compaction base of this index; re-running it would "
                "self-match every row and overwrite its novel output "
                "with an empty partition. If you intend to re-screen "
                "this data as a NEW batch, pass a fresh --batch-id."
            )
        if args.mode == "embedding" and args.dim is None:
            p.error("--mode embedding requires --dim")
        index_cols = {
            "exact": ["content_hash", args.id_column],
            "minhash": ["_id", "_sig"],
            "embedding": ["_id", "_u", "_k"],
            # bloom deltas are one bitmap row per batch; the read path
            # ORs committed rows, so compaction's row-concatenating
            # fold is already correct for this layout. hash_scheme is
            # NULL-filled over pre-stamp indexes (see read defaults).
            "bloom": ["bits", "num_bits", "num_hashes", "hash_scheme"],
        }[args.mode]
        # UNCOMMITTED partitions never screen: a crashed earlier run can
        # leave a markerless batch=<d1> dir with footer-bearing part
        # files, and a retry that maps to a DIFFERENT digest (e.g. the
        # input was re-staged with fresh mtimes) would otherwise read
        # that half-written delta as committed history and silently drop
        # its own documents as already-seen. Same _SUCCESS contract as
        # compact-index; the stale partial stays on disk for the
        # operator (re-run that batch, or delete the dir if superseded).
        partials = [
            n[len("batch="):]
            for n in inc._list_dirs(eng.spark, args.index_dir)
            if n.startswith("batch=")
            and not inc._has_success(
                eng.spark, f"{args.index_dir}/{n}"
            )
        ]
        keep = F.col("batch") != digest
        if partials:
            print(
                json.dumps(
                    {
                        "Warning": "uncommitted batch partitions "
                        "excluded from the screen (crashed run?)",
                        "Partitions": sorted(partials),
                    }
                ),
                file=sys.stderr,
            )
            keep = keep & ~F.col("batch").isin(partials)
        index = inc.read_index_or_empty(
            eng.spark,
            args.index_dir,
            keep,
            index_cols,
            lambda: (
                inc.exact_index(
                    batch.limit(0), args.text_column, args.id_column
                )
                if args.mode == "exact"
                else inc.minhash_index(
                    batch.limit(0), args.text_column, args.id_column
                )
                if args.mode == "minhash"
                else inc.embedding_index(
                    batch.limit(0), args.dim, args.bits, args.tables,
                    emb_col=args.embedding_column, id_col=args.id_column,
                    seed=args.lsh_seed,
                )
                if args.mode == "embedding"
                else eng.spark.createDataFrame(
                    [],
                    "bits binary, num_bits long, num_hashes int, "
                    "hash_scheme int",
                )
            ),
            defaults={"hash_scheme": "int"},
        )
        threshold = (
            args.threshold
            if args.threshold is not None
            else {"exact": 0.0, "minhash": 0.8, "embedding": 0.95,
                  "bloom": 0.0}[args.mode]
        )
        if args.mode == "exact":
            novel, delta = inc.incremental_exact_dedup(
                batch, index, args.text_column, args.id_column
            )
        elif args.mode == "bloom":
            import numpy as np

            rows = index.collect()  # one bitmap row per committed batch
            if rows:
                try:
                    inc.check_bloom_hash_scheme(
                        rows, args.index_dir, args.assume_hash_scheme
                    )
                except ValueError as e:
                    p.error(str(e))
                num_bits = int(rows[0]["num_bits"])
                n_hashes = int(rows[0]["num_hashes"])
                if any(
                    int(r["num_bits"]) != num_bits
                    or int(r["num_hashes"]) != n_hashes
                    for r in rows
                ):
                    p.error(
                        "bloom index mixes filter geometries — deltas "
                        "disagree on num_bits/num_hashes; screen a new "
                        "geometry into a fresh --index-dir"
                    )
                bits = np.zeros(num_bits // 64, dtype=np.uint64)
                for r in rows:
                    bits |= np.frombuffer(bytes(r["bits"]), dtype=np.uint64)
                # geometry is a property of the INDEX, pinned by the
                # first batch — sizing flags on a later batch cannot
                # resize a live filter, and silently ignoring them lets
                # an operator believe an undersized filter was grown
                # (it keeps screening at a higher-than-priced fp rate).
                # Warn loudly with the inherited geometry; resizing
                # means rebuilding into a fresh --index-dir.
                if args.bloom_capacity is not None:
                    want_bits, want_k = inc.bloom_params(
                        args.bloom_capacity, args.bloom_fpp
                    )
                    if (want_bits, want_k) != (num_bits, n_hashes):
                        print(
                            json.dumps(
                                {
                                    "Warning": "bloom geometry flags "
                                    "ignored: the filter keeps its "
                                    "first-batch geometry; to resize, "
                                    "rebuild into a fresh --index-dir",
                                    "InheritedNumBits": num_bits,
                                    "InheritedNumHashes": n_hashes,
                                    "RequestedNumBits": want_bits,
                                    "RequestedNumHashes": want_k,
                                }
                            ),
                            file=sys.stderr,
                        )
            else:
                if args.bloom_capacity is None:
                    p.error(
                        "--mode bloom requires --bloom-capacity on the "
                        "first batch (the filter's fixed memory is sized "
                        "from it)"
                    )
                num_bits, n_hashes = inc.bloom_params(
                    args.bloom_capacity, args.bloom_fpp
                )
                bits = np.zeros(num_bits // 64, dtype=np.uint64)
            novel, delta_bits = inc.incremental_bloom_dedup(
                batch, bits, n_hashes, args.text_column, args.id_column
            )
            delta = eng.spark.createDataFrame(
                [
                    (
                        bytearray(delta_bits.tobytes()),
                        num_bits,
                        n_hashes,
                        inc.BLOOM_HASH_SCHEME,
                    )
                ],
                "bits binary, num_bits long, num_hashes int, "
                "hash_scheme int",
            )
        elif args.mode == "minhash":
            novel, delta = inc.incremental_minhash_dedup(
                batch,
                index,
                args.text_column,
                args.id_column,
                threshold=threshold,
            )
        else:
            novel, delta = inc.incremental_embedding_dedup(
                batch,
                index,
                args.dim,
                threshold=threshold,
                bits=args.bits,
                n_tables=args.tables,
                seed=args.lsh_seed,
                emb_col=args.embedding_column,
                id_col=args.id_column,
            )
        novel.write.mode("overwrite").parquet(
            f"{args.novel_out}/batch={digest}"
        )
        delta.write.mode("overwrite").parquet(
            f"{args.index_dir}/batch={digest}"
        )
        # batch-scoped counters only: cumulative lake counts would
        # re-scan the whole corpus history just to print a log line
        _emit(
            {
                "Mode": args.mode,
                "Batch": digest,
                "BatchRows": batch.count(),
                "NovelRows": eng.spark.read.parquet(
                    f"{args.novel_out}/batch={digest}"
                ).count(),
                "IndexRowsAdded": eng.spark.read.parquet(
                    f"{args.index_dir}/batch={digest}"
                ).count(),
            }
        )
    elif args.cmd == "compact-index":
        from .operators.incremental import compact_index

        _emit(compact_index(eng.spark, args.index_dir))
    elif args.cmd == "curate":
        from pyspark.sql import functions as F

        from .operators import dedup as dedup_ops
        from .operators import text as text_ops

        df = eng.spark.read.parquet(args.input)
        tcol, icol = args.text_column, args.id_column

        def _barrier(d):
            # Lazy localCheckpoint after every mutating stage (round
            # 17): each stage's report count is an action, and without
            # a barrier stage k's count re-executes stages 1..k-1 —
            # O(stages x corpus) scans, with the expensive map-side
            # text rewrites (c4 regex chains, the ExactSubstr verify,
            # BPE pandas_udf) recomputed every time (shuffle-file
            # reuse only shields the exchanges). The barrier
            # materializes each stage ONCE at its own count and later
            # stages read the checkpoint — the same pruned-barrier
            # shape the catalog curation pipelines bench at the sf10
            # lane. eager=False so a stage that is never counted (or
            # a chain that fails validation) costs nothing.
            return d.localCheckpoint(eager=False)

        report: dict = {"InputRows": df.count(), "Steps": curate_steps}
        # Non-NULL id contract, enforced up front: the rewrite steps
        # (paragraph-dedup, decontaminate) rejoin rewritten text on the
        # id column, and an equi-join drops NULL keys — silently, even
        # though the underlying operators preserve NULL-id rows. A
        # null-SAFE rejoin is no fix either (two NULL-id rows would
        # cross-match). Fail loudly with the count instead of losing
        # rows; the caller assigns surrogate ids and reruns.
        # url-screen is in the set too: dedup_by_url keys its survivor
        # semi-join on (url_norm, id), so a NULL id would drop the row
        rejoin_steps = {
            "url-screen", "c4-clean", "paragraph-dedup", "exact-substr",
            "decontaminate",
        } & set(curate_steps)
        if rejoin_steps:
            n_null_ids = df.where(F.col(icol).isNull()).count()
            report["NullIdRows"] = n_null_ids
            if n_null_ids:
                raise SystemExit(
                    f"curate: {n_null_ids} input rows have NULL "
                    f"{icol!r}; steps {sorted(rejoin_steps)} rejoin "
                    "rewritten text on that column and would silently "
                    "drop them — assign non-NULL ids and rerun"
                )
        if "url-screen" in curate_steps:
            from .operators import urls as url_ops

            ucol = args.url_column
            if ucol not in df.columns:
                raise SystemExit(
                    f"curate: url-screen needs column {ucol!r} "
                    f"(have {df.columns}); pass --url-column"
                )
            n_before = report["InputRows"]
            if args.blocklist_file:
                with open(args.blocklist_file, encoding="utf-8") as f:
                    entries = [
                        ln.strip()
                        for ln in f
                        if ln.strip() and not ln.lstrip().startswith("#")
                    ]
                df = _barrier(url_ops.filter_blocked_domains(
                    df, entries, url_col=ucol, id_col=icol
                ))
                n_after_block = df.count()
                report["UrlBlocked"] = n_before - n_after_block
                n_before = n_after_block
            df = _barrier(url_ops.dedup_by_url(
                df, url_col=ucol, id_col=icol
            ).drop("url_norm"))
            n_url = df.count()
            report["UrlDupRows"] = n_before - n_url
            report["UrlSurvivors"] = n_url
        if "c4-clean" in curate_steps:
            badwords = None
            if args.badwords_file:
                with open(args.badwords_file, encoding="utf-8") as f:
                    badwords = [
                        ln.strip()
                        for ln in f
                        if ln.strip() and not ln.lstrip().startswith("#")
                    ]
            c4 = _barrier(text_ops.c4_clean(
                df, text_col=tcol, id_col=icol,
                min_words=args.c4_min_words,
                min_sentences=args.c4_min_sentences,
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
        if "paragraph-dedup" in curate_steps:
            pd_out = _barrier(dedup_ops.remove_duplicated_paragraphs(
                df, sep=args.paragraph_sep, text_col=tcol, id_col=icol
            ))
            report["ParagraphsRemoved"] = int(
                pd_out.agg(F.sum("removed_paragraphs")).collect()[0][0]
                or 0
            )
            df = _barrier(
                df.drop(tcol).join(pd_out.select(icol, tcol), icol)
            )
        if "exact-dedup" in curate_steps:
            df = _barrier(
                dedup_ops.exact_dedup(df, text_col=tcol, id_col=icol)
            )
            report["ExactSurvivors"] = df.count()
        substr_merges = None
        if args.substr_tokenizer == "bpe":
            from .operators.text import load_merges as _load_merges

            substr_merges = (
                _load_merges(args.substr_merges)
                if args.substr_merges
                else []
            )
        if args.audit_out:
            # the audit runs HERE — on exactly the relation the
            # exact-substr step is about to see (post upstream dedup),
            # at the same min_tokens operating point AND token unit —
            # so the recorded table is the one the cut acted on, not a
            # pre-dedup view whose counts the earlier steps already
            # changed
            audit = dedup_ops.top_repeated_substrings(
                df, min_tokens=args.substr_min_tokens, k=args.audit_k,
                text_col=tcol, id_col=icol,
                tokenizer=args.substr_tokenizer, merges=substr_merges,
            )
            audit.write.mode("error").parquet(args.audit_out)
            arows = eng.spark.read.parquet(args.audit_out).collect()
            report["AuditOut"] = args.audit_out
            report["AuditRows"] = len(arows)
            if arows:
                top = max(
                    arows,
                    key=lambda r: (r["n_occurrences"], r["substring"]),
                )
                report["AuditTopRepeat"] = {
                    "n_occurrences": int(top["n_occurrences"]),
                    "n_docs": int(top["n_docs"]),
                    "substring": top["substring"][:120],
                }
        if "exact-substr" in curate_steps:
            xs = _barrier(dedup_ops.dedup_exact_substrings(
                df, min_tokens=args.substr_min_tokens, text_col=tcol,
                id_col=icol, mode=args.substr_mode,
                tokenizer=args.substr_tokenizer, merges=substr_merges,
            ))
            report["SubstrTokensRemoved"] = int(
                xs.agg(F.sum("removed_tokens")).collect()[0][0] or 0
            )
            df = _barrier(
                df.drop(tcol).join(xs.select(icol, tcol), icol)
            )
        if "decontaminate" in curate_steps:
            bench = eng.spark.read.parquet(args.benchmark)
            dc = _barrier(dedup_ops.decontaminate_spans(
                df, bench, n=args.ngram, text_col=tcol, id_col=icol,
                mode=args.decon_mode,
            ))
            report["ContaminatedTokensRemoved"] = int(
                dc.agg(F.sum("removed_tokens")).collect()[0][0] or 0
            )
            df = _barrier(
                df.drop(tcol).join(dc.select(icol, tcol), icol)
            )
        if "gopher" in curate_steps:
            flagged = text_ops.gopher_quality_flags(df, text_col=tcol)
            cond = None
            for rule in gopher_rules:
                c = F.col(f"ok_{rule}")
                cond = c if cond is None else (cond & c)
            df = _barrier(flagged.where(cond).select(*df.columns))
            report["GopherSurvivors"] = df.count()
        if "classifier" in curate_steps:
            # the GPT-3 selection story (Brown et al. 2020, App. A) as
            # a chain step: rule filtering (gopher) upstream, then the
            # trained-quality Pareto keep rule over the survivors —
            # training (when inline) sees the CURATED pool, the same
            # relation the filter acts on. Scoring + the Pareto draw
            # are map-only over a broadcast <= --buckets-row model; the
            # one corpus-sized join is the id semi-join back to df.
            if args.clf_model_in:
                with open(args.clf_model_in) as fh:
                    clf_model = json.load(fh)
            else:
                labeled = df.withColumn(
                    "_y",
                    F.coalesce(
                        F.expr(args.clf_target_filter).cast("int"),
                        F.lit(0),
                    ),
                )
                n_pool = df.count()
                if args.clf_train_sample and n_pool > args.clf_train_sample:
                    frac = args.clf_train_sample / n_pool
                    bound = format(
                        min(int(frac * 2**32), 2**32 - 1), "08x"
                    )
                    labeled = labeled.where(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.col(icol).cast("string"),
                                    F.lit("|train-sample"),
                                )
                            ),
                            1,
                            8,
                        )
                        < bound
                    )
                clf_model = text_ops.train_quality_classifier(
                    labeled,
                    "_y",
                    n_buckets=args.buckets,
                    iters=args.clf_iters,
                    text_col=tcol,
                    id_col=icol,
                    hash_fn=args.hash,
                )
            if args.clf_model_out:
                tmp_model = args.clf_model_out + ".tmp"
                with open(tmp_model, "w") as fh:
                    json.dump(clf_model, fh)
                os.replace(tmp_model, args.clf_model_out)
                report["ClassifierModelOut"] = args.clf_model_out
            clf_kept = text_ops.pareto_quality_filter(
                df,
                clf_model,
                alpha=args.pareto_alpha,
                salt=args.salt,
                text_col=tcol,
                id_col=icol,
            )
            df = _barrier(df.join(clf_kept.select(icol), icol))
            report["ClassifierSurvivors"] = df.count()
        if "dsir" in curate_steps:
            # DSIR importance resampling (Xie et al. 2023) as the
            # final selection cut: hashed-n-gram importance weights
            # against the target distribution, Gumbel-top-k draw —
            # deterministic under --salt. The target can be a separate
            # corpus (--dsir-target) or a predicate slice of the
            # curated pool itself (--dsir-target-filter).
            # predicate-slice targets take the one-pass path (the pool
            # gram stream carries the membership bit instead of
            # recomputing the chain for the target side)
            picks = text_ops.dsir_select(
                df,
                eng.spark.read.parquet(args.dsir_target)
                if args.dsir_target
                else None,
                args.dsir_k,
                salt=args.salt,
                n_buckets=args.buckets,
                hash_fn=args.hash,
                text_col=tcol,
                id_col=icol,
                target_predicate=None
                if args.dsir_target
                else F.expr(args.dsir_target_filter),
            )
            df = _barrier(df.join(picks.select(icol), icol))
            report["DsirSelected"] = df.count()
        if "split" in curate_steps:
            df = text_ops.deterministic_split(
                df, key_col=icol, ratios=curate_ratios, salt=args.salt
            )
        df.write.mode("error").parquet(args.out)
        out_df = eng.spark.read.parquet(args.out)
        report["OutputRows"] = out_df.count()
        if "split" in curate_steps:
            report["SplitCounts"] = {
                r["split"]: r["count"]
                for r in out_df.groupBy("split").count().collect()
            }
        report["Out"] = args.out
        _emit(report)

    elif args.cmd == "select-data":
        from pyspark.sql import functions as F

        from .operators import text as text_ops

        df = eng.spark.read.parquet(args.input)
        n_in = df.count()
        if args.method == "gopher":
            flagged = text_ops.gopher_quality_flags(
                df, text_col=args.text_column
            )
            cond = None
            for rule in gopher_rules:
                c = F.col(f"ok_{rule}")
                cond = c if cond is None else (cond & c)
            selected = flagged.where(cond)
        elif args.method == "temperature":
            selected = text_ops.temperature_mixture(
                df,
                alpha=args.alpha,
                target_total=args.target_total,
                stratum_col=args.stratum_column,
                key_col=args.id_column,
                salt=args.salt,
                max_rate=args.max_rate,
            )
        elif args.method == "prototypes":
            from .operators import similarity as sim_ops

            cent = sim_ops.train_ivf_centroids(
                df, n_centroids=args.clusters, emb_col=args.emb_column
            )
            kept = sim_ops.prune_prototypes(
                df,
                cent,
                args.keep_frac,
                mode=args.prune_mode,
                emb_col=args.emb_column,
                id_col=args.id_column,
            )
            selected = df.join(
                kept.select(args.id_column, "ivf_cell", "proto_sim"),
                args.id_column,
            )
        elif args.method == "dsir":
            # predicate-slice targets take the one-pass path (see the
            # curate dsir step)
            picks = text_ops.dsir_select(
                df,
                eng.spark.read.parquet(args.target)
                if args.target
                else None,
                args.k,
                salt=args.salt,
                n_buckets=args.buckets,
                hash_fn=args.hash,
                text_col=args.text_column,
                id_col=args.id_column,
                target_predicate=None
                if args.target
                else F.expr(args.target_filter),
            )
            # carry the original columns alongside the scores
            selected = df.join(
                picks.select(args.id_column, "log_w", "score"),
                args.id_column,
            )
        else:  # classifier
            if args.model_in:
                with open(args.model_in) as fh:
                    model = json.load(fh)
            else:
                labeled = df.withColumn(
                    "_y",
                    F.coalesce(
                        F.expr(args.target_filter).cast("int"), F.lit(0)
                    ),
                )
                # honor the operator's "train on a bounded sample,
                # score the lake" contract in the packaged path: cap
                # the training set with a deterministic hash-threshold
                # filter (map-only, the deterministic_split convention
                # — no sort, no single-task bottleneck; ~cap docs kept)
                if args.train_sample and n_in > args.train_sample:
                    frac = args.train_sample / n_in
                    bound = format(
                        min(int(frac * 2**32), 2**32 - 1), "08x"
                    )
                    labeled = labeled.where(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.col(args.id_column).cast("string"),
                                    F.lit("|train-sample"),
                                )
                            ),
                            1,
                            8,
                        )
                        < bound
                    )
                model = text_ops.train_quality_classifier(
                    labeled,
                    "_y",
                    n_buckets=args.buckets,
                    iters=args.iters,
                    text_col=args.text_column,
                    id_col=args.id_column,
                    hash_fn=args.hash,
                )
            if args.model_out:
                tmp_model = args.model_out + ".tmp"
                with open(tmp_model, "w") as fh:
                    json.dump(model, fh)
                os.replace(tmp_model, args.model_out)
            kept = text_ops.pareto_quality_filter(
                df,
                model,
                alpha=args.pareto_alpha,
                salt=args.salt,
                text_col=args.text_column,
                id_col=args.id_column,
            )
            selected = df.join(kept, args.id_column)
        selected.write.mode("error").parquet(args.out)
        n_out = eng.spark.read.parquet(args.out).count()
        _emit(
            {
                "Method": args.method,
                "InputRows": n_in,
                "SelectedRows": n_out,
                "Out": args.out,
            }
        )
    elif args.cmd == "zorder":
        import glob

        from .operators.layout import write_zordered

        cols = zorder_cols
        df = eng.spark.read.parquet(args.location)
        write_zordered(df, args.out, cols, n_files=args.files)
        _emit(
            {
                "Location": args.out,
                "ClusteredBy": cols,
                # report what was WRITTEN (range partitions can be empty)
                "Files": len(glob.glob(os.path.join(args.out, "*.parquet"))),
                "Rows": eng.spark.read.parquet(args.out).count(),
            }
        )
    elif args.cmd == "settings":
        if args.set:
            updates = {}
            for kv in args.set:
                key, val = kv.split("=", 1)
                try:
                    updates[key] = json.loads(val)
                except json.JSONDecodeError:
                    updates[key] = val
            _emit(eng.put_settings(updates))
        else:
            _emit(eng.get_settings())
    elif args.cmd == "vacuum":
        _emit(
            eng.vacuum(
                args.location,
                target_bytes=args.target_bytes,
                purge=not args.keep_versions,
            )
        )
    elif args.cmd == "check":
        from .operators.quality import check_constraints

        if args.format == "json":
            reader = eng.spark.read
            if args.schema:
                reader = reader.schema(args.schema)
            df = reader.json(args.location)
        else:
            df = eng.spark.read.parquet(args.location)
        ranges = {}
        for spec in args.range:
            col, lo, hi = spec.rsplit(":", 2)
            ranges[col] = (float(lo), float(hi))
        accepted = {}
        for spec in args.accepted:
            col, vals = spec.split(":", 1)
            accepted[col] = vals.split(",")
        rows = check_constraints(
            df,
            not_null=args.not_null,
            unique=[u.split(",") for u in args.unique],
            ranges=ranges,
            accepted=accepted,
        ).collect()
        _emit([r.asDict() for r in rows])
        if args.fail_on_violation and any(r.violations for r in rows):
            return 1
    return 0


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
