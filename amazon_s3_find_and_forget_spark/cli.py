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

The data commands call package functions (``dedup-screen`` is
``operators.incremental.screen_batch``; ``curate`` and ``select-data``
are in ``curation``): this module parses, reads input files and prints.
State lives under ``--state-dir`` (default ``./.s3f2-state``); output is
one JSON document per command on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from .operators import InputRefused


def _emit(obj) -> None:
    print(json.dumps(obj, indent=2, default=str))


def _warn(warnings: list[dict]) -> None:
    for w in warnings:
        print(json.dumps(w), file=sys.stderr)


def read_list_file(path: str) -> list[str]:
    """The entries of a list file: one per line, stripped, with blank
    lines and ``#`` comment lines skipped."""
    with open(path, encoding="utf-8") as f:
        stripped = [ln.strip() for ln in f]
    return [ln for ln in stripped if ln and not ln.startswith("#")]


def _read_json(path: str):
    with open(path) as f:
        return json.load(f)


def _read_input(p, flag: str, path: str, read):
    """``read(path)``, or a usage error naming ``flag`` if that fails."""
    try:
        return read(path)
    except OSError as e:
        p.error(f"{flag}: {e}")


def _one_source(p, what: str, *flags: tuple[str, object]) -> None:
    """A usage error unless exactly one ``(flag, value)`` pair is set."""
    if sum(bool(v) for _, v in flags) != 1:
        names = " / ".join(flag for flag, _ in flags)
        p.error(f"{what} needs exactly one of {names}")


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
        specs += read_list_file(token_file)
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
    p.add_argument(
        "--cpus",
        type=int,
        help="cores of a local session (default: $SPARK_GRAFT_CPUS, "
        "else every core)",
    )
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
    if args.cmd in ("select-data", "curate"):
        from .operators.text import GOPHER_RULES, load_merges

        gopher_rules = [r.strip() for r in args.rules.split(",") if r.strip()]
        bad_rules = sorted(set(gopher_rules) - set(GOPHER_RULES))
    model = None
    if args.cmd == "select-data":
        if args.method == "dsir":
            if args.k is None or args.k < 1:
                p.error("--method dsir requires --k >= 1")
            _one_source(p, "--method dsir", ("--target", args.target),
                        ("--target-filter", args.target_filter))
        if args.method == "classifier":
            _one_source(p, "--method classifier",
                        ("--model-in", args.model_in),
                        ("--target-filter", args.target_filter))
            if args.model_in:
                model = _read_input(p, "--model-in", args.model_in, _read_json)
        if args.train_sample < 0:
            p.error("--train-sample must be >= 0")
        if args.method == "prototypes" and (
            args.keep_frac is None or not 0 < args.keep_frac <= 1
        ):
            p.error("--method prototypes requires --keep-frac in (0, 1]")
        if args.method == "gopher":
            if not gopher_rules:
                p.error("--rules needs at least one rule")
            if bad_rules:
                p.error(f"unknown Gopher rules: {bad_rules}")
    curate_ratios: dict[str, float] = {}
    blocklist = badwords = merges = None
    if args.cmd == "curate":
        from .curation import CURATE_STEPS

        wanted = {s.strip() for s in args.steps.split(",") if s.strip()}
        bad_steps = sorted(wanted - set(CURATE_STEPS))
        if bad_steps:
            p.error(f"unknown curate steps: {bad_steps}")
        if not wanted:
            p.error("--steps needs at least one step")
        curate_steps = [s for s in CURATE_STEPS if s in wanted]
        if "decontaminate" in wanted and not args.benchmark:
            p.error("the decontaminate step requires --benchmark")
        if "classifier" in wanted:
            _one_source(p, "the classifier step",
                        ("--clf-model-in", args.clf_model_in),
                        ("--clf-target-filter", args.clf_target_filter))
        if args.clf_train_sample < 0:
            p.error("--clf-train-sample must be >= 0")
        if "dsir" in wanted:
            if args.dsir_k is None or args.dsir_k < 1:
                p.error("the dsir step requires --dsir-k >= 1")
            _one_source(p, "the dsir step",
                        ("--dsir-target", args.dsir_target),
                        ("--dsir-target-filter", args.dsir_target_filter))
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
            if any(not 0 <= f <= 1 for f in curate_ratios.values()):
                p.error("--split-ratios fractions must be in [0, 1]")
        if "url-screen" in wanted and args.blocklist_file:
            blocklist = _read_input(p, "--blocklist-file",
                                    args.blocklist_file, read_list_file)
        if "c4-clean" in wanted and args.badwords_file:
            badwords = _read_input(p, "--badwords-file",
                                   args.badwords_file, read_list_file)
        if args.substr_tokenizer == "bpe" and args.substr_merges:
            merges = _read_input(p, "--substr-merges", args.substr_merges,
                                 load_merges)
        if "classifier" in wanted and args.clf_model_in:
            model = _read_input(p, "--clf-model-in", args.clf_model_in,
                                _read_json)
    if args.cmd == "dedup-screen":
        if args.batch_id is not None:
            from .operators.incremental import check_batch_id

            try:
                check_batch_id(args.batch_id)
            except InputRefused as e:
                p.error(str(e))
        if args.mode == "embedding" and args.dim is None:
            p.error("--mode embedding requires --dim")
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
        _emit(eng.list_jobs()[0])
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
        from .operators.incremental import screen_batch

        try:
            report, warnings = screen_batch(
                eng.spark, args.input, args.index_dir, args.novel_out,
                args.mode, text_col=args.text_column, id_col=args.id_column,
                threshold=args.threshold, emb_col=args.embedding_column,
                dim=args.dim, bits=args.bits, tables=args.tables,
                lsh_seed=args.lsh_seed, bloom_capacity=args.bloom_capacity,
                bloom_fpp=args.bloom_fpp,
                assume_hash_scheme=args.assume_hash_scheme,
                batch_id=args.batch_id,
            )
        except InputRefused as e:
            _warn(e.warnings)
            p.error(str(e))
        _warn(warnings)
        _emit(report)
    elif args.cmd == "compact-index":
        from .operators.incremental import compact_index

        _emit(compact_index(eng.spark, args.index_dir))
    elif args.cmd == "curate":
        from .curation import curate

        try:
            report = curate(
                eng.spark.read.parquet(args.input), curate_steps, args.out,
                text_col=args.text_column, id_col=args.id_column,
                url_col=args.url_column, blocklist=blocklist,
                c4_min_words=args.c4_min_words,
                c4_min_sentences=args.c4_min_sentences, badwords=badwords,
                benchmark=args.benchmark, ngram=args.ngram,
                decon_mode=args.decon_mode, paragraph_sep=args.paragraph_sep,
                substr_min_tokens=args.substr_min_tokens,
                substr_mode=args.substr_mode,
                substr_tokenizer=args.substr_tokenizer, substr_merges=merges,
                audit_out=args.audit_out, audit_k=args.audit_k,
                gopher_rules=gopher_rules, clf_model=model,
                clf_target_filter=args.clf_target_filter,
                clf_model_out=args.clf_model_out,
                clf_train_sample=args.clf_train_sample,
                clf_iters=args.clf_iters, pareto_alpha=args.pareto_alpha,
                dsir_target=args.dsir_target,
                dsir_target_filter=args.dsir_target_filter,
                dsir_k=args.dsir_k, buckets=args.buckets, hash_fn=args.hash,
                split_ratios=curate_ratios, salt=args.salt,
            )
        except InputRefused as e:
            raise SystemExit(str(e)) from None
        _emit(report)
    elif args.cmd == "select-data":
        from .curation import select_data

        _emit(select_data(
            eng.spark.read.parquet(args.input), args.method, args.out,
            target_filter=args.target_filter, target=args.target, k=args.k,
            salt=args.salt, buckets=args.buckets, hash_fn=args.hash,
            rules=gopher_rules, pareto_alpha=args.pareto_alpha,
            iters=args.iters, model=model, model_out=args.model_out,
            train_sample=args.train_sample, text_col=args.text_column,
            id_col=args.id_column, emb_col=args.emb_column,
            keep_frac=args.keep_frac, clusters=args.clusters,
            prune_mode=args.prune_mode, alpha=args.alpha,
            target_total=args.target_total, stratum_col=args.stratum_column,
            max_rate=args.max_rate,
        ))
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
