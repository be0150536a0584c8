"""Seeded input generator for the erasure/curation benchmark.

Every input the engine sees is made here from ``--seed``: the lakes, the
deletion-queue items and the curation corpus. The same seed gives
byte-identical files. Next to the inputs the generator records what a
correct run must leave behind (rows, objects and bytes in scope,
deleted-row counts, survivor checksums), so the verifier never has to
trust the engine.

Checksums are order-independent: the sum, mod 2**64, of DuckDB's
``hash`` over every column of a row. The same function runs over the
in-memory table here and over the rewritten files in ``verify.py``.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import re

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

MASK64 = (1 << 64) - 1

# Workload sizes. Chosen so one job or one curation pass is seconds,
# not minutes, on a 4-core host; see README.md for the measurements.
TRICKLE = dict(objects=32, customers_per_object=200, parquet_rows_per_customer=100,
               row_group_rows=5_000, json_lines_per_customer=3, jobs=400,
               ids_per_job=5)
CURATE = dict(docs=500, files=4, german=0.08, junk=0.04, exact_dup=0.05,
              near_dup=0.10)

JSON_SCHEMA_DDL = (
    "customer_id BIGINT, event STRING, amount DOUBLE, ts BIGINT, "
    "user STRUCT<email: STRING, country: STRING>"
)

_CHECKSUM_SQL = "sum(hash({cols}))::HUGEINT"


def row_checksums(table: pa.Table, by: str | None = None):
    """(count, checksum) of ``table``, or {key: (count, checksum)} when
    grouped ``by`` a column. DuckDB's ``hash`` over every column."""
    con = duckdb.connect()
    try:
        con.register("t", table)
        cols = ", ".join(f'"{c}"' for c in table.column_names)
        agg = _CHECKSUM_SQL.format(cols=cols)
        if by is None:
            n, s = con.execute(f"select count(*), {agg} from t").fetchone()
            return int(n), int(s or 0) & MASK64
        rows = con.execute(
            f'select "{by}", count(*), {agg} from t group by 1'
        ).fetchall()
        return {int(k): (int(n), int(s) & MASK64) for k, n, s in rows}
    finally:
        con.close()


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, n)
    return np.array(
        ["".join(rng.choice(letters, k)) for k in lens], dtype=object
    )


def _write_parquet(table: pa.Table, path: str, row_group_rows: int) -> None:
    pq.write_table(table, path, row_group_size=row_group_rows,
                   compression="snappy")


def _sizes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


# --- trickle: small deletion jobs over a Parquet lake and a JSON lake ----


def gen_trickle(seed: int, out: str) -> dict:
    """Two lakes clustered by ``customer_id`` the same way: object k of
    each holds the customers ``1 + k*cpo .. (k+1)*cpo`` (ids start at 1:
    the JSON rewrite treats a falsy identifier as absent and would keep
    customer 0's rows). A fixed job sequence takes one unused customer
    from each of ``ids_per_job`` distinct objects, so every job deletes
    rows from, and rewrites, exactly that many objects of each lake."""
    cfg = TRICKLE
    rng = np.random.default_rng([seed, 1])
    cpo = cfg["customers_per_object"]
    first = [1 + k * cpo for k in range(cfg["objects"])]
    lakes = [
        _trickle_parquet(rng, os.path.join(out, "parquet"), first),
        _trickle_json(rng, os.path.join(out, "json"), first),
    ]
    pools = [list(rng.permutation(np.arange(f, f + cpo))) for f in first]
    jobs = []
    for _ in range(cfg["jobs"]):
        objs = rng.choice(cfg["objects"], cfg["ids_per_job"], replace=False)
        jobs.append([int(pools[k].pop()) for k in objs])
    queued = {str(i) for job in jobs for i in job}
    for lake in lakes:
        # per-id (rows, checksum): the expected survivors of ANY prefix of
        # the job sequence are the lake totals minus the deleted ids' share
        lake["per_id"] = {k: v for k, v in lake["per_id"].items() if k in queued}
    return {"jobs": jobs, "lakes": lakes}


def _trickle_parquet(rng, lake: str, first: list[int]) -> dict:
    """Sorted by customer, several row groups per object, so the Find
    scan's pushed ``In`` filter prunes most row groups."""
    cfg = TRICKLE
    os.makedirs(lake)
    cpo, rpc = cfg["customers_per_object"], cfg["parquet_rows_per_customer"]
    rows = cpo * rpc
    status_vocab = np.array(["new", "paid", "shipped", "returned"])
    paths, tables = [], []
    for k, f in enumerate(first):
        table = pa.table({
            "row_id": np.arange(k * rows, (k + 1) * rows, dtype=np.int64),
            "customer_id": np.repeat(np.arange(f, f + cpo, dtype=np.int64), rpc),
            "order_ts": rng.integers(1_600_000_000, 1_700_000_000, rows),
            "amount": np.round(rng.random(rows) * 1000, 2),
            "status": status_vocab[rng.integers(0, 4, rows)],
        })
        path = os.path.join(lake, f"part-{k:05d}.parquet")
        _write_parquet(table, path, cfg["row_group_rows"])
        paths.append(path)
        tables.append(table)
    per_id = row_checksums(pa.concat_tables(tables), by="customer_id")
    return _lake("parquet", paths, per_id)


def _trickle_json(rng, lake: str, first: list[int]) -> dict:
    """gzip JSON Lines read through an explicit DDL schema, formatted
    with spaces after separators so a re-serializing rewrite would show
    up as a byte difference."""
    cfg = TRICKLE
    os.makedirs(lake)
    cpo, lpc = cfg["customers_per_object"], cfg["json_lines_per_customer"]
    n = cpo * lpc
    words = pa.array(_words(rng, 1_000).tolist())
    events = pa.array(["view", "click", "cart", "purchase", "refund"])
    countries = pa.array(["de", "fr", "us", "jp", "br"])

    def pick(vocab):
        return vocab.take(pa.array(rng.integers(0, len(vocab), n)))

    def text(values):
        return pa.array(values).cast(pa.string())

    paths, per_id = [], {}
    for k, f in enumerate(first):
        cust = rng.permutation(np.repeat(np.arange(f, f + cpo), lpc))
        cents = rng.integers(0, 50_000, n)
        parts = [
            '{"customer_id": ', text(cust),
            ', "event": "', pick(events),
            '", "amount": ', text(cents // 100), ".",
            pa.array(np.char.zfill((cents % 100).astype(str), 2)),
            ', "ts": ', text(rng.integers(1_600_000_000, 1_700_000_000, n)),
            ', "user": {"email": "', pick(words),
            '@example.com", "country": "', pick(countries), '"}}',
        ]
        lines = pc.binary_join_element_wise(*parts, "").to_pylist()
        for c, line in zip(cust.tolist(), lines):
            cnt, digest = per_id.get(c, (0, 0))
            per_id[c] = (cnt + 1, (digest + _line_hash(line)) & MASK64)
        path = os.path.join(lake, f"part-{k:05d}.json.gz")
        with open(path, "wb") as raw, gzip.GzipFile(
            fileobj=raw, mode="wb", mtime=0, compresslevel=6
        ) as fh:
            fh.write(("\n".join(lines) + "\n").encode("utf-8"))
        paths.append(path)
    return dict(_lake("json", paths, per_id), schema=JSON_SCHEMA_DDL)


def _lake(fmt: str, paths: list[str], per_id: dict) -> dict:
    return {
        "name": fmt,
        "format": fmt,
        "id_column": "customer_id",
        "objects": len(paths),
        "bytes": _sizes(paths),
        "rows": sum(n for n, _ in per_id.values()),
        "checksum": sum(s for _, s in per_id.values()) & MASK64,
        "per_id": {str(k): list(v) for k, v in per_id.items()},
    }


def _line_hash(line: str) -> int:
    return int.from_bytes(
        hashlib.blake2b(line.encode("utf-8"), digest_size=8).digest(), "little"
    )


# --- curate: near-dup corpus + a pure-Python reference of the chain -------

EN_STOP = ["the", "and", "of", "to", "is", "in", "that", "it", "for", "was"]
DE_STOP = ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"]
NEAR_DUP_MIN_JACCARD = 0.97


def shingles(text: str, k: int = 5) -> set:
    raw = text.lower().encode("utf-8")
    return {raw[i : i + k] for i in range(len(raw) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def gen_curate(seed: int, out: str) -> dict:
    """Synthetic corpus with planted exact duplicates, near duplicates
    (the source minus its first word, exact 5-shingle Jaccard >= 0.97),
    German documents and punctuation-heavy junk. Expected outputs come
    from ``reference_curate``, an independent re-statement of the
    operators' documented rules."""
    cfg = CURATE
    rng = np.random.default_rng([seed, 4])
    vocab = _words(rng, 3_000)
    n = cfg["docs"]
    # every kind of document is planted a fixed number of times (at
    # seed-chosen positions), so the stages remove about the same share
    # of the corpus whatever the seed
    counts = {kind: round(cfg[kind] * n) for kind in ("exact_dup", "near_dup", "german", "junk")}
    kind = np.full(n, "original", dtype=object)
    copies = rng.permutation(np.arange(51, n))  # copies need earlier originals
    kind[copies[: counts["exact_dup"]]] = "exact_dup"
    kind[copies[counts["exact_dup"] : counts["exact_dup"] + counts["near_dup"]]] = "near_dup"
    plain = rng.permutation(np.nonzero(kind == "original")[0])
    kind[plain[: counts["german"]]] = "german"
    kind[plain[counts["german"] : counts["german"] + counts["junk"]]] = "junk"
    texts: list[str] = []
    originals: list[int] = []  # copies are only ever made of these
    near_pairs: list[tuple[int, int]] = []
    for i in range(n):
        if kind[i] == "exact_dup":
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
            continue
        if kind[i] == "near_dup":
            src = originals[int(rng.integers(0, len(originals)))]
            cand = texts[src].split(" ", 1)[-1]
            if jaccard(texts[src], cand) >= NEAR_DUP_MIN_JACCARD:
                texts.append(cand)
                near_pairs.append((src, i))
                continue
        length = int(rng.integers(60, 120))
        toks = vocab[rng.integers(0, len(vocab), length)].tolist()
        stop = DE_STOP if kind[i] == "german" else EN_STOP
        for j in np.nonzero(rng.random(length) < 0.15)[0]:
            toks[j] = stop[int(rng.integers(0, len(stop)))]
        if kind[i] == "junk":
            toks = [t + "!!" for t in toks]
        originals.append(i)
        texts.append(" ".join(toks))
    ids = np.arange(n, dtype=np.int64)
    corpus = os.path.join(out, "corpus")
    os.makedirs(corpus)
    per = -(-n // cfg["files"])
    paths = []
    for f in range(cfg["files"]):
        sl = slice(f * per, (f + 1) * per)
        path = os.path.join(corpus, f"part-{f:05d}.parquet")
        pq.write_table(
            pa.table({"doc_id": ids[sl], "text": pa.array(texts[sl])}),
            # uncompressed: how well random text compresses moves with the
            # seed's vocabulary, and the corpus bytes divide the ratios
            path, compression="none",
        )
        paths.append(path)
    chain, final = reference_curate(texts)
    return {
        "objects": len(paths),
        "rows": n,
        "bytes": _sizes(paths),
        "near_pairs": len(near_pairs),
        "chain_rows": len(chain),
        "survivors": len(final),
        "checksum": result_digest(final),
    }


_TOKEN = re.compile(r"[a-z0-9']+")
_PUNCT = re.compile(r"[^\w\s]", re.ASCII)
LANG_MARKERS = {
    "en": EN_STOP,
    "de": DE_STOP,
    "fr": ["le", "la", "les", "et", "est", "une", "des", "dans", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "una", "en", "por", "para", "con"],
}


def _quality(text: str, toks: list[str]) -> float:
    n_tok, n_chars = len(toks), len(text)
    mwl = n_chars / n_tok if n_tok else 0.0
    punct = len(_PUNCT.findall(text)) / n_chars if n_chars else 0.0
    stop = len(set(toks) & set(EN_STOP)) / n_tok if n_tok else 0.0
    score = (0.4 if 3 <= mwl <= 12 else 0.0) + (0.3 if punct < 0.2 else 0.0)
    score += 0.3 if stop > 0.05 else 0.0
    return round(score, 2)


def _lang(toks: list[str]) -> str:
    have = set(toks)
    codes = sorted(LANG_MARKERS)
    # ties go to the smallest language code, as in operators.text
    best = max(codes, key=lambda c: (len(have & set(LANG_MARKERS[c])), -codes.index(c)))
    return best if have & set(LANG_MARKERS[best]) else "und"


def _trigrams(toks: list[str]) -> set:
    if not toks:
        return set()
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def reference_curate(texts: list[str]):
    """The curation chain and the t=0.8 near-dup pass, restated in plain
    Python: exact dedup (min id per text) -> quality / lang-id / token
    count -> drop docs sharing a word 3-gram with the benchmark slice
    (doc_id % 50 == 0) -> keep quality >= 0.6 and English. Near-dup
    survivors drop every doc whose 5-shingle Jaccard with a smaller
    surviving id is >= 0.8 (planted pairs sit at >= 0.97, unplanted
    pairs far below, so the MinHash estimate agrees)."""
    first: dict[str, int] = {}
    for i, t in enumerate(texts):
        first.setdefault(t, i)
    toks = [_TOKEN.findall(t.lower()) for t in texts]
    bench = set()
    for i in range(0, len(texts), 50):
        bench |= _trigrams(toks[i])
    chain = []
    for i, t in enumerate(texts):
        if first[t] != i or _trigrams(toks[i]) & bench:
            continue
        q = _quality(t, toks[i])
        lang = _lang(toks[i])
        if q >= 0.6 and lang == "en":
            chain.append((i, q, lang, len(toks[i])))
    # near-dup pass over the chain output: candidates are docs sharing a
    # long prefix-free suffix, which is how near-dups are planted
    by_suffix: dict[str, list[int]] = {}
    for i, *_ in chain:
        by_suffix.setdefault(texts[i].split(" ", 1)[-1], []).append(i)
        by_suffix.setdefault(texts[i], []).append(i)
    drop = set()
    for members in by_suffix.values():
        members = sorted(set(members))
        for a_pos, a in enumerate(members):
            for b in members[a_pos + 1 :]:
                if b not in drop and jaccard(texts[a], texts[b]) >= 0.8:
                    drop.add(b)
    final = [row for row in chain if row[0] not in drop]
    return chain, final


def result_digest(rows) -> str:
    """sha256 over the sorted (doc_id, quality, lang, n_tokens) rows."""
    h = hashlib.sha256()
    for i, q, lang, n in sorted(rows):
        h.update(f"{int(i)}|{float(q):.2f}|{lang}|{int(n)}\n".encode())
    return h.hexdigest()


GENERATORS = {"trickle": gen_trickle, "curate": gen_curate}


def generate(workload: str, seed: int, out: str) -> dict:
    """Build ``workload``'s inputs under ``out`` (created; must not exist)
    and write the expectations to ``out/expect.json``."""
    os.makedirs(out)
    spec = GENERATORS[workload](seed, out)
    spec.update(workload=workload, seed=seed)
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(spec, f, sort_keys=True)
    return spec
