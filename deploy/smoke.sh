#!/usr/bin/env bash
# CI-style smoke test: package the engine, run the flagship deletion job
# through a REAL spark-submit (not pytest's in-process session), assert
# the job completes and the matches are gone. Mirrors the cluster recipe
# in deploy/README.md at local[*] scale.
set -euo pipefail

REPO="$(cd "$(dirname "$0")/.." && pwd)"
export PYTHONPATH="$REPO${PYTHONPATH:+:$PYTHONPATH}"
SF_DIR="${SPARK_GRAFT_SMOKE_SF:-/root/testdata/sf0.001}"
WORK="$(mktemp -d /tmp/s3f2-smoke-XXXXXX)"
trap 'rm -rf "$WORK"' EXIT

# package exactly what a cluster submit would ship
(cd "$REPO" && zip -qr "$WORK/s3f2.zip" amazon_s3_find_and_forget_spark)

# a writable copy of the test lake (never touch the source)
mkdir -p "$WORK/lake" "$WORK/state"
cp "$SF_DIR/lineitem.parquet" "$WORK/lake/lineitem.parquet"

# The two spark-submit runs see only the --py-files zip: PYTHONPATH is
# unset and the working directory is outside the checkout, as on a
# cluster, so a module that only the checkout provides fails here.
SUBMIT=(env -u PYTHONPATH "${SPARK_SUBMIT:-spark-submit}")
OUT="$(cd "$WORK" && "${SUBMIT[@]}" \
    --master "local[4]" \
    --conf spark.sql.shuffle.partitions=4 \
    --conf spark.sql.adaptive.enabled=true \
    --conf spark.ui.enabled=false \
    --py-files "$WORK/s3f2.zip" \
    "$REPO/deploy/submit_job.py" \
    --state-dir "$WORK/state" \
    --mapper "lineitem=$WORK/lake:l_orderkey:parquet" \
    --match-id 1 --match-id 7 \
    2>"$WORK/submit.log" | tail -1)"

echo "$OUT"
python3 - "$OUT" "$WORK" <<'PY'
import json, sys, glob
job = json.loads(sys.argv[1])
assert job["JobStatus"] == "COMPLETED", job
assert job["TotalObjectUpdatedCount"] >= 1, job
assert job["TotalQueryFailedCount"] == 0, job
print("SMOKE OK:", f"updated={job['TotalObjectUpdatedCount']}")
PY

# survivors check through a second, independent submit (dry-run Find):
# the deleted match ids must no longer hit any file
OUT2="$(cd "$WORK" && "${SUBMIT[@]}" \
    --master "local[4]" \
    --conf spark.sql.shuffle.partitions=4 \
    --conf spark.ui.enabled=false \
    --py-files "$WORK/s3f2.zip" \
    "$REPO/deploy/submit_job.py" \
    --state-dir "$WORK/state" \
    --match-id 1 --match-id 7 --dry-run \
    2>>"$WORK/submit.log" | tail -1)"
echo "$OUT2"
python3 - "$OUT2" <<'PY'
import json, sys
doc = json.loads(sys.argv[1])
assert doc["DryRun"] is True
assert doc["Mappers"]["lineitem"]["AffectedFiles"] == 0, doc
print("SMOKE OK: post-delete dry-run finds 0 affected files")
PY
# the dry-run must not have touched the persistent deletion queue
QOUT="$(python3 -m amazon_s3_find_and_forget_spark --state-dir "$WORK/state" list-queue 2>/dev/null | tail -1)"
python3 - "$QOUT" <<'PY'
import json, sys
q = json.loads(sys.argv[1])
assert q == [], f"dry-run leaked into the deletion queue: {q}"
print("SMOKE OK: dry-run left the deletion queue empty")
PY

# ---- stage 2: the screen -> compact -> redact lifecycle (the engine's
# most differentiated capability) driven end-to-end through the CLI,
# outside pytest: two landed batches with one cross-batch duplicate are
# dedup-screened against a persisted index, the index is compacted, a
# re-run of a folded batch is REFUSED, and the novel corpus is then
# scrubbed by a redact-mode forget job with its event log asserted.
STATE2="$WORK/state2"
IDX="$WORK/idx"
NOVEL="$WORK/novel"
python3 - "$WORK" <<'PY'
import sys
import pyarrow as pa
import pyarrow.parquet as pq
w = sys.argv[1]
import os
os.makedirs(f"{w}/b1"); os.makedirs(f"{w}/b2")
pq.write_table(
    pa.table({"doc_id": pa.array([1, 2, 3], pa.int64()),
              "text": ["alpha doc", "beta doc", "gamma doc"]}),
    f"{w}/b1/part-0.parquet",
)
pq.write_table(
    pa.table({"doc_id": pa.array([10, 11], pa.int64()),
              "text": ["alpha doc", "delta doc"]}),
    f"{w}/b2/part-0.parquet",
)
PY
CLI2=(python3 -m amazon_s3_find_and_forget_spark --state-dir "$STATE2" --cpus 4)

R1="$("${CLI2[@]}" dedup-screen --input "$WORK/b1" --index-dir "$IDX" \
    --novel-out "$NOVEL" 2>>"$WORK/submit.log")"
R2="$("${CLI2[@]}" dedup-screen --input "$WORK/b2" --index-dir "$IDX" \
    --novel-out "$NOVEL" 2>>"$WORK/submit.log")"
python3 - "$R1" "$R2" <<'PY'
import json, sys
r1, r2 = json.loads(sys.argv[1]), json.loads(sys.argv[2])
assert (r1["BatchRows"], r1["NovelRows"]) == (3, 3), r1
assert (r2["BatchRows"], r2["NovelRows"]) == (2, 1), r2  # alpha screened out
print("SMOKE OK: dedup-screen caught the cross-batch duplicate")
PY

C="$("${CLI2[@]}" compact-index --index-dir "$IDX" \
    2>>"$WORK/submit.log")"
python3 - "$C" <<'PY'
import json, sys
c = json.loads(sys.argv[1])
assert c["BaseRows"] == 4, c  # alpha/beta/gamma/delta content hashes
assert c["FoldedDirs"] == 2, c
print("SMOKE OK: compact-index folded both batch deltas")
PY

# re-running a batch already folded into the base must be refused (it
# would self-match every row and blank its own novel output)
if "${CLI2[@]}" dedup-screen --input "$WORK/b2" --index-dir "$IDX" \
    --novel-out "$NOVEL" >>"$WORK/submit.log" 2>"$WORK/folded.err"; then
    echo "SMOKE FAIL: folded-batch re-run was not refused" >&2
    exit 1
fi
grep -q "folded" "$WORK/folded.err"
echo "SMOKE OK: folded-batch re-run refused"

# redact-mode forget over the screened novel corpus: doc 11 (batch 2's
# genuinely-novel doc — 10 was screened out as a duplicate and never
# reached the lake) keeps its row, loses its text; the event log
# records the lifecycle
"${CLI2[@]}" put-mapper novel_docs --location "$NOVEL" --column doc_id \
    --delete-mode redact --redact-column text \
    >>"$WORK/submit.log" 2>&1
"${CLI2[@]}" enqueue --match-id 11 >>"$WORK/submit.log" 2>&1
J="$("${CLI2[@]}" process 2>>"$WORK/submit.log")"
JID="$(python3 - "$J" <<'PY'
import json, sys
j = json.loads(sys.argv[1])
assert j["JobStatus"] == "COMPLETED", j
assert j["TotalObjectUpdatedCount"] >= 1, j
print(j["Id"])
PY
)"
E="$("${CLI2[@]}" job-events "$JID" --page-size 50 2>>"$WORK/submit.log")"
python3 - "$E" "$NOVEL" <<'PY'
import glob, json, sys
import pyarrow.parquet as pq
doc = json.loads(sys.argv[1])
types = [e["EventName"] for e in doc["Events"]]
for expected in ("JobStarted", "QuerySucceeded", "ObjectUpdated",
                 "ForgetPhaseEnded"):
    assert expected in types, (expected, types)
rows = {}
for f in glob.glob(f"{sys.argv[2]}/**/*.parquet", recursive=True):
    for r in pq.read_table(f).to_pylist():
        rows[r["doc_id"]] = r["text"]
assert set(rows) == {1, 2, 3, 11}, rows  # redact keeps every novel row
assert rows[11] is None, rows  # matched doc's text nulled
assert rows[1] == "alpha doc", rows  # unmatched novel doc untouched
print("SMOKE OK: redact-mode forget scrubbed the screened corpus "
      "and the event log records it")
PY

# ---- stage 3: training-data selection from the packaged CLI --------------
# select-data over a small labeled corpus: DSIR picks from the pool
# deterministically (salted), Gopher rule filtering enforces its rules.
SEL="$WORK/seldata"
python3 - "$WORK" <<'PY'
import pyarrow as pa, pyarrow.parquet as pq
import os, sys
w = sys.argv[1]
os.makedirs(f"{w}/pool")
long_en = " ".join(["the", "and", "word", "token", "stream"] * 12)
long_xx = " ".join(["zag", "zog", "zug", "zip", "zap"] * 12)
pq.write_table(
    pa.table({
        "doc_id": pa.array(list(range(20)), pa.int64()),
        "text": [long_en] * 10 + [long_xx] * 10,
        "lang": ["en"] * 10 + ["xx"] * 10,
    }),
    f"{w}/pool/part-0.parquet",
)
PY
S1="$("${CLI2[@]}" select-data --input "$WORK/pool" --out "$SEL/dsir" \
    --method dsir --target-filter "lang = 'en'" --k 8 --salt smoke \
    2>>"$WORK/submit.log")"
S2="$("${CLI2[@]}" select-data --input "$WORK/pool" --out "$SEL/gopher" \
    --method gopher --rules word_count,mean_word_len,alpha_words \
    2>>"$WORK/submit.log")"
python3 - "$S1" "$S2" "$SEL" <<'PY'
import glob, json, sys
import pyarrow.parquet as pq
s1, s2 = json.loads(sys.argv[1]), json.loads(sys.argv[2])
assert s1["SelectedRows"] == 8, s1
picked = set()
for f in glob.glob(f"{sys.argv[3]}/dsir/**/*.parquet", recursive=True):
    picked |= {r["doc_id"] for r in pq.read_table(f).to_pylist()}
# the en-vocabulary pool docs dominate an en-target DSIR draw
assert sum(1 for d in picked if d < 10) >= 6, picked
assert s2["SelectedRows"] == 20, s2  # every 60-word doc passes the rules
print("SMOKE OK: select-data DSIR tilts to the target; Gopher rules pass")
PY

# ---- stage 4: composed curation chain from the packaged CLI --------------
# curate runs exact-dedup -> decontaminate -> split in one pass; the
# pool gains an exact duplicate (dropped) and a benchmark-contaminated
# doc (its spans cut), and the split column partitions the survivors.
python3 - "$WORK" <<'PY'
import pyarrow as pa, pyarrow.parquet as pq
import os, sys
w = sys.argv[1]
os.makedirs(f"{w}/curpool"); os.makedirs(f"{w}/curbench")
base = " ".join(f"tok{i}" for i in range(40))
contam = "secret bench span one two three four five" + " filler" * 30
pq.write_table(
    pa.table({
        "doc_id": pa.array([1, 2, 3, 4], pa.int64()),
        # 1 and 2 are exact duplicates; 4 carries the benchmark span
        "text": [base, base, "clean " + base, contam + " " + base],
    }),
    f"{w}/curpool/part-0.parquet",
)
pq.write_table(
    pa.table({
        "doc_id": pa.array([100], pa.int64()),
        "text": ["secret bench span one two three four five"],
    }),
    f"{w}/curbench/part-0.parquet",
)
PY
C1="$("${CLI2[@]}" curate --input "$WORK/curpool" --out "$WORK/curated" \
    --steps exact-dedup,decontaminate,split --benchmark "$WORK/curbench" \
    --ngram 8 --salt smoke 2>>"$WORK/submit.log")"
python3 - "$C1" "$WORK" <<'PY'
import glob, json, sys
import pyarrow.parquet as pq
r = json.loads(sys.argv[1])
assert r["ExactSurvivors"] == 3, r          # duplicate of doc 1 dropped
assert r["ContaminatedTokensRemoved"] >= 8, r  # the 8-gram span cut
assert r["OutputRows"] == 3 and sum(r["SplitCounts"].values()) == 3, r
rows = []
for f in glob.glob(f"{sys.argv[2]}/curated/**/*.parquet", recursive=True):
    rows += pq.read_table(f).to_pylist()
byid = {x["doc_id"]: x for x in rows}
assert set(byid) == {1, 3, 4}, sorted(byid)
assert "secret" not in byid[4]["text"], byid[4]["text"][:60]
assert all("split" in x for x in rows)
print("SMOKE OK: curate chain dedups, decontaminates, and splits "
      "through the packaged CLI")
PY
# ---- stage 5: round-16 curate stages (url-screen, c4-clean, byte-level
# ExactSubstr) through the packaged CLI -----------------------------------
python3 - "$WORK" <<'PY'
import pyarrow as pa, pyarrow.parquet as pq
import os, sys
w = sys.argv[1]
os.makedirs(f"{w}/c16pool")
good = "a perfectly clean line with plenty of words in it."
shared = "the shared duplicated byte run appears here verbatim."
pq.write_table(
    pa.table({
        "doc_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
        "url": [
            "https://good.example.com/a",
            "http://GOOD.example.com/a?utm=1",   # same URL normalized
            "https://ads.blocked.net/x",          # blocked domain
            "https://other.example.org/b",
            "https://fine.example.org/c",
        ],
        "text": [
            f"{good}\n{good}\n{shared}\n{good}",
            "irrelevant duplicate page body.",
            "blocked page body never read.",
            f"{good}\n{shared}\n{good}\n{good}",
            f"{good}\nline without terminal punctuation drops\n"
            f"{good}\n{good}",
        ],
    }),
    f"{w}/c16pool/part-0.parquet",
)
with open(f"{w}/blocklist.txt", "w") as f:
    f.write("# domains\nblocked.net\n")
PY
C2="$("${CLI2[@]}" curate --input "$WORK/c16pool" --out "$WORK/c16out" \
    --steps url-screen,c4-clean,exact-substr \
    --blocklist-file "$WORK/blocklist.txt" \
    --substr-min-tokens 30 --substr-tokenizer bpe \
    2>>"$WORK/submit.log")"
python3 - "$C2" "$WORK" <<'PY'
import glob, json, sys
import pyarrow.parquet as pq
r = json.loads(sys.argv[1])
assert r["UrlBlocked"] == 1, r            # blocked.net page gone
assert r["UrlDupRows"] == 1, r            # normalized-URL duplicate gone
assert r["C4Survivors"] == 3, r           # line rules kept all 3 pages
assert r["C4LinesDropped"] == 1, r        # doc 5's unterminated line
assert r["SubstrTokensRemoved"] >= 60, r  # byte-level run cut from BOTH
rows = []
for f in glob.glob(f"{sys.argv[2]}/c16out/**/*.parquet", recursive=True):
    rows += pq.read_table(f).to_pylist()
byid = {x["doc_id"]: x for x in rows}
assert set(byid) == {1, 4, 5}, sorted(byid)
assert all("verbatim" not in byid[d]["text"] for d in (1, 4)), byid
assert "without terminal" not in byid[5]["text"]
print("SMOKE OK: url-screen + c4-clean + byte-level ExactSubstr "
      "compose through the packaged CLI")
PY

# ---- stage 6: the full GPT-3/DSIR selection story through curate ---------
# (round 17): gopher rule filtering -> inline-trained quality classifier
# with the Pareto keep rule (model saved) -> DSIR importance resampling
# to k -> split, one command over the stage-3 pool; the selection must
# tilt to the en target vocabulary and the saved model must reload.
C3="$("${CLI2[@]}" curate --input "$WORK/pool" --out "$WORK/gpt3out" \
    --steps gopher,classifier,dsir,split \
    --clf-target-filter "lang = 'en'" --clf-model-out "$WORK/clf.json" \
    --dsir-target-filter "lang = 'en'" --dsir-k 5 --salt smoke \
    2>>"$WORK/submit.log")"
C4="$("${CLI2[@]}" curate --input "$WORK/pool" --out "$WORK/gpt3out2" \
    --steps classifier --clf-model-in "$WORK/clf.json" --salt smoke \
    2>>"$WORK/submit.log")"
python3 - "$C3" "$C4" "$WORK" <<'PY'
import glob, json, sys
import pyarrow.parquet as pq
r, r2 = json.loads(sys.argv[1]), json.loads(sys.argv[2])
assert r["Steps"] == ["gopher", "classifier", "dsir", "split"], r
assert r["ClassifierSurvivors"] <= r["GopherSurvivors"], r
assert r["DsirSelected"] == 5 and r["OutputRows"] == 5, r
assert sum(r["SplitCounts"].values()) == 5, r
picked = []
for f in glob.glob(f"{sys.argv[3]}/gpt3out/**/*.parquet", recursive=True):
    picked += pq.read_table(f).to_pylist()
# en-vocabulary docs (ids < 10) dominate an en-target selection
assert sum(1 for x in picked if x["doc_id"] < 10) >= 4, sorted(
    x["doc_id"] for x in picked
)
assert all("split" in x for x in picked)
# the saved model reloads and scores identically (same salt -> same
# deterministic Pareto survivors as an inline-trained run would keep)
assert r2["ClassifierSurvivors"] >= 1, r2
print("SMOKE OK: gopher -> classifier(Pareto) -> DSIR -> split "
      "compose through the packaged CLI; model saves and reloads")
PY
echo "ALL SMOKE CHECKS PASSED"
