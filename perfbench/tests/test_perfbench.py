"""The benchmark's own checks: seeded inputs, the verifier, the metric names,
the CPU accounting.

    python3 -m pytest perfbench/tests -q

No Spark session is started: the verifier is fed outputs produced here
with pyarrow and plain file edits.
"""

import gzip
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import gen
import run
import verify

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _tree(path: str) -> dict:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a = gen.generate(workload, 5, str(tmp_path / "a"))
    b = gen.generate(workload, 5, str(tmp_path / "b"))
    assert a == b
    assert _tree(str(tmp_path / "a")) == _tree(str(tmp_path / "b"))
    c = gen.generate(workload, 6, str(tmp_path / "c"))
    assert _tree(str(tmp_path / "a")) != _tree(str(tmp_path / "c"))


def test_trickle_jobs_hit_distinct_objects(tmp_path):
    spec = gen.generate("trickle", 5, str(tmp_path / "g"))
    cpo = gen.TRICKLE["customers_per_object"]
    seen = set()
    for job in spec["jobs"]:
        assert len({(i - 1) // cpo for i in job}) == gen.TRICKLE["ids_per_job"]
        assert not seen & set(job) and 0 not in job
        seen |= set(job)


# --- verifier -----------------------------------------------------------------


@pytest.fixture(scope="module")
def trickle(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("trickle") / "gen")
    return out, gen.generate("trickle", 9, out)


def _erase(trickle, tmp_path, deleted):
    """A correct erasure of ``deleted`` done with pyarrow and plain line
    filtering: the live lakes plus the expected survivors per lake."""
    out, spec = trickle
    gone, survivors, lakes = set(deleted), {}, {}
    for lake in spec["lakes"]:
        live = str(tmp_path / lake["name"])
        shutil.copytree(os.path.join(out, lake["name"]), live)
        for path in verify.lake_files(live):
            if lake["format"] == "parquet":
                t = pq.read_table(path)
                keep = pc.invert(pc.is_in(t["customer_id"], pa.array(deleted)))
                pq.write_table(t.filter(keep), path)
            else:
                with gzip.open(path, "rb") as f:
                    lines = f.read().splitlines(keepends=True)
                with gzip.open(path, "wb") as f:
                    f.writelines(ln for ln in lines
                                 if json.loads(ln)["customer_id"] not in gone)
        per = [lake["per_id"][str(i)] for i in deleted]
        survivors[lake["name"]] = (
            lake["rows"] - sum(n for n, _ in per),
            (lake["checksum"] - sum(c for _, c in per)) & gen.MASK64,
        )
        lakes[lake["name"]] = (live, os.path.join(out, lake["name"]))
    return lakes, survivors


def _check(lakes, survivors, deleted):
    problems = []
    for name, (live, pristine) in lakes.items():
        check = verify.parquet_lake if name == "parquet" else verify.json_lake
        problems += check(live, pristine, "customer_id", deleted, survivors[name])
    return problems


def test_verifier_accepts_a_correct_erasure(trickle, tmp_path):
    deleted = trickle[1]["jobs"][0] + trickle[1]["jobs"][1]
    lakes, survivors = _erase(trickle, tmp_path, deleted)
    assert _check(lakes, survivors, deleted) == []


def test_verifier_fails_on_a_surviving_parquet_match(trickle, tmp_path):
    deleted = trickle[1]["jobs"][0]
    lakes, survivors = _erase(trickle, tmp_path, deleted)
    live, pristine = lakes["parquet"]
    cpo = gen.TRICKLE["customers_per_object"]
    name = f"part-{(deleted[0] - 1) // cpo:05d}.parquet"
    src = pq.read_table(os.path.join(pristine, name))
    planted = src.filter(pc.equal(src["customer_id"], deleted[0])).slice(0, 1)
    path = os.path.join(live, name)
    pq.write_table(pa.concat_tables([pq.read_table(path), planted]), path)
    problems = _check(lakes, survivors, deleted)
    assert any(name in p and "deleted id survived" in p for p in problems)


def test_verifier_fails_on_a_lost_parquet_row(trickle, tmp_path):
    deleted = trickle[1]["jobs"][0]
    lakes, survivors = _erase(trickle, tmp_path, deleted)
    path = verify.lake_files(lakes["parquet"][0])[-1]
    t = pq.read_table(path)
    pq.write_table(t.slice(1), path)
    problems = _check(lakes, survivors, deleted)
    assert any(os.path.basename(path) in p for p in problems)
    assert any(p.startswith("lake survivors") for p in problems)


def _rewrite_json(path, edit):
    with gzip.open(path, "rb") as f:
        lines = f.read().splitlines(keepends=True)
    with gzip.open(path, "wb") as f:
        f.writelines(edit(lines))


def test_verifier_fails_on_json_survivor_and_lost_or_changed_lines(trickle, tmp_path):
    deleted = trickle[1]["jobs"][0]
    lakes, survivors = _erase(trickle, tmp_path, deleted)
    live, pristine = lakes["json"]
    cpo = gen.TRICKLE["customers_per_object"]
    hit = f"part-{(deleted[0] - 1) // cpo:05d}.json.gz"
    with gzip.open(os.path.join(pristine, hit), "rb") as f:
        planted = [ln for ln in f.read().splitlines(keepends=True)
                   if json.loads(ln)["customer_id"] == deleted[0]][:1]
    _rewrite_json(os.path.join(live, hit), lambda lines: lines + planted)
    files = verify.lake_files(live)
    lost, reformatted = files[-1], files[-2]
    _rewrite_json(lost, lambda lines: lines[1:])
    # same record, compact separators: equal as JSON, not byte-identical
    _rewrite_json(reformatted, lambda lines: [
        (json.dumps(json.loads(lines[0]), separators=(",", ":")) + "\n").encode()
    ] + lines[1:])
    problems = _check(lakes, survivors, deleted)
    for name in (hit, os.path.basename(lost), os.path.basename(reformatted)):
        assert any(p.startswith(name) for p in problems), (name, problems)


def test_verifier_job_document_checks():
    ok = {"Id": "j", "JobStatus": "COMPLETED", "TotalObjectUpdatedCount": 10}
    assert verify.job(ok, 10) == []
    assert verify.job(dict(ok, JobStatus="FORGET_PARTIALLY_FAILED"), 10)
    assert verify.job(dict(ok, TotalObjectUpdateFailedCount=1), 10)
    assert verify.job(ok, 9)


def test_curate_digest_catches_a_changed_result(tmp_path):
    spec = gen.generate("curate", 3, str(tmp_path / "g"))
    corpus = pa.concat_tables(
        [pq.read_table(p) for p in sorted(
            str(p) for p in (tmp_path / "g" / "corpus").iterdir())])
    _, final = gen.reference_curate(corpus["text"].to_pylist())
    out = tmp_path / "out"
    out.mkdir()

    def write(rows):
        ids, q, lang, n = zip(*rows)
        pq.write_table(pa.table({"doc_id": list(ids), "quality_score": list(q),
                                 "lang_pred": list(lang), "n_tokens": list(n)}),
                       str(out / "part-0.parquet"))

    write(final)
    assert verify.curate_output(str(out), spec) == []
    write(final[1:])
    assert verify.curate_output(str(out), spec)


def test_curate_corpus_exercises_every_stage(tmp_path):
    spec = gen.generate("curate", 3, str(tmp_path / "g"))
    assert spec["near_pairs"] > 0
    assert spec["survivors"] < spec["chain_rows"] < spec["rows"]


# --- metric names ----------------------------------------------------------------


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert bench["command"] == ["python3", "perfbench/run.py"]


def test_tail_percentile_rule():
    assert run.tail([4.0, 1.0, 3.0, 2.0]) == (50.0, 2.5)
    pct, value = run.tail([float(i) for i in range(1, 101)])
    assert pct == 90.0 and value == pytest.approx(90.1)


def test_tree_cpu_counts_child_processes():
    before = run.tree_cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    assert run.tree_cpu_s() - before >= 0.4
