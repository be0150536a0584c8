"""Independent verifier for the benchmark's outputs.

Reads with pyarrow, DuckDB and the standard library only, never with the
engine, and compares against the pristine generated inputs and the
generator's recorded expectations. Every function returns a list of
problems, one per failed object, job or pass; an empty list means the
output is correct.
"""

from __future__ import annotations

import gzip
import json
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gen import MASK64, _line_hash, result_digest, row_checksums

FAILURE_COUNTERS = (
    "TotalObjectUpdateFailedCount",
    "TotalObjectRollbackFailedCount",
    "TotalQueryFailedCount",
)


def lake_files(lake: str) -> list[str]:
    """The visible objects of a lake directory (no temp files, no
    version store, no checksum sidecars)."""
    return sorted(
        os.path.join(lake, n)
        for n in os.listdir(lake)
        if not n.startswith((".", "_"))
        and os.path.isfile(os.path.join(lake, n))
    )


def job(doc: dict, rewritten: int) -> list[str]:
    """A deletion job ended COMPLETED, with zero failure counters, and
    reported as many updated objects as actually changed on disk."""
    problems = []
    if doc.get("JobStatus") != "COMPLETED":
        problems.append(f"job {doc.get('Id')}: status {doc.get('JobStatus')}")
    for c in FAILURE_COUNTERS:
        if doc.get(c, 0):
            problems.append(f"job {doc.get('Id')}: {c}={doc[c]}")
    if doc.get("TotalObjectUpdatedCount") != rewritten:
        problems.append(
            f"job {doc.get('Id')}: {doc.get('TotalObjectUpdatedCount')} "
            f"objects reported updated, {rewritten} changed on disk"
        )
    return problems


def parquet_lake(lake: str, pristine: str, id_col: str, deleted: list[int],
                 survivors: tuple[int, int]) -> list[str]:
    """Each object equals its pristine copy minus the rows of ``deleted``
    ids (row count and order-independent checksum), no row carries a
    deleted id, and the lake-wide survivors match ``survivors`` =
    (rows, checksum) from the generator."""
    gone = pa.array(sorted(deleted), type=pa.int64())
    problems, rows, digest = [], 0, 0
    names = [os.path.basename(p) for p in lake_files(pristine)]
    if [os.path.basename(p) for p in lake_files(lake)] != names:
        problems.append(f"{lake}: object set changed")
    for name in names:
        path = os.path.join(lake, name)
        if not os.path.exists(path):
            continue
        got = pq.read_table(path)
        if pc.any(pc.is_in(got[id_col], gone)).as_py():
            problems.append(f"{name}: a deleted id survived")
            continue
        src = pq.read_table(os.path.join(pristine, name))
        want = row_checksums(src.filter(pc.invert(pc.is_in(src[id_col], gone))))
        have = row_checksums(got)
        if have != want:
            problems.append(f"{name}: survivors {have} != expected {want}")
        rows += have[0]
        digest = (digest + have[1]) & MASK64
    if (rows, digest) != tuple(survivors):
        problems.append(f"lake survivors {(rows, digest)} != generator {tuple(survivors)}")
    return problems


def _lines(path: str) -> list[bytes]:
    with gzip.open(path, "rb") as f:
        return f.read().splitlines()


def json_lake(lake: str, pristine: str, id_col: str, deleted: list[int],
              survivors: tuple[int, int]) -> list[str]:
    """Each object's surviving lines are byte-identical, in order, to its
    pristine lines minus those whose ``id_col`` was queued; lake-wide
    survivor count and line digest match ``survivors`` from the
    generator."""
    gone = set(deleted)
    problems, rows, digest = [], 0, 0
    for src in lake_files(pristine):
        name = os.path.basename(src)
        path = os.path.join(lake, name)
        if not os.path.exists(path):
            problems.append(f"{name}: object missing")
            continue
        want = [ln for ln in _lines(src) if json.loads(ln)[id_col] not in gone]
        got = _lines(path)
        if got != want:
            problems.append(f"{name}: {len(got)} lines, expected {len(want)} byte-identical")
        rows += len(got)
        for ln in got:
            digest = (digest + _line_hash(ln.decode("utf-8"))) & MASK64
    if (rows, digest) != tuple(survivors):
        problems.append(f"lake survivors {(rows, digest)} != generator {tuple(survivors)}")
    return problems


def curate_output(out_dir: str, spec: dict) -> list[str]:
    """The near-dup survivors hash to the generator's reference digest."""
    files = [
        os.path.join(out_dir, n)
        for n in os.listdir(out_dir)
        if n.endswith(".parquet")
    ]
    t = pa.concat_tables([pq.read_table(f) for f in files]) if files else None
    rows = [] if t is None else list(zip(
        t["doc_id"].to_pylist(), t["quality_score"].to_pylist(),
        t["lang_pred"].to_pylist(), t["n_tokens"].to_pylist(),
    ))
    digest = result_digest(rows)
    if len(rows) != spec["survivors"] or digest != spec["checksum"]:
        return [f"curate output: {len(rows)} rows digest {digest[:12]}, "
                f"expected {spec['survivors']} rows {spec['checksum'][:12]}"]
    return []
