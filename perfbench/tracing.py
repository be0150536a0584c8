"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's own files: ``Tracer.install``
replaces a few public functions of the package with timing wrappers for
the duration of a unit and ``uninstall`` puts the originals back, so
the package itself is never edited. Each span also names the Spark job
description of its phase (``pb|<span id>|<name>``); after the session
stops, ``spark_phases`` reads Spark's event log and attributes executor
CPU, shuffle, spill, input bytes and task counts to those phases.

A span's self time is its duration minus its children's durations.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int  # unique per tracer; names the Spark job description
    name: str
    parent: "Span | None"
    start: float
    end: float | None = None
    children: list = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.duration - sum(c.duration for c in self.children)


class Tracer:
    """In-memory spans for one process, reported when the run ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False  # inside a traced unit: wrappers installed
        self.roots: list[Span] = []
        self._stack: list[Span] = []
        self._phase: Span | None = None  # open-ended child, see ``phase``
        self._patches: list[tuple[object, str, object]] = []
        self._sids = 0

    def _new(self, name: str, parent: Span | None, start: float) -> Span:
        self._sids += 1
        s = Span(self._sids, name, parent, start)
        (parent.children if parent else self.roots).append(s)
        return s

    # --- spans ------------------------------------------------------------

    def _describe(self, span: Span | None) -> None:
        self.sc.setJobDescription(f"pb|{span.sid}|{span.name}" if span else None)

    def _close_phase(self, at: float) -> None:
        if self._phase is not None:
            self._phase.end = at
            self._phase = None

    @contextmanager
    def span(self, name: str):
        now = time.time()
        self._close_phase(now)
        s = self._new(name, self._stack[-1] if self._stack else None, now)
        self._stack.append(s)
        self._describe(s)
        try:
            yield s
        finally:
            end = time.time()
            self._close_phase(end)
            s.end = end
            self._stack.pop()
            self._describe(self._stack[-1] if self._stack else None)

    def phase(self, name: str) -> None:
        """Open a child span that ends when its next sibling starts or its
        parent ends: for a call that returns a lazy DataFrame whose Spark
        jobs run later in the caller (``find_affected_files``)."""
        now = time.time()
        self._close_phase(now)
        s = self._new(name, self._stack[-1], now)
        self._phase = s
        self._describe(s)

    # --- wrapping the package's public functions ----------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper(original))

    def _timed(self, name: str, attrs=None):
        """Wrap ``fn`` in a span; ``attrs(args, kwargs)`` annotates it."""
        def wrap(fn):
            def timed(*args, **kwargs):
                with self.span(name) as s:
                    if attrs:
                        s.attrs = attrs(args, kwargs)
                    return fn(*args, **kwargs)
            return timed
        return wrap

    def _lazy(self, name: str):
        def wrap(fn):
            def phased(*args, **kwargs):
                self.phase(name)
                return fn(*args, **kwargs)
            return phased
        return wrap

    def install(self) -> None:
        from amazon_s3_find_and_forget_spark import api, matches
        from amazon_s3_find_and_forget_spark.data_mappers import DataMapper
        from amazon_s3_find_and_forget_spark.plans import find, forget

        self._patch(api, "run_job", self._timed("jobs.run_job"))
        self._patch(DataMapper, "read", self._timed("data_mappers.read"))
        self._patch(matches, "build_column_groups",
                    self._timed("matches.column_groups"))
        self._patch(matches, "write_manifest", self._timed("matches.write_manifest"))
        self._patch(find, "find_affected_files", self._lazy("find"))
        self._patch(forget, "forget_files", self._timed(
            "forget",
            lambda a, kw: {"fmt": kw.get("fmt", "parquet"), "objects": len(a[1])},
        ))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    @contextmanager
    def unit(self):
        """One traced unit: wrappers installed, a root span named "unit"."""
        self.install()
        self.active = True
        try:
            with self.span("unit"):
                yield
        finally:
            self.active = False
            self.uninstall()



def walk(spans):
    for s in spans:
        yield s
        yield from walk(s.children)


# --- Spark event log ------------------------------------------------------


def spark_phases(event_dir: str) -> dict[int, dict]:
    """{span id: totals} over the Spark jobs whose description a span
    set. Totals: jobs, tasks, executor CPU seconds, input bytes
    and records, shuffle bytes written, bytes spilled (memory + disk)."""
    jobs, stage_owner, out = {}, {}, {}
    tasks: list[tuple[int, dict]] = []
    # Spark 4 writes a directory of rolling event files per application
    paths = sorted(p for p in glob.glob(os.path.join(event_dir, "**"), recursive=True)
                   if os.path.isfile(p))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    jobs[ev["Job ID"]] = desc
                    for sid in ev.get("Stage IDs", []):
                        stage_owner.setdefault(sid, desc)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    for desc in jobs.values():
        key = _key(desc)
        if key:
            out.setdefault(key, _zero())["jobs"] += 1
    for sid, m in tasks:
        key = _key(stage_owner.get(sid, ""))
        if not key:
            continue
        t = out.setdefault(key, _zero())
        t["tasks"] += 1
        t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        inp = m.get("Input Metrics") or {}
        t["bytes_read"] += inp.get("Bytes Read", 0)
        t["records_read"] += inp.get("Records Read", 0)
        t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0)
    return out


def _key(desc: str) -> int | None:
    parts = desc.split("|")
    if len(parts) != 3 or parts[0] != "pb":
        return None
    return int(parts[1])


def spark_totals(phases: dict, spans) -> dict:
    """Spark totals summed over ``spans`` (each span's own jobs only)."""
    out = _zero()
    for s in spans:
        for k, v in phases.get(s.sid, {}).items():
            out[k] += v
    return out


def _zero() -> dict:
    return dict(jobs=0, tasks=0, cpu_s=0.0, bytes_read=0, records_read=0,
                shuffle_bytes=0, spill_bytes=0)


# --- kernel replay ------------------------------------------------------------


def replay_parquet(paths: list[str], spec: list[dict], workdir: str) -> dict:
    """Rewrite copies of ``paths`` serially in this process with the same
    calls ``sources.parquet_file.rewrite_parquet_file`` makes, timing
    decode (``read_row_group``), mask (``delete_mask`` + filter), encode
    (``ParquetWriter.write_table``) and commit (``versions.commit``)."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from amazon_s3_find_and_forget_spark.sources import versions
    from amazon_s3_find_and_forget_spark.sources.parquet_file import delete_mask

    acc = dict(decode_s=0.0, mask_s=0.0, encode_s=0.0, commit_s=0.0,
               bytes_in=0, bytes_out=0, objects=0)
    os.makedirs(workdir, exist_ok=True)
    for i, src in enumerate(paths):
        local = os.path.join(workdir, f"obj-{i}.parquet")
        tmp = local + ".new"
        shutil.copyfile(src, local)
        acc["bytes_in"] += os.path.getsize(local)
        snap = versions.snapshot(local)
        pf = pq.ParquetFile(local)
        schema = pf.schema_arrow.remove_metadata()
        with pq.ParquetWriter(tmp, schema, compression="snappy") as writer:
            for rg in range(pf.num_row_groups):
                t0 = time.perf_counter()
                table = pf.read_row_group(rg)
                t1 = time.perf_counter()
                out = table.filter(pc.invert(delete_mask(table, spec)))
                t2 = time.perf_counter()
                writer.write_table(out.cast(schema))
                t3 = time.perf_counter()
                acc["decode_s"] += t1 - t0
                acc["mask_s"] += t2 - t1
                acc["encode_s"] += t3 - t2
        t0 = time.perf_counter()
        pf.close()
        versions.commit(local, tmp, snap, delete_old=True)
        acc["commit_s"] += time.perf_counter() - t0
        acc["bytes_out"] += os.path.getsize(local)
        acc["objects"] += 1
        os.remove(local)
    acc["kernel_s"] = acc["decode_s"] + acc["mask_s"] + acc["encode_s"] + acc["commit_s"]
    return acc


def replay_json(paths: list[str], spec: list[dict], workdir: str) -> dict:
    """As ``replay_parquet`` for JSON Lines objects through
    ``sources.jsonl_file.rewrite_json_file`` (one timed call per object:
    read, parse, filter and gzip encode) and ``versions.commit``."""
    import shutil

    from amazon_s3_find_and_forget_spark.sources import versions
    from amazon_s3_find_and_forget_spark.sources.jsonl_file import rewrite_json_file

    acc = dict(rewrite_s=0.0, commit_s=0.0, lines=0, bytes_in=0,
               bytes_out=0, objects=0)
    os.makedirs(workdir, exist_ok=True)
    for i, src in enumerate(paths):
        local = os.path.join(workdir, f"obj-{i}.json.gz")
        tmp = local + ".new.gz"
        shutil.copyfile(src, local)
        acc["bytes_in"] += os.path.getsize(local)
        snap = versions.snapshot(local)
        t0 = time.perf_counter()
        stats = rewrite_json_file(local, tmp, spec)
        t1 = time.perf_counter()
        versions.commit(local, tmp, snap, delete_old=True)
        acc["commit_s"] += time.perf_counter() - t1
        acc["rewrite_s"] += t1 - t0
        acc["lines"] += stats["ProcessedRows"]
        acc["bytes_out"] += os.path.getsize(local)
        acc["objects"] += 1
        os.remove(local)
    acc["kernel_s"] = acc["rewrite_s"] + acc["commit_s"]
    return acc
