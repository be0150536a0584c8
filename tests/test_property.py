"""Property-based tests for the per-file rewrite kernels.

The reference tests these operators with golden examples only
(SURVEY.md §5); randomized properties give a stronger guarantee: for
ANY table and ANY match set, the survivors are exactly the complement
of the matched rows, nulls never match, and JSON survivors are
byte-exact. Pure-kernel tests — no SparkSession — so hundreds of cases
run in seconds.
"""

import json

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

from amazon_s3_find_and_forget_spark.sources.jsonl_file import rewrite_json_file
from amazon_s3_find_and_forget_spark.sources.parquet_file import (
    rewrite_parquet_file,
)

ids = st.one_of(st.integers(min_value=-1000, max_value=1000), st.none())
names = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 _",
    max_size=12,
)


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(st.tuples(ids, names), min_size=1, max_size=40),
    matches=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=8
    ),
)
def test_parquet_rewrite_is_exact_complement(tmp_path_factory, rows, matches):
    tmp = tmp_path_factory.mktemp("prop")
    src = str(tmp / "in.parquet")
    out = str(tmp / "out.parquet")
    table = pa.table(
        {
            "customer_id": pa.array([r[0] for r in rows], pa.int64()),
            "name": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, src)
    spec = [{"Type": "Simple", "Column": "customer_id", "MatchIds": matches}]
    stats = rewrite_parquet_file(src, out, spec)
    match_set = set(matches)
    # survivors: rows whose id is null OR not in the match set
    expected = [r for r in rows if r[0] is None or r[0] not in match_set]
    got = pq.read_table(out)
    assert stats["ProcessedRows"] == len(rows)
    assert stats["DeletedRows"] == len(rows) - len(expected)
    assert got.num_rows == len(expected)
    assert list(
        zip(
            got.column("customer_id").to_pylist(),
            got.column("name").to_pylist(),
        )
    ) == expected
    assert got.schema.names == table.schema.names


json_values = st.one_of(
    st.integers(min_value=-50, max_value=50),
    st.text(alphabet="abcXYZ \t\\\"\n'", max_size=8),
    st.none(),
    st.booleans(),
)


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(
        st.fixed_dictionaries(
            {"customer_id": st.one_of(st.integers(1, 30), st.none())},
            optional={"extra": json_values, "Nested": st.fixed_dictionaries({"v": json_values})},
        ),
        min_size=1,
        max_size=30,
    ),
    matches=st.lists(st.integers(1, 30), min_size=1, max_size=6),
)
def test_jsonl_rewrite_byte_exact_complement(tmp_path_factory, rows, matches):
    tmp = tmp_path_factory.mktemp("propj")
    src = str(tmp / "in.json")
    out = str(tmp / "out.json")
    raw_lines = [json.dumps(r) for r in rows]
    with open(src, "w") as f:
        f.write("\n".join(raw_lines) + "\n")
    spec = [{"Type": "Simple", "Column": "customer_id", "MatchIds": matches}]
    stats = rewrite_json_file(src, out, spec)
    match_set = set(matches)
    # null/missing never match
    expected = [
        raw
        for raw, r in zip(raw_lines, rows)
        if not (r.get("customer_id") is not None and r["customer_id"] in match_set)
    ]
    with open(out) as f:
        survived = f.read().splitlines()
    assert stats["ProcessedRows"] == len(rows)
    assert survived == expected  # byte-exact raw lines, original order


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(1, 10), st.integers(1, 10)),
        min_size=1,
        max_size=30,
    ),
    match_tuples=st.lists(
        st.tuples(st.integers(1, 10), st.integers(1, 10)),
        min_size=1,
        max_size=5,
    ),
)
def test_parquet_composite_complement(tmp_path_factory, rows, match_tuples):
    tmp = tmp_path_factory.mktemp("propc")
    src = str(tmp / "in.parquet")
    out = str(tmp / "out.parquet")
    pq.write_table(
        pa.table(
            {
                "a": pa.array([r[0] for r in rows], pa.int64()),
                "b": pa.array([r[1] for r in rows], pa.int64()),
            }
        ),
        src,
    )
    spec = [
        {
            "Type": "Composite",
            "Columns": ["a", "b"],
            "MatchIds": [tuple(t) for t in match_tuples],
        }
    ]
    stats = rewrite_parquet_file(src, out, spec)
    match_set = set(tuple(t) for t in match_tuples)
    expected = [r for r in rows if tuple(r) not in match_set]
    got = pq.read_table(out)
    assert stats["DeletedRows"] == len(rows) - len(expected)
    assert list(
        zip(got.column("a").to_pylist(), got.column("b").to_pylist())
    ) == expected


# ---------------------------------------------------------------------------
# whole-job cross-phase consistency (SURVEY §7.3 risk 3): for ANY match
# set — present keys, absent keys, or a mix — the Find phase and the
# Forget phase agree: survivors are exactly the complement, absent keys
# touch nothing, and no object ever fails with "no rows deleted".
# ---------------------------------------------------------------------------


@settings(max_examples=6, deadline=None)
@given(
    keys=st.lists(
        st.integers(min_value=0, max_value=40), min_size=1, max_size=8, unique=True
    )
)
def test_job_find_forget_consistency(spark, sf_dir, keys):
    import os
    import shutil
    import tempfile

    from amazon_s3_find_and_forget_spark.data_mappers import DataMapper
    from amazon_s3_find_and_forget_spark.jobs import run_job
    from amazon_s3_find_and_forget_spark.matches import QueueItem

    lake = tempfile.mkdtemp(prefix="s3f2-prop-")
    try:
        for f in ("a.parquet", "b.parquet"):
            shutil.copy(
                os.path.join(sf_dir, "nation.parquet"), os.path.join(lake, f)
            )
        before = {
            r.n_nationkey
            for r in spark.read.parquet(lake).select("n_nationkey").collect()
        }
        mapper = DataMapper("m", lake, ["n_nationkey"])
        result = run_job(
            spark, [mapper], [QueueItem(match_id=k) for k in keys]
        )
        assert result.status == "COMPLETED"
        # no object failed the DeletedRows==0 cross-phase check
        assert all(s[4] in ("updated",) for s in result.file_stats)
        after = [
            r.n_nationkey
            for r in spark.read.parquet(lake).select("n_nationkey").collect()
        ]
        expected = before - set(keys)
        assert set(after) == expected
        assert len(after) == 2 * len(expected)  # both file copies rewritten
        # absent-only match sets must touch zero files
        if not (set(keys) & before):
            assert result.file_stats == []
    finally:
        shutil.rmtree(lake, ignore_errors=True)


@settings(max_examples=8, deadline=None)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """The iterative min-label/pointer-jumping operator agrees with a
    sequential union-find on arbitrary small graphs (self-loops and
    duplicate/reversed edges included)."""
    from amazon_s3_find_and_forget_spark.operators.graph import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.comp for r in connected_components(df, max_iter=15).collect()
    }

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    nodes = set()
    for a, b in edges:
        if a != b:
            union(a, b)
            nodes.update((a, b))
    want = {n: find(n) for n in nodes}
    # canonicalize union-find roots to the true min of each component
    comp_min = {}
    for n, r in want.items():
        comp_min[r] = min(comp_min.get(r, n), n)
    want = {n: comp_min[find(n)] for n in nodes}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),   # user
            st.integers(min_value=0, max_value=20),  # minute offset
            st.sampled_from(["a", "b", "c", "x"]),   # event type
        ),
        min_size=1,
        max_size=60,
    )
)
def test_funnel_matches_greedy_subsequence(spark, events):
    """funnel_counts agrees with a sequential greedy subsequence matcher
    on arbitrary event streams (duplicate timestamps, repeats, noise
    events included)."""
    from datetime import datetime, timedelta

    from amazon_s3_find_and_forget_spark.operators import funnel

    steps = ["a", "b", "c"]
    base = datetime(2024, 1, 1)
    rows = [
        (u, base + timedelta(minutes=m), ty) for u, m, ty in events
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    got = {
        r.step: r.users for r in funnel.funnel_counts(df, steps).collect()
    }

    # the sequential reference replicates the operator's contract
    # exactly — chained "earliest strictly-after" minimums (a plain
    # greedy walk over a sorted stream would mis-handle simultaneous
    # timestamps, which the strict > excludes regardless of intra-
    # instant order)
    def reached_strict(user_rows):
        last = None
        for s in steps:
            cand = [
                ts for ts, ty in user_rows
                if ty == s and (last is None or ts > last)
            ]
            if not cand:
                return steps.index(s)
            last = min(cand)
        return len(steps)

    per_user = {}
    for u, ts, ty in rows:
        per_user.setdefault(u, []).append((ts, ty))
    expect = {i + 1: 0 for i in range(len(steps))}
    for user_rows in per_user.values():
        d = reached_strict(user_rows)
        for i in range(1, d + 1):
            expect[i] += 1
    assert got == expect


@given(
    stream=st.lists(
        st.tuples(st.integers(0, 30), st.integers(1, 20)), max_size=60
    ),
    capacity=st.integers(1, 8),
)
@settings(max_examples=200, deadline=None)
def test_mg_insert_invariants(stream, capacity):
    """Misra-Gries under arbitrary batched arrival: never overcounts,
    undercount bounded by n/(capacity+1), size bounded by capacity."""
    from collections import Counter

    from amazon_s3_find_and_forget_spark.streaming.heavy_hitters import (
        _mg_insert,
    )

    summary: dict = {}
    exact: Counter = Counter()
    n = 0
    for key, c in stream:
        k = f"k{key}"
        _mg_insert(summary, k, c, capacity)
        exact[k] += c
        n += c
        assert len(summary) <= capacity
    bound = n / (capacity + 1)
    for k, true in exact.items():
        mg = summary.get(k, 0)
        assert mg <= true  # no overcount, ever
        assert true - mg <= bound  # classic MG undercount bound
    # no phantom keys, no nonpositive counts
    assert all(k in exact and v > 0 for k, v in summary.items())


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(st.tuples(ids, names), min_size=1, max_size=40),
    matches=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=8
    ),
)
def test_parquet_redact_preserves_unmatched_and_nulls_matched(
    tmp_path_factory, rows, matches
):
    """Redact mode: for ANY table and match set, row count is preserved,
    the redacted column is null exactly on matched rows (nulls never
    match), every other column is byte-identical, and the affected
    count equals the delete-mode count on the same inputs."""
    tmp = tmp_path_factory.mktemp("prop-redact")
    src = str(tmp / "in.parquet")
    out = str(tmp / "out.parquet")
    table = pa.table(
        {
            "customer_id": pa.array([r[0] for r in rows], pa.int64()),
            "name": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, src)
    spec = [{"Type": "Simple", "Column": "customer_id", "MatchIds": matches}]
    stats = rewrite_parquet_file(
        src, out, spec, redact_columns=["name"]
    )
    match_set = set(matches)
    matched = [r[0] is not None and r[0] in match_set for r in rows]
    got = pq.read_table(out)
    assert got.num_rows == len(rows)
    assert stats["ProcessedRows"] == len(rows)
    assert stats["DeletedRows"] == sum(matched)
    # identifier column untouched, redacted column nulled iff matched
    assert got.column("customer_id").to_pylist() == [r[0] for r in rows]
    assert got.column("name").to_pylist() == [
        None if m else r[1] for r, m in zip(rows, matched)
    ]
    assert got.schema == table.schema


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(st.tuples(ids, names), min_size=1, max_size=30),
    matches=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=8
    ),
)
def test_jsonl_redact_byte_exact_unmatched(tmp_path_factory, rows, matches):
    """JSONL redact: unmatched lines stay byte-exact (odd spacing and
    all), matched lines re-serialize with the key nulled, and row count
    is preserved for ANY table and match set."""
    tmp = tmp_path_factory.mktemp("prop-jredact")
    src = str(tmp / "in.json")
    out = str(tmp / "out.json")
    # deliberately odd formatting so byte-exactness is meaningful
    lines = [
        f'{{"customer_id": {json.dumps(r[0])},  "name":{json.dumps(r[1])} }}'
        for r in rows
    ]
    with open(src, "w") as f:
        f.write("\n".join(lines) + "\n")
    spec = [{"Type": "Simple", "Column": "customer_id", "MatchIds": matches}]
    stats = rewrite_json_file(src, out, spec, redact_columns=["name"])
    match_set = set(matches)
    # a null id never matches; 0 is an id like any other
    matched = [r[0] is not None and r[0] in match_set for r in rows]
    got = open(out).read().splitlines()
    assert stats["ProcessedRows"] == len(rows)
    assert stats["DeletedRows"] == sum(matched)
    assert len(got) == len(rows)
    for line, src_line, r, m in zip(got, lines, rows, matched):
        if m:
            assert json.loads(line) == {"customer_id": r[0], "name": None}
        else:
            assert line == src_line


# --- sampling histogram engine vs the naive rank model ---------------------


def _expected_sample(rows, target_of_count, salt=""):
    """Naive single-window model of _hash_rank_sample: per stratum, the
    target_of_count(|stratum|) rows smallest under (md5(key||salt), key)
    with nulls FIRST (Spark's asc_nulls_first) — the semantics the
    histogram engine must reproduce exactly."""
    import hashlib
    import math as m
    from collections import defaultdict

    def skey(s):  # NaN != NaN would split the stratum dict
        if isinstance(s, float) and m.isnan(s):
            return "__NaN__"
        return ("NULL",) if s is None else ("V", s)

    by_stratum = defaultdict(list)
    raw_stratum = {}
    for key, stratum in rows:
        h = (
            hashlib.md5((str(key) + salt).encode()).hexdigest()
            if key is not None
            else None
        )
        by_stratum[skey(stratum)].append((key, h))
        raw_stratum[skey(stratum)] = stratum
    keep = []
    for srt, members in by_stratum.items():
        members.sort(
            key=lambda kh: (
                (0,) if kh[1] is None else (1, kh[1]),
                (0,) if kh[0] is None else (1, kh[0]),
            )
        )
        target = min(
            len(members),
            int(target_of_count(len(members), raw_stratum[srt])),
        )
        keep += [(k, srt) for k, _ in members[: max(target, 0)]]
    return sorted(keep, key=str)


def test_hash_rank_sample_equals_naive_rank_model(spark):
    """Randomized equivalence (seeded): the skew-safe histogram engine
    (definite map-only admit + boundary window + grid-x refinement)
    must match the naive full-window formulation for any fraction,
    strata skew, null key/stratum, NaN stratum, and grid size —
    including the degenerate keep-all and sample-nothing targets."""
    import math as m
    import random

    from amazon_s3_find_and_forget_spark.operators import text

    rng = random.Random(20260815)
    targets = [
        ("frac", 0.01), ("frac", 0.5), ("frac", 0.99),
        ("n", 0), ("n", 3), ("n", 10**6),
    ]
    for case in range(10):
        n_rows = rng.randint(1, 260)
        n_strata = rng.choice([1, 2, 5])
        # skewed strata mix, sometimes with a NULL stratum
        strata = [f"s{i}" for i in range(n_strata)]
        if rng.random() < 0.5:
            strata.append(None)
        weights = [rng.random() ** 3 + 0.01 for _ in strata]
        keys = rng.sample(range(-(10**6), 10**6), n_rows)
        if rng.random() < 0.6:  # one null key (unique per df: the rank
            keys[0] = None     # tie-break needs distinct keys)
        rows = [
            (k, rng.choices(strata, weights)[0]) for k in keys
        ]
        df = spark.createDataFrame(rows, "key long, stratum string")
        kind, val = targets[case % len(targets)]
        fn = (
            (lambda c, s, v=val: m.ceil(c * v))
            if kind == "frac"
            else (lambda c, s, v=val: v)
        )
        grid = rng.choice([4, 1024])
        got = sorted(
            ((r["key"], ("NULL",) if r["stratum"] is None else ("V", r["stratum"]))
             for r in text._hash_rank_sample(
                 df, "stratum", "key", "", fn,
                 grid=grid, boundary_budget=8,
             ).collect()),
            key=str,
        )
        want = _expected_sample(rows, fn)
        assert got == want, (case, kind, val, grid, len(rows))

    # NaN strata (double-typed): Spark groups all NaNs as one stratum
    nan = float("nan")
    rows = [(i, nan if i % 3 == 0 else (None if i % 3 == 1 else 1.5))
            for i in range(60)]
    df = spark.createDataFrame(rows, "key long, stratum double")
    got = sorted(
        ((r["key"],
          "__NaN__" if r["stratum"] is not None and m.isnan(r["stratum"])
          else (("NULL",) if r["stratum"] is None else ("V", r["stratum"])))
         for r in text._hash_rank_sample(
             df, "stratum", "key", "", lambda c, s: m.ceil(c * 0.5),
             grid=4, boundary_budget=4,
         ).collect()),
        key=str,
    )
    want = _expected_sample(rows, lambda c, s: m.ceil(c * 0.5))
    assert got == want

    # per-stratum integer targets (the mixture sampler): the whitelist
    # semantics and exact counts must match the naive model too
    rows = [(i, f"s{i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows, "key long, stratum string")
    targets = {"s0": 7, "s1": 0, "s2": 10**6}
    got = sorted(
        ((r["key"], ("V", r["stratum"]))
         for r in text.exact_mixture_sample(
             df, targets, strata_col="stratum", key_col="key"
         ).collect()),
        key=str,
    )
    want = _expected_sample(rows, lambda c, s: targets.get(s, 0))
    assert got == want
