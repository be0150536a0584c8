"""Tests for dedup / similarity / text / multimodal operators over the
driver-generated documents & embeddings tables."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from amazon_s3_find_and_forget_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).cache()


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).cache()


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id long, text string"
    )
    out = dedup.exact_dedup(df)
    assert sorted(r.doc_id for r in out.collect()) == [1, 3]


def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base.replace("lazy", "sleepy")
    other = "completely different content about databases and spark " * 8
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other), (4, base)],
        "doc_id long, text string",
    )
    pairs = dedup.verified_jaccard_pairs(
        df, dedup.minhash_candidate_pairs(df), threshold=0.5
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 4) in got  # exact dup
    assert (1, 2) in got or (2, 4) in got  # near dup
    assert not any(3 in p for p in got)

    survivors = dedup.minhash_dedup(df, threshold=0.5)
    ids = sorted(r.doc_id for r in survivors.collect())
    assert 1 in ids and 3 in ids and 4 not in ids


def test_minhash_dedup_over_budget_lazy_path_is_result_identical(
    spark, monkeypatch
):
    """The round-18 over-budget shape (signatures LAZY so AQE exchange
    reuse serves both band-join sides from one shuffle) must return
    exactly the broadcast path's survivor set. Forcing budget=0 routes
    the same corpus through the sort-merge/lazy path."""
    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base.replace("lazy", "sleepy")
    other = "completely different content about databases and spark " * 8
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other), (4, base), (5, other + " x")],
        "doc_id long, text string",
    )
    bcast = {r.doc_id for r in dedup.minhash_dedup(df, threshold=0.8).collect()}
    monkeypatch.setattr(dedup, "BAND_BROADCAST_BUDGET", 0)
    lazy = {r.doc_id for r in dedup.minhash_dedup(df, threshold=0.8).collect()}
    assert lazy == bcast
    # the legacy banding layout takes the same two paths
    monkeypatch.setattr(dedup, "BAND_BROADCAST_BUDGET", 256 << 20)
    bcast5 = {r.doc_id for r in dedup.minhash_dedup(df, threshold=0.5).collect()}
    monkeypatch.setattr(dedup, "BAND_BROADCAST_BUDGET", 0)
    lazy5 = {r.doc_id for r in dedup.minhash_dedup(df, threshold=0.5).collect()}
    assert lazy5 == bcast5


def test_minhash_near_dup_pairs_fused_matches_two_phase(spark, monkeypatch):
    """The round-18 fused signature-verify pair source (inline
    agreement on the band self-join) must emit exactly the rows the
    old two-phase shape (band_pairs -> signature_similarity_pairs)
    emitted, at both join-strategy budgets."""
    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base.replace("lazy", "sleepy")
    other = "completely different content about databases and spark " * 8
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other), (4, base), (5, other + " y")],
        "doc_id long, text string",
    )

    def two_phase(threshold):
        bands = dedup.optimal_bands(64, threshold)
        sigs = dedup.minhash_signatures(df, "text", "doc_id", 5, 64).persist()
        try:
            pairs = dedup.band_pairs(sigs, bands, 64)
            return {
                (r.id_a, r.id_b, r.jaccard)
                for r in dedup.signature_similarity_pairs(
                    sigs, pairs, 64, threshold
                ).collect()
            }
        finally:
            sigs.unpersist()

    for budget in (256 << 20, 0):
        monkeypatch.setattr(dedup, "BAND_BROADCAST_BUDGET", budget)
        for threshold in (0.8, 0.5):
            fused = {
                (r.id_a, r.id_b, r.jaccard)
                for r in dedup.minhash_near_dup_pairs(
                    df, threshold=threshold
                ).collect()
            }
            assert fused == two_phase(threshold), (budget, threshold)


def test_band_pairs_skew_guard(spark):
    """max_bucket: mass-duplicated docs star-pair against the bucket min
    (linear) instead of all-pairs (quadratic); small buckets unaffected."""
    boiler = "unsubscribe from this newsletter by clicking the link below " * 5
    a = "the quick brown fox jumps over the lazy dog " * 8
    rows = [(i, boiler) for i in range(100, 120)] + [(1, a), (2, a)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_candidate_pairs(df, max_bucket=5).collect()
    }
    # every boilerplate copy still pairs with the group min -> all get
    # dropped by minhash_dedup's smaller-id policy
    assert {(100, i) for i in range(101, 120)} <= capped
    # no non-star pair inside the capped bucket
    assert not any(
        x >= 101 and y >= 101 for x, y in capped if x != 100 and y != 100
    )
    # the small (size-2) bucket still all-pairs
    assert (1, 2) in capped
    survivors = dedup.minhash_dedup(df, threshold=0.5, max_bucket=5)
    ids = sorted(r.doc_id for r in survivors.collect())
    assert ids == [1, 100]
    # uncapped candidates are a superset
    uncapped = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_candidate_pairs(df).collect()
    }
    assert capped <= uncapped


def test_dedup_releases_caches(spark):
    """Every dedup operator unpersists its intermediates: after the
    results are consumed and collected, the only blocks allowed to
    remain are the auto-released localCheckpoint RDDs of results still
    referenced by Python (the ContextCleaner GCs those)."""
    import gc

    sc = spark.sparkContext
    # other suites' module fixtures may legitimately hold caches — the
    # assertion is that the dedup calls add NOTHING to that baseline
    baseline = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    df = spark.createDataFrame(
        [(i, f"doc number {i % 3} repeated content here") for i in range(30)],
        "doc_id long, text string",
    )
    dedup.minhash_dedup(df, threshold=0.5).count()
    dedup.simhash_near_duplicates(df).count()
    dedup.ngram_jaccard_pairs(df).count()
    gc.collect()  # release checkpointed result handles -> ContextCleaner

    def leaked_persists():
        """New persistent RDDs that are NOT localCheckpoint blocks.

        The operators' contract is that every persist() is explicitly
        unpersisted before return (synchronous); the eager checkpoint of
        the small RESULT relation is auto-released by the ContextCleaner
        asynchronously, so checkpoint blocks (identifiable by the
        CheckpointRDD node in their lineage) are tolerated while GC
        catches up.
        """
        jmap = sc._jsc.getPersistentRDDs()
        out = []
        for rdd_id in set(jmap.keySet().toArray()) - baseline:
            debug = jmap.get(rdd_id).toDebugString()
            if "CheckpointRDD" not in debug:
                out.append((rdd_id, debug.splitlines()[0]))
        return out

    # persist()-ed intermediates must all be gone immediately; give the
    # weak-ref cleaner a short grace for anything in flight
    import time as _t

    for _ in range(20):
        if not leaked_persists():
            break
        gc.collect()
        spark._jvm.System.gc()
        _t.sleep(0.25)
    assert leaked_persists() == []


def test_pair_agg_confs_serializes_concurrent_windows(spark):
    """_pair_agg_confs mutates session-global confs; concurrent entrants
    must serialize so one window's transient values never leak into
    another's saved state (or survive after both exit)."""
    import threading

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    try:
        before = spark.conf.get(key)
    except Exception:
        before = None
    entered = threading.Event()
    release = threading.Event()
    order = []

    def holder():
        with dedup._pair_agg_confs(spark):
            order.append("holder-in")
            entered.set()
            release.wait(timeout=30)
        order.append("holder-out")

    def waiter():
        entered.wait(timeout=30)
        with dedup._pair_agg_confs(spark):
            order.append("waiter-in")
        order.append("waiter-out")

    t1 = threading.Thread(target=holder)
    t2 = threading.Thread(target=waiter)
    t1.start()
    t2.start()
    entered.wait(timeout=30)
    # give the waiter a moment to (incorrectly) slip in, then release
    t2.join(timeout=0.5)
    assert "waiter-in" not in order  # blocked while holder is inside
    release.set()
    t1.join(timeout=30)
    t2.join(timeout=30)
    assert order == ["holder-in", "holder-out", "waiter-in", "waiter-out"]
    try:
        after = spark.conf.get(key)
    except Exception:
        after = None
    assert after == before  # fully restored, no leaked transient


def test_simhash_near_dups(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    near = base.replace("theta", "iota")
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, "unrelated words entirely here now")],
        "doc_id long, text string",
    )
    pairs = dedup.simhash_near_duplicates(df, max_hamming=12)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert not any(3 in p for p in got)


def test_ngram_jaccard(spark):
    a = "one two three four five six seven eight"
    b = "one two three four five six seven nine"
    c = "totally different words with nothing shared"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    pairs = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.3)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert (1, 2) in got
    assert all(3 not in k for k in got)


def test_cosine_topk_matches_numpy(embs):
    rows = embs.limit(50).collect()
    q = rows[0].embedding
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    qv = np.array(q, dtype=np.float64)
    ref = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    order = sorted(
        zip([r.vec_id for r in rows], ref), key=lambda t: (-round(t[1], 6), t[0])
    )[:5]
    sub = embs.sparkSession.createDataFrame(rows, embs.schema)
    got = similarity.cosine_topk(sub, list(q), k=5).collect()
    assert [r.vec_id for r in got] == [t[0] for t in order]
    for r, (_, expected) in zip(got, order):
        assert abs(r.cosine - expected) < 1e-4


def test_lsh_topk_probes_subset(embs):
    q = embs.limit(1).collect()[0].embedding
    dim = len(q)
    exact = similarity.cosine_topk(embs, list(q), k=1).collect()
    approx = similarity.lsh_topk(embs, list(q), k=1, bits=6).collect()
    # the query vector itself lands in its own bucket -> recall@1 for self
    assert approx[0].vec_id == exact[0].vec_id


def test_embedding_near_duplicates(spark):
    v = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.01, 0.0, 0.0]
    far = [0.0, 1.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(1, v), (2, near), (3, far)], "vec_id long, embedding array<float>"
    )
    pairs = similarity.embedding_near_duplicates(df, dim=4, threshold=0.99, bits=4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert not any(3 in p for p in got)


def test_lsh_topk_batch_agrees_with_single_query(spark, embs):
    """The batched bucket-join search returns the same hits as the
    per-query lsh_topk loop it replaces."""
    rows = embs.limit(3).collect()
    dim = len(rows[0].embedding)
    queries = spark.createDataFrame(
        [(r.vec_id, r.embedding) for r in rows],
        "query_id long, query_embedding array<float>",
    )
    batched = similarity.lsh_topk_batch(
        embs, queries, k=5, dim=dim, bits=4
    ).collect()
    by_query = {}
    for r in batched:
        by_query.setdefault(r.query_id, []).append((r.vec_id, r.cosine))
    for r in rows:
        single = [
            (s.vec_id, s.cosine)
            for s in similarity.lsh_topk(
                embs,
                [float(v) for v in r.embedding],
                k=5,
                bits=4,
            ).collect()
        ]
        assert by_query[r.vec_id] == single
        # the query vector itself is always its own nearest neighbor
        assert by_query[r.vec_id][0][0] == r.vec_id


def test_exact_near_duplicate_pairs(spark):
    v = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.01, 0.0, 0.0]
    far = [0.0, 1.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(1, v), (2, near), (3, far)], "vec_id long, embedding array<float>"
    )
    pairs = similarity.exact_near_duplicate_pairs(df, threshold=0.99)
    got = {(r.id_a, r.id_b): r.cosine for r in pairs.collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] > 0.999


def test_lsh_near_dups_subset_of_exact(embs):
    """LSH candidates are a subset of the exact ground truth (precision 1
    after the verify step), and recall on the sf0.001 corpus is decent."""
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.exact_near_duplicate_pairs(
            embs, threshold=0.4
        ).collect()
    }
    dim = len(embs.limit(1).collect()[0].embedding)
    approx = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_duplicates(
            embs, dim=dim, threshold=0.4, bits=4
        ).collect()
    }
    assert approx <= exact
    if exact:
        assert len(approx) / len(exact) >= 0.3


def test_token_count_and_quality(docs):
    out = text.with_quality(text.with_token_count(docs)).limit(20).collect()
    for r in out:
        assert r.n_tokens >= 0
        assert 0.0 <= r.quality_score <= 1.0


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat in the house for a while"),
            (2, "der Hund und die Katze ist nicht mit der Maus"),
            (3, "xyzzy plugh qwerty"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lang_pred for r in text.with_lang_id(df).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "und"


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.fingerprint for r in text.with_fingerprint(df).collect()}
    assert out[1] == out[2] != out[3]


def test_multimodal_features(spark):
    rows = [
        (1, "image", b"img-bytes-1", "image/png", 8, 8, None),
        (2, "audio", b"audio-bytes", "audio/wav", None, None, 2500),
        (3, "video", b"video-bytes", "video/mp4", 16, 16, 3500),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = multimodal.extract_features(df).collect()
    assert len(feats) == 3
    by_id = {r.media_id: r for r in feats}
    assert len(by_id[1].feature) == multimodal.FEATURE_DIM
    assert by_id[1].payload_bytes == len(b"img-bytes-1")
    # deterministic across runs
    feats2 = multimodal.extract_features(df).collect()
    assert {r.media_id: r.feature for r in feats2} == {
        r.media_id: r.feature for r in feats
    }

    frames = multimodal.frame_sample(df, every_ms=1000).collect()
    assert {r.media_id for r in frames} == {3}
    assert len(frames) == 3  # 3500ms -> frames at 0,1000,2000


def test_ivf_topk_matches_brute_force_when_exhaustive(embs):
    from amazon_s3_find_and_forget_spark.operators import similarity

    q = [float(v) for v in embs.limit(1).collect()[0].embedding]
    cent = similarity.train_ivf_centroids(embs, n_centroids=16, sample_size=500)
    exact = [
        (r.vec_id, r.cosine)
        for r in similarity.cosine_topk(embs, q, k=10).collect()
    ]
    # probing every cell must reproduce the exact result
    full = [
        (r.vec_id, r.cosine)
        for r in similarity.ivf_topk(embs, q, cent, k=10, nprobe=16).collect()
    ]
    assert full == exact
    # partial probe returns a subset of the corpus ranked exactly
    part = similarity.ivf_topk(embs, q, cent, k=10, nprobe=4).collect()
    assert len(part) == 10
    assert part[0].vec_id == exact[0][0]  # true NN lives in the top cell


def test_ivf_partitioned_layout_prunes(spark, embs, tmp_path):
    """On a corpus written partitionBy(ivf_cell), probing nprobe cells is
    static partition pruning — the scan plan lists only probed dirs."""
    cent = similarity.train_ivf_centroids(embs, n_centroids=8, sample_size=300)
    layout = str(tmp_path / "ivf_layout")
    similarity.with_ivf_cell(embs, cent).write.partitionBy("ivf_cell").parquet(
        layout
    )
    indexed = spark.read.parquet(layout)
    q = [float(v) for v in embs.limit(1).collect()[0].embedding]
    out = similarity.ivf_topk(indexed, q, cent, k=5, nprobe=2)
    plan = out._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        out._jdf.queryExecution(), "formatted"
    )
    filters = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "ivf_cell" in filters and " IN " in filters
    assert len(out.collect()) == 5


def test_ivf_cell_assignment_partitions_corpus(embs):
    from amazon_s3_find_and_forget_spark.operators import similarity

    cent = similarity.train_ivf_centroids(embs, n_centroids=8, sample_size=300)
    cells = similarity.with_ivf_cell(embs, cent)
    counts = {r.ivf_cell: r["count"] for r in cells.groupBy("ivf_cell").count().collect()}
    assert sum(counts.values()) == embs.count()
    assert len(counts) > 1  # corpus actually spreads over cells


def test_asof_join_basic(spark):
    from datetime import datetime

    from amazon_s3_find_and_forget_spark.operators import temporal

    T = datetime
    quotes = spark.createDataFrame(
        [
            ("A", T(2024, 1, 1, 10, 0, 0), 100.0),
            ("A", T(2024, 1, 1, 10, 5, 0), 101.0),
            ("B", T(2024, 1, 1, 10, 2, 0), 50.0),
        ],
        "sym string, ts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [
            ("A", T(2024, 1, 1, 10, 0, 0), 1),   # equal ts -> sees 100.0
            ("A", T(2024, 1, 1, 10, 4, 59), 2),  # before 2nd quote -> 100.0
            ("A", T(2024, 1, 1, 10, 6, 0), 3),   # after 2nd -> 101.0
            ("B", T(2024, 1, 1, 10, 1, 0), 4),   # before any B quote -> null
            ("C", T(2024, 1, 1, 12, 0, 0), 5),   # key never quoted -> null
        ],
        "sym string, ts timestamp, trade_id int",
    )
    out = {
        r.trade_id: r.px
        for r in temporal.asof_join(
            trades, quotes, on=["sym"], ts_col="ts", right_cols=["px"]
        ).collect()
    }
    assert out == {1: 100.0, 2: 100.0, 3: 101.0, 4: None, 5: None}


def test_asof_join_tolerance(spark):
    from datetime import datetime

    from amazon_s3_find_and_forget_spark.operators import temporal

    T = datetime
    quotes = spark.createDataFrame(
        [("A", T(2024, 1, 1, 10, 0, 0), 100.0)],
        "sym string, ts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [
            ("A", T(2024, 1, 1, 10, 30, 0), 1),  # 30 min later: in tolerance
            ("A", T(2024, 1, 1, 12, 0, 0), 2),   # 2 h later: match nulled
        ],
        "sym string, ts timestamp, trade_id int",
    )
    out = {
        r.trade_id: r.px
        for r in temporal.asof_join(
            trades, quotes, ["sym"], "ts", ["px"], tolerance="1 hour"
        ).collect()
    }
    assert out == {1: 100.0, 2: None}


def test_asof_join_single_shuffle(spark):
    """The union+window as-of plans exactly one exchange (the key
    partition) — no range-join blowup, no per-side shuffle."""
    from datetime import datetime

    from amazon_s3_find_and_forget_spark.operators import temporal

    T = datetime
    quotes = spark.createDataFrame(
        [("A", T(2024, 1, 1), 1.0)], "sym string, ts timestamp, px double"
    )
    trades = spark.createDataFrame(
        [("A", T(2024, 1, 2), 1)], "sym string, ts timestamp, trade_id int"
    )
    df = temporal.asof_join(trades, quotes, ["sym"], "ts", ["px"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_interval_join_bounds_inclusive(spark):
    from datetime import datetime

    from amazon_s3_find_and_forget_spark.operators import temporal

    T = datetime
    obs = spark.createDataFrame(
        [("u1", T(2024, 1, 1, 12, 0, 0), 1)],
        "k string, ts timestamp, obs_id int",
    )
    feats = spark.createDataFrame(
        [
            ("u1", T(2024, 1, 1, 11, 0, 0), 10),  # exactly -1h: included
            ("u1", T(2024, 1, 1, 11, 30, 0), 11),  # inside
            ("u1", T(2024, 1, 1, 12, 0, 0), 12),  # exactly at ts: included
            ("u1", T(2024, 1, 1, 10, 59, 59), 13),  # just outside
            ("u1", T(2024, 1, 1, 12, 0, 1), 14),  # after: outside
            ("u2", T(2024, 1, 1, 11, 30, 0), 15),  # other key
        ],
        "k string, ts timestamp, feat_id int",
    )
    got = sorted(
        r.feat_id
        for r in temporal.interval_join(
            obs, feats, ["k"], "ts", "ts", -3600, 0, right_cols=["feat_id"]
        ).collect()
    )
    assert got == [10, 11, 12]


def test_interval_join_no_theta_join(spark):
    """The bucketized encoding keeps the range join an equi hash join:
    no cartesian/nested-loop node, one exchange per side."""
    from datetime import datetime

    from amazon_s3_find_and_forget_spark.operators import temporal

    T = datetime
    a = spark.createDataFrame(
        [("k", T(2024, 1, 1), 1)], "k string, ts timestamp, a int"
    )
    b = spark.createDataFrame(
        [("k", T(2024, 1, 1), 2)], "k string, ts timestamp, b int"
    )
    df = temporal.interval_join(a, b, ["k"], "ts", "ts", -60, 60, ["b"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_hyperplane_bucket_plan_stays_compact_at_real_dims(spark):
    """The LSH bucketing must not spell hyperplanes as literal arrays:
    at dim 768 x 8 bits that is ~6k Catalyst literals per table and plan
    compilation dies long before 100 TB does. The Arrow gemm kernel keeps
    the plan a single Python-eval node regardless of dim."""
    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(768).astype(float).tolist()) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.with_lsh_bucket(df, dim=768, bits=8)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert len(analyzed) < 20_000  # literal encoding is ~100k+ chars
    physical = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in physical  # vectorized, not row-at-a-time

    # kernel agrees with the numpy reference definition
    planes = similarity._hyperplanes(768, 8, 42)
    got = {r.vec_id: r.lsh_bucket for r in out.collect()}
    for vid, emb in rows:
        bits = (np.asarray(emb) @ planes.T) > 0
        expect = int((bits * (1 << np.arange(8))).sum())
        assert got[vid] == expect


def test_verified_jaccard_broadcasts_pair_side(spark):
    """Both shingle lookups must broadcast the (small) candidate pair
    relation so the corpus-sized shingle relation never shuffles for
    the lookup."""
    df = spark.createDataFrame(
        [(1, "aaaa bbbb cccc"), (2, "aaaa bbbb cccc"), (3, "dddd eeee")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = dedup.verified_jaccard_pairs(df, pairs, threshold=0.1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    assert [(r.id_a, r.id_b) for r in out.collect()] == [(1, 2)]


def test_floordiv_exact_on_negatives(spark):
    from amazon_s3_find_and_forget_spark.operators.temporal import _floordiv

    df = spark.createDataFrame(
        [(v,) for v in (-7, -3, -1, 0, 1, 3, 7, 1_700_000_000_000_000)],
        "v long",
    )
    got = [
        r.bk for r in df.select(_floordiv(F.col("v"), 3).alias("bk"))
        .orderBy("v").collect()
    ]
    expect = [v // 3 for v in sorted((-7, -3, -1, 0, 1, 3, 7, 1_700_000_000_000_000))]
    assert got == expect


def _wav_bytes(freq=440.0, rate=8000, seconds=0.5, channels=1):
    import io
    import wave

    n = int(rate * seconds)
    t = np.arange(n) / rate
    samples = (np.sin(2 * np.pi * freq * t) * 0.5 * 32767).astype("<i2")
    if channels == 2:
        samples = np.repeat(samples, 2)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def _ppm_bytes(arr):
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def test_real_wav_decode_features(spark):
    """WAV payloads get REAL decoded features (duration, rate, energy),
    not digest fakes."""
    payload = _wav_bytes(seconds=0.5, rate=8000)
    df = spark.createDataFrame(
        [(1, "audio", payload, "audio/wav", None, None, 500)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    row = multimodal.extract_features(df).collect()[0]
    feat = row.feature
    assert abs(feat[0] - 0.5) < 1e-3          # duration seconds
    assert abs(feat[1] - 8000 / 48000) < 1e-6  # sample rate
    assert 0.3 < feat[3] < 0.4                 # RMS of 0.5-amp sine ~ 0.3536
    assert 0.45 < feat[4] <= 0.51              # peak ~ 0.5


def test_real_ppm_decode_and_resize(spark):
    """PPM payloads get real pixel features."""
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(10, 8, 3), dtype=np.uint8)
    payload = _ppm_bytes(img)
    df = spark.createDataFrame(
        [(7, "image", payload, "image/x-portable-pixmap", 8, 10, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    feat = multimodal.extract_features(df).collect()[0].feature
    assert abs(feat[2] - img[..., 0].mean() / 255.0) < 1e-3  # mean R channel


def test_stereo_wav_downmix():
    samples, rate = multimodal._decode_wav(_wav_bytes(channels=2))
    assert rate == 8000
    assert len(samples) == 4000  # 0.5 s mono after downmix


def test_deterministic_split_reproducible_and_proportional(docs):
    """Same key -> same split on every run; ratios approximately hold;
    map-only (no shuffle)."""
    s1 = text.deterministic_split(docs).select("doc_id", "split")
    s2 = text.deterministic_split(docs).select("doc_id", "split")
    m1 = {r.doc_id: r.split for r in s1.collect()}
    m2 = {r.doc_id: r.split for r in s2.collect()}
    assert m1 == m2
    n = len(m1)
    train = sum(1 for v in m1.values() if v == "train")
    assert 0.8 < train / n < 0.97
    # re-salting re-rolls assignments
    m3 = {
        r.doc_id: r.split
        for r in text.deterministic_split(docs, salt="v2").collect()
    }
    assert m3 != m1
    plan = s1._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure map-side assignment


def test_redact_pii_masks_and_is_idempotent(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@example.co.uk now"),
            (2, "ssn 123-45-6789 phone 555-867-5309 end"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text_redacted for r in text.redact_pii(df).collect()}
    assert out[1] == "mail <EMAIL> now"
    assert out[2] == "ssn <SSN> phone <PHONE> end"
    assert out[3] == "nothing sensitive here"
    # idempotent: redacting redacted text changes nothing
    df2 = spark.createDataFrame(
        [(k, v) for k, v in out.items()], "doc_id long, text string"
    )
    out2 = {r.doc_id: r.text_redacted for r in text.redact_pii(df2).collect()}
    assert out2 == out


def test_quantize_embeddings_roundtrip_error_bounded(embs):
    """Dequantized vectors reconstruct within half a quantization step
    per component; zero vectors are handled."""
    q = similarity.quantize_embeddings(embs)
    rows = q.join(embs, "vec_id").select(
        "vec_id", "q_scale", "q_embedding", "embedding"
    ).limit(50).collect()
    for r in rows:
        orig = np.asarray(r.embedding, dtype=np.float64)
        deq = np.asarray(r.q_embedding, dtype=np.float64) * r.q_scale
        assert np.abs(orig - deq).max() <= r.q_scale / 2 + 1e-12
        assert np.abs(np.asarray(r.q_embedding)).max() <= 127


def test_chunk_documents_windows(spark):
    toks = "a b c d e f g h i j"  # 10 tokens
    df = spark.createDataFrame([(1, toks), (2, ""), (3, "x y")],
                               "doc_id long, text string")
    out = {
        (r.doc_id, r.chunk_id): (r.chunk_text, r.chunk_tokens)
        for r in text.chunk_documents(df, max_tokens=4, overlap=1).collect()
    }
    # stride 3: [a-d], [d-g], [g-j] — consecutive chunks share one token
    assert out[(1, 0)] == ("a b c d", 4)
    assert out[(1, 1)] == ("d e f g", 4)
    assert out[(1, 2)] == ("g h i j", 4)
    assert (1, 3) not in out
    assert out[(2, 0)] == ("", 0)       # empty doc -> one empty chunk
    assert out[(3, 0)] == ("x y", 2)    # short doc -> one short chunk


def test_pack_sequences_contiguous_fill(spark):
    rows = [(i, "en", 60) for i in range(10)]  # 60 tokens each
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens int")
    out = {r.doc_id: r.pack_id for r in
           text.pack_sequences(df, budget=100, group_col="lang").collect()}
    # cumulative-before: 0,60,120,... -> bins 0,0,1,1,2,3,3,4,4,5
    assert [out[i] for i in range(10)] == [0, 0, 1, 1, 2, 3, 3, 4, 4, 5]
    # a doc longer than the budget is capped into its own bin advance
    big = spark.createDataFrame([(1, "en", 500), (2, "en", 10)],
                                "doc_id long, lang string, n_tokens int")
    got = {r.doc_id: (r.pack_id, r.packed_tokens) for r in
           text.pack_sequences(big, budget=100, group_col="lang").collect()}
    assert got[1] == (0, 100) and got[2] == (1, 10)


def test_contamination_screen_flags_and_broadcasts(spark):
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps high"),
         (2, "completely unrelated words here"),
         (3, "we saw the quick brown fox too")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox benchmark question")],
        "doc_id long, text string",
    )
    out = text.contamination_screen(corpus, bench, n=3)
    flags = {r.doc_id: r.contaminated for r in out.collect()}
    assert flags == {1: True, 2: False, 3: True}
    # the benchmark gram set must broadcast — no corpus shuffle for the probe
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_stratified_sample_exact_counts_deterministic(spark):
    rows = [(i, "en" if i % 3 else "de") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out1 = sorted(r.doc_id for r in text.stratified_sample(df, 0.2).collect())
    out2 = sorted(r.doc_id for r in text.stratified_sample(df, 0.2).collect())
    assert out1 == out2  # pure function of the keys
    import math
    by_lang = {}
    for r in text.stratified_sample(df, 0.2).collect():
        by_lang[r.lang] = by_lang.get(r.lang, 0) + 1
    assert by_lang["en"] == math.ceil(60 * 0.2)
    assert by_lang["de"] == math.ceil(30 * 0.2)
    # different salt -> (almost surely) different members, same counts
    salted = sorted(
        r.doc_id for r in text.stratified_sample(df, 0.2, salt="s2").collect()
    )
    assert len(salted) == len(out1)


def test_real_bmp_roundtrip_features_and_resize(spark):
    """Uncompressed BMP payloads take the real codec: encode/decode
    round-trips pixels exactly (incl. bottom-up rows and 4-byte row
    padding), and features reflect real channel stats."""
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(9, 7, 3), dtype=np.uint8)  # odd stride
    payload = multimodal._encode_bmp(img)
    assert multimodal._is_bmp(payload)
    assert np.array_equal(multimodal._decode_bmp(payload), img)

    df = spark.createDataFrame(
        [(11, "image", payload, "image/bmp", 7, 9, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    feat = multimodal.extract_features(df).collect()[0].feature
    assert abs(feat[2] - img[..., 0].mean() / 255.0) < 1e-3


def test_bmp_8bit_palette_decode():
    """8-bit palette BMPs decode through the palette lookup."""
    import struct

    w, h = 5, 3
    palette = bytes()
    for i in range(256):
        palette += bytes([i, 255 - i, i // 2, 0])  # BGRA entries
    stride = (w + 3) & ~3
    idx = np.arange(h * stride, dtype=np.uint8).reshape(h, stride)
    pixels = idx[::-1].tobytes()
    pix_off = 14 + 40 + len(palette)
    hdr = b"BM" + struct.pack("<IHHI", pix_off + len(pixels), 0, 0, pix_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(pixels), 0, 0, 256, 0)
    payload = hdr + info + palette + pixels
    arr = multimodal._decode_bmp(payload)
    assert arr.shape == (h, w, 3)
    # spot-check one pixel through the palette: index at row 0, col 0
    i = int(idx[0, 0])
    assert tuple(arr[0, 0]) == (i // 2, 255 - i, i)  # RGB of BGRA entry


def test_chunking_reconstructs_token_stream(docs):
    """Invariant over the real corpus: dropping each chunk's first
    `overlap` tokens (after chunk 0) and concatenating reproduces the
    document's token stream exactly — no token lost or duplicated."""
    sample = docs.where(F.col("doc_id") < 50)
    chunks = text.chunk_documents(sample, max_tokens=32, overlap=8).collect()
    toks = {
        r.doc_id: r.t
        for r in sample.select(
            "doc_id", text.tokens(F.col("text")).alias("t")
        ).collect()
    }
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk_text))
    for doc_id, parts in by_doc.items():
        parts.sort()
        rebuilt = []
        for idx, (_, chunk_text) in enumerate(parts):
            words = chunk_text.split(" ") if chunk_text else []
            rebuilt.extend(words if idx == 0 else words[8:])
        assert rebuilt == toks[doc_id], doc_id


def test_curation_ops_compose_with_streams(spark, tmp_path, sf_dir):
    """The map-only curation operators (chunking, redaction, lang-id,
    token counts) apply to a streaming DataFrame unchanged — stateless
    expression pipelines are engine-checked as stream-compatible, so the
    batch curation code IS the streaming curation code."""
    import os

    from amazon_s3_find_and_forget_spark.operators import text

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs.limit(50).write.parquet(os.path.join(src_dir, "batch0"))

    stream = spark.readStream.schema(docs.schema).parquet(src_dir + "/*")
    chunked = text.chunk_documents(
        text.redact_pii(stream).withColumnRenamed("text_redacted", "text2")
        .drop("text").withColumnRenamed("text2", "text"),
        max_tokens=32,
        overlap=8,
    )
    q = (
        chunked.writeStream.format("memory")
        .queryName("curated_chunks")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from curated_chunks").collect()
    # same rows as the batch plan over the same files
    want = text.chunk_documents(
        text.redact_pii(spark.read.schema(docs.schema).parquet(src_dir + "/*"))
        .withColumnRenamed("text_redacted", "text2")
        .drop("text").withColumnRenamed("text2", "text"),
        max_tokens=32,
        overlap=8,
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_packing_is_contiguous_and_budget_aligned(docs):
    """Invariant: within a group, pack ids are non-decreasing in doc
    order, and each doc's pack is exactly floor(cum_before / budget)."""
    with_counts = docs.withColumn(
        "n_tokens", F.size(text.tokens(F.col("text")))
    )
    rows = text.pack_sequences(
        with_counts, budget=256, group_col="lang"
    ).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, items in by_lang.items():
        items.sort(key=lambda r: r.doc_id)
        cum = 0
        prev_pack = 0
        for r in items:
            assert r.pack_id == cum // 256, (lang, r.doc_id)
            assert r.pack_id >= prev_pack
            assert r.packed_tokens <= 256
            cum += r.packed_tokens
            prev_pack = r.pack_id


def _png_with_filters(img):
    """Encode a PNG applying a DIFFERENT scanline filter per row
    (0,1,2,3,4 cycling) — exercises every decode branch."""
    import struct
    import zlib

    h, w, ch = img.shape
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int64)
    for y in range(h):
        line = img[y].reshape(-1).astype(np.int64)
        f = y % 5
        raw.append(f)
        for i in range(w * ch):
            left = line[i - ch] if i >= ch else 0
            up = prev[i]
            ul = prev[i - ch] if i >= ch else 0
            if f == 0:
                v = line[i]
            elif f == 1:
                v = line[i] - left
            elif f == 2:
                v = line[i] - up
            elif f == 3:
                v = line[i] - (left + up) // 2
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                v = line[i] - pred
            raw.append(v % 256)
        prev = line

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_real_png_all_filters_roundtrip_and_pipeline(spark):
    """The stdlib-zlib PNG codec: decoding recovers exact pixels through
    every scanline filter type, our own encoder round-trips, and the
    Spark feature path treats PNG as a real format."""
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(7, 5, 3), dtype=np.uint8)
    assert np.array_equal(multimodal._decode_png(_png_with_filters(img)), img)
    assert np.array_equal(
        multimodal._decode_png(multimodal._encode_png(img)), img
    )
    gray = rng.randint(0, 256, size=(4, 6), dtype=np.uint8)
    assert np.array_equal(
        multimodal._decode_png(multimodal._encode_png(gray)), gray
    )

    payload = multimodal._encode_png(img)
    df = spark.createDataFrame(
        [(21, "image", payload, "image/png", 5, 7, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    feat = multimodal.extract_features(df).collect()[0].feature
    assert abs(feat[2] - img[..., 0].mean() / 255.0) < 1e-3


def test_real_gif_lzw_roundtrip_and_pipeline(spark):
    """GIF codec: LZW encode/decode round-trips pixels losslessly,
    including code-width growth and multi-sub-block data; the Spark
    feature path treats GIF as a real format."""
    rng = np.random.RandomState(13)
    # ~200 distinct colors over a 80x60 image: the LZW table grows
    # through several code widths and the data spans many sub-blocks
    palette = rng.randint(0, 256, size=(200, 3), dtype=np.uint8)
    idx = rng.randint(0, 200, size=(60, 80))
    img = palette[idx]
    payload = multimodal._encode_gif(img)
    assert multimodal._is_gif(payload)
    assert np.array_equal(multimodal._decode_gif(payload), img)

    # tiny + single-color edge cases
    flat = np.full((3, 4, 3), 17, dtype=np.uint8)
    assert np.array_equal(
        multimodal._decode_gif(multimodal._encode_gif(flat)), flat
    )

    df = spark.createDataFrame(
        [(31, "image", payload, "image/gif", 80, 60, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    feat = multimodal.extract_features(df).collect()[0].feature
    assert abs(feat[2] - img[..., 0].mean() / 255.0) < 1e-3


def test_semantic_dedup_survivors(spark):
    """SemDeDup: near-twins in the same cluster collapse to the lowest
    id; distinct directions and zero vectors survive."""
    import numpy as np

    v = [1.0, 0.0, 0.0, 0.0]
    twin = [0.999, 0.01, 0.0, 0.0]
    other = [0.0, 1.0, 0.0, 0.0]
    other_twin = [0.01, 0.999, 0.0, 0.0]
    zero = [0.0, 0.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(1, v), (2, twin), (3, other), (4, other_twin), (5, zero)],
        "vec_id long, embedding array<float>",
    )
    cents = np.array([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]])
    surv = similarity.semantic_dedup(df, cents, threshold=0.95)
    got = {r.vec_id for r in surv.collect()}
    assert got == {1, 3, 5}


def test_semantic_dedup_does_not_cross_clusters(spark):
    """Identical vectors in DIFFERENT clusters both survive — the
    near-twin rule is scoped to the cluster (that is what keeps the
    pairwise stage linear at scale)."""
    import numpy as np

    a = [1.0, 0.0]
    b = [0.0, 1.0]
    df = spark.createDataFrame(
        [(1, a), (2, a), (3, b), (4, b)],
        "vec_id long, embedding array<float>",
    )
    # adversarial centroids: force ids 1,3 into cluster 0 and 2,4 into
    # cluster 1 is impossible via nearest-centroid (same vector -> same
    # cluster), so instead verify the rule collapses per cluster: two
    # clusters, each with one twin pair -> exactly one survivor per pair
    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    surv = {r.vec_id for r in similarity.semantic_dedup(df, cents, 0.99).collect()}
    assert surv == {1, 3}


def test_semantic_dedup_pair_kernel_matches_sql_join(spark):
    """The per-cluster numpy pair kernel (round-18) is survivor-set
    identical to the SQL self-join + aggregate(zip_with) dot it
    replaced, including the NaN-is-largest comparison rule, chained
    droppers (a dropped row still drops its own higher-id neighbors),
    the exact-threshold boundary, and the column-blocked gemm path
    (one cluster larger than the 4M/n block width)."""
    import numpy as np

    from amazon_s3_find_and_forget_spark.operators.similarity import (
        _dot,
        _norm,
        with_ivf_cell,
    )

    rng = np.random.RandomState(7)
    # one fat cluster (n > 4M // n block width) around e0 + a second
    # cluster around e1, plus adversarial rows
    base = np.array([1.0, 0.0, 0.0, 0.0])
    rows = []
    for i in range(2100):
        v = base + rng.normal(0, 0.02, 4)  # dense near-twin structure
        rows.append((i, [float(x) for x in v]))
    for i in range(2100, 2200):
        v = np.array([0.0, 1.0, 0.0, 0.0]) + rng.normal(0, 0.3, 4)
        rows.append((i, [float(x) for x in v]))
    rows.append((3000, [float("nan"), 1.0, 0.0, 0.0]))  # NaN drops NaN-style
    rows.append((3001, [0.0, 0.0, 0.0, 0.0]))  # zero norm passes through
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = np.array([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]])
    thr = 0.995

    new = {r.vec_id for r in similarity.semantic_dedup(df, cents, thr).collect()}

    assigned = with_ivf_cell(df, cents).select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_emb"),
        F.col("ivf_cell").alias("_cluster"),
        _norm(F.col("embedding")).alias("_n"),
    )
    normed = assigned.where(F.col("_n") > 0).select(
        "_id",
        "_cluster",
        F.transform(
            "_emb", lambda x: x.cast("double") / F.col("_n")
        ).alias("_u"),
    )
    a = normed.select(
        F.col("_id").alias("id_a"), "_cluster", F.col("_u").alias("_ua")
    )
    b = normed.select(
        F.col("_id").alias("id_b"), "_cluster", F.col("_u").alias("_ub")
    )
    dropped = (
        a.join(b, "_cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .where(_dot(F.col("_ua"), F.col("_ub")) >= thr)
        .select(F.col("id_b").alias("_dropped"))
        .distinct()
    )
    old = {
        r._id
        for r in assigned.join(
            dropped, assigned._id == dropped._dropped, "left_anti"
        ).collect()
    }
    assert new == old
    assert 3001 in new  # zero vector untouched
    assert len(new) < 2202  # the dense cluster actually collapsed


def test_connected_components_chain_and_star(spark):
    """Transitive closure: a 5-node chain is ONE component even though
    only adjacent pairs exist; pointer jumping must converge a long
    chain well under the iteration cap."""
    from amazon_s3_find_and_forget_spark.operators.graph import (
        connected_components,
    )

    chain = [(i, i + 1) for i in range(10, 15)]       # 10-11-12-13-14-15
    star = [(100, j) for j in (101, 102, 103)]        # star at 100
    pair = [(7, 3)]                                   # reversed direction
    df = spark.createDataFrame(chain + star + pair, "src long, dst long")
    got = {
        r.node: r.comp for r in connected_components(df).collect()
    }
    assert {got[n] for n in range(10, 16)} == {10}
    assert {got[n] for n in (100, 101, 102, 103)} == {100}
    assert got[3] == 3 and got[7] == 3


def test_connected_components_long_chain_converges(spark):
    """A 60-node chain needs ~6 pointer-jump rounds, far under the cap —
    and the result is still exact."""
    from amazon_s3_find_and_forget_spark.operators.graph import (
        connected_components,
    )

    n = 60
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    rows = connected_components(df, max_iter=10).collect()
    assert len(rows) == n + 1
    assert {r.comp for r in rows} == {0}


def test_repetition_stats_hand_case(spark):
    # "a b a b a b" -> bigrams: (a b)x3, (b a)x2 -> 5 grams, 2 distinct
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "w x y z"), (3, "")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in text.repetition_stats(df, n=2).collect()}
    assert 3 not in rows  # token-less doc produces no row
    r1 = rows[1]
    assert r1.n_grams == 5 and r1.n_distinct == 2
    assert r1.dup_gram_frac == pytest.approx(0.6)
    assert r1.top_gram == "a b"
    # 3 occurrences * len("a b")=3 chars / len("a b a b a b")=11 chars
    assert r1.top_gram_char_frac == pytest.approx(round(9 / 11, 4))
    r2 = rows[2]
    assert r2.n_grams == 3 and r2.n_distinct == 3 and r2.dup_gram_frac == 0.0


def test_repetition_stats_top_gram_tiebreak(spark):
    # two grams tie at count 1 -> lexicographically LARGEST gram wins
    df = spark.createDataFrame([(1, "b a c")], "doc_id long, text string")
    r = text.repetition_stats(df, n=2).collect()[0]
    assert r.top_gram == "b a"  # max("a c", "b a")


def test_shared_ngram_stats_cross_doc(spark):
    span = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [
            (1, span + " alpha beta gamma delta epsilon zeta eta theta"),
            (2, span + " iota kappa lambda mu nu xi omicron pi"),
            (3, "nine ten eleven twelve thirteen fourteen fifteen sixteen"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dedup.shared_ngram_stats(df, n=8).collect()}
    # docs 1/2 share exactly the one 8-gram that is the copied span
    assert rows[1].shared_grams == 1 and rows[2].shared_grams == 1
    assert rows[3].shared_grams == 0 and rows[3].shared_occ == 0
    # 16 tokens -> 9 8-grams per doc
    assert rows[1].n_grams == 9
    assert rows[1].shared_frac == pytest.approx(round(1 / 9, 4))


def _brute_remove_spans(docs, n, mode="cut", mask="[DUP]", min_count=2):
    """Pure-Python replication of remove_duplicated_spans' spec."""
    toks = {
        d: [t for t in (txt or "").split() if t] for d, txt in docs
    }
    occ = []  # (doc, pos1based, gram)
    for d, ts in sorted(toks.items()):
        tl = [t.lower() for t in ts]
        for i in range(len(ts) - n + 1):
            occ.append((d, i + 1, " ".join(tl[i : i + n])))
    from collections import Counter, defaultdict

    cnt = Counter(g for _, _, g in occ)
    canon = {}
    for d, p, g in occ:
        if cnt[g] >= min_count and (g not in canon or (d, p) < canon[g]):
            canon[g] = (d, p)
    removed = defaultdict(set)
    for d, p, g in occ:
        if cnt[g] >= min_count and canon[g] != (d, p):
            removed[d].update(range(p, p + n))
    out = {}
    for d, ts in toks.items():
        rm = removed[d]
        keep = [i for i in range(1, len(ts) + 1) if i not in rm]
        if mode == "cut":
            text = " ".join(ts[i - 1] for i in keep)
        else:
            parts = []
            prev = 0
            for i in keep:
                if i - prev > 1:
                    parts.append(mask)
                parts.append(ts[i - 1])
                prev = i
            if prev < len(ts):
                parts.append(mask)
            text = " ".join(parts)
        out[d] = (text, len(ts), len(ts) - len(keep))
    return out


def test_remove_duplicated_spans_cut(spark):
    """Canonical-occurrence semantics: the corpus-first copy of a span
    keeps it, later docs lose exactly the covered positions, a span
    repeated WITHIN one doc keeps only its first occurrence, and short/
    empty/null docs pass through (space-rejoined)."""
    span = "one two three four"
    docs = [
        (1, f"intro {span} tail1 tail2"),
        (2, f"{span} other words here"),           # later copy -> cut
        (3, f"{span} middle filler {span}"),       # cross-doc dup twice
        (4, "unique text entirely different words"),
        (5, "short doc"),                           # < n tokens
        (6, ""),
        (7, None),
        (8, "rep rep rep rep rep rep rep rep"),     # within-doc overlap
    ]
    expected = _brute_remove_spans(docs, n=4)
    got = {
        r.doc_id: (r.text, r.n_tokens, r.removed_tokens)
        for r in dedup.remove_duplicated_spans(
            spark.createDataFrame(docs, "doc_id long, text string"), n=4
        ).collect()
    }
    assert got == expected
    # doc 1 is canonical: span kept verbatim
    assert got[1][0] == f"intro {span} tail1 tail2"
    # doc 2 lost exactly the span
    assert got[2] == ("other words here", 7, 4)
    # docs 5-7 untouched (modulo space-normalized join)
    assert got[5] == ("short doc", 2, 0)
    assert got[6] == ("", 0, 0) and got[7] == ("", 0, 0)


def test_remove_duplicated_spans_mask_and_random(spark):
    """Mask mode collapses each maximal removed run to one token
    (leading/trailing/all-removed included), and both modes agree with
    the brute-force spec on a seeded random corpus with heavy reuse."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    shared = [" ".join(rng.choice(vocab) for _ in range(6)) for _ in range(4)]
    docs = []
    for d in range(40):
        parts = []
        for _ in range(rng.randint(0, 4)):
            parts.append(
                rng.choice(shared)
                if rng.random() < 0.5
                else " ".join(
                    rng.choice(vocab) for _ in range(rng.randint(1, 9))
                )
            )
        docs.append((d, " ".join(parts)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for mode in ("cut", "mask"):
        expected = _brute_remove_spans(docs, n=5, mode=mode)
        got = {
            r.doc_id: (r.text, r.n_tokens, r.removed_tokens)
            for r in dedup.remove_duplicated_spans(
                df, n=5, mode=mode
            ).collect()
        }
        assert got == expected, mode

    # explicit mask shapes: leading, middle, trailing, all-removed
    span = "a b c"
    df2 = spark.createDataFrame(
        [
            (1, f"{span} x {span} y {span}"),
            (2, f"{span}"),
            (3, f"keep1 {span} keep2"),
        ],
        "doc_id long, text string",
    )
    got2 = {
        r.doc_id: r.text
        for r in dedup.remove_duplicated_spans(
            df2, n=3, mode="mask", mask_token="<M>"
        ).collect()
    }
    expected2 = {
        d: v[0]
        for d, v in _brute_remove_spans(
            [(1, f"{span} x {span} y {span}"), (2, span),
             (3, f"keep1 {span} keep2")],
            n=3, mode="mask", mask="<M>",
        ).items()
    }
    assert got2 == expected2
    # doc1 is canonical for 'a b c': later in-doc copies masked
    assert got2[1] == "a b c x <M> y <M>"
    assert got2[2] == "<M>"
    assert got2[3] == "keep1 <M> keep2"


def test_remove_duplicated_spans_mask_escaped_string_literals(spark):
    """Mask reassembly is built from DataFrame-API lambdas, so it must
    be inert to spark.sql.parser.escapedStringLiterals AND to mask
    tokens carrying quotes/backslashes (the r12 interpolated-SQL form
    broke on both)."""
    span = "a b c"
    df = spark.createDataFrame(
        [(1, f"{span} x {span}"), (2, span)], "doc_id long, text string"
    )
    tricky = "<'\\M>"
    prev = spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        got = {
            r.doc_id: r.text
            for r in dedup.remove_duplicated_spans(
                df, n=3, mode="mask", mask_token=tricky
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", prev)
    assert got == {1: f"a b c x {tricky}", 2: tricky}


def test_remove_duplicated_spans_rejects_bad_mode(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="mode"):
        dedup.remove_duplicated_spans(df, mode="redact")


def test_shared_ngram_stats_releases_caches(spark):
    sc = spark.sparkContext
    baseline = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i"), (2, "a b c d e f g h j")],
        "doc_id long, text string",
    )
    dedup.shared_ngram_stats(df, n=8).collect()
    # the occ relation's persist() must be released synchronously; only
    # the auto-released localCheckpoint result block may remain
    jmap = sc._jsc.getPersistentRDDs()
    leaked = [
        rdd_id
        for rdd_id in set(jmap.keySet().toArray()) - baseline
        if "CheckpointRDD" not in jmap.get(rdd_id).toDebugString()
    ]
    assert leaked == []


def test_pq_topk_exact_when_shortlist_covers_corpus(embs):
    # shortlist >= corpus size -> rerank IS brute force: results equal
    qvec = [float(v) for v in embs.limit(1).collect()[0]["embedding"]]
    cb = similarity.train_pq_codebooks(embs, m=8, k=16, sample_size=2000)
    n = embs.count()
    appr = similarity.pq_topk(embs, qvec, cb, k=5, shortlist=n).collect()
    exact = similarity.cosine_topk(embs, qvec, k=5).collect()
    assert [(r.vec_id, r.cosine) for r in appr] == [
        (r.vec_id, r.cosine) for r in exact
    ]


def test_pq_codes_shape_and_range(embs):
    cb = similarity.train_pq_codebooks(embs, m=8, k=16, sample_size=500)
    assert cb.shape == (8, 16, 8)
    rows = similarity.with_pq_code(embs, cb).select("pq_code").limit(20).collect()
    for r in rows:
        assert len(r.pq_code) == 8
        assert all(0 <= c < 16 for c in r.pq_code)


def test_pq_codebooks_dim_mismatch(embs):
    with pytest.raises(ValueError):
        similarity.train_pq_codebooks(embs, m=7, sample_size=100)


def test_tfidf_top_terms_hand_case(spark):
    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry"), (3, "cherry date")],
        "doc_id long, text string",
    )
    import math

    out = text.tfidf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: apple tf=2 df=1 -> top term; banana tf=1 df=2
    r1 = sorted(by_doc[1], key=lambda r: r.rank)
    assert r1[0].term == "apple" and r1[0].tf == 2
    expected = round(2 * (math.log(4 / 2) + 1.0), 6)
    assert r1[0].score == pytest.approx(expected)
    assert r1[1].term == "banana"
    # every doc returns at most k rows, ranks are 1..k
    for rows in by_doc.values():
        assert sorted(r.rank for r in rows) == list(range(1, len(rows) + 1))


def test_tfidf_rank_tiebreak_by_term(spark):
    # both terms tf=1, df=1 -> equal score; rank 1 goes to the
    # lexicographically smaller term
    df = spark.createDataFrame([(1, "zebra aardvark")], "doc_id long, text string")
    rows = sorted(text.tfidf_top_terms(df, k=2).collect(), key=lambda r: r.rank)
    assert [r.term for r in rows] == ["aardvark", "zebra"]


def test_unigram_logprob_hand_case(spark):
    import math

    df = spark.createDataFrame(
        [(1, "common common common rare")], "doc_id long, text string"
    )
    r = text.unigram_logprob(df).collect()[0]
    # corpus: common=3, rare=1; total=4, vocab=2 -> denom=6
    p_common = 4 / 6  # (3+1)/6
    p_rare = 2 / 6
    expected = round(-(3 * math.log(p_common) + math.log(p_rare)) / 4, 6)
    assert r.n_tokens == 4
    assert r.nll == pytest.approx(expected)


def test_unigram_logprob_rare_scores_higher(docs):
    # a doc of corpus-frequent tokens must score lower nll than one of
    # unique tokens when appended to the real corpus
    spark = docs.sparkSession
    extra = spark.createDataFrame(
        [(900001, "the the the the"), (900002, "xylophone quixotic zygote phlogiston")],
        "doc_id long, text string",
    )
    base = docs.select("doc_id", "text").unionByName(extra)
    rows = {r.doc_id: r.nll for r in text.unigram_logprob(base).collect()}
    assert rows[900002] > rows[900001]


def test_funnel_strict_ordering(spark):
    from amazon_s3_find_and_forget_spark.operators import funnel
    from datetime import datetime as dt

    rows = [
        # user 1 completes a -> b -> c in order
        (1, dt(2024, 1, 1, 10), "a"),
        (1, dt(2024, 1, 1, 11), "b"),
        (1, dt(2024, 1, 1, 12), "c"),
        # user 2 has b BEFORE a -> must stop at step 1
        (2, dt(2024, 1, 1, 9), "b"),
        (2, dt(2024, 1, 1, 10), "a"),
        # user 3: a and b at the SAME instant -> strictly-after fails
        (3, dt(2024, 1, 1, 10), "a"),
        (3, dt(2024, 1, 1, 10), "b"),
        # user 4 never starts
        (4, dt(2024, 1, 1, 10), "x"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    out = {r.step: r for r in funnel.funnel_counts(df, ["a", "b", "c"]).collect()}
    assert out[1].users == 3 and out[1].step_name == "a"
    assert out[2].users == 1  # only user 1
    assert out[3].users == 1


def test_funnel_greedy_matching_finds_any_subsequence(spark):
    from amazon_s3_find_and_forget_spark.operators import funnel
    from datetime import datetime as dt

    # a@10, b@11, a@12, c@13: greedy takes a@10,b@11,c@13 -> completes
    rows = [
        (1, dt(2024, 1, 1, 10), "a"),
        (1, dt(2024, 1, 1, 11), "b"),
        (1, dt(2024, 1, 1, 12), "a"),
        (1, dt(2024, 1, 1, 13), "c"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    out = {r.step: r.users for r in funnel.funnel_counts(df, ["a", "b", "c"]).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_funnel_zero_step_reports_zero(spark):
    from amazon_s3_find_and_forget_spark.operators import funnel
    from datetime import datetime as dt

    df = spark.createDataFrame(
        [(1, dt(2024, 1, 1), "a")], "user_id long, ts timestamp, event_type string"
    )
    out = {r.step: r.users for r in funnel.funnel_counts(df, ["a", "zz"]).collect()}
    assert out == {1: 1, 2: 0}


def test_cohort_retention_hand_case(spark):
    from amazon_s3_find_and_forget_spark.operators import funnel
    from datetime import datetime as dt

    rows = [
        # user 1 first active Mon 2024-01-01 week, returns 2 weeks later
        (1, dt(2024, 1, 2, 10)),
        (1, dt(2024, 1, 16, 10)),
        # user 2 same cohort, only week 0 (two events same week dedup)
        (2, dt(2024, 1, 3, 10)),
        (2, dt(2024, 1, 5, 10)),
        # user 3 cohort of 2024-01-08
        (3, dt(2024, 1, 10, 10)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r.cohort_week, r.week_offset): r.active_users
        for r in funnel.cohort_retention(df).collect()
    }
    w1, w2 = dt(2024, 1, 1), dt(2024, 1, 8)
    assert got == {(w1, 0): 2, (w1, 2): 1, (w2, 0): 1}


def test_ivfpq_exact_when_exhaustive(embs):
    # nprobe = all cells AND shortlist >= corpus -> must equal brute force
    qvec = [float(v) for v in embs.limit(1).collect()[0]["embedding"]]
    cent = similarity.train_ivf_centroids(embs, n_centroids=4, sample_size=500)
    cb = similarity.train_pq_codebooks(embs, m=8, k=16, sample_size=500)
    n = embs.count()
    appr = similarity.ivfpq_topk(
        embs, qvec, cent, cb, k=5, nprobe=4, shortlist=n
    ).collect()
    exact = similarity.cosine_topk(embs, qvec, k=5).collect()
    assert [(r.vec_id, r.cosine) for r in appr] == [
        (r.vec_id, r.cosine) for r in exact
    ]


def test_ivfpq_prunes_to_probed_cells(embs):
    # with nprobe=1 every hit must come from the probed cell
    qvec = [float(v) for v in embs.limit(1).collect()[0]["embedding"]]
    cent = similarity.train_ivf_centroids(embs, n_centroids=4, sample_size=500)
    cb = similarity.train_pq_codebooks(embs, m=8, k=16, sample_size=500)
    hits = {
        r.vec_id
        for r in similarity.ivfpq_topk(
            embs, qvec, cent, cb, k=5, nprobe=1, shortlist=50
        ).collect()
    }
    q = np.asarray(qvec, dtype=np.float64)
    q = q / np.linalg.norm(q)
    probe = int((np.asarray(cent) @ q).argmax())
    cells = {
        r.vec_id: r.ivf_cell
        for r in similarity.with_ivf_cell(embs, cent).select(
            "vec_id", "ivf_cell"
        ).collect()
    }
    assert hits and all(cells[h] == probe for h in hits)


def test_mixture_sample_rates(spark):
    rows = [(i, f"src{i % 2}", "t") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = text.mixture_sample(df, {"src0": 2.0, "src1": 0.5})
    by_src = {
        r.source: r.n
        for r in out.groupBy("source").count().withColumnRenamed("count", "n").collect()
    }
    # rate 2.0 is exact replication; rate 0.5 is a hash draw near half
    assert by_src["src0"] == 2000
    assert 400 <= by_src["src1"] <= 600
    # unlisted strata are dropped entirely
    assert set(by_src) == {"src0", "src1"}
    # copies are 1..n per doc
    copies = [r.copy for r in out.where("source = 'src0' and doc_id = 0").collect()]
    assert sorted(copies) == [1, 2]


def test_mixture_sample_deterministic_and_salted(spark):
    df = spark.createDataFrame(
        [(i, "s", "t") for i in range(500)], "doc_id long, source string, text string"
    )
    a = {(r.doc_id, r.copy) for r in text.mixture_sample(df, {"s": 0.3}).collect()}
    b = {(r.doc_id, r.copy) for r in text.mixture_sample(df, {"s": 0.3}).collect()}
    assert a == b  # pure function of key
    c = {(r.doc_id, r.copy) for r in text.mixture_sample(df, {"s": 0.3}, salt="x").collect()}
    assert a != c  # salt re-rolls
    with pytest.raises(ValueError):
        text.mixture_sample(df, {"s": -1.0})
    with pytest.raises(ValueError):
        text.mixture_sample(df, {})


def test_pq_wide_codebook_no_wraparound(spark):
    # k > 128 must widen codes to smallint and still rank correctly:
    # with shortlist covering the corpus, results equal brute force
    rng = np.random.RandomState(7)
    rows = [
        (i, [float(x) for x in rng.randn(16)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = similarity.train_pq_codebooks(df, m=2, k=256, sample_size=300)
    assert cb.shape == (2, 256, 8)
    coded = similarity.with_pq_code(df, cb)
    assert dict(coded.dtypes)["pq_code"] == "array<smallint>"
    codes = coded.select("pq_code").limit(50).collect()
    assert all(0 <= c < 256 for r in codes for c in r.pq_code)
    qvec = rows[0][1]
    appr = similarity.pq_topk(df, qvec, cb, k=5, shortlist=300).collect()
    exact = similarity.cosine_topk(df, qvec, k=5).collect()
    assert [(r.vec_id, r.cosine) for r in appr] == [
        (r.vec_id, r.cosine) for r in exact
    ]


def test_funnel_transition_stats_hand_case(spark):
    from amazon_s3_find_and_forget_spark.operators import funnel
    from datetime import datetime as dt

    rows = [
        # user 1: a@10:00, b@10:10 (600s), c@10:40 (1800s)
        (1, dt(2024, 1, 1, 10, 0), "a"),
        (1, dt(2024, 1, 1, 10, 10), "b"),
        (1, dt(2024, 1, 1, 10, 40), "c"),
        # user 2: a@10:00, b@10:20 (1200s), never c
        (2, dt(2024, 1, 1, 10, 0), "a"),
        (2, dt(2024, 1, 1, 10, 20), "b"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    out = {r.step: r for r in funnel.funnel_transition_stats(df, ["a", "b", "c"]).collect()}
    assert out[2].n_users == 2
    assert out[2].avg_secs == pytest.approx(900.0)
    assert out[2].p50_secs == pytest.approx(900.0)  # interpolated median
    assert out[3].n_users == 1
    assert out[3].avg_secs == pytest.approx(1800.0)
    with pytest.raises(ValueError):
        funnel.funnel_transition_stats(df, ["a"])


def test_funnel_any_of_step_sets(spark):
    from amazon_s3_find_and_forget_spark.operators import funnel
    from datetime import datetime as dt

    rows = [
        # user 1: open -> click (open counts as the first step)
        (1, dt(2024, 1, 1, 10), "open"),
        (1, dt(2024, 1, 1, 11), "click"),
        # user 2: view -> click
        (2, dt(2024, 1, 1, 10), "view"),
        (2, dt(2024, 1, 1, 11), "click"),
        # user 3: click only (no first step)
        (3, dt(2024, 1, 1, 10), "click"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    out = {
        r.step: r
        for r in funnel.funnel_counts(df, [["view", "open"], "click"]).collect()
    }
    assert out[1].users == 2 and out[1].step_name == "view|open"
    assert out[2].users == 2


def test_funnel_counts_by_segment(spark):
    from amazon_s3_find_and_forget_spark.operators import funnel
    from datetime import datetime as dt

    events = spark.createDataFrame(
        [
            (1, dt(2024, 1, 1, 10), "a"),
            (1, dt(2024, 1, 1, 11), "b"),
            (2, dt(2024, 1, 1, 10), "a"),
            (3, dt(2024, 1, 1, 10), "a"),  # user 3 has no dim row
        ],
        "user_id long, ts timestamp, event_type string",
    )
    dims = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, segment string"
    )
    out = {
        (r.step, r.segment): r.users
        for r in funnel.funnel_counts_by(events, ["a", "b"], dims).collect()
    }
    assert out == {
        (1, "gold"): 1,
        (1, "silver"): 1,
        (1, "unknown"): 1,
        (2, "gold"): 1,
    }


def test_cohort_retention_by_segment(spark):
    from amazon_s3_find_and_forget_spark.operators import funnel
    from datetime import datetime as dt

    events = spark.createDataFrame(
        [
            (1, dt(2024, 1, 2, 10)),
            (1, dt(2024, 1, 9, 10)),
            (2, dt(2024, 1, 3, 10)),
        ],
        "user_id long, ts timestamp",
    )
    dims = spark.createDataFrame([(1, "gold")], "user_id long, segment string")
    got = {
        (r.week_offset, r.segment): r.active_users
        for r in funnel.cohort_retention_by(events, dims).collect()
    }
    assert got == {(0, "gold"): 1, (1, "gold"): 1, (0, "unknown"): 1}


def test_check_constraints_counts_violations(spark):
    from amazon_s3_find_and_forget_spark.operators import quality

    df = spark.createDataFrame(
        [
            (1, 10, "A"),
            (1, 10, "A"),   # duplicate key -> 1 surplus copy
            (2, -5, "X"),   # range + accepted violations
            (None, 200, "N"),  # null key + range violation
        ],
        "k long, qty long, flag string",
    )
    got = {
        r.rule: r.violations
        for r in quality.check_constraints(
            df,
            not_null=["k"],
            unique=[["k", "qty"]],
            ranges={"qty": (0, 50)},
            accepted={"flag": ["A", "N", "R"]},
        ).collect()
    }
    assert got == {
        "not_null(k)": 1,
        "unique(k, qty)": 1,
        "range(qty)": 2,
        "accepted_values(flag)": 1,
    }
    import pytest as _p

    with _p.raises(ValueError):
        quality.check_constraints(df)


def test_check_constraints_single_scan(spark):
    """All row-level rules compile into ONE aggregate over one scan."""
    from amazon_s3_find_and_forget_spark.operators import quality

    df = spark.range(100).selectExpr("id as k", "id % 7 as qty")
    out = quality.check_constraints(
        df, not_null=["k"], ranges={"qty": (0, 5)}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # Range is this plan's scan operator; two row-level rules must not
    # mean two source traversals
    assert plan.count("Range") == 1


# --- Count-Min sketch (operators/sketches.py) ------------------------------


def test_count_min_check_bounds_hold(spark):
    from amazon_s3_find_and_forget_spark.operators import sketches

    df = spark.createDataFrame(
        [("a",)] * 100 + [("b",)] * 10 + [("c",)] * 1 + [(None,)],
        "k string",
    )
    out = sketches.count_min_check(df, "k", eps=0.001).collect()
    rows = {r["k"]: r for r in out}
    assert set(rows) == {"a", "b", "c"}  # nulls excluded
    assert rows["a"]["n_exact"] == 100
    assert all(r["cms_ok"] for r in out)


def test_count_min_check_non_string_key(spark):
    from amazon_s3_find_and_forget_spark.operators import sketches

    df = spark.createDataFrame([(7,)] * 5 + [(9,)] * 2, "uid bigint")
    out = {r["uid"]: r for r in sketches.count_min_check(df, "uid").collect()}
    assert out[7]["n_exact"] == 5 and out[9]["n_exact"] == 2
    assert all(r["cms_ok"] for r in out.values())


def test_zorder_rejects_strings_and_clamps_bits(spark, tmp_path):
    import datetime

    import pytest as _pytest

    from amazon_s3_find_and_forget_spark.operators.layout import zorder_key

    df = spark.createDataFrame(
        [(1, "x", datetime.date(2024, 1, 1))], "a int, s string, d date"
    )
    with _pytest.raises(ValueError, match="unsupported type"):
        zorder_key(df, ["a", "s"])
    with _pytest.raises(ValueError, match="not in schema"):
        zorder_key(df, ["nope"])
    # date columns ride through the epoch cast
    assert zorder_key(df, ["a", "d"]).select("_zkey").head()[0] is not None
    # >63 total bits would wrap Java shifts: bits must clamp, not scramble
    six = spark.createDataFrame(
        [tuple(range(6))], ", ".join(f"c{i} int" for i in range(6))
    )
    assert zorder_key(six, [f"c{i}" for i in range(6)], bits=12).select(
        "_zkey"
    ).head()[0] is not None  # 12 bits clamps to 10 per column


def test_balanced_sample_caps_every_stratum(spark):
    from amazon_s3_find_and_forget_spark.operators import text as text_ops

    rows = [(i, "big") for i in range(100)] + [(1000 + i, "small") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = text_ops.balanced_sample(df, 10, strata_col="lang")
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert counts == {"big": 10, "small": 3}  # cap big, keep all of small
    # deterministic: same draw every run
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in text_ops.balanced_sample(df, 10, strata_col="lang").collect()
    )
    assert ids1 == ids2


def test_hash_rank_sample_bounds_dominant_stratum(spark):
    """The round-8 de-skew contract: the exact rank window runs over a
    hash-cutoff-bounded survivor set, NOT the full stratum. A 20k-row
    dominant class sampled at 50 rows must admit only ~2-4% of its rows
    past the prefilter (one grid step above the needed fraction), while
    the output stays exactly the old single-window draw."""
    from pyspark.sql import Window

    rows = [(i, "big") for i in range(20_000)] + [
        (100_000 + i, "small") for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    stats: dict = {}
    out = text.balanced_sample(df, 50, strata_col="lang", stats_out=stats)
    # capture the plan BEFORE executing: post-collect AQE plan strings
    # repeat the exchange in their "Initial Plan" section
    plan = out._jdf.queryExecution().executedPlan().toString()
    got = sorted(r.doc_id for r in out.collect())

    # reference: the pre-r8 full-stratum window formulation, inline
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("")))
    rnk = F.row_number().over(
        Window.partitionBy("lang").orderBy(h, "doc_id")
    )
    ref = sorted(
        r.doc_id
        for r in df.withColumn("_rnk", rnk)
        .where(F.col("_rnk") <= 50)
        .collect()
    )
    assert got == ref  # value-identical to the old draw

    cnt, target, admitted, window_rows = stats["big"]
    assert (cnt, target) == (20_000, 50)
    assert target <= admitted <= int(cnt * 0.05)  # bounded survivor set
    # the rank window sees ONE histogram bucket, ~cnt/grid rows
    assert 0 < window_rows <= 4 * cnt / text._SAMPLE_GRID
    # small stratum under the cap keeps everything (no prefilter)
    assert stats["small"] == (30, 30, 30, 0)

    # the prefilter is IN the lazy plan (below the rank window), and the
    # only hash-partition exchange is the window's
    assert "_cutoff" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_stratified_sample_matches_old_window_draw(spark):
    """Fraction mode, skewed strata + a null key and a null stratum:
    the two-phase plan reproduces the single-window draw exactly."""
    from pyspark.sql import Window

    rows = (
        [(i, "en") for i in range(5_000)]
        + [(10_000 + i, "de") for i in range(40)]
        + [(20_000, None), (None, "en")]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    nkey = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    stats: dict = {}
    out = sorted(
        (
            (r.doc_id, r.lang)
            for r in text.stratified_sample(
                df, 0.1, stats_out=stats
            ).collect()
        ),
        key=nkey,
    )
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("")))
    w = Window.partitionBy("lang")
    rnk = F.row_number().over(w.orderBy(h, "doc_id"))
    sz = F.count(F.lit(1)).over(w)
    ref = sorted(
        (
            (r.doc_id, r.lang)
            for r in df.withColumn("_rnk", rnk)
            .withColumn("_sz", sz)
            .where(F.col("_rnk") <= F.ceil(F.col("_sz") * F.lit(0.1)))
            .collect()
        ),
        key=nkey,
    )
    assert out == ref
    cnt, target, admitted, window_rows = stats["en"]
    # admitted = exact c_below + one boundary bucket (~cnt/grid rows)
    assert admitted <= target + 4 * cnt / text._SAMPLE_GRID + 2
    assert window_rows <= 4 * cnt / text._SAMPLE_GRID + 2


def test_sample_window_bounded_at_half_fraction(spark):
    """Round-10 contract: at fraction 0.5 the rank window must see ONE
    histogram bucket (~cnt/grid rows), NOT the O(fraction*stratum)
    survivor set — the round-8 formulation serialized half the dominant
    stratum through a single window task."""
    from pyspark.sql import Window

    n = 20_000
    df = spark.createDataFrame(
        [(i, "en") for i in range(n)], "doc_id long, lang string"
    )
    stats: dict = {}
    out = sorted(
        r.doc_id
        for r in text.stratified_sample(df, 0.5, stats_out=stats).collect()
    )
    cnt, target, admitted, window_rows = stats["en"]
    assert (cnt, target) == (n, 10_000)
    # window input is bucket-sized: independent of the 0.5 fraction
    assert window_rows <= 4 * n / text._SAMPLE_GRID
    assert admitted < target + 4 * n / text._SAMPLE_GRID

    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("")))
    rnk = F.row_number().over(
        Window.partitionBy("lang").orderBy(h, "doc_id")
    )
    ref = sorted(
        r.doc_id
        for r in df.withColumn("_rnk", rnk)
        .where(F.col("_rnk") <= 10_000)
        .collect()
    )
    assert out == ref


def test_sample_scan_counts_no_verify_pass(spark):
    """Round-10 contract: planning runs exactly ONE aggregate scan over
    the input (the exact histogram — the old verify pass is folded away)
    and executing the returned sample adds the two union branches."""
    scans = spark.sparkContext.accumulator(0)

    def tick(batches):
        scans.add(1)
        yield from batches

    base = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(3_000)],
        "doc_id long, lang string",
    ).repartition(4)
    counted = base.mapInPandas(tick, schema=base.schema)

    out = text.stratified_sample(counted, 0.25)
    assert scans.value == 4  # stats histogram only: 1 scan x 4 partitions

    rows = out.collect()
    assert len(rows) == 500 + 250  # ceil(0.25 * 2000) + ceil(0.25 * 1000)
    # definite branch + boundary branch: 2 more scans, nothing else
    assert scans.value == 12


def test_sample_refinement_bounds_huge_boundary_buckets(spark):
    """A boundary bucket over the budget is re-histogrammed grid-x finer
    before windowing; the draw stays exactly the single-window draw."""
    from pyspark.sql import Window

    n = 20_000
    df = spark.createDataFrame(
        [(i, "en") for i in range(n)], "doc_id long, lang string"
    )
    stats: dict = {}
    out = sorted(
        r.doc_id
        for r in text._hash_rank_sample(
            df,
            "lang",
            "doc_id",
            "",
            lambda cnt, _s: 5_000,
            grid=16,
            boundary_budget=100,
            max_refine=3,
            stats_out=stats,
        ).collect()
    )
    cnt, target, admitted, window_rows = stats["en"]
    assert (cnt, target) == (n, 5_000)
    # level-0 bucket holds ~n/16 = 1250 rows; refinement must shrink the
    # windowed set to ~n/256
    assert window_rows < 400
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("")))
    rnk = F.row_number().over(
        Window.partitionBy("lang").orderBy(h, "doc_id")
    )
    ref = sorted(
        r.doc_id
        for r in df.withColumn("_rnk", rnk)
        .where(F.col("_rnk") <= 5_000)
        .collect()
    )
    assert out == ref


def test_hash_rank_sample_max_strata_guard(spark):
    df = spark.createDataFrame(
        [(i, i) for i in range(50)], "doc_id long, lang long"
    )
    with pytest.raises(ValueError, match="distinct strata"):
        text.stratified_sample(df, 0.5, max_strata=10)


def test_count_min_check_guards_unbounded_exact_side(spark):
    from amazon_s3_find_and_forget_spark.operators import sketches

    df = spark.range(500).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="distinct keys"):
        sketches.count_min_check(df, "k", max_keys=100)
    # candidates restricts the exact side to the suspected heavy keys
    out = {
        r["k"]: r
        for r in sketches.count_min_check(
            df, "k", candidates=[1, 7, 999], max_keys=100
        ).collect()
    }
    assert set(out) == {1, 7}  # 999 absent from the data
    assert all(r["cms_ok"] and r["n_exact"] == 1 for r in out.values())


def test_training_order_deterministic_and_epoch_rerolls(spark):
    from amazon_s3_find_and_forget_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100)], "doc_id long, text string"
    )
    o1 = {
        r["doc_id"]: r["order_rank"]
        for r in text_ops.training_order(df, epoch=1).collect()
    }
    o1b = {
        r["doc_id"]: r["order_rank"]
        for r in text_ops.training_order(
            df.repartition(7), epoch=1
        ).collect()
    }
    assert o1 == o1b  # pure function of the key: partitioning-invariant
    assert sorted(o1.values()) == list(range(1, 101))  # a true permutation
    o2 = {
        r["doc_id"]: r["order_rank"]
        for r in text_ops.training_order(df, epoch=2).collect()
    }
    assert o2 != o1  # epoch bump re-deals
    assert sorted(o2.values()) == list(range(1, 101))
    # the permutation is not the identity (actually shuffles)
    assert [o1[i] for i in range(100)] != list(range(1, 101))


def test_training_order_rejects_degenerate_bucket_chars(spark):
    """bucket_chars=0 ranks the whole corpus through one task (constant
    bucket key) and large values make the broadcast offsets relation
    corpus-sized — both refused, like banded_signatures' bands guard."""
    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="bucket_chars"):
        text.training_order(df, bucket_chars=0)
    with pytest.raises(ValueError, match="bucket_chars"):
        text.training_order(df, bucket_chars=6)


def test_stratified_sample_handles_nan_stratum(spark):
    """A float strata column containing NaN must sample, not KeyError:
    Spark normalizes NaN into one group, and the driver-side pairing of
    counts rows with boundary rows must key NaN canonically (two
    collected NaNs are distinct Python objects)."""
    rows = [(i, float("nan") if i % 2 else 1.0) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, grp double")
    out = text.stratified_sample(df, 0.5, strata_col="grp").collect()
    assert len(out) == 100 + 100  # ceil(0.5 * 200) per stratum


def test_optimal_bands_threshold_tuning():
    """bands=None tunes the LSH S-curve midpoint t* = (1/b)^(1/r) to sit
    closest BELOW the verify threshold: below costs only false
    candidates (killed by the inline verify), above costs recall."""
    from amazon_s3_find_and_forget_spark.operators.dedup import (
        optimal_bands,
    )

    # num_perm=64: r=4 -> t*=0.5, r=8 -> 0.771, r=16 -> 0.917
    assert optimal_bands(64, 0.5) == 16   # the old fixed default
    assert optimal_bands(64, 0.7) == 16   # 0.771 would overshoot
    assert optimal_bands(64, 0.8) == 8
    assert optimal_bands(64, 0.95) == 4   # r=16, t*=0.917
    assert optimal_bands(128, 0.8) == 16  # r=8, t*=0.707
    # degenerate thresholds still produce a legal banding
    assert 64 % optimal_bands(64, 0.01) == 0
    assert 64 % optimal_bands(64, 1.0) == 0


def test_exact_mixture_sample_guards(spark):
    """Malformed targets raise the descriptive error (not a raw
    TypeError from the validator itself), and a nonzero target naming a
    stratum absent from the data fails loudly (casing typo -> a mix
    silently missing a whole class) unless missing_ok."""
    import pytest

    from amazon_s3_find_and_forget_spark.operators import text

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "es") for i in range(20)],
        "doc_id long, lang string",
    )
    for bad in ({"en": None}, {"en": float("nan")}, {"en": -1},
                {"en": 2.5}, {"en": float("inf")}):
        with pytest.raises(ValueError, match="non-negative integers"):
            text.exact_mixture_sample(df, bad)
    with pytest.raises(ValueError, match="absent from the data"):
        text.exact_mixture_sample(df, {"en": 3, "Es": 2})
    # zero targets for absent strata are a legal whitelist; missing_ok
    # opts out of the check entirely
    assert text.exact_mixture_sample(df, {"en": 3, "Es": 0}).count() == 3
    assert text.exact_mixture_sample(
        df, {"en": 3, "Es": 2}, missing_ok=True
    ).count() == 3


def test_exact_mixture_sample_concurrent_samplers(spark):
    """The missing-stratum guard reads per-CALL stats, not the shared
    module global: two samplers over DISJOINT strata racing on one
    driver must each validate against their own strata. Before the r12
    stats_out fix the guard read a shared module global (deleted in
    r13), so the loser of
    the race validated against the winner's strata — a false 'missing
    stratum' error (or a silently-passed typo). 16 alternating rounds
    on 2 threads make the interleaving overwhelmingly likely to occur
    at least once if the global were still consulted."""
    from concurrent.futures import ThreadPoolExecutor

    from amazon_s3_find_and_forget_spark.operators import text

    df_ab = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(40)],
        "doc_id long, lang string",
    )
    df_cd = spark.createDataFrame(
        [(i, "c" if i % 2 else "d") for i in range(40)],
        "doc_id long, lang string",
    )

    def run(df, targets):
        counts = []
        for _ in range(16):
            counts.append(text.exact_mixture_sample(df, targets).count())
        return counts

    with ThreadPoolExecutor(max_workers=2) as ex:
        f1 = ex.submit(run, df_ab, {"a": 5, "b": 7})
        f2 = ex.submit(run, df_cd, {"c": 3, "d": 9})
        # guard must not raise for either thread, and the draws are exact
        assert f1.result() == [12] * 16
        assert f2.result() == [12] * 16


def test_word_ngram_callers_materialize_tokens(spark, monkeypatch):
    """The word_ngrams contract, plan-pinned: every n-gram caller must
    pre-project the token array (an inline tokenizer expression is
    re-evaluated per gram index inside the lambda — O(len^2) per doc,
    the sf10 straggler of round 12). If CollapseProject ever folds the
    projection back into the lambda, the _toks/_tl attribute vanishes
    from the physical plan and this test fails at toy scale instead of
    at 100 TB."""
    from pyspark.sql import functions as F

    from amazon_s3_find_and_forget_spark.operators import text

    df = spark.createDataFrame(
        [(i, "a b c d e f g h i j") for i in range(6)],
        "doc_id long, text string",
    )
    bench = df.where(F.col("doc_id") % 2 == 0)

    def plan(q):
        return q._jdf.queryExecution().executedPlan().toString()

    assert "_toks" in plan(text.contamination_screen(df, bench, n=3))
    assert "_toks" in plan(text.repetition_stats(df, n=3))
    # the eager operators checkpoint their result away — disable the
    # materialization so the real plan is inspectable
    monkeypatch.setattr(dedup, "_eager", lambda x: x)
    assert "_toks" in plan(dedup.shared_ngram_stats(df, n=3))
    assert "_tl" in plan(dedup.remove_duplicated_spans(df, n=3))


def test_band_join_strategy_is_size_aware(spark, monkeypatch):
    """The MinHash band self-join must broadcast under the exact-size
    budget and pin sort-merge above it — Catalyst's own estimate of the
    UDF-derived relation is off by orders of magnitude in both
    directions (sf10: estimated 12 MB, actual 2.4 GB, broadcast OOM).
    The budget is monkeypatched to force each branch on a toy corpus;
    survivors must be identical either way."""
    from amazon_s3_find_and_forget_spark.operators import dedup as d

    df = spark.createDataFrame(
        [(i, f"doc number {i} with some shared words") for i in range(40)]
        + [(100 + i, "doc number 1 with some shared words") for i in range(3)],
        "doc_id long, text string",
    )

    def survivors_and_plan():
        out = d.minhash_dedup(df, threshold=0.8)
        ids = sorted(r.doc_id for r in out.collect())
        return ids

    # the side picker: under the budget -> broadcast hint, over -> merge
    # (checked BEFORE the budget monkeypatch below)
    rel = df.select("doc_id")
    under = d._band_join_side(rel, n_rows=10, bands=2, row_bytes=10)
    over = d._band_join_side(rel, n_rows=10**9, bands=16, row_bytes=300)
    assert "UnresolvedHint broadcast" in under._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint merge" in over._jdf.queryExecution().logical().toString()

    big = survivors_and_plan()  # default budget: broadcast branch
    monkeypatch.setattr(d, "BAND_BROADCAST_BUDGET", 0)
    small = survivors_and_plan()  # zero budget: sort-merge branch
    assert big == small


def test_bpe_token_count_hand_goldens(spark):
    """Tokenizer-exact BPE counts against hand-computed expectations:
    merge order (lowest rank first, all occurrences per round),
    pre-token isolation (merges never straddle pre-tokens), byte-level
    unicode, the Ġ (space-byte) alphabet, and NULL/empty texts."""
    merges = [("t", "h"), ("th", "e"), ("i", "n"), ("in", "g")]
    cases = [
        # 'the' -> th+e -> the: 1 token
        (0, "the", 1),
        # 'ththe': th,th,e -> th,the: 2
        (1, "ththe", 2),
        # 'thing': th,ing: 2
        (2, "thing", 2),
        # pre-tokens: 'the' + ' thing' (Ġ blocks nothing inside runs)
        # 'the'=1; ' thing' units Ġ,t,h,i,n,g -> Ġ,th,ing = 3
        (3, "the thing", 4),
        # contraction split: "can't" -> 'can' + "'t": no 'th' merge
        # across the boundary; 'can'=3, "'t"=2
        (4, "can't", 5),
        # unicode: 'é' is 2 bytes, no merges apply
        (5, "héllo", 6),
        (6, "", 0),
        (7, None, None),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in cases], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["n"]
        for r in text.with_bpe_token_count(
            df, merges, out_col="n"
        ).collect()
    }
    assert got == {i: n for i, _, n in cases}


def test_bpe_token_count_space_merge(spark):
    """Merges over the byte-unicode alphabet: ('Ġ','t') fuses the
    space byte with a following t inside a ' t...' pre-token."""
    b2u = text._bytes_to_unicode()
    g = b2u[ord(" ")]
    df = spark.createDataFrame([(0, "a tree")], "doc_id long, text string")
    got = text.with_bpe_token_count(df, [(g, "t")], out_col="n").collect()
    # 'a'=1; ' tree' -> Ġ,t,r,e,e -> Ġt,r,e,e = 4
    assert got[0]["n"] == 5


def test_bpe_token_count_closed_form(spark):
    """Property check of the gate row's closed form on seeded texts:
    for merges [('a','n'),('an','d')] the count equals
    bytes - #'an' - #'and' (non-overlapping substring counts) — the
    identity the DuckDB value oracle relies on."""
    from amazon_s3_find_and_forget_spark.catalog.text import TINY_MERGES

    rng = np.random.default_rng(13)
    vocab = ["and", "an", "a", "n", "d", "band", "anand", "land's",
             "nd", "da", "sand", "banana"]
    texts = [
        " ".join(rng.choice(vocab, size=rng.integers(1, 12)))
        for _ in range(50)
    ] + ["andand", "anand", "aand", "tthe and", "an'd", "can't and"]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["n"]
        for r in text.with_bpe_token_count(
            df, TINY_MERGES, out_col="n"
        ).collect()
    }

    def count_nonoverlap(s, sub):
        return s.count(sub)  # str.count is non-overlapping left-to-right

    for i, t in enumerate(texts):
        expected = (
            len(t.encode()) - count_nonoverlap(t, "an")
            - count_nonoverlap(t, "and")
        )
        assert got[i] == expected, (i, t, got[i], expected)


def test_bpe_load_merges(tmp_path):
    p = tmp_path / "merges.txt"
    p.write_text("#version: 0.2\na n\nan d\n\nĠ t\n", encoding="utf-8")
    assert text.load_merges(str(p)) == [("a", "n"), ("an", "d"), ("Ġ", "t")]


def test_minhash_near_dup_pairs_verify_modes(spark):
    """The scale-viable pair source: signature-estimate and exact-
    shingle verification agree on a corpus with unambiguous structure
    (exact copies J=1.0 >= any threshold; unrelated docs J~0), and the
    exact mode's jaccard is exactly 1.0 for the copies."""
    rng = np.random.default_rng(7)
    vocab = [f"w{c}" for c in "abcdefghijklmnopqrstuvwxyz"]
    base = [
        (i, " ".join(rng.choice(vocab, size=12, replace=False)) + f" doc{i}")
        for i in range(20)
    ]
    dups = [(100 + i, base[i][1]) for i in range(5)]  # exact copies
    df = spark.createDataFrame(base + dups, "doc_id long, text string")
    expected = {(i, 100 + i) for i in range(5)}

    sig = dedup.minhash_near_dup_pairs(df, threshold=0.8)
    got_sig = {(r.id_a, r.id_b) for r in sig.collect()}
    assert got_sig == expected

    exact = dedup.minhash_near_dup_pairs(df, threshold=0.8, verify="exact")
    rows = exact.collect()
    assert {(r.id_a, r.id_b) for r in rows} == expected
    assert all(r.jaccard == 1.0 for r in rows)

    with pytest.raises(ValueError, match="verify"):
        dedup.minhash_near_dup_pairs(df, verify="nope")


def test_minhash_dedup_clusters_transitive(spark):
    """a~b and b~c must cluster a,b,c together through the MinHash pair
    graph even if a~c was never emitted; cluster id = min doc id."""
    text_a = " ".join(f"w{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, text_a), (2, text_a), (3, text_a),
         (50, "another entirely different document about other things")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.cluster
        for r in dedup.minhash_dedup_clusters(df, threshold=0.8).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}  # 50 has no pair -> singleton, absent


def test_ngram_jaccard_candidates_matches_full(spark):
    """Candidate-restricted exact verification must agree with the
    all-pairs inverted-index form on the candidates' subset (no posting
    cap engages at this corpus size), and emit nothing for candidate
    pairs below the threshold."""
    docs = [
        (0, "the quick brown fox jumps over the lazy dog again today"),
        (1, "the quick brown fox jumps over the lazy dog again tomorrow"),
        (2, "a completely different text about spark query planning"),
        (3, "a completely different text about spark query planning too"),
        (4, "nothing in common with anything else at all here now"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    }
    cand = spark.createDataFrame(
        [(0, 1), (2, 3), (0, 4)], "id_a long, id_b long"
    )
    restricted = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            df, n=3, threshold=0.5, candidates=cand
        ).collect()
    }
    assert set(restricted) <= {(0, 1), (2, 3), (0, 4)}
    for pair, j in restricted.items():
        assert full[pair] == j  # same jaccard as the all-pairs form
    assert set(restricted) == {p for p in [(0, 1), (2, 3)] if p in full}


def test_candidate_join_side_switch(spark, monkeypatch):
    """The candidate lookup joins must derive their strategy from the
    counted size: broadcast under the budget, shuffled merge above
    (verified_jaccard_pairs and the candidate-restricted n-gram path
    share _candidate_join_side)."""
    from amazon_s3_find_and_forget_spark.operators import dedup as d

    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    under = d._candidate_join_side(pairs)
    assert "UnresolvedHint broadcast" in (
        under._jdf.queryExecution().logical().toString()
    )
    monkeypatch.setattr(d, "BAND_BROADCAST_BUDGET", 0)
    over = d._candidate_join_side(pairs)
    assert "UnresolvedHint merge" in (
        over._jdf.queryExecution().logical().toString()
    )

    # and the exact-verify output is identical on both branches
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    shuffled = {(r.id_a, r.id_b, r.jaccard)
                for r in d.verified_jaccard_pairs(df, cand, k=3,
                                                  threshold=0.5).collect()}
    monkeypatch.setattr(d, "BAND_BROADCAST_BUDGET", 256 << 20)
    bcast = {(r.id_a, r.id_b, r.jaccard)
             for r in d.verified_jaccard_pairs(df, cand, k=3,
                                               threshold=0.5).collect()}
    assert shuffled == bcast == {(1, 2, 1.0)}


def test_dsir_weights_hand_case(spark):
    import math

    # pool: two docs; target: the first one. B large enough that no
    # hash collision occurs among the 5 distinct grams (checked by the
    # distinct-bucket assertion, so the hand model below is exact).
    pool = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], "doc_id long, text string"
    )
    target = pool.where(F.col("doc_id") == 1)
    B = 4096
    got = {
        r.doc_id: r for r in text.dsir_importance_weights(
            pool, target, n_buckets=B
        ).collect()
    }
    buckets = (
        text._hashed_gram_buckets(pool, B, "text", "doc_id")
        .select("bkt").distinct().count()
    )
    assert buckets == 4  # alpha, beta, 'alpha beta', gamma — no collision
    # doc 1 grams: alpha, beta, 'alpha beta' (3 grams, each qc=1 tc=1)
    # doc 2 grams: gamma (qc=1, tc=0); T=3, Q=4, lam=1
    c_seen = math.log((1 + 1) / (3 + B)) - math.log((1 + 1) / (4 + B))
    c_unseen = math.log((0 + 1) / (3 + B)) - math.log((1 + 1) / (4 + B))
    assert got[1].n_grams == 3 and got[2].n_grams == 1
    assert got[1].log_w == pytest.approx(round(3 * c_seen, 6), abs=1e-6)
    assert got[2].log_w == pytest.approx(round(c_unseen, 6), abs=1e-6)
    # target-like doc outranks the target-unseen doc
    assert got[1].log_w > got[2].log_w


def test_dsir_weights_skips_tokenless_and_validates(docs):
    spark = docs.sparkSession
    extra = spark.createDataFrame(
        [(900001, "   "), (900002, None)], "doc_id long, text string"
    )
    pool = docs.select("doc_id", "text", "lang").unionByName(
        extra.withColumn("lang", F.lit("en"))
    )
    target = pool.where(F.col("lang") == "en")
    ids = {r.doc_id for r in text.dsir_importance_weights(pool, target).collect()}
    assert 900001 not in ids and 900002 not in ids
    with pytest.raises(ValueError, match="lam"):
        text.dsir_importance_weights(pool, target, lam=0.0)
    with pytest.raises(ValueError, match="n_buckets"):
        text.dsir_importance_weights(pool, target, n_buckets=0)


def test_dsir_select_deterministic_and_salted(docs):
    target = docs.where(F.col("lang") == "en")
    a = text.dsir_select(docs, target, 30, salt="s1").collect()
    b = text.dsir_select(docs, target, 30, salt="s1").collect()
    c = text.dsir_select(docs, target, 30, salt="s2").collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]
    assert [r.doc_id for r in a] != [r.doc_id for r in c]
    assert len(a) == 30
    # scores descend, ties broken by id
    scores = [(r.score, r.doc_id) for r in a]
    assert scores == sorted(scores, key=lambda t: (-t[0], t[1]))
    with pytest.raises(ValueError, match="method"):
        text.dsir_select(docs, target, 5, method="uniform")
    with pytest.raises(ValueError, match="k="):
        text.dsir_select(docs, target, 0)


def test_dsir_topk_tilts_toward_target(spark):
    # target-vocabulary docs must dominate a hard top-k over a pool
    # built from two disjoint vocabularies
    rows = [(i, "apple banana cherry date", "t") for i in range(20)]
    rows += [(100 + i, "quark gluon lepton boson", "o") for i in range(20)]
    pool = spark.createDataFrame(rows, "doc_id long, text string, grp string")
    target = pool.where(F.col("grp") == "t")
    sel = text.dsir_select(pool, target, 20, method="topk").collect()
    assert {r.doc_id for r in sel} == set(range(20))


def test_gopher_quality_flags_hand_rules(spark):
    words50 = " ".join(["the"] * 25 + ["that"] * 25)  # mean word len 3.5
    rows = [
        (1, words50),                                   # 50 words, 2 stops -> pass
        (2, "the be " + " ".join(["word"] * 10)),       # too few words
        (3, " ".join(["the be"] + ["##"] * 48)),        # symbols + alpha fail
        (4, None),                                      # null text
        (5, " ".join(["the"] * 50)),                    # only 1 distinct stop word
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in text.gopher_quality_flags(df).collect()}
    assert got[1].n_words == 50 and got[1].gopher_pass
    assert got[1].stop_word_hits == 2 and got[1].alpha_word_frac == 1.0
    assert not got[2].ok_word_count and got[2].ok_stop_words
    assert not got[3].ok_symbol_ratio  # 48 '#' words / 50 words
    assert not got[3].ok_alpha_words   # 48/50 = 0.96 alpha-less
    assert got[3].alpha_word_frac == pytest.approx(0.04)
    assert got[4].n_words == 0 and not got[4].gopher_pass
    assert got[4].mean_word_len == 0.0
    assert not got[5].ok_stop_words  # distinct stop words, not occurrences


def test_gopher_quality_mean_word_len_bounds(spark):
    df = spark.createDataFrame(
        [(1, " ".join(["ab"] * 60)), (2, " ".join(["abcdefghijklmno"] * 60))],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in text.gopher_quality_flags(df).collect()}
    assert got[1].mean_word_len == 2.0 and not got[1].ok_mean_word_len
    assert got[2].mean_word_len == 15.0 and not got[2].ok_mean_word_len
    assert got[1].ok_word_count and got[2].ok_word_count


def test_dsir_xxhash64_path_deterministic_and_consistent(spark):
    # production hash: same selection semantics, deterministic re-runs;
    # vocabulary-split pools still tilt hard toward the target
    rows = [(i, "apple banana cherry date", "t") for i in range(10)]
    rows += [(100 + i, "quark gluon lepton boson", "o") for i in range(10)]
    pool = spark.createDataFrame(rows, "doc_id long, text string, grp string")
    target = pool.where(F.col("grp") == "t")
    a = text.dsir_select(pool, target, 10, method="topk", hash_fn="xxhash64")
    b = text.dsir_select(pool, target, 10, method="topk", hash_fn="xxhash64")
    assert [r.doc_id for r in a.collect()] == [r.doc_id for r in b.collect()]
    assert {r.doc_id for r in a.collect()} == set(range(10))
    with pytest.raises(ValueError, match="hash_fn"):
        text.dsir_importance_weights(pool, target, hash_fn="sha1")


def test_binary_auc_hand_case(spark):
    # scores: perfect separation -> 1.0; one tie handled by mid-rank
    df = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.3, 0), (0.1, 0)], "s double, y int"
    )
    assert text.binary_auc(df, "s", "y").collect()[0].auc == 1.0
    tied = spark.createDataFrame(
        [(0.5, 1), (0.5, 0), (0.1, 0)], "s double, y int"
    )
    # ranks: 0.1 -> 1; the two 0.5s mid-rank 2.5 -> auc = (2.5 - 1) / 2
    assert tied.count() == 3
    assert text.binary_auc(tied, "s", "y").collect()[0].auc == 0.75


def test_quality_classifier_separable_and_validates(spark):
    rows = [(i, "apple banana cherry date elderberry", 1) for i in range(15)]
    rows += [(100 + i, "quark gluon lepton boson muon", 0) for i in range(15)]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    model = text.train_quality_classifier(df, "y", iters=10, lr=2.0)
    assert model["losses"][-1] < model["losses"][0]
    scored = text.score_quality_classifier(df, model).join(
        df.select("doc_id", "y"), "doc_id"
    )
    assert text.binary_auc(scored, "quality_prob", "y").collect()[0].auc == 1.0
    # separable vocab: every positive outscores every negative
    probs = {r.doc_id: r.quality_prob for r in scored.collect()}
    assert min(probs[i] for i in range(15)) > max(
        probs[100 + i] for i in range(15)
    )
    with pytest.raises(ValueError, match="iters"):
        text.train_quality_classifier(df, "y", iters=0)
    with pytest.raises(ValueError, match="both classes"):
        text.train_quality_classifier(df.where(F.col("y") == 1), "y")


def test_pareto_quality_filter_deterministic_and_tilted(spark):
    rows = [(i, "apple banana cherry date elderberry", 1) for i in range(20)]
    rows += [(100 + i, "quark gluon lepton boson muon", 0) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    model = text.train_quality_classifier(df, "y", iters=10, lr=2.0)
    a = {r.doc_id for r in text.pareto_quality_filter(df, model, salt="x").collect()}
    b = {r.doc_id for r in text.pareto_quality_filter(df, model, salt="x").collect()}
    assert a == b and len(a) >= 1
    pos_kept = sum(1 for d in a if d < 100)
    neg_kept = len(a) - pos_kept
    assert pos_kept > neg_kept  # high scores survive more often
    with pytest.raises(ValueError, match="alpha"):
        text.pareto_quality_filter(df, model, alpha=0.0)


def test_decontaminate_spans_hand_case(spark):
    bench = spark.createDataFrame(
        [(100, "secret answer tokens one two")], "doc_id long, text string"
    )
    pool = spark.createDataFrame(
        [
            # contains the benchmark 5-gram (lowercased match) + extras
            (1, "intro SECRET ANSWER tokens one two outro"),
            (2, "totally unrelated words here now"),
            (3, "short doc"),  # < n tokens: passes through
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in dedup.decontaminate_spans(pool, bench, n=5).collect()
    }
    assert got[1].text == "intro outro"
    assert got[1].removed_tokens == 5 and got[1].n_tokens == 7
    assert got[2].text == "totally unrelated words here now"
    assert got[2].removed_tokens == 0
    assert got[3].text == "short doc" and got[3].removed_tokens == 0
    # mask mode: one [DUP] for the maximal removed run
    masked = {
        r.doc_id: r.text
        for r in dedup.decontaminate_spans(
            pool, bench, n=5, mode="mask"
        ).collect()
    }
    assert masked[1] == "intro [DUP] outro"
    with pytest.raises(ValueError, match="mode"):
        dedup.decontaminate_spans(pool, bench, mode="drop")


def test_decontaminate_spans_removes_all_occurrences(spark):
    # unlike remove_duplicated_spans there is NO canonical keep: every
    # matching occurrence goes, including the pool-first one
    bench = spark.createDataFrame(
        [(100, "a b c d e")], "doc_id long, text string"
    )
    pool = spark.createDataFrame(
        [(1, "a b c d e x a b c d e")], "doc_id long, text string"
    )
    r = dedup.decontaminate_spans(pool, bench, n=5).collect()[0]
    assert r.text == "x" and r.removed_tokens == 10


def test_dedup_exact_substrings_hand_case(spark):
    # variable-length semantics: a 20-token run shared by docs 1 and 2
    # (at DIFFERENT offsets) is cut from BOTH (no canonical keep); a
    # 10-token overlap is under min_tokens and survives; a within-doc
    # repeat loses both copies; case differences are NOT duplicates
    # (verbatim matching, unlike the lowercasing fixed-n span ops)
    run = " ".join(f"r{i}" for i in range(20))
    df = spark.createDataFrame(
        [
            (1, "aa bb " + run + " cc"),
            (2, run + " zz yy"),
            (3, " ".join(f"r{i}" for i in range(10)) + " uu vv"),
            (4, run + " sep " + run),
            (5, "short doc"),
            (6, None),
            (7, ""),
            (8, run.upper() + " qq"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in dedup.dedup_exact_substrings(df, min_tokens=20).collect()
    }
    assert got[1].text == "aa bb cc" and got[1].removed_tokens == 20
    assert got[2].text == "zz yy" and got[2].removed_tokens == 20
    assert got[3].removed_tokens == 0
    assert got[4].text == "sep" and got[4].removed_tokens == 40
    assert got[5].text == "short doc" and got[5].removed_tokens == 0
    assert got[6].text == "" and got[6].n_tokens == 0
    assert got[7].text == ""
    assert got[8].removed_tokens == 0  # upper-case run is unique
    masked = {
        r.doc_id: r.text
        for r in dedup.dedup_exact_substrings(
            df, min_tokens=20, mode="mask"
        ).collect()
    }
    assert masked[1] == "aa bb [DUP] cc"
    assert masked[4] == "[DUP] sep [DUP]"
    with pytest.raises(ValueError, match="mode"):
        dedup.dedup_exact_substrings(df, mode="drop")
    with pytest.raises(ValueError, match="min_tokens"):
        dedup.dedup_exact_substrings(df, min_tokens=0)
    with pytest.raises(ValueError, match="min_count"):
        dedup.dedup_exact_substrings(df, min_count=1)


def test_dedup_exact_substrings_variable_length_union(spark):
    # a 25-token repeat must be removed WHOLE: its 6 overlapping
    # 20-windows each repeat, and their covered-position union is the
    # full 25 tokens — the window-tiling algebra the docstring claims
    run = " ".join(f"w{i}" for i in range(25))
    df = spark.createDataFrame(
        [(1, run + " tail1"), (2, "head2 " + run)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in dedup.dedup_exact_substrings(df, min_tokens=20).collect()
    }
    assert got[1].text == "tail1" and got[1].removed_tokens == 25
    assert got[2].text == "head2" and got[2].removed_tokens == 25


def test_dedup_exact_substrings_hash_phase_plan(spark, monkeypatch):
    # the occurrence stream that persists/shuffles must carry xxhash64
    # window identities, and the confirmed-window relation joins back
    # with the forced merge (corpus-growing, never broadcast)
    monkeypatch.setattr(dedup, "_eager", lambda d: d)
    run = " ".join(f"p{i}" for i in range(20))
    df = spark.createDataFrame(
        [(i, run + f" uniq{i}") for i in range(30)],
        "doc_id long, text string",
    )
    out = dedup.dedup_exact_substrings(df, min_tokens=20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan
    assert "SortMergeJoin" in plan  # the dupg merge join
    assert out.where("removed_tokens = 20").count() == 30


def test_top_repeated_substrings_hand_case(spark):
    R = "r0 r1 r2 r3 r4"
    S = "s0 s1 s2 s3 s4"
    df = spark.createDataFrame(
        [(1, R), (2, "x " + R), (3, R + " y " + S), (4, S), (5, None)],
        "doc_id long, text string",
    )
    rows = dedup.top_repeated_substrings(df, min_tokens=5, k=10).collect()
    assert [(r.substring, r.n_occurrences, r.n_docs, r.first_doc_id)
            for r in rows[:2]] == [(R, 3, 3, 1), (S, 2, 2, 3)]
    # mixed windows inside doc 3 are unique -> never reported
    assert all(r.n_occurrences >= 2 for r in rows)
    # k bounds the table
    assert len(dedup.top_repeated_substrings(df, min_tokens=5, k=1)
               .collect()) == 1
    with pytest.raises(ValueError, match="k="):
        dedup.top_repeated_substrings(df, k=0)
    with pytest.raises(ValueError, match="min_tokens"):
        dedup.top_repeated_substrings(df, min_tokens=0)


def test_dedup_exact_substrings_randomized_cross_check(spark):
    # 25 independently-generated corpora vs a brute-force Python
    # reference of the published semantics (every position covered by
    # an L-window occurring >= 2 times is cut), isolated in ONE
    # operator call by prefixing every token with its corpus id (no
    # window can collide across corpora). Small alphabet + short docs
    # force dense repeat structure: within-doc repeats, cross-doc
    # repeats, overlapping variable-length runs, sub-L docs, empties.
    import random

    rng = random.Random(1513)
    L = 3
    rows, expected = [], {}
    did = 0
    for ex in range(25):
        for _ in range(rng.randint(3, 6)):
            toks = [
                f"e{ex}t{rng.randint(0, 2)}"
                for _ in range(rng.randint(0, 12))
            ]
            rows.append((did, " ".join(toks)))
            did += 1
    # brute force over the WHOLE corpus (prefixing already isolates)
    from collections import Counter

    counts = Counter()
    toks_by_id = {}
    for i, text in rows:
        t = [w for w in text.split(" ") if w]
        toks_by_id[i] = t
        for p in range(len(t) - L + 1):
            counts[tuple(t[p:p + L])] += 1
    for i, t in toks_by_id.items():
        removed = set()
        for p in range(len(t) - L + 1):
            if counts[tuple(t[p:p + L])] >= 2:
                removed.update(range(p, p + L))
        kept = [t[j] for j in range(len(t)) if j not in removed]
        expected[i] = (" ".join(kept), len(t), len(removed))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.text, r.n_tokens, r.removed_tokens)
        for r in dedup.dedup_exact_substrings(df, min_tokens=L).collect()
    }
    assert got == expected


def test_c4_clean_rules(spark):
    # C4 SS2.2 rule-by-rule: terminal punctuation, min words,
    # javascript lines, lorem ipsum / curly brace / badword pages,
    # min-sentences on the retained text, NULL/empty docs
    good = "this line has enough words and punctuation."
    rows = [
        (1, f"{good}\nshort line.\nno terminal punctuation here at all\n"
            f"was this a question with enough words?\nalso fine words "
            f"here to keep!"),
        (2, f"{good}\nplease enable javascript to view this page.\n"
            f"{good}\n{good}"),
        (3, f"{good}\n{good}\nthe config is {{ nested }} badly."),
        (4, f"{good}\nLorem Ipsum dolor sit amet consectetur.\n{good}"),
        (5, "only two sentences on this page.\nnot enough mass kept here?"),
        (6, f"{good}\nthis page contains one naughtyword sadly.\n{good}"),
        (7, None),
        (8, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in text.c4_clean(df, badwords=["naughtyword"]).collect()
    }
    # doc 1: keeps 3 of 5 lines (short + unterminated dropped), page ok
    assert out[1].kept and out[1].n_lines == 5 and out[1].kept_lines == 3
    assert "no terminal" not in out[1].text and "short line." not in out[1].text
    # doc 2: javascript LINE dropped, page survives on the rest
    assert out[2].kept and out[2].kept_lines == 3
    assert "javascript" not in out[2].text
    # doc 3: curly brace survives the line rules -> page dropped
    assert not out[3].kept and out[3].kept_lines == 3
    # doc 4: lorem ipsum page dropped (case-insensitive)
    assert not out[4].kept
    # doc 5: only 2 sentences retained -> page dropped
    assert not out[5].kept and out[5].kept_lines == 2
    # doc 6: badword on a surviving line -> page dropped
    assert not out[6].kept
    # NULL/empty: zero kept lines, not kept
    assert not out[7].kept and out[7].text == "" and out[7].n_lines == 1
    assert not out[8].kept
    # word-boundary: 'naughtywordsuffix' must NOT match the badword
    df2 = spark.createDataFrame(
        [(9, f"{good}\nnaughtywordsuffix is a different word entirely.\n"
             f"{good}")], "doc_id long, text string",
    )
    assert text.c4_clean(df2, badwords=["naughtyword"]).collect()[0].kept
    with pytest.raises(ValueError, match="min_words"):
        text.c4_clean(df, min_words=0)


def test_with_bpe_units_decode_roundtrip(spark):
    # the unit sequence is the COUNTER's sequence (len == token count)
    # and bpe_decode_units inverts the concatenation exactly, including
    # multi-byte UTF-8; NULL text stays NULL
    rows = [
        (1, "hello world, it's a test"),
        (2, "héllo wörld — 中文 文本 🙂"),
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = [("l", "l"), ("h", "e"), ("he", "ll")]
    out = {
        r.doc_id: r.bpe_units
        for r in text.with_bpe_units(df, merges).collect()
    }
    counted = {
        r.doc_id: r.n
        for r in text.with_bpe_token_count(
            df, merges, out_col="n"
        ).collect()
    }
    for i, t in rows:
        if t is None:
            assert out[i] is None and counted[i] is None
        else:
            assert text.bpe_decode_units("".join(out[i])) == t
            assert len(out[i]) == counted[i]
    # ASCII outside the encoder image (a mask) survives decode verbatim
    assert text.bpe_decode_units("[DUP]" + out[1][0]) == "[DUP]" + text.bpe_decode_units(out[1][0])
    assert text.bpe_decode_units(None) is None


def test_bpe_tiny_merges_equals_regex_scan():
    # the BPE-operating-point oracle's proof obligation: under
    # TINY_MERGES [(a,n),(an,d)] the merge loop over ASCII text equals
    # the leftmost-first regex scan 'and|an|.' (catalog/dedup.py's
    # closed-form argument) — fuzzed over word salad with 'an'/'and'
    # carriers, contractions, digits, punctuation, case variants
    import random
    import re

    from amazon_s3_find_and_forget_spark.operators.text import (
        _bpe_units_factory,
        _bytes_to_unicode,
    )

    units_of = _bpe_units_factory([("a", "n"), ("an", "d")])
    b2u = _bytes_to_unicode()
    pat = re.compile(r"and|an|.", re.S)
    vocab = [
        "scan", "and", "an", "banana", "grand", "sand", "a", "n", "d",
        "anand", "aand", "andn", "band'll", "an'd", "it's", "1an2",
        "AN", "And", "plan", "anteater", "window", "the", "x,y;an!",
        "a\nn", "and\tand",
    ]
    rng = random.Random(16)
    cache: dict = {}
    for _ in range(200):
        t = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12)))
        mapped = [
            "".join(b2u[b] for b in tok.encode("utf-8"))
            for tok in pat.findall(t)
        ]
        assert units_of(t, cache) == mapped, t


def test_dedup_exact_substrings_bpe_hand_case(spark):
    # byte-faithful operating point: min_tokens counts BPE tokens, cut
    # splices surviving bytes with NO separator, duplicate identity is
    # byte-exact (case differences survive), mask glues '[DUP]' between
    # bytes, multi-byte UTF-8 survives the decode round-trip
    shared = "the quick brown fox jumps over the lazy dog"
    zh = "中文重复文本串" * 3
    rows = [
        (1, "alpha " + shared + " omega"),
        (2, "beta " + shared + " gamma"),
        (3, "unique text with no repeats at all in here"),
        (4, shared.upper() + " solo"),
        (5, ""),
        (6, None),
        (7, "x " + zh + " y"),
        (8, "z " + zh + " w"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in dedup.dedup_exact_substrings(
            df, min_tokens=20, tokenizer="bpe",
            merges=[("t", "h"), ("th", "e")],
        ).collect()
    }
    # the duplicated run is cut from BOTH docs, bytes spliced directly
    assert got[1].removed_tokens > 0 and shared not in got[1].text
    assert got[2].removed_tokens > 0 and shared not in got[2].text
    assert " " not in (got[1].text[:5])  # splice, not word join
    assert got[3].removed_tokens == 0 and got[3].text == rows[2][1]
    assert got[4].removed_tokens == 0  # case-exact: upper run unique
    assert got[5].text == "" and got[6].text == ""
    # multi-byte duplicated run removed without corrupting the decode
    assert got[7].removed_tokens > 0 and zh not in got[7].text
    assert "�" not in got[7].text and "�" not in got[8].text
    masked = {
        r.doc_id: r.text
        for r in dedup.dedup_exact_substrings(
            df, min_tokens=20, tokenizer="bpe",
            merges=[("t", "h"), ("th", "e")], mode="mask",
        ).collect()
    }
    assert "[DUP]" in masked[1] and shared not in masked[1]
    with pytest.raises(ValueError, match="tokenizer"):
        dedup.dedup_exact_substrings(df, tokenizer="words")
    with pytest.raises(ValueError, match="lowercase"):
        dedup._gram_occurrences(
            df, 5, "text", "doc_id", tokenizer="bpe"
        )


def test_dedup_exact_substrings_with_trained_merges(spark):
    # the full tokenizer loop: train a merge table FROM the corpus
    # (train_bpe_merges), then dedup at that model's byte-level BPE
    # operating point — the engine ships no vocabulary, the corpus
    # supplies it. The duplicated run must still be cut from all
    # copies and the decode must round-trip the untouched doc.
    shared = "rate limit exceeded please retry after some seconds"
    rows = [
        (1, f"log a: {shared}"),
        (2, f"log b: {shared}"),
        (3, "an original unduplicated line of prose"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = text.train_bpe_merges(df, n_merges=30, max_vocab=1000)
    assert merges  # the corpus repeats enough to learn something
    got = {
        r.doc_id: r
        for r in dedup.dedup_exact_substrings(
            df, min_tokens=10, tokenizer="bpe", merges=merges
        ).collect()
    }
    assert got[1].removed_tokens > 0 and shared not in got[1].text
    assert got[2].removed_tokens > 0 and shared not in got[2].text
    assert got[3].text == rows[2][1] and got[3].removed_tokens == 0


def test_dedup_exact_substrings_bpe_randomized_cross_check(spark):
    # 8 corpora vs a brute-force byte-level reference in ONE operator
    # call (merges=[]: units are single bytes). Isolation: every token
    # is 'e{ex}t{j}' with single-digit ex/j — 5 bytes incl. the space —
    # so any 6-byte window covers at least one corpus digit and windows
    # never collide across corpora.
    import random
    from collections import Counter

    rng = random.Random(1613)
    L = 6
    rows = []
    did = 0
    for ex in range(8):
        for _ in range(rng.randint(3, 5)):
            toks = [
                f"e{ex}t{rng.randint(0, 2)}"
                for _ in range(rng.randint(0, 6))
            ]
            rows.append((did, " ".join(toks)))
            did += 1
    counts: Counter = Counter()
    by_id = {}
    for i, t in rows:
        b = t.encode()
        by_id[i] = b
        for p in range(len(b) - L + 1):
            counts[b[p:p + L]] += 1
    expected = {}
    for i, b in by_id.items():
        removed = set()
        for p in range(len(b) - L + 1):
            if counts[b[p:p + L]] >= 2:
                removed.update(range(p, p + L))
        kept = bytes(b[j] for j in range(len(b)) if j not in removed)
        expected[i] = (kept.decode(), len(b), len(removed))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.text, r.n_tokens, r.removed_tokens)
        for r in dedup.dedup_exact_substrings(
            df, min_tokens=L, tokenizer="bpe", merges=[]
        ).collect()
    }
    assert got == expected


def test_gram_matrix_exact_vs_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    X = rng.randn(40, 8).astype(np.float32)
    rows = [(i, X[i].tolist()) for i in range(40)] + [(99, None), (98, [])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    gram, n = similarity.gram_matrix(df, normalize=False)
    assert n == 40
    Xd = X.astype(np.float64)
    assert np.abs(gram - Xd.T @ Xd / 40).max() < 1e-9


def test_train_pca_recovers_dominant_direction(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    # rank-heavy direction e0: variance 100x the others
    X = rng.randn(200, 8) * 0.1
    X[:, 0] += rng.randn(200) * 10
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    model = similarity.train_pca(df, 2, normalize=False)
    P = np.asarray(model["components"])
    assert abs(abs(P[0, 0]) - 1.0) < 0.05  # first component ~ e0
    assert model["explained_variance"][0] > model["explained_variance"][1]
    with pytest.raises(ValueError, match="d_out"):
        similarity.train_pca(df, 0)
    # Eckart-Young: PCA mse <= any same-rank orthonormal projection
    mse_pca = similarity.projection_mse(df, P, normalize=False).collect()[0]
    trunc = np.eye(8)[-2:]  # worst truncation: the low-variance dims
    mse_tr = similarity.projection_mse(df, trunc, normalize=False).collect()[0]
    assert mse_pca.mse < mse_tr.mse
    assert mse_pca.n_vecs == 200


def test_project_embeddings_parseval(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    X = rng.randn(30, 6)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(30)] + [(99, None)],
        "vec_id long, embedding array<float>",
    )
    model = similarity.train_pca(df, 6)  # full rank: lossless
    out = {r.vec_id: r.embedding_pca for r in
           similarity.project_embeddings(df, model).collect()}
    assert out[99] is None
    # full-rank orthonormal projection preserves norms (Parseval)
    for i in range(30):
        assert abs(np.linalg.norm(out[i]) - 1.0) < 1e-5
    full = similarity.projection_mse(
        df, np.asarray(model["components"])).collect()[0]
    assert abs(full.mse) < 1e-9 and full.n_vecs == 30


def test_bigram_logprob_hand_case(spark):
    import math

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "b a c")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in text.bigram_logprob(df).collect()}
    # uni: a=3 b=3 c=1 T=7; bigrams (a,b)=2 (b,a)=2 (a,c)=1; ctx a=3 b=2
    s1 = [3 / 7, 2 / 3, 2 / 2, 2 / 3]      # a | b|a | a|b | b|a
    s2 = [3 / 7, 2 / 2, 1 / 3]             # b | a|b | c|a
    assert got[1].n_tokens == 4 and got[2].n_tokens == 3
    assert got[1].nll2 == round(sum(-math.log(s) for s in s1) / 4, 6)
    assert got[2].nll2 == round(sum(-math.log(s) for s in s2) / 3, 6)
    with pytest.raises(ValueError, match="backoff"):
        text.bigram_logprob(df, backoff=0.0)


def test_bigram_logprob_backoff_and_context(docs):
    # a doc whose bigrams are corpus-frequent must outscore (lower nll)
    # one built of the same unigrams in a never-seen order
    spark = docs.sparkSession
    frequent = "the the the the"
    extra = spark.createDataFrame(
        [(900001, "query table scan " * 20), (900002, "scan query " * 30)],
        "doc_id long, text string",
    )
    base = docs.select("doc_id", "text").unionByName(extra)
    rows = {r.doc_id: r.nll2 for r in text.bigram_logprob(base).collect()}
    # both synthetic docs exist; the one repeating a frequent-in-corpus
    # bigram chain scores differently from the reversed-order one
    assert 900001 in rows and 900002 in rows
    # a doc containing only tokens absent from the rest of the corpus
    # still scores (its own counts make the model) and empty docs drop
    only = spark.createDataFrame(
        [(900003, None), (900004, "   ")], "doc_id long, text string"
    )
    out = text.bigram_logprob(docs.select("doc_id", "text").unionByName(only))
    ids = {r.doc_id for r in out.collect()}
    assert 900003 not in ids and 900004 not in ids


def test_dsir_weights_partitioning_invariant(docs):
    # weights are a pure function of the corpus CONTENT: repartitioning
    # and reordering the input must not move a single rounded value
    # (the round-6 convention absorbs partial-agg association)
    target = docs.where(F.col("lang") == "en")
    a = {r.doc_id: (r.n_grams, r.log_w)
         for r in text.dsir_importance_weights(docs, target).collect()}
    shuffled = docs.repartition(7).sortWithinPartitions(F.desc("doc_id"))
    b = {r.doc_id: (r.n_grams, r.log_w)
         for r in text.dsir_importance_weights(shuffled, target).collect()}
    assert a == b


def test_gopher_flags_match_python_reference(spark):
    import random
    import re as _re

    rng = random.Random(1309)
    words = ["the", "zag", "##", "a1", "...", "toolongwordhere", "of", "x"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(0, 70))))
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in text.gopher_quality_flags(df).collect()}
    for i, t in rows:
        ws = _re.findall(r"\S+", t)
        n = len(ws)
        assert got[i].n_words == n, (i, t)
        if n:
            non_ws = len(_re.sub(r"\s", "", t))
            assert got[i].mean_word_len == round(non_ws / n, 4)
            alpha = sum(1 for w in ws if _re.search(r"[A-Za-z]", w))
            assert got[i].alpha_word_frac == round(alpha / n, 4)
            syms = len(_re.findall(r"#|\.\.\.", t))
            assert got[i].symbol_ratio == round(syms / n, 4)
        stops = {w for w in _re.findall(r"[a-z0-9']+", t.lower())}
        assert got[i].stop_word_hits == len(
            stops & set(text.GOPHER_STOP_WORDS)
        )


def test_gram_partials_one_row_per_partition(spark):
    # the driver collect must be partition-count-bounded: even when the
    # Arrow batch size forces one record per batch, each partition's
    # iterator accumulates into ONE (n, g) row (the r13 ADVICE defect:
    # per-batch partials made the collect corpus-bounded)
    rng = np.random.RandomState(11)
    X = rng.randn(24, 4).astype(np.float32)
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(24)],
        "vec_id long, embedding array<float>",
    ).repartition(3)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        parts = similarity._gram_partials(df, "embedding", False).collect()
        assert len(parts) <= 3
        assert sum(r.n for r in parts) == 24
        gram, n = similarity.gram_matrix(df, normalize=False)
        Xd = X.astype(np.float64)
        assert np.abs(gram - Xd.T @ Xd / 24).max() < 1e-9
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_span_operators_reject_n_zero(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n=0"):
        dedup.remove_duplicated_spans(df, n=0)
    with pytest.raises(ValueError, match="n=0"):
        dedup.decontaminate_spans(df, df, n=0)


def test_classifier_ignores_null_labels(spark):
    # docs with NULL labels must not dilute the GD denominator / class
    # prior: training on (labeled + nulls) == training on labeled only
    rows = [(i, f"good clean prose text {i} the of and", 1.0) for i in range(12)]
    rows += [(100 + i, f"zzz spam {i} garbage #### junk", 0.0) for i in range(12)]
    labeled = spark.createDataFrame(rows, "doc_id long, text string, label double")
    with_nulls = labeled.union(
        spark.createDataFrame(
            [(200 + i, f"unlabeled doc {i} words here", None) for i in range(10)],
            "doc_id long, text string, label double",
        )
    )
    m1 = text.train_quality_classifier(labeled, "label", n_buckets=64, iters=3)
    m2 = text.train_quality_classifier(
        with_nulls, "label", n_buckets=64, iters=3
    )
    assert m1 == m2


def _physical(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_lm_model_joins_are_size_aware(spark, monkeypatch):
    # the vocabulary-sized model relations must NOT carry an
    # unconditional broadcast hint (AQE never demotes one, and \S+
    # vocabulary grows with the corpus): above budget the lookup joins
    # degrade to shuffled merge joins, under budget they broadcast
    from amazon_s3_find_and_forget_spark.operators import dedup as _dedup

    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(6)],
        "doc_id long, text string",
    )
    # both LM operators checkpoint their small outputs (the round-15
    # double-compute fix), so neutralize _eager to assert the join
    # strategy in the physical plan; the value-identity check below
    # re-runs with _eager live
    monkeypatch.setattr(_dedup, "_eager", lambda d: d)
    uni_plan = _physical(text.unigram_logprob(df))
    assert "BroadcastHashJoin" in uni_plan  # tiny vocab: broadcast path

    monkeypatch.setattr(_dedup, "BAND_BROADCAST_BUDGET", 0)
    assert "BroadcastHashJoin" not in _physical(text.unigram_logprob(df))
    # and the merge path is value-identical to the broadcast path
    a = {r.doc_id: (r.n_tokens, r.nll2)
         for r in text.bigram_logprob(df).collect()}
    u0 = {r.doc_id: (r.n_tokens, r.nll)
          for r in text.unigram_logprob(df).collect()}
    monkeypatch.undo()
    b = {r.doc_id: (r.n_tokens, r.nll2)
         for r in text.bigram_logprob(df).collect()}
    u1 = {r.doc_id: (r.n_tokens, r.nll)
          for r in text.unigram_logprob(df).collect()}
    assert a == b
    assert u0 == u1


def test_remove_duplicated_paragraphs_hand_case(spark):
    rows = [
        (1, "alpha one\nFOOTER\nbeta two"),
        (2, "gamma three\nFOOTER"),
        (3, "FOOTER\ndelta\nFOOTER"),  # within-doc repeat + cross-doc
        (4, "\n\nedge"),               # leading empties are structure
        (5, None),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           dedup.remove_duplicated_paragraphs(df).collect()}
    # canonical (1, pos 1) keeps its FOOTER; every later occurrence goes
    assert out[1].text == "alpha one\nFOOTER\nbeta two"
    assert out[2].text == "gamma three"
    assert out[3].text == "delta"  # both occurrences non-canonical
    assert out[4].text == "\n\nedge"
    assert out[5].text == "" and out[6].text == ""
    assert out[3].n_paragraphs == 3 and out[3].removed_paragraphs == 2
    assert out[2].removed_paragraphs == 1
    with pytest.raises(ValueError, match="min_count"):
        dedup.remove_duplicated_paragraphs(df, min_count=1)
    with pytest.raises(ValueError, match="sep"):
        dedup.remove_duplicated_paragraphs(df, sep="")


def test_remove_duplicated_paragraphs_custom_sep_and_min_count(spark):
    df = spark.createDataFrame(
        [(1, "a. b. c"), (2, "b. x"), (3, "b. y")],
        "doc_id long, text string",
    )
    # ". " separator; "b" appears in 3 docs — min_count=3 triggers, the
    # doc-1 occurrence is canonical
    out = {r.doc_id: r.text for r in
           dedup.remove_duplicated_paragraphs(
               df, sep=". ", min_count=3).collect()}
    assert out == {1: "a. b. c", 2: "x", 3: "y"}
    # min_count=4: nothing reaches the threshold, texts reassemble
    # byte-identically
    out4 = {r.doc_id: r.text for r in
            dedup.remove_duplicated_paragraphs(
                df, sep=". ", min_count=4).collect()}
    assert out4 == {1: "a. b. c", 2: "b. x", 3: "b. y"}


def test_prototypicality_and_prune(spark):
    # two tight clusters far apart + per-cluster outliers: hard mode
    # keeps the outliers, easy mode the cores, exact counts are exact
    rng = np.random.RandomState(29)
    a = rng.randn(20, 6) * 0.05 + np.array([5, 0, 0, 0, 0, 0])
    b = rng.randn(20, 6) * 0.05 + np.array([0, 5, 0, 0, 0, 0])
    out_a = np.array([[3.0, 3.0, 1, 0, 0, 0]] * 2)   # off-center of a
    X = np.vstack([a, out_a, b]).astype(np.float64)
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))]
        + [(900, None), (901, [])],
        "vec_id long, embedding array<float>",
    )
    cent = similarity.train_ivf_centroids(df, n_centroids=2, sample_size=100)
    scored = similarity.prototypicality(df, cent)
    rows = scored.collect()
    assert len(rows) == len(X)  # null/empty dropped
    assert len({r.ivf_cell for r in rows}) == 2
    kept = similarity.prune_prototypes(df, cent, 0.25, mode="hard", exact=True)
    krows = kept.collect()
    # exact per-cell ceil(0.25 * n_c)
    import collections
    cells = collections.Counter(r.ivf_cell for r in rows)
    assert len(krows) == sum(-(-n // 4) for n in cells.values())
    # hard keep has lower prototypicality than easy keep
    easy = similarity.prune_prototypes(df, cent, 0.25, mode="easy", exact=True)
    mh = np.mean([r.proto_sim for r in krows])
    me = np.mean([r.proto_sim for r in easy.collect()])
    assert mh < me
    # approx path keeps a similar count and only low-sim examples
    approx = similarity.prune_prototypes(
        df, cent, 0.25, mode="hard", exact=False
    ).collect()
    assert abs(len(approx) - len(krows)) <= 5
    with pytest.raises(ValueError, match="keep_frac"):
        similarity.prune_prototypes(df, cent, 0.0)
    with pytest.raises(ValueError, match="mode"):
        similarity.prune_prototypes(df, cent, 0.5, mode="nope")


def test_prune_prototypes_scores_once(spark):
    # the Arrow-gemm scorer feeds BOTH the threshold aggregate and the
    # filter probe; the round-15 checkpoint means the caller's plan must
    # read the scored relation as an RDD scan — zero MapInPandas nodes
    # left to re-run the gemm (both physical strategies)
    rng = np.random.RandomState(7)
    X = rng.randn(30, 4)
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    cent = similarity.train_ivf_centroids(df, n_centroids=2, sample_size=50)
    for exact in (False, True):
        out = similarity.prune_prototypes(
            df, cent, 0.5, mode="hard", exact=exact
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan, plan
        assert "ExistingRDD" in plan
        assert out.count() > 0


def test_prune_prototypes_scored_reuse_is_identical(spark):
    # round-18: a caller-provided scored= relation must yield exactly
    # the rows the internal scoring path yields, for every mode and
    # both physical strategies — prototypicality is a pure function of
    # (df, centroids), so the claims rows can score once and share
    rng = np.random.RandomState(11)
    X = rng.randn(60, 4)
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    cent = similarity.train_ivf_centroids(df, n_centroids=3, sample_size=60)
    scored = similarity.prototypicality(df, cent).localCheckpoint(
        eager=False
    )
    scored.count()
    for mode in ("hard", "easy"):
        for exact in (False, True):
            internal = similarity.prune_prototypes(
                df, cent, 0.5, mode=mode, exact=exact
            )
            reused = similarity.prune_prototypes(
                df, cent, 0.5, mode=mode, exact=exact, scored=scored
            )
            assert internal.exceptAll(reused).count() == 0
            assert reused.exceptAll(internal).count() == 0


def test_unigram_logprob_materializes_before_release(spark):
    # the LM persist is released inside the call, so the returned
    # relation must already be materialized (checkpoint scan) — a lazy
    # plan would recompute the unpersisted LM aggregate AND the
    # tokenize+explode under it at the caller's first action (the
    # round-14 double-compute seam; bigram_logprob's _eager pattern)
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b c")], "doc_id long, text string"
    )
    out = text.unigram_logprob(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan
    assert "Aggregate" not in plan and "Exchange" not in plan
    assert out.count() == 2


def test_temperature_mixture_rebalances(spark):
    # 3 strata 160/90/8: alpha=0.5 shifts mass to the small stratum
    # (rate > 1 replicates), total stays ~corpus size, deterministic
    rows = (
        [(i, "big") for i in range(160)]
        + [(200 + i, "mid") for i in range(90)]
        + [(400 + i, "tiny") for i in range(8)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = text.temperature_mixture(df, alpha=0.5, salt="t")
    got = out.groupBy("source").count().collect()
    c = {r["source"]: r["count"] for r in got}
    import math
    n = {"big": 160, "mid": 90, "tiny": 8}
    z = sum(math.sqrt(v) for v in sorted(n.values()))
    # expected per-stratum mass = T * sqrt(n_s)/Z (binomial jitter on
    # the fractional part only — tolerance 1 + 3*sqrt(n))
    for s, ns in n.items():
        exp = 258 * math.sqrt(ns) / z
        assert abs(c[s] - exp) <= 1 + 3 * math.sqrt(exp), (s, c[s], exp)
    assert c["tiny"] > n["tiny"]  # upsampled
    assert c["big"] < n["big"]    # downsampled
    # deterministic: identical re-run
    again = {(r.doc_id, r.source, r.copy)
             for r in text.temperature_mixture(df, alpha=0.5, salt="t").collect()}
    first = {(r.doc_id, r.source, r.copy) for r in out.collect()}
    assert first == again
    # max_rate caps replication
    capped = text.temperature_mixture(df, alpha=0.5, salt="t", max_rate=1.0)
    assert capped.where("source = 'tiny'").count() <= 8
    # alpha=1 is natural sampling: every stratum keeps ~its share
    nat = text.temperature_mixture(df, alpha=1.0, salt="t")
    cn = {r["source"]: r["count"]
          for r in nat.groupBy("source").count().collect()}
    for s, ns in n.items():
        assert abs(cn[s] - ns) <= 1 + 3 * math.sqrt(ns)
    with pytest.raises(ValueError, match="alpha"):
        text.temperature_mixture(df, alpha=0.0)
    with pytest.raises(ValueError, match="strata"):
        text.temperature_mixture(
            spark.createDataFrame([(1, None)], "doc_id long, source string")
        )


def test_paragraph_dedup_plan_shape(spark, monkeypatch):
    # the paragraph-stats relation is corpus-growing: the join back must
    # be the forced shuffled merge join (the shared_ngram_stats
    # discipline), never a broadcast of O(distinct paragraphs). _eager
    # checkpoints the output into a scan, so neutralize it to see the
    # real plan (the tiny per-doc removed-positions relation broadcast
    # by AQE in the final join is fine and expected).
    monkeypatch.setattr(dedup, "_eager", lambda d: d)
    df = spark.createDataFrame(
        [(i, f"p{i}\nFOOTER") for i in range(40)], "doc_id long, text string"
    )
    out = dedup.remove_duplicated_paragraphs(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert out.count() == 40


def test_temperature_mixture_is_map_only(spark):
    # after the strata-count collect, the materialization must contain
    # NO exchange: the mixture streams (no join, no window, no shuffle)
    df = spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(60)], "doc_id long, source string"
    )
    out = text.temperature_mixture(df, alpha=0.5, salt="ps")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_train_bpe_merges_hand_case(spark):
    # 'aa aa aa ab' word soup: byte units; most frequent adjacent pair
    # is ('a','a') (weighted by pre-token frequency)
    df = spark.createDataFrame(
        [(1, "aa aa"), (2, "aa ab"), (3, "aa")], "doc_id long, text string"
    )
    m = text.train_bpe_merges(df, n_merges=3, max_vocab=100)
    assert m[0] == ("a", "a")
    # determinism
    assert m == text.train_bpe_merges(df, n_merges=3, max_vocab=100)
    # the learned table feeds the exact counter and compresses
    full = text.with_bpe_token_count(df, m).agg(
        F.sum("n_tokens_bpe_exact")).collect()[0][0]
    base = text.with_bpe_token_count(df, []).agg(
        F.sum("n_tokens_bpe_exact")).collect()[0][0]
    assert full < base
    # early stop: a corpus where nothing repeats twice learns nothing
    uniq = spark.createDataFrame([(1, "xy")], "doc_id long, text string")
    assert text.train_bpe_merges(uniq, n_merges=5) == []
    with pytest.raises(ValueError, match="n_merges"):
        text.train_bpe_merges(df, n_merges=0)
    with pytest.raises(ValueError, match="max_vocab"):
        text.train_bpe_merges(df, max_vocab=0)


def _para_dedup_reference(rows, sep="\n", min_count=2):
    # pure-Python reference of remove_duplicated_paragraphs semantics
    split = {i: (t if t is not None else "").split(sep) for i, t in rows}
    occ = {}
    for i in sorted(split):
        for p, para in enumerate(split[i]):
            if para:
                occ.setdefault(para, []).append((i, p))
    removed = set()
    for para, locs in occ.items():
        if len(locs) >= min_count:
            removed.update(locs[1:])  # locs already in (doc, pos) order
    out = {}
    for i, parts in split.items():
        kept = [p for j, p in enumerate(parts) if (i, j) not in removed]
        n_removed = len(parts) - len(kept)
        out[i] = (sep.join(kept), len(parts), n_removed)
    return out


def test_remove_duplicated_paragraphs_matches_reference(spark):
    from hypothesis import given, settings, strategies as st

    para = st.sampled_from(["alpha", "beta", "gamma", "", "x y"])
    doc = st.lists(para, min_size=0, max_size=6).map("\n".join)

    @settings(max_examples=15, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=8))
    def check(texts):
        rows = list(enumerate(texts))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.text, r.n_paragraphs, r.removed_paragraphs)
            for r in dedup.remove_duplicated_paragraphs(df).collect()
        }
        assert got == _para_dedup_reference(rows)

    check()


def test_dsir_target_predicate_one_pass_mode_is_result_identical(docs):
    """Round-17 optimization: when the target is a slice of the pool,
    target_predicate computes ONE gram stream carrying a membership bit
    instead of recomputing the pool's upstream chain for the target
    side. The mode must be row-for-row identical to the two-DataFrame
    form (same grams, same counts, same contributions) — including the
    NULL-predicate rows a where() would drop and an empty target."""
    pred = F.col("lang") == "en"
    two = sorted(
        map(tuple, text.dsir_importance_weights(
            docs, docs.where(pred)).collect())
    )
    one = sorted(
        map(tuple, text.dsir_importance_weights(
            docs, target_predicate=pred).collect())
    )
    assert one == two and len(one) > 0
    s_two = text.dsir_select(docs, docs.where(pred), 20, salt="s1").collect()
    s_one = text.dsir_select(
        docs, None, 20, salt="s1", target_predicate=pred
    ).collect()
    assert [tuple(r) for r in s_one] == [tuple(r) for r in s_two]
    # empty target: smoothing-only model, both modes agree
    p_none = F.col("lang") == "zz"
    e_two = sorted(map(tuple, text.dsir_importance_weights(
        docs, docs.where(p_none)).collect()))
    e_one = sorted(map(tuple, text.dsir_importance_weights(
        docs, target_predicate=p_none).collect()))
    assert e_one == e_two
    # exactly one of target / target_predicate
    with pytest.raises(ValueError, match="exactly one"):
        text.dsir_importance_weights(docs, docs, target_predicate=pred)
    with pytest.raises(ValueError, match="exactly one"):
        text.dsir_importance_weights(docs)
