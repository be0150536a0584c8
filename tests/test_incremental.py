"""Batch-incremental dedup must converge to the batch result: screening
arriving batches against the index == one batch dedup over the union."""

import os

import pytest
from pyspark.sql import functions as F

from amazon_s3_find_and_forget_spark.operators import dedup as dd
from amazon_s3_find_and_forget_spark.operators import incremental as inc


def docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


HISTORY = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "pack my box with five dozen liquor jugs"),
    (3, "the quick brown fox jumps over the lazy dog"),  # dup of 1
]
BATCH = [
    (10, "the quick brown fox jumps over the lazy dog"),  # dup of history
    (11, "a brand new never before seen document"),
    (12, "a brand new never before seen document"),  # dup within batch
    (13, "pack my box with five dozen liquor jugs"),  # dup of history
    (14, "another totally novel piece of text"),
]


def test_incremental_exact_screens_batch(spark):
    index = inc.exact_index(docs(spark, HISTORY))
    novel, delta = inc.incremental_exact_dedup(docs(spark, BATCH), index)
    assert sorted(r["doc_id"] for r in novel.collect()) == [11, 14]
    d = {r["content_hash"]: r["doc_id"] for r in delta.collect()}
    assert sorted(d.values()) == [11, 14]
    # delta schema matches the index relation -> append composes
    assert set(delta.columns) == set(index.columns)


def test_incremental_exact_broadcast_path_agrees(spark):
    """Forcing the probe past the In-predicate limit (broadcast path)
    must give identical novelty decisions."""
    index = inc.exact_index(docs(spark, HISTORY))
    novel, _ = inc.incremental_exact_dedup(
        docs(spark, BATCH), index, predicate_value_limit=1
    )
    assert sorted(r["doc_id"] for r in novel.collect()) == [11, 14]


def test_incremental_exact_converges_to_batch(spark):
    """history + batch1 + batch2 screened incrementally == one batch
    exact_dedup over the union (restricted to each arrival's rows)."""
    batch2 = [
        (20, "another totally novel piece of text"),  # dup of batch1's 14
        (21, "second wave original content"),
    ]
    all_rows = HISTORY + BATCH + batch2
    union_survivors = {
        r["doc_id"]
        for r in dd.exact_dedup(docs(spark, all_rows)).collect()
    }

    index = inc.exact_index(docs(spark, HISTORY))
    n1, d1 = inc.incremental_exact_dedup(docs(spark, BATCH), index)
    index = index.unionByName(d1.select(*index.columns))
    n2, _ = inc.incremental_exact_dedup(docs(spark, batch2), index)

    got = {r["doc_id"] for r in HISTORY_SURVIVORS(spark)} | {
        r["doc_id"] for r in n1.collect()
    } | {r["doc_id"] for r in n2.collect()}
    assert got == union_survivors


def HISTORY_SURVIVORS(spark):
    return dd.exact_dedup(docs(spark, HISTORY)).collect()


NEAR_A = (
    "spark structured streaming processes data incrementally with "
    "exactly once fault tolerance guarantees across micro batches"
)
NEAR_A2 = (
    "spark structured streaming processes data incrementally with "
    "exactly once fault tolerance guarantees across micro batch"
)
UNIQ_1 = "completely different subject matter about cooking pasta at home"
UNIQ_2 = "yet another unrelated text concerning mountain hiking trails"


def test_incremental_minhash_screens_batch(spark):
    history = docs(spark, [(1, NEAR_A), (2, UNIQ_1)])
    index = inc.minhash_index(history, num_perm=64)
    batch = docs(
        spark,
        [
            (10, NEAR_A2),  # near-dup of indexed 1
            (11, UNIQ_2),  # novel
            (12, UNIQ_2 + "!"),  # near-dup of 11 within the batch
        ],
    )
    novel, delta = inc.incremental_minhash_dedup(
        batch, index, num_perm=64, bands=16, threshold=0.7
    )
    assert sorted(r["doc_id"] for r in novel.collect()) == [11]
    assert [r["_id"] for r in delta.collect()] == [11]


def test_incremental_minhash_converges_to_batch(spark):
    """Incremental screening == batch minhash_dedup over the union when
    the index holds the deduped history (same kernel, same banding,
    same inline verify)."""
    history = docs(spark, [(1, NEAR_A), (2, UNIQ_1), (3, NEAR_A2)])
    batch = docs(
        spark,
        [(10, NEAR_A + "?"), (11, UNIQ_2), (12, UNIQ_1 + " today")],
    )
    union = history.unionByName(batch)
    kw = dict(num_perm=64, bands=16, threshold=0.7)
    batch_survivors = {
        r["doc_id"] for r in dd.minhash_dedup(union, **kw).collect()
    }

    hist_kept = dd.minhash_dedup(history, **kw)
    index = inc.minhash_index(hist_kept, num_perm=64)
    novel, _ = inc.incremental_minhash_dedup(batch, index, **kw)
    got = {r["doc_id"] for r in hist_kept.collect()} | {
        r["doc_id"] for r in novel.collect()
    }
    assert got == batch_survivors


def test_incremental_exact_empty_batch_and_empty_index(spark):
    empty = docs(spark, [])
    index = inc.exact_index(docs(spark, HISTORY))
    novel, delta = inc.incremental_exact_dedup(empty, index)
    assert novel.count() == 0 and delta.count() == 0
    # empty index: everything first-per-hash is novel
    novel2, _ = inc.incremental_exact_dedup(
        docs(spark, BATCH), inc.exact_index(empty)
    )
    assert sorted(r["doc_id"] for r in novel2.collect()) == [10, 11, 13, 14]


# --- embedding incremental screen ------------------------------------------


def vecs(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def _unit(v):
    import math

    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


E1 = [1.0, 0.0, 0.0, 0.0]
E1_NEAR = _unit([0.999, 0.02, 0.0, 0.0])  # cosine ~0.9998 with E1
E2 = [0.0, 1.0, 0.0, 0.0]
E3 = [0.0, 0.0, 1.0, 0.0]


def test_incremental_embedding_screens_batch(spark):
    index = inc.embedding_index(
        vecs(spark, [(1, E1), (2, E2)]), dim=4, bits=4, n_tables=8
    )
    batch = vecs(
        spark,
        [
            (10, E1),       # identical to indexed 1 -> always dropped
            (11, E1_NEAR),  # near-dup of indexed 1
            (12, E3),       # novel
            (13, E3),       # identical to 12 within batch -> dropped
            (14, [0.0, 0.0, 0.0, 0.0]),  # zero-norm: novel, not indexed
        ],
    )
    novel, delta = inc.incremental_embedding_dedup(
        batch, index, dim=4, threshold=0.95, bits=4, n_tables=8
    )
    assert sorted(r["vec_id"] for r in novel.collect()) == [12, 14]
    # delta excludes the zero-norm row (it can never be matched)
    assert [r["_id"] for r in delta.collect()] == [12]
    assert set(delta.columns) == set(index.columns)


def test_incremental_embedding_agrees_with_batch_pairs(spark):
    """Every drop must correspond to a pair the batch operator finds on
    the union (same LSH family, same threshold)."""
    from amazon_s3_find_and_forget_spark.operators import (
        similarity as sim_ops,
    )

    history = [(1, E1), (2, E2)]
    batch = [(10, E1_NEAR), (11, E3)]
    union = vecs(spark, history + batch)
    pairs = sim_ops.embedding_near_duplicates(
        union, dim=4, threshold=0.95, bits=4, n_tables=8
    )
    batch_dropped = {
        r["id_b"] for r in pairs.collect() if r["id_b"] >= 10
    }
    index = inc.embedding_index(
        vecs(spark, history), dim=4, bits=4, n_tables=8
    )
    novel, _ = inc.incremental_embedding_dedup(
        vecs(spark, batch), index, dim=4, threshold=0.95, bits=4, n_tables=8
    )
    inc_dropped = {10, 11} - {r["vec_id"] for r in novel.collect()}
    assert inc_dropped == batch_dropped


def test_incremental_exact_null_text_converges(spark):
    """NULL text is one content group (batch exact_dedup folds NULLs
    into one window partition); the screen must agree — a null-text doc
    seen once is screened forever, not re-admitted every batch."""
    hist = docs(spark, [(1, None), (2, "real text")])
    index = inc.exact_index(hist)
    batch = docs(spark, [(10, None), (11, None), (12, "fresh")])
    novel, delta = inc.incremental_exact_dedup(batch, index)
    assert sorted(r["doc_id"] for r in novel.collect()) == [12]
    # second batch against the appended index: still screened
    index2 = index.unionByName(delta.select(*index.columns))
    novel2, _ = inc.incremental_exact_dedup(docs(spark, [(20, None)]), index2)
    assert novel2.count() == 0


def test_incremental_screens_shuffle_fallback_agrees(spark):
    """broadcast=False (backfill-sized batches past the broadcast
    limit) must produce identical novelty decisions."""
    history = docs(spark, [(1, NEAR_A), (2, UNIQ_1)])
    index = inc.minhash_index(history, num_perm=64)
    batch = docs(spark, [(10, NEAR_A2), (11, UNIQ_2)])
    kw = dict(num_perm=64, bands=16, threshold=0.7)
    n_bc, _ = inc.incremental_minhash_dedup(batch, index, **kw)
    n_sh, _ = inc.incremental_minhash_dedup(
        batch, index, broadcast=False, **kw
    )
    assert sorted(r["doc_id"] for r in n_bc.collect()) == sorted(
        r["doc_id"] for r in n_sh.collect()
    )

    vindex = inc.embedding_index(
        vecs(spark, [(1, E1), (2, E2)]), dim=4, bits=4
    )
    vbatch = vecs(spark, [(10, E1_NEAR), (11, E3)])
    v_bc, _ = inc.incremental_embedding_dedup(
        vbatch, vindex, dim=4, threshold=0.95, bits=4
    )
    v_sh, _ = inc.incremental_embedding_dedup(
        vbatch, vindex, dim=4, threshold=0.95, bits=4, broadcast=False
    )
    assert sorted(r["vec_id"] for r in v_bc.collect()) == sorted(
        r["vec_id"] for r in v_sh.collect()
    )


def test_incremental_screens_reject_mismatched_index(spark):
    """A persisted index built under different parameters must fail
    fast, not silently lose recall (sliced-past signatures count as
    disagreement and re-admit every indexed near-dup)."""
    history = docs(spark, [(1, NEAR_A)])
    index64 = inc.minhash_index(history, num_perm=64)
    batch = docs(spark, [(10, NEAR_A2)])
    with pytest.raises(ValueError, match="64 components"):
        inc.incremental_minhash_dedup(batch, index64, num_perm=128)

    vindex = inc.embedding_index(vecs(spark, [(1, E1)]), dim=4, bits=4)
    with pytest.raises(ValueError, match="dim=4"):
        inc.incremental_embedding_dedup(
            vecs(spark, [(10, E1_NEAR)]), vindex, dim=8, bits=4
        )


def test_incremental_compat_probe_null_safe_and_skippable(spark):
    """The one-row compat probe must tolerate a NULL first index row
    (ValueError is reserved for a PROVEN parameter mismatch, not a
    TypeError on len(None)), and a mismatched row the probe does not
    sample must still fail the screen through the in-plan per-row
    guard."""
    batch = docs(spark, [(10, NEAR_A2)])
    null_idx = spark.createDataFrame(
        [(1, None)], "_id long, _sig array<bigint>"
    )
    novel, _ = inc.incremental_minhash_dedup(batch, null_idx)
    assert novel.count() == 1  # null signature matches nothing

    vbatch = vecs(spark, [(10, E1_NEAR)])
    null_vidx = spark.createDataFrame(
        [(1, None, None)], "_id long, _u array<double>, _k array<bigint>"
    )
    vnovel, _ = inc.incremental_embedding_dedup(
        vbatch, null_vidx, dim=4, bits=4
    )
    assert vnovel.count() == 1

    # the probe passing does NOT end the checking: the in-plan per-row
    # guard riding the index scan still fails the screen on a later
    # mismatched row (mismatches mostly KILL band collisions, so a
    # silent run would lose recall with nothing for a post-join check
    # to see). The probed first row has the right width; a later one
    # does not.
    index128 = inc.minhash_index(docs(spark, [(1, NEAR_A)]), num_perm=128)
    index64 = inc.minhash_index(docs(spark, [(2, NEAR_A)]), num_perm=64)
    mixed = index128.unionByName(index64)
    assert len(mixed.where("_sig is not null").head(1)[0]["_sig"]) == 128
    with pytest.raises(Exception, match="signature length != num_perm=128"):
        inc.incremental_minhash_dedup(batch, mixed, num_perm=128)


def test_compat_probe_skips_null_rows_to_real_data(spark):
    """The call-time probe samples the first NON-NULL index row: a
    leading null signature must not vacuously pass a mismatched index."""
    real64 = inc.minhash_index(docs(spark, [(1, NEAR_A)]), num_perm=64)
    null_row = spark.createDataFrame(
        [(99, None)], "_id long, _sig array<bigint>"
    )
    mixed = null_row.unionByName(real64)
    with pytest.raises(ValueError, match="num_perm=128"):
        inc.incremental_minhash_dedup(
            docs(spark, [(10, NEAR_A2)]), mixed, num_perm=128
        )


def test_banding_refuses_degenerate_bands(spark):
    """bands > num_perm band-hashes an empty signature slice — every
    pair collides in every band, a full cross join at scale; a
    non-dividing bands silently drops the signature tail. Both are
    refused at the single banding site every path funnels through."""
    index = inc.minhash_index(docs(spark, [(1, NEAR_A)]), num_perm=64)
    batch = docs(spark, [(10, NEAR_A2)])
    with pytest.raises(ValueError, match="must divide"):
        inc.incremental_minhash_dedup(batch, index, bands=128)
    with pytest.raises(ValueError, match="must divide"):
        inc.incremental_minhash_dedup(batch, index, bands=48)


def test_read_index_or_empty_treats_uncommitted_dir_as_empty(spark, tmp_path):
    """A crash during the FIRST delta write leaves the index dir
    holding no committed parquet footer; the read then fails schema
    inference. By the append-only protocol that state IS an empty
    index — re-raising would wedge every re-run of the screen (the
    failure precedes any write, so every retry fails identically)."""
    from pyspark.sql import functions as F

    (tmp_path / "idx" / "batch=d0" / "_temporary").mkdir(parents=True)
    out = inc.read_index_or_empty(
        spark,
        str(tmp_path / "idx"),
        F.lit(True),
        ["content_hash", "doc_id"],
        lambda: inc.exact_index(docs(spark, [(1, "x")]).limit(0)),
    )
    assert out.count() == 0


def test_index_batch_names_read_as_strings(spark, tmp_path):
    """A digest that looks like a number (``12345e2``, or all digits
    with a leading zero) names its partition as text: the index read
    gives it back unchanged, so the screen's own-batch exclusion
    matches it, and compaction folds such partitions."""
    index_dir = str(tmp_path / "idx")
    hist = docs(spark, HISTORY)
    _write_delta(inc.exact_index(hist.where("doc_id <= 2")), index_dir,
                 "12345e2")
    _write_delta(inc.exact_index(hist.where("doc_id = 3")), index_dir,
                 "0123456789012345")

    def read(keep):
        return inc.read_index_or_empty(
            spark, index_dir, keep, ["content_hash", "doc_id", "batch"],
            lambda: inc.exact_index(hist.limit(0)),
        )

    got = {r["batch"] for r in read(F.lit(True)).collect()}
    assert got == {"12345e2", "0123456789012345"}
    kept = read(F.col("batch") != "12345e2").collect()
    assert {r["batch"] for r in kept} == {"0123456789012345"}
    assert inc.compact_index(spark, index_dir)["BaseRows"] == 2
    # the removed batch_id=<int> layout is refused, never read as empty
    inc.exact_index(hist).write.parquet(f"{index_dir}/batch_id=5")
    with pytest.raises(ValueError, match="batch_id="):
        read(F.lit(True))


# --- compaction crash windows ---------------------------------------------


def _write_delta(df, index_dir, digest):
    df.write.mode("overwrite").parquet(f"{index_dir}/batch={digest}")


def _base_name(*source_keys):
    """The fresh base a fold of these committed partitions writes."""
    import hashlib

    digest = hashlib.md5("\n".join(sorted(source_keys)).encode())
    return f"batch=base-{digest.hexdigest()[:16]}"


def test_compact_index_crash_between_write_and_delete(spark, tmp_path):
    """Ordering contract: a crash AFTER the base write but BEFORE the
    delta deletes leaves duplicate index rows — screens must stay
    correct on the duplicated index, and re-running compaction must
    converge to a single deduped base."""
    import shutil

    index_dir = str(tmp_path / "idx")
    hist = docs(spark, HISTORY)
    _write_delta(inc.exact_index(hist.where("doc_id <= 2")), index_dir, "d0")
    _write_delta(
        inc.exact_index(hist.where("doc_id = 3")).withColumn(
            "doc_id", F.col("doc_id")
        ),
        index_dir, "d1",
    )
    stats = inc.compact_index(spark, index_dir)
    first_base = _base_name("d0", "d1")
    assert stats["BasePath"] == f"{index_dir}/{first_base}"
    # simulate the crash: resurrect a folded delta next to the base
    _write_delta(inc.exact_index(hist.where("doc_id <= 2")), index_dir, "d0")

    index = inc.read_index_or_empty(
        spark, index_dir, F.col("batch") != "d9",
        ["content_hash", "doc_id"],
        lambda: inc.exact_index(hist.limit(0)),
    )
    novel, delta = inc.incremental_exact_dedup(docs(spark, BATCH), index)
    assert sorted(r["doc_id"] for r in novel.collect()) == [11, 14]

    stats2 = inc.compact_index(spark, index_dir)
    assert stats2["BaseRows"] == 2  # deduped by content_hash
    # the refold writes a FRESH base named by its committed sources —
    # never in-place over the committed first base, whose rows' source
    # deltas are already gone (a crashed in-place rewrite would lose
    # them permanently)
    second_base = _base_name(first_base[len("batch="):], "d0")
    assert second_base != first_base
    assert sorted(os.listdir(index_dir)) == [second_base]
    # and a further run with nothing new converges to a no-op
    stats3 = inc.compact_index(spark, index_dir)
    assert (stats3["FoldedDirs"], stats3["RemovedDirs"]) == (0, 0)
    assert sorted(os.listdir(index_dir)) == [second_base]
    shutil.rmtree(index_dir)


def test_compact_index_excludes_partial_base_write(spark, tmp_path):
    """A base directory without _SUCCESS is a crashed WRITE: its deltas
    all survive (deletes only run after a successful write), so the
    fold must ignore its possibly-partial bytes, overwrite or delete
    it, and still produce the full index."""
    index_dir = str(tmp_path / "idx")
    hist = docs(spark, HISTORY)
    _write_delta(inc.exact_index(hist.where("doc_id <= 2")), index_dir, "d0")
    _write_delta(inc.exact_index(hist.where("doc_id = 3")), index_dir, "d1")
    # one partial under the very name this fold picks (a retry of the
    # crashed fold: overwritten) and one under another name (an older
    # crashed fold: deleted); neither is read
    for name in (_base_name("d0", "d1"), "batch=base-0123456789abcdef"):
        partial = tmp_path / "idx" / name
        partial.mkdir()
        (partial / "part-00000.parquet").write_bytes(b"\x00garbage-no-footer")

    stats = inc.compact_index(spark, index_dir)
    assert stats["BaseRows"] == 2 and stats["FoldedDirs"] == 2
    assert sorted(os.listdir(index_dir)) == [_base_name("d0", "d1")]
    rows = spark.read.parquet(index_dir).drop("batch").collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2]


def test_compact_index_refuses_markerless_delta(spark, tmp_path):
    """A DELTA without _SUCCESS is an integrity hole (committed batches
    always leave the marker) — refuse rather than silently fold or drop
    partial data."""
    index_dir = str(tmp_path / "idx")
    _write_delta(inc.exact_index(docs(spark, HISTORY)), index_dir, "d0")
    os.remove(os.path.join(index_dir, "batch=d0", "_SUCCESS"))
    with pytest.raises(ValueError, match="_SUCCESS"):
        inc.compact_index(spark, index_dir)


def test_compact_index_guards(spark, tmp_path):
    """Absent/empty dir -> no-op; an index holding the removed
    ``batch_id=<int>`` stream layout -> error naming it, alone or beside
    ``batch=`` partitions (never read as an index with nothing to
    fold)."""
    index_dir = str(tmp_path / "idx")
    assert inc.compact_index(spark, index_dir)["FoldedDirs"] == 0

    hist = inc.exact_index(docs(spark, HISTORY))
    hist.write.parquet(f"{index_dir}/batch_id=5")
    with pytest.raises(ValueError, match="batch_id="):
        inc.compact_index(spark, index_dir)
    _write_delta(hist, index_dir, "d0")
    with pytest.raises(ValueError, match="batch_id="):
        inc.compact_index(spark, index_dir)
    assert sorted(os.listdir(index_dir)) == ["batch=d0", "batch_id=5"]


def test_compact_index_minhash_layout(spark, tmp_path):
    """The near-dup index folds by _id (signatures are deterministic,
    so crash-window duplicates are identical rows) and the folded base
    still screens near-duplicates."""
    index_dir = str(tmp_path / "nidx")
    hist = docs(spark, [
        (1, "spark structured streaming processes data incrementally "
            "with exactly once guarantees"),
        (2, "completely different subject matter about cooking pasta"),
    ])
    sigs = inc.minhash_index(hist)
    sigs.where("_id = 1").write.parquet(f"{index_dir}/batch=d0")
    sigs.where("_id = 2").write.parquet(f"{index_dir}/batch=d1")
    stats = inc.compact_index(spark, index_dir)
    assert stats["BaseRows"] == 2
    assert sorted(os.listdir(index_dir)) == [_base_name("d0", "d1")]

    batch = docs(spark, [
        (10, "spark structured streaming processes data incrementally "
             "with exactly once guarantees!"),
        (11, "yet another unrelated text concerning mountain hiking"),
    ])
    index = inc.read_index_or_empty(
        spark, index_dir, F.col("batch") != "d9", ["_id", "_sig"],
        lambda: inc.minhash_index(batch.limit(0)),
    )
    novel, _ = inc.incremental_minhash_dedup(batch, index, threshold=0.7)
    assert [r["doc_id"] for r in novel.collect()] == [11]


def test_bloom_params_and_build_fill(spark):
    import numpy as np

    m, k = inc.bloom_params(1000, 0.01)
    assert m % 64 == 0 and m >= 9000 and 6 <= k <= 8
    bits = inc.bloom_build(docs(spark, HISTORY), m, k)
    # 2 distinct contents * 7 probes << m: tiny fill, definitely nonzero
    fill = int(np.unpackbits(bits.view(np.uint8)).sum())
    assert 0 < fill <= 2 * k
    with pytest.raises(ValueError, match="capacity"):
        inc.bloom_params(0)
    with pytest.raises(ValueError, match="fpp"):
        inc.bloom_params(10, 1.5)
    with pytest.raises(ValueError, match="num_bits"):
        inc.bloom_build(docs(spark, HISTORY), 100, 3)


def test_incremental_bloom_screens_batch(spark):
    # the bloom screen must agree with the exact screen on this corpus
    # (the filter is sized so FPs are ~impossible at 5 documents), and
    # the OR-updated filter must drop the whole batch on re-screen
    m, k = inc.bloom_params(1000, 0.001)
    bits = inc.bloom_build(docs(spark, HISTORY), m, k)
    novel, delta = inc.incremental_bloom_dedup(docs(spark, BATCH), bits, k)
    assert sorted(r["doc_id"] for r in novel.collect()) == [11, 14]
    again, _ = inc.incremental_bloom_dedup(
        docs(spark, BATCH), bits | delta, k
    )
    assert again.count() == 0
    # novel keeps the batch schema (the probe column never leaks)
    assert set(novel.columns) == {"doc_id", "text"}


def test_bloom_null_text_converges_with_exact_screen(spark):
    # NULL text folds to the exact screen's sentinel: a null-text doc
    # in history means every null-text arrival is seen
    m, k = inc.bloom_params(100, 0.001)
    bits = inc.bloom_build(docs(spark, [(1, None)]), m, k)
    novel, _ = inc.incremental_bloom_dedup(
        docs(spark, [(10, None), (11, "real text")]), bits, k
    )
    assert [r["doc_id"] for r in novel.collect()] == [11]


def test_bloom_randomized_no_false_negatives(spark):
    # THE Bloom invariant, across 30 seeded corpora shapes in two
    # operator calls: every arriving doc whose content matches history
    # (or an earlier batch doc) is dropped — no false negative at any
    # fill; and the bloom novel set never exceeds the exact novel set.
    import random

    rng = random.Random(1514)
    hist_rows, arr_rows = [], []
    did = 0
    texts_hist = set()
    for ex in range(30):
        vocab = [f"e{ex}w{v}" for v in range(rng.randint(1, 4))]
        pool = [
            " ".join(rng.choice(vocab)
                     for _ in range(rng.randint(0, 5)))
            for _ in range(rng.randint(2, 6))
        ]
        for t in pool:
            if rng.random() < 0.6:
                hist_rows.append((did, t)); texts_hist.add(t)
            did += 1
        for t in pool:
            if rng.random() < 0.7:
                arr_rows.append((did, t)); did += 1
    hist = docs(spark, hist_rows)
    arr = docs(spark, arr_rows)
    m, k = inc.bloom_params(max(len(hist_rows), 1), 0.01)
    bits = inc.bloom_build(hist, m, k)
    novel, delta = inc.incremental_bloom_dedup(arr, bits, k)
    got = {(r.doc_id, r.text) for r in novel.collect()}
    # brute-force reference: first-per-content within the batch, and
    # content unseen in history
    seen_batch = set()
    expected_max = set()
    for i, t in sorted(arr_rows):
        if t in texts_hist or t in seen_batch:
            continue
        seen_batch.add(t)
        expected_max.add((i, t))
    # no false negatives: nothing outside the exact novel set
    assert got <= expected_max
    # the 1% filter over <=100 contents: over-drop stays tiny
    assert len(expected_max) - len(got) <= 3
    # update contract across the union
    again, _ = inc.incremental_bloom_dedup(arr, bits | delta, k)
    assert again.count() == 0


def test_bloom_h2_is_seed_independent_of_h1(spark):
    # round-16 ADVICE: h2 must not be a chained function of h1. The
    # fixed form hashes (lit(1), text) — the constant enters the hash
    # state BEFORE the content, i.e. a different-seed hash of the text
    # — so an h1 collision between two texts does not force identical
    # probe sequences. Pin the expression against both the correct
    # form and the old chained form.
    from pyspark.sql import functions as F

    df = docs(spark, HISTORY)
    h1, h2 = inc._bloom_hashes("text")
    row = df.select(
        h1,
        h2,
        F.xxhash64(F.lit(1), F.col("text")).alias("_want"),
        F.xxhash64(F.col("text"), F.lit(1)).alias("_old"),
    ).collect()[0]
    assert row["_h2"] == row["_want"]
    assert row["_h2"] != row["_old"]
    assert row["_h2"] != row["_h1"]


def test_bloom_screen_destroys_broadcast_and_probes_once(spark):
    # round-16 ADVICE: one bitmap broadcast per screen call, destroyed
    # before return — a long-running stream must not accumulate one
    # multi-MB broadcast per micro-batch. The returned novel relation
    # is materialized (localCheckpoint), so (a) collecting it AFTER
    # the broadcast is destroyed still works, and (b) the probe pass
    # ran exactly once for both the delta build and downstream actions
    # (no lazy recompute of the pandas_udf).
    from pyspark import Broadcast
    from unittest import mock

    m, k = inc.bloom_params(1000, 0.001)
    bits = inc.bloom_build(docs(spark, HISTORY), m, k)
    created: list = []
    real_broadcast = spark.sparkContext.broadcast

    destroyed: list = []

    def tracking(value):
        bc = real_broadcast(value)
        if isinstance(value, type(bits)):
            real_destroy = bc.destroy

            def spy_destroy(*a, **kw):
                destroyed.append(bc)
                return real_destroy(*a, **kw)

            bc.destroy = spy_destroy
            created.append(bc)
        return bc

    with mock.patch.object(
        spark.sparkContext, "broadcast", side_effect=tracking
    ):
        novel, delta = inc.incremental_bloom_dedup(
            docs(spark, BATCH), bits, k
        )
    assert len(created) == 1 and isinstance(created[0], Broadcast)
    assert destroyed == created
    # novel survives the destroy (materialized, not a lazy probe plan)
    assert sorted(r["doc_id"] for r in novel.collect()) == [11, 14]
    plan = novel._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan


def test_bloom_probe_accepts_live_broadcast(spark):
    # bits may arrive as a caller-owned Broadcast: the probe reuses it
    # (no new broadcast) and the caller controls its lifetime
    import numpy as np

    m, k = inc.bloom_params(100, 0.01)
    bits = np.zeros(m // 64, dtype=np.uint64)
    bc = spark.sparkContext.broadcast(bits)
    try:
        out = inc.bloom_might_contain(docs(spark, HISTORY), bc, k)
        assert out.where("might_contain").count() == 0
    finally:
        bc.destroy()


def test_bloom_probe_is_map_only(spark):
    # the membership probe must add no exchange and no join at any
    # corpus size — the whole point of the bounded-state screen
    m, k = inc.bloom_params(100, 0.01)
    import numpy as np

    bits = np.zeros(m // 64, dtype=np.uint64)
    out = inc.bloom_might_contain(docs(spark, HISTORY), bits, k)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan
    assert out.where("might_contain").count() == 0


def test_bloom_hash_scheme_checker():
    """check_bloom_hash_scheme's contract: stamped-current passes,
    pre-stamp NULLs refuse unless blessed with the current scheme,
    and any resolved non-current scheme refuses as incompatible."""
    import pytest
    from pyspark.sql import Row

    cur = inc.BLOOM_HASH_SCHEME
    stamped = Row(hash_scheme=cur)
    unstamped = Row(hash_scheme=None)
    inc.check_bloom_hash_scheme([stamped, stamped], "idx")
    with pytest.raises(ValueError, match="hash-scheme stamping"):
        inc.check_bloom_hash_scheme([stamped, unstamped], "idx")
    # blessing resolves NULLs only — stamped rows keep their stamp
    inc.check_bloom_hash_scheme([stamped, unstamped], "idx", assume=cur)
    with pytest.raises(ValueError, match="incompatible"):
        inc.check_bloom_hash_scheme([unstamped], "idx", assume=1)
    with pytest.raises(ValueError, match="incompatible"):
        inc.check_bloom_hash_scheme([Row(hash_scheme=1)], "idx", assume=cur)
