"""Physical-layout helpers: skew salting, compaction and Z-ordering.

At 100 TB the layout decides the cost: a hot join key funnels through
one reducer (``salted_join`` spreads it), erasure jobs leave thousands
of small files (``compact_small_files`` bin-packs them), and a lake
sorted on one column prunes nothing on the others (``write_zordered``
clusters on several).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with manual key salting for hot-key skew.

    AQE's skew-join split handles most cases at runtime; this is the
    explicit fallback for joins AQE cannot split (e.g. when the skewed
    side feeds a window, or under static planning). The big side gets a
    per-row salt mixing a full-row hash with the row's position
    (``monotonically_increasing_id``) — position alone spreads even
    byte-identical duplicate rows (the common case when the big side is
    already projected down to the join keys), which a pure row hash
    would pile onto ONE salt, defeating the whole point. The salt value
    never affects the RESULT (the small side is replicated to every
    salt), so the id's retry-nondeterminism is benign — only placement
    moves. The small side replicates ``n_salts``x via an explode, which
    is the price paid — size the salt count to the skew, not higher.

    Only ``inner`` and ``left`` joins are supported: an unmatched RIGHT
    row would surface once per salt replica under right/full semantics.
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    from pyspark.sql import functions as F

    # the id is mixed in as a hash INPUT, not added to the hash output:
    # raw long addition of two hashes can overflow, which ANSI mode
    # (Spark 4 default) turns into ARITHMETIC_OVERFLOW on a big run
    salt = F.pmod(
        F.xxhash64(
            *[F.col(c) for c in big.columns],
            F.monotonically_increasing_id(),
        ),
        F.lit(n_salts),
    ).cast("int")
    bigs = big.withColumn("_salt", salt)
    smalls = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return bigs.join(smalls, on + ["_salt"], how).drop("_salt")


def compact_small_files(
    spark: SparkSession,
    lake_dir: str,
    target_bytes: int = 128 << 20,
    fmt: str = "parquet",
) -> dict:
    """Bin-pack a directory's small files into ~``target_bytes`` outputs.

    Surgical deletion fragments a lake over time: every rewritten object
    shrinks, and a year of erasure jobs leaves thousands of sub-MB files
    whose per-file open/footer cost comes to dominate scans. Compaction
    is the maintenance pass: greedy first-fit-decreasing bins over the
    file listing (driver-side — the listing is metadata-scale), one
    cluster task per multi-file bin, files already at target size left
    untouched.

    Retry-safe two-phase protocol: cluster tasks are STAGING-ONLY — each
    streams its bin row-group-by-row-group into a hidden dotfile whose
    name is a content-independent digest of the bin's paths (a Spark
    retry or speculative duplicate re-stages the same target via atomic
    rename — idempotent, and dotfiles are invisible to readers). Only
    after the whole Spark job succeeds does the DRIVER make bins
    visible: replace the bin's first file, remove the rest. The visible
    swap is not multi-file-atomic — a driver crash mid-swap can leave
    one bin's rows duplicated until the (idempotent) pass is re-run —
    so run it in a maintenance window, never concurrently with a
    deletion job or scan that cannot tolerate that window.

    Parquet only (JSONL lakes compact trivially by concatenation).
    Returns {"files_before", "files_after", "bins_compacted"}.
    """
    import glob as glob_mod
    import os

    if fmt != "parquet":
        raise ValueError("compaction supports parquet lakes")
    files = sorted(
        (os.path.getsize(p), p)
        for p in glob_mod.glob(os.path.join(lake_dir, "*.parquet"))
    )
    if not files:
        return {"files_before": 0, "files_after": 0, "bins_compacted": 0}

    import hashlib

    import pyarrow.parquet as pq_mod

    # bins never mix schemas: the forget path preserves each file's own
    # schema on rewrite, so a schema-evolved flat lake is a NORMAL state
    # of this engine, and casting a bin to its first file's schema would
    # raise mid-job. Fingerprint from the footer (metadata-scale read,
    # same cost class as the size listing).
    import pyarrow as pa_mod

    def _strip_field(f):
        # remove_metadata() strips only SCHEMA-level metadata; files
        # identical except for FIELD metadata at any nesting depth
        # (e.g. parquet-mr/Iceberg field-id tags, which land on every
        # nested child) must still co-compact, so strip recursively
        t = f.type
        if pa_mod.types.is_struct(t):
            t = pa_mod.struct([_strip_field(c) for c in t])
        elif pa_mod.types.is_list(t):
            t = pa_mod.list_(_strip_field(t.value_field))
        elif pa_mod.types.is_large_list(t):
            t = pa_mod.large_list(_strip_field(t.value_field))
        elif pa_mod.types.is_fixed_size_list(t):
            t = pa_mod.list_(_strip_field(t.value_field), t.list_size)
        elif pa_mod.types.is_map(t):
            t = pa_mod.map_(
                _strip_field(t.key_field).type,
                _strip_field(t.item_field).type,
            )
        return pa_mod.field(f.name, t, nullable=f.nullable)

    def _schema_fp(path: str) -> str:
        schema = pq_mod.ParquetFile(path).schema_arrow.remove_metadata()
        schema = pa_mod.schema([_strip_field(f) for f in schema])
        return hashlib.sha256(
            schema.serialize().to_pybytes()
        ).hexdigest()[:16]

    by_schema: dict[str, list[tuple[int, str]]] = {}
    for size, path in files:
        by_schema.setdefault(_schema_fp(path), []).append((size, path))

    # first-fit-decreasing WITHIN each schema group: big files first,
    # each into the first bin with room (running totals — re-summing
    # each bin per placement would be quadratic in the listing);
    # singleton bins skip execution
    bins: list[list[str]] = []
    totals: list[int] = []
    for group in by_schema.values():
        start = len(bins)
        for size, path in reversed(group):
            for i in range(start, len(bins)):
                if totals[i] + size <= target_bytes:
                    bins[i].append(path)
                    totals[i] += size
                    break
            else:
                bins.append([path])
                totals.append(size)
    work = [b for b in bins if len(b) >= 2]

    def _staged_name(paths: list[str]) -> str:
        # deterministic across processes (hash() is seed-randomized)
        digest = hashlib.sha256("\0".join(paths).encode()).hexdigest()[:16]
        return os.path.join(
            os.path.dirname(paths[0]), f".compact-{digest}.parquet"
        )

    def stage_bin(paths_iter):
        """Staging phase, runs on executors: WRITE-ONLY + idempotent."""
        import tempfile

        import pyarrow.parquet as pq_mod

        for paths in paths_iter:
            first = pq_mod.ParquetFile(paths[0])
            schema = first.schema_arrow.remove_metadata()
            fd, tmp = tempfile.mkstemp(
                dir=os.path.dirname(paths[0]), prefix=".compact-tmp-"
            )
            os.close(fd)
            try:
                writer = pq_mod.ParquetWriter(
                    tmp, schema, compression="snappy"
                )
                try:
                    for p in paths:
                        f = pq_mod.ParquetFile(p)
                        for rg in range(f.num_row_groups):
                            writer.write_table(
                                f.read_row_group(rg).cast(schema)
                            )
                finally:
                    writer.close()
            except BaseException:
                # don't leave a half-written temp behind on task failure
                if os.path.exists(tmp):
                    os.remove(tmp)
                raise
            os.replace(tmp, _staged_name(paths))  # atomic, retry-safe
            yield 1

    if work:
        sc = spark.sparkContext
        n = min(len(work), max(sc.defaultParallelism, 1))
        try:
            done = (
                sc.parallelize(work, numSlices=n)
                .mapPartitions(lambda it: stage_bin(it))
                .sum()
            )
        except BaseException:
            # a failed staging job must not leave hidden .compact-*
            # dotfiles behind (they would accumulate invisibly — the
            # lake stays correct but the space leaks). Spark has joined
            # the failed job by the time this handler runs, so no task
            # is still writing; a SIGKILLed executor skips stage_bin's
            # own temp cleanup, hence the .compact-tmp-* sweep here.
            for paths in work:
                staged = _staged_name(paths)
                if os.path.exists(staged):
                    os.remove(staged)
            for tmp in glob_mod.glob(
                os.path.join(lake_dir, ".compact-tmp-*")
            ):
                try:
                    os.remove(tmp)
                except OSError:  # pragma: no cover - raced removal
                    pass
            raise
        # swap phase, driver-side, only after the WHOLE job succeeded
        for paths in work:
            os.replace(_staged_name(paths), paths[0])
            for p in paths[1:]:
                os.remove(p)
            # drop Hadoop ChecksumFileSystem sidecars: a stale .crc for
            # a replaced/removed parquet fails subsequent Spark reads
            for p in paths:
                crc = os.path.join(
                    os.path.dirname(p), f".{os.path.basename(p)}.crc"
                )
                if os.path.exists(crc):
                    os.remove(crc)
    else:
        done = 0
    # the pass mutates the directory in place — invalidate any cached
    # file index the session holds for it
    spark.catalog.refreshByPath(lake_dir)
    after = len(files) - sum(len(b) - 1 for b in bins if len(b) >= 2)
    return {
        "files_before": len(files),
        "files_after": after,
        "bins_compacted": int(done),
    }


def zorder_key(df: DataFrame, cols: list[str], bits: int = 12) -> DataFrame:
    """Add ``_zkey``: an interleaved-bit (Morton / Z-order) key over the
    quantized columns.

    Multi-column pruning needs multi-column clustering: sorting by one
    column makes every file span the full domain of the others, so
    range predicates on the non-sort columns prune nothing. The Z-order
    curve interleaves the bits of per-column quantized ranks, so rows
    close on EITHER column land close on the curve — each file covers a
    small hyper-rectangle and min/max footer stats prune on every
    participating column (~sqrt of the data per 2-column predicate
    instead of all of it). The Delta/Iceberg ``OPTIMIZE ZORDER BY``
    analog as a plain DataFrame transform.

    Quantization is linear between the column's min/max (ONE driver-side
    aggregate of 2x|cols| scalars; the key itself is map-only JVM bit
    arithmetic — no shuffle added beyond the caller's range
    repartition). Nulls quantize to rank 0. Numeric, date and timestamp
    columns are supported (dates ride through an epoch cast); string
    columns are rejected explicitly — a silent cast-to-double would
    quantize them all to rank 0 and the clustering the caller asked for
    would never exist. ``bits`` is clamped so the full interleaved key
    fits in 63 bits (Java shift semantics wrap the shift amount mod 64,
    which would silently scramble the curve).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import DateType, NumericType, TimestampType

    if not cols:
        raise ValueError("zorder_key needs at least one column")
    bits = min(bits, 63 // len(cols))
    if bits < 1:
        raise ValueError(f"too many Z-order columns ({len(cols)}; max 63)")
    dtypes = dict(zip(df.schema.names, [f.dataType for f in df.schema]))
    exprs = {}
    for c in cols:
        t = dtypes.get(c)
        if t is None:
            raise ValueError(f"Z-order column {c!r} not in schema")
        if isinstance(t, NumericType):
            # NaN and +/-Infinity -> null so they quantize to rank 0 like
            # nulls; raw NaN/inf poisons min/max (span becomes NaN or
            # infinite) and ANSI mode then throws CAST_OVERFLOW on the
            # long cast of every row (non-ANSI silently quantizes every
            # finite row to rank 0, destroying the clustering)
            d = F.col(c).cast("double")
            exprs[c] = F.when(
                F.isnan(d)
                | (d == F.lit(float("inf")))
                | (d == F.lit(float("-inf"))),
                F.lit(None).cast("double"),
            ).otherwise(d)
        elif isinstance(t, (DateType, TimestampType)):
            exprs[c] = F.col(c).cast("timestamp").cast("double")
        else:
            raise ValueError(
                f"Z-order column {c!r} has unsupported type "
                f"{t.simpleString()} (numeric/date/timestamp only)"
            )
    aggs = []
    for c in cols:
        aggs.append(F.min(exprs[c]).alias(f"_mn_{c}"))
        aggs.append(F.max(exprs[c]).alias(f"_mx_{c}"))
    row = df.agg(*aggs).head()
    levels = (1 << bits) - 1
    qcols = []
    for c in cols:
        mn, mx = row[f"_mn_{c}"], row[f"_mx_{c}"]
        if mn is None:  # all-null column: constant rank
            qcols.append(F.lit(0).cast("long"))
            continue
        span = (mx - mn) or 1.0
        if span == float("inf"):  # finite endpoints can still overflow
            span = 1.7976931348623157e308
        # divide BEFORE subtracting: with near-DBL_MAX endpoints the
        # numerator (x - mn) itself overflows to Infinity and the long
        # cast throws under ANSI before any clamp applies; x/span and
        # mn/span are each <= ~2 in magnitude, so every intermediate
        # stays finite
        q = (
            (exprs[c] / F.lit(float(span)) - F.lit(float(mn) / float(span)))
            * F.lit(float(levels))
        ).cast("long")
        q = F.coalesce(
            F.least(F.lit(levels).cast("long"), F.greatest(F.lit(0).cast("long"), q)),
            F.lit(0).cast("long"),
        )
        qcols.append(q)
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, q in enumerate(qcols):
            bit = F.shiftright(q, i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, i * len(cols) + j))
    return df.withColumn("_zkey", key)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 12,
    n_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` Z-order-clustered on ``cols`` into ``n_files`` files.

    ``repartitionByRange`` on the Morton key (one range shuffle — the
    same cost class as any re-layout) + ``sortWithinPartitions`` so
    row groups inside each file are also curve-ordered; the key column
    never reaches disk. Size ``n_files`` so one file matches the
    target object size at scale (the compaction target_bytes logic
    applies).
    """
    keyed = zorder_key(df, cols, bits)
    (
        keyed.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )
