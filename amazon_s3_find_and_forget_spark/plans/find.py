"""Find phase: which rows / files contain queued match ids.

Reference shape (backend/lambdas/tasks/execute_query.py:30-137): one
Athena SELECT per identifier column group, each an inner join of the lake
table against the match manifest on a stringified key, projecting
``DISTINCT "$path"``, UNION ALL'd across groups.

Spark-first re-expression:

- **Small match sets compile to predicates, not joins.** An ``isin`` on a
  typed column reaches the Parquet scan as an ``In`` pushed filter, so
  row groups whose min/max or dictionary exclude every match id are never
  read. At 100 TB this is the difference between scanning the identifier
  column of every file and skipping most files entirely. (The reference
  gets the analogous effect from Athena's pushdown.)
- **Large match sets switch to a broadcast left-semi join** against a
  typed in-memory match relation — the manifest is broadcast (it is tiny
  relative to the lake), the lake side never shuffles.
- All column groups that compile to predicates are OR-combined into ONE
  scan branch (single pass over the lake), instead of the reference's
  one-query-per-group fan-out; join-backed groups become additional
  branches. The branches of every mapper of a job are unioned under ONE
  ``distinct()`` on (path, size, mapper): one shuffle per job, not one
  per mapper.
- ``jobs.run_job`` plans Find in a per-job session clone where every
  In-list of two or more values becomes an ``InSet`` (Catalyst turns a
  one-value list into ``=``), which holds the match set by reference:
  the generated code is the same from job to job and is compiled once,
  and the Parquet scan still gets the pushed ``In`` filter.
- Partition pruning: apply ``partition_filter`` before calling — Catalyst
  turns it into static partition pruning, replacing the reference's
  one-query-per-partition fan-out (generate_queries.py:230-246).
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..matches import ColumnGroup, local_relation
from ..schema import holds_exactly

# Above this many match values, an In-predicate stops pruning well and the
# broadcast semi-join path wins. Athena's practical bound on the same
# trade-off motivates the reference's manifest join design.
PREDICATE_VALUE_LIMIT = 2048

PATH_COL = "file_path"
SIZE_COL = "file_size"
MAPPER_COL = "mapper"


def group_predicate(group: ColumnGroup) -> Column:
    """Compile a column group's match set to a boolean Column (P7/P8)."""
    if not group.composite:
        # Catalyst plans a one-value In as ``=`` with the value inlined in
        # the generated code, so each id would compile new code; a NULL
        # second value keeps it an In (an InSet in the Find clone) and
        # matches no row
        values = list(group.values) + [None] * (len(set(group.values)) == 1)
        return F.col(group.columns[0]).isin(values)
    per_tuple = [
        reduce(
            and_,
            [F.col(c) == F.lit(v) for c, v in zip(group.columns, tup)],
        )
        for tup in group.values
    ]
    return reduce(or_, per_tuple)


def null_safe_predicate(group: ColumnGroup) -> Column:
    """Like group_predicate but never NULL (nulls never match — parity with
    the reference's typed compares where None is not in any match set)."""
    return F.coalesce(group_predicate(group), F.lit(False))


def matches_df(spark: SparkSession, group: ColumnGroup) -> DataFrame:
    """A typed in-memory relation of the group's match values (the Spark
    analog of one manifest partition, kept typed instead of stringified).

    Values the identifier column cannot hold are left out: they match no
    row, and Spark would round or refuse them on the way in."""
    fields = [
        StructField(f"_m{i}", dtype, False)
        for i, dtype in enumerate(group.types)
    ]
    rows = (
        [tuple(v) for v in group.values]
        if group.composite
        else [(v,) for v in group.values]
    )
    rows = [r for r in rows if all(map(holds_exactly, group.types, r))]
    return local_relation(spark, StructType(fields), rows)


def _semi_join_branch(
    df: DataFrame, group: ColumnGroup, projection: list[Column]
) -> DataFrame:
    m = matches_df(df.sparkSession, group).dropDuplicates()
    t = df.alias("t")
    cond = reduce(
        and_,
        [
            F.col(f"t.{c}") == F.col(f"m._m{i}")
            for i, c in enumerate(group.columns)
        ],
    )
    return t.join(F.broadcast(m.alias("m")), cond, "left_semi").select(*projection)


def _branches(
    df: DataFrame,
    groups: list[ColumnGroup],
    projection: list[Column],
    predicate_value_limit: int,
) -> list[DataFrame]:
    predicate_groups = [g for g in groups if len(g.values) <= predicate_value_limit]
    join_groups = [g for g in groups if len(g.values) > predicate_value_limit]

    branches = []
    if predicate_groups:
        combined = reduce(or_, [group_predicate(g) for g in predicate_groups])
        branches.append(df.where(combined).select(*projection))
    for g in join_groups:
        branches.append(_semi_join_branch(df, g, projection))
    return branches


def _file_projection(df: DataFrame) -> list[Column]:
    if "_file_path" in df.columns:
        # non-native scans (e.g. the CSE-KMS mapInPandas decrypt) carry
        # provenance in explicit columns; input_file_name() is only
        # defined for native file-source scans
        return [
            F.col("_file_path").alias(PATH_COL),
            F.col("_file_size").alias(SIZE_COL),
        ]
    # the path stays input_file_name()'s file:/// URI form (the one
    # events carry); _metadata.file_path spells it file:/
    size = F.col("_metadata.file_size")
    try:
        df.metadataColumn("_metadata")
    except AnalysisException:
        # a view hides its scan's _metadata while input_file_name()
        # resolves through it; Forget counts an unknown size as
        # TASK_BYTES
        size = F.lit(None).cast("long")
    return [F.input_file_name().alias(PATH_COL), size.alias(SIZE_COL)]


def find_affected_files(
    reads: list[tuple[DataFrame, list[ColumnGroup]]],
    predicate_value_limit: int = PREDICATE_VALUE_LIMIT,
) -> DataFrame:
    """J1/J2 + P1 + A1: distinct file paths containing >= 1 match.

    ``reads`` is a job's list of ``(df, groups)``, one per data mapper
    (a single-mapper caller passes one). Returns ``file_path`` (the
    object URI), ``file_size`` (its bytes, which size the Forget
    dispatch) and ``mapper`` (the index of the read that found it),
    under ONE ``distinct()`` over every mapper's branches, so a job's
    Find is one shuffle whatever its mapper count. The scans read only
    the identifier columns (column pruning) and the pushed match
    predicates prune row groups / files; the size comes from the file
    index, not the data.
    """
    branches = []
    for i, (df, groups) in enumerate(reads):
        projection = _file_projection(df) + [F.lit(i).alias(MAPPER_COL)]
        branches += _branches(df, groups, projection, predicate_value_limit)
    if not branches:
        return df.limit(0).select(*projection)
    return reduce(DataFrame.unionAll, branches).distinct()


def find_matching_rows(
    df: DataFrame,
    groups: list[ColumnGroup],
    predicate_value_limit: int = PREDICATE_VALUE_LIMIT,
) -> DataFrame:
    """Row-granularity Find: the rows that WOULD be deleted (semi-join).

    Exposed for auditing ("which rows match?") and for oracle checking.
    """
    star = [F.col("*")]
    branches = _branches(df, groups, star, predicate_value_limit)
    if not branches:
        return df.limit(0)
    if len(branches) == 1:
        # single branch cannot produce duplicates — skip the wide dedup
        # (an all-columns hash aggregate + full shuffle at scale)
        return branches[0]
    return reduce(DataFrame.unionAll, branches).dropDuplicates()
