"""As-of join operator (SURVEY.md §2.7 range/as-of row).

Two implementations with identical semantics ("latest right row at or
before each left row's time, per key"):

- ``asof_join``: union + running window — the distributed default. One
  shuffle on the key, no row multiplication, state is a single running
  max per partition-ordering. This is what q_asof_join declares to the
  oracle.
- ``asof_join_grouped``: applyInPandas with pandas.merge_asof per key
  group — the escape hatch when per-group logic grows beyond what window
  algebra expresses (multiple carried columns, tolerance windows,
  nearest-direction variants). Same shuffle shape (groupBy key), Python
  in the group path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: key groups per cogroup task in ``asof_join_grouped``: per-group
#: Python cost is milliseconds, so a task needs tens of groups to
#: amortize its launch + Arrow setup (measured at sf0.01, 150 groups:
#: 200 tasks 4.6 s, 19 tasks 3.6 s, 5 tasks 3.0 s)
GROUPS_PER_TASK = 32


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Union+window as-of: right rows sort before left rows at equal
    timestamps, so a right row exactly at the left time is visible (<=).

    The carried value is the MATCHED ROW's value, including NULL: the
    running ``last(..., ignorenulls=True)`` skips null *structs* (left
    rows), never null *values* — a right row whose value is NULL yields
    NULL, exactly like pandas.merge_asof in asof_join_grouped. Ties
    (multiple right rows at one (key, ts)) resolve deterministically to the
    max value, NULL losing — mirrored by the (ts, value) sort in the
    grouped variant."""
    out_col = out_col or f"asof_{value_col}"
    lcols = left.columns
    l_tag = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast(right.schema[value_col].dataType).alias("__v"),
        *[F.col(c) for c in lcols],
    )
    r_tag = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.col(value_col).alias("__v"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__is_left", F.col("__v").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    right_row = F.when(F.col("__is_left") == 0, F.struct(F.col("__v").alias("v")))
    merged = l_tag.unionByName(r_tag).withColumn(
        out_col, F.last(right_row, ignorenulls=True).over(w)["v"]
    )
    return merged.filter(F.col("__is_left") == 1).select(*lcols, out_col)


def asof_join_grouped(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """applyInPandas as-of: cogroup both sides by key, pandas.merge_asof
    within each group (sorted, backward direction = at-or-before)."""
    import pandas as pd

    from pyspark.sql.types import StructField, StructType

    out_col = out_col or f"asof_{value_col}"
    # build a NEW StructType: .add() on df.schema would mutate the
    # DataFrame's cached schema object in place
    out_schema = StructType(
        list(left.schema.fields) + [StructField(out_col, right.schema[value_col].dataType)]
    )
    l_sel = left
    r_sel = right.select(F.col(key), F.col(right_ts), F.col(value_col))

    def merge(l_pdf: pd.DataFrame, r_pdf: pd.DataFrame) -> pd.DataFrame:
        if l_pdf.empty:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        l_sorted = l_pdf.sort_values(left_ts)
        if r_pdf.empty:
            l_sorted[out_col] = None
            return l_sorted
        # (ts, value) sort with NULLs first: merge_asof takes the LAST row
        # among equal timestamps, so ties resolve to the max value, NULL
        # losing — same deterministic rule as the window variant.
        r_sorted = (
            r_pdf.sort_values([right_ts, value_col], na_position="first")
            .rename(columns={value_col: out_col})
            .drop(columns=[key])
        )
        return pd.merge_asof(
            l_sorted, r_sorted, left_on=left_ts, right_on=right_ts, direction="backward"
        ).drop(columns=[right_ts] if right_ts not in l_pdf.columns else [])

    # Explicit width on the cogroup shuffle (round 11): the stage's cost
    # is Python — one merge_asof call per key group — but AQE sizes
    # coalescing by shuffle BYTES, so at small SF it collapsed the
    # exchange to ONE task running every group serially (6.9 s at
    # sf0.01, 31 threads idle). repartition(n, key) satisfies the
    # cogroup's clustered-distribution requirement (no second exchange)
    # and an explicit user repartition is exempt from AQE coalescing.
    #
    # Round 18 (VERDICT r17 #6): the width is GROUPS-COUNT-scaled
    # instead of pinned to the session conf — under the driver's
    # vanilla 200-partition session a 150-group input fanned into 200
    # mostly-empty tasks, each paying an Arrow/Python round-trip. One
    # distinct-count job on the left keys sizes the stage at
    # ``GROUPS_PER_TASK`` groups per task, floored at the executor
    # parallelism and still capped at the session conf width, so a
    # cluster-scale run (groups >> width) keeps today's behavior: the
    # conf width.
    spark = left.sparkSession
    conf_width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    n_groups = l_sel.select(key).distinct().count()
    n = min(
        max(conf_width, spark.sparkContext.defaultParallelism),
        max(
            spark.sparkContext.defaultParallelism,
            -(-n_groups // GROUPS_PER_TASK),  # ceil
        ),
    )
    l_sel = l_sel.repartition(n, key)
    r_sel = r_sel.repartition(n, key)
    return l_sel.groupBy(key).cogroup(r_sel.groupBy(key)).applyInPandas(
        merge, out_schema
    )
