"""Scalable budgeted top-k per group (the priority-queue pop).

Reproduces the reference's priority-first FIFO dispatch
(engine/schedule.go:248-290) as a *budgeted wave pop*: for each group
(task, or host) take the first ``k`` rows ordered by (-priority, seq).

Scale design — the naive ``Window.partitionBy(group)`` funnels each
group's entire candidate set through one partition; for a hot host with a
10^5-row wave that is a single-task sort (measured ~10-20s serial per
round). Three-way split instead:

1. per-group counts (one parallel aggregate, broadcast back);
2. groups whose candidate count fits their budget PASS THROUGH with no
   window and no shuffle — the common case for fat steady-state waves;
3. only groups that actually need cutting are ranked, and those are first
   pruned per physical partition to their own budget (partition-parallel),
   so the single-partition global rank sees at most
   budget x num_partitions rows — bounded by the politeness budget, not
   the frontier.

All three paths are deterministic and together equal the global top-k.

Budgets are a DATAFRAME, not an expression: with the north rule's 10^7+
hosts, a per-group CASE chain would make the expression tree (and its
codegen) O(#groups), and a driver-side dict would not fit at all. A
(group, budget) frame joined onto the per-group counts keeps the plan size
constant in #groups; at production scale it is itself a partitioned table
(derived from robots crawl-delays) and the join of counts-to-budgets is a
shuffle of #distinct-groups-in-wave rows, never #groups-total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..schemas import local_frame


def _group_frame(spark, rows, group_col: str, value_col: str) -> DataFrame:
    return local_frame(
        spark,
        rows,
        StructType(
            [StructField(group_col, StringType()), StructField(value_col, LongType())]
        ),
    )


def _order_cols():
    # priority-class-first, FIFO within class (engine/schedule.go:254-264)
    return [F.col("priority").desc(), F.col("seq").asc()]


def budgets_df(spark, budgets: dict[str, int], group_col: str) -> DataFrame:
    """Small-dim convenience: lift a driver dict to a (group, budget) frame.

    Only for genuinely small dims (tasks, test fixtures). Host budgets at
    crawl scale must come straight from a robots-derived table.
    """
    return _group_frame(
        spark, [(g, int(k)) for g, k in budgets.items()], group_col, "_budget"
    )


def budgeted_topk(
    df: DataFrame,
    group_col: str,
    budgets: DataFrame | dict[str, int],
    default_budget: int,
    group_counts: dict[str, int] | None = None,
) -> DataFrame:
    """Rows of df ranked within group_col by (-priority, seq); keep rank <= budget(group).

    ``budgets``: a DataFrame with columns (``group_col``, ``_budget``) —
    or a dict, lifted via :func:`budgets_df`. Groups absent from it get
    ``default_budget``.

    ``group_counts``: exact per-group row counts of ``df``, if the caller
    already knows them (the engine observes per-task counts inside the
    candidate scratch write) — skips the counts aggregation job. Only for
    config-scale group dims; host-scale counts must stay distributed.
    """
    if isinstance(budgets, dict):
        budgets = budgets_df(df.sparkSession, budgets, group_col)

    if group_counts is not None:
        counts = _group_frame(
            df.sparkSession,
            [(g, int(n)) for g, n in group_counts.items()],
            group_col,
            "_gn",
        )
    else:
        counts = df.groupBy(group_col).agg(F.count("*").alias("_gn"))
    # budgets joined onto the per-group COUNTS (small: one row per distinct
    # group in the wave), then broadcast with the counts — the data rows
    # never join against the full budget table.
    counts_b = (
        counts.join(budgets, group_col, "left")
        .withColumn("_gb", F.coalesce(F.col("_budget"), F.lit(default_budget)))
        .drop("_budget")
    )
    tagged = df.join(F.broadcast(counts_b), group_col)

    passed = tagged.filter(F.col("_gn") <= F.col("_gb")).drop("_gn", "_gb")
    to_cut = tagged.filter(F.col("_gn") > F.col("_gb")).drop("_gn")
    local = Window.partitionBy(group_col, F.spark_partition_id()).orderBy(*_order_cols())
    to_cut = (
        to_cut.withColumn("_lrank", F.row_number().over(local))
        .filter(F.col("_lrank") <= F.col("_gb"))
        .drop("_lrank")
    )
    w = Window.partitionBy(group_col).orderBy(*_order_cols())
    cut = (
        to_cut.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= F.col("_gb"))
        .drop("_rank", "_gb")
    )
    return passed.unionByName(cut)
