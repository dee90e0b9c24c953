"""Scalable budgeted top-k per group (the priority-queue pop).

Reproduces the reference's priority-first FIFO dispatch
(engine/schedule.go:248-290) as a *budgeted wave pop*: for each group
(task, or host) take the first ``k`` rows ordered by (-priority, seq).

Scale design — each budget level costs ONE exchange, and no count,
aggregate or broadcast-of-counts job:

- **Driver-known budgets and counts** (the task level: a config-scale
  budget dict, and per-task counts the engine observed while writing the
  candidate scratch). Groups that fit their budget pass through an
  ``isin`` filter with no window and no shuffle — the common case for fat
  steady-state waves. Only the groups that need cutting are ranked, and
  the rank filter carries the literal ``_rank <= K`` (K = the largest
  budget among them). Spark's ``InsertWindowGroupLimit`` rule turns that
  into a ``WindowGroupLimit Partial`` node BELOW the group's exchange: each
  map partition keeps at most K rows per group, so the shuffle is bounded
  by K x partitions per group, not by the group's candidate count. Each
  group's own budget is then applied through a broadcast join of the
  (group, budget) local frame. ``get_spark`` raises Spark's
  ``windowGroupLimitThreshold`` so budgets above its default of 1,000 keep
  the partial node.
- **DataFrame budgets** (the host level): one ``row_number`` window by
  group, then a join of the budgets and ``_rank <= coalesce(_budget,
  default)``. The join is a broadcast while the budgets are a local frame;
  at scale it is a shuffle join on the group key, co-partitioned with the
  window's exchange. No map-side prune applies (the bound is per row, not
  a literal), so every wave row of a host is shuffled to, and sorted in,
  one partition. The engine runs this level over the task-capped wave, so
  a host's rows are bounded by the task budgets, not by the frontier, but
  NOT by the host's own cap: a hot host's sort is unbounded by its
  budget, where the former per-partition pre-prune held it to budget x
  partitions. No workload has a skewed host, so that cost is unmeasured.
  A map-side bound here would need the largest finite host cap as a
  driver-known literal K (hosts at the uncapped sentinel passed through),
  which this signature does not carry.

Budgets are a DATAFRAME, not an expression, wherever the group dim is not
config-scale: with the north rule's 10^7+ hosts, a per-group CASE chain
would make the expression tree (and its codegen) O(#groups), and a
driver-side dict would not fit at all. At production scale the host
budgets are a partitioned table derived from robots crawl-delays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..schemas import local_frame


def _ranked(df: DataFrame, group_col: str) -> DataFrame:
    # priority-class-first, FIFO within class (engine/schedule.go:254-264)
    w = Window.partitionBy(group_col).orderBy(F.col("priority").desc(), F.col("seq"))
    return df.withColumn("_rank", F.row_number().over(w))


def budgets_df(spark, budgets: dict[str, int], group_col: str) -> DataFrame:
    """Small-dim convenience: lift a driver dict to a (group, budget) frame.

    Only for genuinely small dims (tasks, test fixtures). Host budgets at
    crawl scale must come straight from a robots-derived table.
    """
    return local_frame(
        spark,
        [(g, int(k)) for g, k in budgets.items()],
        StructType(
            [StructField(group_col, StringType()), StructField("_budget", LongType())]
        ),
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
    or a dict. Groups absent from it get ``default_budget``.

    ``group_counts``: exact per-group row counts of ``df``, if the caller
    already knows them (the engine observes per-task counts inside the
    candidate scratch write). With a dict of budgets they split the groups
    on the driver into pass-through and cut groups; with DataFrame budgets
    they are not needed. Only for config-scale group dims; host-scale counts
    must stay distributed.
    """
    if isinstance(budgets, dict) and group_counts is not None:
        return _known_topk(df, group_col, budgets, default_budget, group_counts)
    if isinstance(budgets, dict):
        budgets = budgets_df(df.sparkSession, budgets, group_col)
    return (
        _ranked(df, group_col)
        .join(budgets, group_col, "left")
        .filter(F.col("_rank") <= F.coalesce(F.col("_budget"), F.lit(default_budget)))
        .select(*df.columns)
    )


def _known_topk(
    df: DataFrame,
    group_col: str,
    budgets: dict[str, int],
    default_budget: int,
    group_counts: dict[str, int],
) -> DataFrame:
    budget = {g: int(budgets.get(g, default_budget)) for g in group_counts}
    fit = [g for g, n in group_counts.items() if n <= budget[g]]
    cut = {g: budget[g] for g, n in group_counts.items() if n > budget[g]}
    passed = df.filter(F.col(group_col).isin(fit))
    if not cut:
        return passed
    # the literal bound is what InsertWindowGroupLimit matches: it plans a
    # map-side WindowGroupLimit (Partial) under the exchange
    k = max(cut.values())
    cut_rows = (
        _ranked(df.filter(F.col(group_col).isin(list(cut))), group_col)
        .filter(F.col("_rank") <= F.lit(k))
        .join(F.broadcast(budgets_df(df.sparkSession, cut, group_col)), group_col)
        .filter(F.col("_rank") <= F.col("_budget"))
        .select(*df.columns)
    )
    return passed.unionByName(cut_rows)
