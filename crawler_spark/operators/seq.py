"""Dense, deterministic FIFO sequence assignment without a global sort.

The frontier's FIFO tie-break needs a total order consistent with discovery
order: new links ranked by (parent_seq, match_idx) (SURVEY.md §7.3 hard
part 3). A single un-partitioned window would serialize the whole delta
through one partition (WindowExec "No Partition Defined"); instead a
two-level prefix sum with an ORDERED partitioning of the key space:

- **bounded path** (the engine): the leading order column is an integer
  with a KNOWN upper bound (parent_seq / original seq ≤ the manifest's
  max_seq), so ``bucket = floor(key * P / (bound+1))`` is an ordered,
  deterministic, sampling-free range partitioning. One hash shuffle on the
  bucket id, a bucket-partitioned ``row_number`` (never an unpartitioned
  window), per-BUCKET counts → cumulative offsets in bucket order,
  broadcast back: ``seq = base + offset[bucket] + rn``. Unlike
  ``repartitionByRange`` this never runs the RangePartitioner's sampling
  pass — which re-executed the (scan + join + canonicalize) upstream of
  every links/retries delta once per round just to pick bounds.
- **sampled path** (standalone helpers, no bound known):
  ``repartitionByRange`` + ``monotonically_increasing_id`` encodes
  (partition << 33 | row) for free; per-PID counts give the offsets.

Both produce exactly the dense ranks of ORDER BY (order key); correctness
does not depend on balance of the buckets/bounds because the key is unique.

The prepare/finalize split lets the engine fuse the per-partition counts
into its single round-accounting job (the counts are just rows in a shared
union-aggregate) instead of paying one barrier per seq assignment:

    prep = prepare_dense_seq(df, cols, bound=max_seq)   # cached, lazy
    ... count rows per rank_key(prep) in the accounting job ...
    out = finalize_dense_seq(prep, sizes, base)

``assign_link_seqs`` / ``assign_retry_seqs`` wrap the pair for standalone
use (tests, non-fused callers) at the cost of one collect each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..schemas import local_frame

_LOCAL_MASK = (1 << 33) - 1  # monotonically_increasing_id: pid << 33 | row
_OFFSETS = StructType(
    [StructField("_pid", LongType()), StructField("_off", LongType())]
)


def prepare_dense_seq(
    df: DataFrame, order_cols: list[str], bound: int | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """Ordered-partition + rank-tagged frame; cached, lazy.

    order_cols must form a total (duplicate-free) order. ``bound``: known
    inclusive upper bound of the (non-negative integer) leading order
    column — enables the sampling-free arithmetic bucketing. ``n_parts``:
    caller-known sizing (e.g. from an Observation count of the rows about
    to flow in) — a 20k-row retry delta should shuffle into a couple of
    buckets, not ``spark.sql.shuffle.partitions`` of them; correctness
    never depends on the bucket count (offsets follow bucket ids).
    """
    spark = df.sparkSession
    n = int(n_parts or spark.conf.get("spark.sql.shuffle.partitions"))
    if bound is not None:
        bucket = F.floor(
            F.col(order_cols[0]).cast("long") * F.lit(n) / F.lit(int(bound) + 1)
        ).cast("long")
        w = Window.partitionBy("_bucket").orderBy(*[F.col(c) for c in order_cols])
        return (
            df.withColumn("_bucket", F.least(F.lit(n - 1), bucket))
            .repartition(n, "_bucket")
            .withColumn("_rn", F.row_number().over(w).cast("long"))
            .cache()
        )
    return (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .cache()
    )


def pid_col() -> F.Column:
    return F.shiftright("_mid", 33)


def rank_key_col(df: DataFrame) -> F.Column:
    """The ordered-slice id of a prepared frame (bucket or encoded pid)."""
    return F.col("_bucket") if "_bucket" in df.columns else pid_col()


def finalize_dense_seq(
    with_id: DataFrame, sizes: dict[int, int], base_seq: int
) -> DataFrame:
    """Attach the dense ``seq`` given per-slice row counts.

    ``sizes``: {slice_id: row_count} as counted from ``with_id`` via
    ``rank_key_col`` (e.g. in the engine's fused accounting job, or
    count_partition_sizes below). Slice = bucket (bounded path) or
    range-partition id (sampled path).
    """
    spark = with_id.sparkSession
    offsets, acc = [], 0
    for pid in sorted(sizes):
        offsets.append((int(pid), acc))
        acc += int(sizes[pid])
    if not offsets:
        offsets = [(0, 0)]
    off_df = F.broadcast(local_frame(spark, offsets, _OFFSETS))
    bucketed = "_bucket" in with_id.columns
    local_rank = (
        F.col("_rn")
        if bucketed
        else F.col("_mid").bitwiseAND(F.lit(_LOCAL_MASK)) + 1
    )
    out = (
        with_id.withColumn("_pid", rank_key_col(with_id).cast("long"))
        .join(off_df, "_pid")
        .withColumn("seq", F.lit(base_seq) + F.col("_off") + local_rank)
        .drop("_pid", "_off", *(["_bucket", "_rn"] if bucketed else ["_mid"]))
    )
    out._ranked = with_id  # for caller-side unpersist
    out._total = acc  # row count, free by-product of the offsets pass
    return out


def count_partition_sizes(with_id: DataFrame) -> dict[int, int]:
    rows = with_id.groupBy(rank_key_col(with_id).alias("_pid")).agg(
        F.count("*").alias("_n")
    ).collect()
    return {int(r["_pid"]): int(r["_n"]) for r in rows}


def _dense_seq(
    df: DataFrame, order_cols: list[str], base_seq: int, bound: int | None = None
) -> DataFrame:
    with_id = prepare_dense_seq(df, order_cols, bound=bound)
    return finalize_dense_seq(with_id, count_partition_sizes(with_id), base_seq)


def assign_link_seqs(
    links: DataFrame, base_seq: int, bound: int | None = None
) -> DataFrame:
    """links must carry parent_seq + match_idx; returns with dense `seq` col.

    (parent_seq, match_idx) is unique per link row (match_idx is the
    within-parent match ordinal; robots filtering may leave gaps but never
    duplicates), so the discovery order is total.
    """
    return _dense_seq(links, ["parent_seq", "match_idx"], base_seq, bound=bound)


def assign_retry_seqs(
    retries: DataFrame, base_seq: int, bound: int | None = None
) -> DataFrame:
    """Retries re-enqueue after the round's links, ordered by original seq
    (unique per frontier row)."""
    slim = retries.withColumnRenamed("seq", "_oseq")
    out = _dense_seq(slim, ["_oseq"], base_seq, bound=bound)
    dropped = out.drop("_oseq")
    dropped._ranked = out._ranked  # DataFrame ops don't carry attributes over
    dropped._total = out._total
    return dropped
