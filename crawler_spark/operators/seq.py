"""Dense, deterministic FIFO sequence assignment without a global sort.

The frontier's FIFO tie-break needs a total order consistent with discovery
order: new links ranked by (parent_seq, match_idx) (SURVEY.md §7.3 hard
part 3). A single un-partitioned window would serialize the whole delta
through one partition (WindowExec "No Partition Defined"); instead a
two-level prefix sum over an ORDERED partitioning of the key space.

The leading order column is an integer with a KNOWN upper bound
(parent_seq / original seq ≤ the manifest's max_seq), so
``bucket = floor(key * P / (bound+1))`` is an ordered, deterministic,
sampling-free range partitioning. One hash shuffle on the bucket id, a
bucket-partitioned ``row_number`` (never an unpartitioned window),
per-BUCKET counts → cumulative offsets in bucket order, broadcast back:
``seq = base + offset[bucket] + rn``. Unlike ``repartitionByRange`` this
never runs the RangePartitioner's sampling pass — which re-executed the
(scan + join + canonicalize) upstream of every links/retries delta once
per round just to pick bounds.

The result is exactly the dense ranks of ORDER BY (order key); correctness
does not depend on the balance of the buckets because the key is unique.

The prepare/finalize split lets the engine fuse the per-bucket counts into
its single round-accounting job instead of paying one barrier per seq
assignment:

    prep = prepare_dense_seq(df, cols, bound=max_seq, n_parts=p)  # cached, lazy
    ... count rows per prep["_bucket"] in the accounting job ...
    out = finalize_dense_seq(prep, sizes, base)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..schemas import local_frame

_OFFSETS = StructType(
    [StructField("_bucket", LongType()), StructField("_off", LongType())]
)


def prepare_dense_seq(
    df: DataFrame, order_cols: list[str], bound: int, n_parts: int
) -> DataFrame:
    """Bucket-partitioned, rank-tagged frame; cached, lazy.

    order_cols must form a total (duplicate-free) order. ``bound``: known
    inclusive upper bound of the (non-negative integer) leading order
    column. ``n_parts``: the bucket count, sized by the caller (e.g. from
    an Observation count of the rows about to flow in) — a 20k-row retry
    delta should shuffle into a couple of buckets, not
    ``spark.sql.shuffle.partitions`` of them; correctness never depends on
    the bucket count (offsets follow bucket ids).
    """
    bucket = F.floor(
        F.col(order_cols[0]).cast("long") * F.lit(n_parts) / F.lit(bound + 1)
    ).cast("long")
    w = Window.partitionBy("_bucket").orderBy(*[F.col(c) for c in order_cols])
    return (
        df.withColumn("_bucket", F.least(F.lit(n_parts - 1), bucket))
        .repartition(n_parts, "_bucket")
        .withColumn("_rn", F.row_number().over(w).cast("long"))
        .cache()
    )


def finalize_dense_seq(
    prep: DataFrame, sizes: dict[int, int], base_seq: int
) -> DataFrame:
    """Attach the dense ``seq`` given per-bucket row counts.

    ``sizes``: {bucket: row_count} as counted from ``prep``'s
    ``_bucket`` column (in the engine's fused accounting job).
    """
    spark = prep.sparkSession
    offsets, acc = [], 0
    for b in sorted(sizes):
        offsets.append((int(b), acc))
        acc += int(sizes[b])
    if not offsets:
        offsets = [(0, 0)]
    off_df = F.broadcast(local_frame(spark, offsets, _OFFSETS))
    out = (
        prep.join(off_df, "_bucket")
        .withColumn("seq", F.lit(base_seq) + F.col("_off") + F.col("_rn"))
        .drop("_bucket", "_off", "_rn")
    )
    out._ranked = prep  # for caller-side unpersist
    out._total = acc  # row count, free by-product of the offsets pass
    return out
