"""Distributed exact order statistics: the range-partitioned cumsum.

Promoted from ``operators/drift._range_cumsum``: its six consumers span
three operator modules (Mann–Whitney ranks, the KS merged-support CDF,
Kruskal–Wallis k-group ranks, CCNet perplexity-bucket cutoffs, funnel
conversion-latency quantiles, and feature binning's equi-depth edges).

The problem it solves: every exact global order statistic (rank, CDF,
discrete quantile) needs an inclusive cumulative sum over a global
value order, and the naive ``Window.orderBy(value)`` with no partition
key executes on ONE task — fine for a bounded 2-dp support, O(rows)
on a single executor for a continuous high-cardinality metric. The
scale-correct shape (the classic distributed prefix-sum):

1. ``repartitionByRange`` on the order column — Spark samples range
   boundaries, so each of the ``n_parts`` tasks holds a contiguous
   value slice;
2. a per-partition local running sum (each task scans only its slice);
3. the tiny per-partition totals (``n_parts`` rows) broadcast back as
   additive offsets — partition i's global cumsum = local cumsum +
   Σ totals of partitions < i.

The result is independent of where the sampled range boundaries fall;
the ``scope.checkpoint`` materializes the partition-local pass once so
the totals aggregation and the join consumer share one scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_trend_analysis_spark.scope import checkpoint


def range_cumsum(
    df: DataFrame, order_col: str, sum_cols: list[str], n_parts: int = 8
) -> DataFrame:
    """Appends ``cum_<col>`` (inclusive, in global ``order_col`` order)
    for each requested column. See module docstring for the plan shape.
    """
    w_loc = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = df.repartitionByRange(n_parts, order_col).withColumn(
        "_pid", F.spark_partition_id()
    )
    for c in sum_cols:
        local = local.withColumn(f"_lc_{c}", F.sum(c).over(w_loc))
    # eager=False (round-12): the consumer action materializes the
    # partition-local pass once (cached RDD shared by the offsets
    # broadcast and the output join) without a blocking extra job.
    local = checkpoint(local, eager=False)
    ptot = local.groupBy("_pid").agg(
        *[F.sum(c).alias(f"_pt_{c}") for c in sum_cols]
    )
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = ptot.select(
        "_pid",
        *[
            F.coalesce(F.sum(f"_pt_{c}").over(w_off), F.lit(0)).alias(
                f"_off_{c}"
            )
            for c in sum_cols
        ],
    )
    out = local.join(F.broadcast(offs), "_pid")
    for c in sum_cols:
        out = out.withColumn(f"cum_{c}", F.col(f"_lc_{c}") + F.col(f"_off_{c}"))
    return out.drop(
        "_pid",
        *[f"_lc_{c}" for c in sum_cols],
        *[f"_off_{c}" for c in sum_cols],
    )
