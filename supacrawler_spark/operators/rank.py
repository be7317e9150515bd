"""Scalable deterministic global ranking.

A global ``row_number() OVER (ORDER BY ...)`` puts every row in ONE
partition — fine at 10^4 rows, fatal at 10^9. This module provides the
two-phase scale path (range-repartition -> local rank -> broadcast
partition offsets) with a small-input shortcut, so crawl-order
assignment and the discovery cap stay correct at 10^10-frontier design
scale (SURVEY.md §2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Below this many rows a single-partition window is faster than the
# three exchanges of the two-phase path (measured at local[32]; see
# BENCH notes). Above it, the two-phase path avoids the single-task
# sort bottleneck.
SMALL_INPUT_THRESHOLD = 200_000


def ordered_row_number(
    df: DataFrame,
    order_cols,
    name: str,
    hint_count: "int | None" = None,
    cache_out: "list | None" = None,
) -> DataFrame:
    """Add a deterministic 1-based global rank ``name`` ordered by
    ``order_cols``. The order must be a total order (include a unique
    tiebreaker column).

    Correctness does not depend on partition boundaries: range
    partitioning guarantees pid order == key order, local ranks are
    offset by exclusive prefix sums of partition counts.

    ``cache_out``: the two-phase path persists an intermediate frame
    that MUST stay cached until the caller's actions complete (both
    consumers must see one materialization of the partition ids). The
    handle is appended here so the caller can unpersist it afterwards;
    without it the cache lives until session LRU eviction.
    """
    cols = [c if not isinstance(c, str) else F.col(c) for c in order_cols]

    if hint_count is not None and hint_count <= SMALL_INPUT_THRESHOLD:
        w = Window.orderBy(*cols)
        return df.withColumn(name, F.row_number().over(w).cast("long"))

    # `ranked` feeds BOTH the counts aggregate and the final join. The
    # partition ids those two consumers see MUST agree, so:
    # - the range partition count is explicit (AQE is free to coalesce
    #   an unspecified repartitionByRange differently per consumer,
    #   which silently corrupts the offsets — found as a core-count-
    #   dependent crawl divergence at >200k-row frontiers);
    # - the ranked frame is persisted so both consumers read one
    #   materialization.
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranked = (
        df.repartitionByRange(n_parts, *cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    w_local = Window.partitionBy("_pid").orderBy(*cols)
    ranked = ranked.withColumn(
        "_lrank", F.row_number().over(w_local)).persist()
    if cache_out is not None:
        cache_out.append(ranked)
    counts = ranked.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    w_prefix = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(w_prefix), F.lit(0)))
    out = ranked.join(F.broadcast(offsets.select("_pid", "_off")), "_pid")
    return (
        out.withColumn(name, (F.col("_off") + F.col("_lrank")).cast("long"))
        .drop("_pid", "_lrank", "_off")
    )
