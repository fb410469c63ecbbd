"""Per-partition lineage + row/byte metrics (north_rule requirement).

Spark-native replacement for the reference's per-item JSONL counters
(/root/reference/STACpopulator/log.py:53-94, emit sites
populators.py:263-303): instead of a log line per item, one metrics row per
partition, computed distributed with ``spark_partition_id()`` + groupBy —
the metrics job is itself a (tiny) aggregation, no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_metrics(df: DataFrame, byte_cols: tuple = (),
                      distinct_col: str | None = None) -> DataFrame:
    """(partition_id, rows, approx_bytes[, approx_distinct]) per partition
    of ``df``.

    approx_bytes sums the lengths of the given string/binary columns —
    the dominant payload columns (html/text) at this engine's scale.
    ``distinct_col`` adds a HyperLogLog++ ``approx_count_distinct``
    cardinality per partition (and HLL sketches merge, so the same metric
    rolls up across partitions/stages) — at 10^12 rows an exact distinct
    per metrics tick is its own shuffle; the sketch is O(1) memory.
    """
    size_expr = F.lit(0).cast("long")
    for c in byte_cols:
        size_expr = size_expr + F.coalesce(F.length(F.col(c)).cast("long"), F.lit(0))
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.sum("_sz").alias("approx_bytes"),
    ]
    if distinct_col is not None:
        aggs.append(F.approx_count_distinct(distinct_col, 0.02).alias("approx_distinct"))
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_sz", size_expr)
        .groupBy(F.col("_pid").alias("partition_id"))
        .agg(*aggs)
        .orderBy("partition_id")
    )

