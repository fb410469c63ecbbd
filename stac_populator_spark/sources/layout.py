"""Table layout for the items table at scale — the partitioning story the
Iceberg DDL would carry (SURVEY.md §4.2: partition pages by bucket(url) /
days(warc_ts); items by coarse spatial cell + lang).

``write_items_partitioned`` lays items out as
``lang=<l>/cell_coarse=<s2 parent>/part-*.parquet`` so that:
- spatial queries prune to the touched coarse cells (partition pruning —
  verified by tests/test_layout.py via the plan's ``PartitionFilters``);
- the Zipf lang skew is isolated per partition (a hot 'en' partition
  splits across many files; AQE handles the rest);
- kNN / PIP re-runs read only the cells they need.

Coarse cell = S2 parent at level 4 (~300 km) — ~6k distinct values
worldwide: large enough to prune hard, small enough to avoid the
small-files problem at 10^12 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

COARSE_LEVEL = 4


def s2_coarse_col(cell: F.Column) -> F.Column:
    """S2 parent at ``COARSE_LEVEL`` as a JVM expression: ``(cell &
    ~(lsb-1)) | lsb`` with lsb = 1 << 2(30-level) — the integer bit
    arithmetic of ``functions.s2.s2_parent``, on the id's two's-complement
    bits. Null and 0 (no cell) map to 0."""
    lsb = 1 << (2 * (30 - COARSE_LEVEL))
    parent = cell.bitwiseAND(F.lit(~(lsb - 1))).bitwiseOR(F.lit(lsb))
    return F.when(cell.isNotNull() & (cell != 0), parent).otherwise(F.lit(0))


def write_items_partitioned(items: DataFrame, path: str, mode: str = "overwrite") -> None:
    (
        items.withColumn("cell_coarse", s2_coarse_col(F.col("cell_s2")))
        .write.mode(mode)
        .partitionBy("lang", "cell_coarse")
        .parquet(path)
    )


def read_items(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_sorted_layout(df: DataFrame, path: str, key_col: str,
                        n_files: int = 32, mode: str = "overwrite") -> None:
    """Range-partitioned, within-file-sorted layout on ``key_col`` — the
    layout the keyset-pagination reader (sources.paging) and any
    key-range predicate want: repartitionByRange gives each output file a
    disjoint key range and sortWithinPartitions orders rows inside it, so
    parquet writes tight per-row-group min/max stats for the key and a
    ``key > token`` resume predicate skips whole files + row groups
    instead of scanning them (the Iceberg analogue: sort-order metadata).
    One range shuffle at write time buys every later page/range read."""
    (
        df.repartitionByRange(n_files, F.col(key_col))
        .sortWithinPartitions(key_col)
        .write.mode(mode)
        .parquet(path)
    )
