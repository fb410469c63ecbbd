"""Skew and parallelism guards for the map-side and aggregation stages (J8).

Spatial keys are Zipf-skewed (megacity hex cells, `lang='en'` ≈ 45% of
pages — FIXTURES.md §1). AQE's skew-join splitting covers sort-merge joins;
for aggregations we salt explicitly (:func:`two_phase_count`: partial
aggregate per (key, pmod(hash(row-unique), S)), then per key). The kNN
cell self-join salts its hot cells itself (``knn.knn_join_salted``).

Salts derive from deterministic column hashes — never ``rand()`` — so runs
are reproducible and retried tasks produce identical output (a correctness
requirement under speculative execution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ensure_parallelism(df: DataFrame, factor: int = 2) -> DataFrame:
    """Widen an under-partitioned input before CPU-heavy map-side work.

    Spark sizes file splits by BYTES (``maxPartitionBytes``), and a split
    can never cut inside a parquet row group — a table written with the
    default 128 MB row groups yields at most one non-empty task per row
    group regardless of session cores. Right for IO-bound scans; wrong
    for this package's CPU-bound pre-shuffle stages (signature
    computation, ring/shingle explodes, brute-force scoring — work per
    row ≫ bytes per row), where it serializes the whole stage onto a
    handful of tasks. Measured on the sf10 probe (r5): the kNN ring-join
    map-side WindowGroupLimit sorted the ENTIRE candidate stream in ONE
    spill-looping task for 27+ min because the 58 MB source file was a
    single row group; minhash/simhash showed the same signature —
    local[8] ≈ local[32] wall times at sf1.

    Fix: round-robin repartition to ``defaultParallelism·factor`` when
    (and only when) the input has fewer partitions — one narrow exchange
    buys full stage width. At cluster scale a real table scan already
    carries thousands of splits, so the guard makes this a structural
    no-op; it exists for the many-cores-per-file regime, which is also
    exactly the local bench shape. ``factor=2`` mirrors the session's
    ``shuffle_partitions = cores·2`` sizing (mild skew headroom).

    Probe (r6, VERDICT r5 ask #5): file-backed frames are probed with
    ``df.inputFiles()`` — a pure file-index lookup that CANNOT execute
    upstream stages, so calling this on a derived frame is now safe (the
    former ``df.rdd`` probe forced AQE query stages to execute at plan
    time, and cost an RDD conversion + py4j round-trip per call even on
    plain scans). File count is the split estimate: the engine's sources
    write ≤1 row group per 128 MB file, so files < target ⇒ the scan
    cannot reach target width. Non-file sources (range/in-memory — test
    fixtures) keep the ``df.rdd`` partition probe; they have no files and
    no row-group pathology. (Probing the optimized plan's treeString() to
    auto-detect shuffle nodes was tried in r5 and measured WORSE: a plan
    carrying the 64-term SimHash/SWAR expression trees serializes
    multi-MB strings over py4j per call.)
    """
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    files = df.inputFiles()
    if files:
        if len(files) >= target:
            return df
        return df.repartition(target)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def two_phase_count(df: DataFrame, key_col: str, unique_col: str, n_salts: int = 16) -> DataFrame:
    """Skew-proof count per key: partial count per (key, salt) → final sum
    per key. Map-side combine already handles most of this for counts; the
    pattern matters for collect-like or heavy aggregations."""
    # group by (key, salt) — never parse the key back out of the salted
    # string (keys containing '#' would be truncated and merged)
    salt = F.pmod(F.xxhash64(F.col(unique_col)), F.lit(n_salts))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key_col, "_salt")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return partial.groupBy(key_col).agg(F.sum("_c").alias("cnt"))
