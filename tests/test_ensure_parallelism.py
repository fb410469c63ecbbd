"""ensure_parallelism (r5): widen under-partitioned scan-stage inputs
before CPU-heavy map-side work, no-op when the source already carries
enough splits.

Why it exists: parquet splits are sized by BYTES and can't cut inside a
row group, so a small-byte/CPU-heavy table (signatures, ring explodes)
can serialize a whole stage onto one task regardless of session cores —
observed on the sf10 probe as a single 27-min spill-looping kNN task.
"""

import pandas as pd
import pytest

from stac_populator_spark.operators.skew import ensure_parallelism


def test_widens_single_partition_source(spark, tmp_path):
    p = str(tmp_path / "narrow.parquet")
    spark.createDataFrame(
        pd.DataFrame({"id": range(1000)})
    ).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    assert df.rdd.getNumPartitions() == 1
    out = ensure_parallelism(df)
    target = spark.sparkContext.defaultParallelism * 2
    assert out.rdd.getNumPartitions() == target
    # row-preserving, content-preserving (round-robin repartition)
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))


def test_noop_when_already_wide(spark):
    target = spark.sparkContext.defaultParallelism * 2
    df = spark.range(0, 1000, numPartitions=target + 3)
    out = ensure_parallelism(df)
    # already ≥ target: the SAME frame comes back — no exchange added
    assert out is df


def test_no_execution_on_derived_frame(spark, tmp_path):
    # r6: the probe must not execute upstream stages when handed a DERIVED
    # frame (join/agg over a file scan) — the former df.rdd probe forced
    # AQE query-stage materialization at plan time
    import pandas as pd

    p = str(tmp_path / "base.parquet")
    spark.createDataFrame(pd.DataFrame({"id": range(100), "k": [i % 3 for i in range(100)]})).write.parquet(p)
    df = spark.read.parquet(p)
    derived = df.groupBy("k").count().join(df, "k")
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    out = ensure_parallelism(derived)
    after = len(tracker.getJobIdsForGroup(None))
    assert after == before, "probe executed upstream stages"
    assert out is not None
