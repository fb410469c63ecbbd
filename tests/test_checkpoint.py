"""Kill-and-resume semantics of the snapshot-checkpoint pipeline
(reference analogue: export --resume, /root/reference/STACpopulator/
export.py:95-118 and tests/test_export.py:110-128): rerun after a partial
run produces the identical final table with no duplicates and does not
recompute committed stages."""

import pandas as pd
import pytest

from stac_populator_spark.datagen import footprints_pdf, pages_df
from stac_populator_spark.plans.pipeline import run_pipeline
from stac_populator_spark.sources.checkpoint import CheckpointedPipeline, StageManifest


def test_stage_skip_and_resume(spark, tmp_path):
    root = str(tmp_path / "cp")
    cp = CheckpointedPipeline(spark, root)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).withColumnRenamed("id", "v")

    out1 = cp.run_stage("s1", build)
    assert out1.count() == 100 and calls["n"] == 1
    # second run: committed snapshot → build not called again
    out2 = cp.run_stage("s1", build)
    assert out2.count() == 100 and calls["n"] == 1
    m = cp.stage_metrics()["s1"]
    assert m["rows"] == 100 and m["bytes"] > 0 and "snapshot_id" in m


def test_kill_between_stages_then_resume(spark, tmp_path):
    root = str(tmp_path / "cp2")
    pages = pages_df(spark, 400, partitions=2)
    fps = footprints_pdf()[:100]

    # "killed" run: the validated extract commits, then the run dies
    # before any output is written (stage built with run_pipeline's helper)
    from stac_populator_spark.plans.pipeline import VALIDATED_STAGE, validated_extract

    cp = CheckpointedPipeline(spark, root)
    cp.run_stage(VALIDATED_STAGE, lambda: validated_extract(pages))
    assert StageManifest(root).completed("validated") is not None

    # resumed full run
    out = run_pipeline(spark, pages, fps, checkpoint_root=root)
    resumed_items = out["items"].toPandas().sort_values("id").reset_index(drop=True)

    # reference run without checkpointing
    ref = run_pipeline(spark, pages, fps)
    ref_items = ref["items"].toPandas().sort_values("id").reset_index(drop=True)

    key_cols = ["id", "collection_id", "cell_s2", "cell_hex", "tile_id"]
    pd.testing.assert_frame_equal(resumed_items[key_cols].sort_values(key_cols).reset_index(drop=True),
                                  ref_items[key_cols].sort_values(key_cols).reset_index(drop=True))
    # no duplicates introduced by the resume
    assert not resumed_items.duplicated(subset=["id", "collection_id"]).any()
    # the stage is committed once, with lineage metrics; dead letters are
    # a filter of the committed stage (no recompute), empty on clean data
    metrics = out["metrics"]
    assert set(metrics) == {"validated"}
    assert metrics["validated"]["rows"] == 400 and metrics["validated"]["bytes"] > 0
    assert out["errors"].count() == 0


def test_partition_metrics(spark):
    from stac_populator_spark.lineage import partition_metrics

    df = pages_df(spark, 300, partitions=3)
    m = partition_metrics(df, byte_cols=("text",)).collect()
    assert len(m) == 3
    assert sum(r["rows"] for r in m) == 300
    assert all(r["approx_bytes"] > 0 for r in m)


def test_partition_metrics_hll_within_bound(spark):
    # HLL approx_count_distinct in lineage metrics (rsd 0.02): per-
    # partition cardinality within 5 sigma of exact on a known-cardinality
    # input
    import pandas as pd
    from pyspark.sql import functions as F

    from stac_populator_spark.lineage import partition_metrics

    n = 20000
    df = spark.createDataFrame(
        pd.DataFrame({"k": [f"u{i % 3000}" for i in range(n)], "s": ["x" * 10] * n})
    ).repartition(4)
    m = partition_metrics(df, byte_cols=("s",), distinct_col="k").collect()
    assert sum(r["rows"] for r in m) == n
    # round-robin repartition spreads all 3000 keys into every partition
    for r in m:
        assert abs(r["approx_distinct"] - 3000) <= 5 * 0.02 * 3000 + 1, r
