"""Multi-executor equivalence: the pipeline's output must be byte-identical
between local[N] threads and a process-isolated local-cluster topology
(separate executor JVMs, package shipped exactly like spark-submit
--py-files) — the north rule's deployment shape. Complements the
cross-parallelism invariant (test_pipeline.py) which stays in one JVM."""

import json
import os
import subprocess
import sys

SCRIPT = r"""
import os, sys
sys.path.insert(0, {repo!r})

from pyspark.sql import functions as F
from stac_populator_spark.session import get_spark
from stac_populator_spark.datagen import footprints_pdf, pages_df
from stac_populator_spark.operators.spatial_join import footprint_cover_df
from stac_populator_spark.plans.pipeline import build_items

spark = get_spark(app_name="cluster-eq", master={master!r}, shuffle_partitions=8)
if "local-cluster" in {master!r}:
    import shutil
    zip_base = f"/tmp/eqtest_pyfiles_{{os.getpid()}}"
    shutil.make_archive(zip_base, "zip", {repo!r}, "stac_populator_spark")
    spark.sparkContext.addPyFile(zip_base + ".zip")

pages_path = {pages_path!r}
if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
    pages_df(spark, 20000, partitions=8).write.mode("overwrite").parquet(pages_path)
cover = footprint_cover_df(spark, footprints_pdf())
items = build_items(spark.read.parquet(pages_path), cover)
rows = sorted(
    (r["id"], r["collection_id"], r["cell_s2"], r["cell_hex"], r["tile_id"], r["stac_json"])
    for r in items.select("id", "collection_id", "cell_s2", "cell_hex", "tile_id", "stac_json").collect()
)
import hashlib, json
h = hashlib.md5(json.dumps(rows, default=str).encode()).hexdigest()
print(f"ROWS={{len(rows)}} HASH={{h}}", flush=True)


def probe(batches):
    # reports, without importing it, where this worker loaded the engine
    # from and whether zipimport's guard is in place
    import sys, zipimport
    import pyarrow as pa
    for _ in batches:
        pass
    engine = sys.modules.get("stac_populator_spark")
    yield pa.RecordBatch.from_pydict({{
        "engine": [getattr(engine, "__file__", None) or ""],
        "guarded": [hasattr(zipimport.zipimporter.invalidate_caches, "stamps")],
    }})


workers = spark.range(0, 8, 1, 8).mapInArrow(probe, "engine string, guarded boolean").collect()
print("WORKERS=" + json.dumps([[w.engine, w.guarded] for w in workers]), flush=True)
try:
    spark.stop()
except Exception:
    pass
os._exit(0)
"""


def _run(repo, master, pages_path):
    code = SCRIPT.format(repo=repo, master=master, pages_path=pages_path)
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=600
    )
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("ROWS=")]
    assert lines, r.stderr[-3000:]
    workers = [ln for ln in r.stdout.splitlines() if ln.startswith("WORKERS=")]
    assert workers, r.stderr[-3000:]
    return lines[-1], json.loads(workers[-1][len("WORKERS="):])


def test_local_cluster_output_identical(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pages_path = str(tmp_path / "pages.parquet")
    threads, _ = _run(repo, "local[4]", pages_path)
    cluster, workers = _run(repo, "local-cluster[2,2,2048]", pages_path)
    assert threads == cluster
    # the executors' Python workers loaded the engine from the shipped zip
    # (the tools/submit.sh launch mode), and loading it installed the
    # zip-directory guard (stac_populator_spark.zipguard)
    loaded = [guarded for engine, guarded in workers if engine]
    assert loaded and all(".zip" in engine for engine, _ in workers if engine), workers
    assert all(loaded), workers
