"""Snapshot-checkpoint resumability over Parquet (north_rule requirement).

The reference resumes exports by comparing file mtimes against the run
start (/root/reference/STACpopulator/export.py:83-118). At Spark scale the
same contract is snapshot-per-stage: each pipeline stage commits its output
atomically (write to ``_tmp`` dir → fsync manifest → rename), and a re-run
skips every stage whose snapshot is already committed.

This implements the Iceberg-snapshot *contract* on plain Parquet + a JSON
manifest, because the sandbox has no iceberg-spark runtime JAR
(SURVEY.md §7.0). ``CheckpointedPipeline.run_stage`` is the drop-in seam:
with Iceberg present, replace parquet read/write with
``df.writeTo(...).createOrReplace()`` + snapshot-id bookkeeping and the
call sites don't change.

Atomicity note: manifest writes go to a temp file then ``os.replace``
(atomic on POSIX), so a killed run never leaves a half-registered stage —
the kill-and-resume test (tests/test_checkpoint.py) exercises exactly the
reference's resume semantics (export.py:95-114): rerun produces the
identical final table with no duplicates.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..runlog import observed_counts


class StageManifest:
    """stage name → {snapshot_id, path, rows, bytes, wall_ms} ledger."""

    def __init__(self, root: str):
        self.root = root
        self.path = os.path.join(root, "_manifest.json")
        os.makedirs(root, exist_ok=True)

    def load(self) -> dict:
        if not os.path.exists(self.path):
            return {"stages": {}}
        with open(self.path) as f:
            return json.load(f)

    def commit_stage(self, stage: str, entry: dict) -> None:
        m = self.load()
        m["stages"][stage] = entry
        tmp = self.path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.path)

    def completed(self, stage: str) -> dict | None:
        entry = self.load()["stages"].get(stage)
        if entry and os.path.exists(os.path.join(entry["path"], "_SUCCESS")):
            return entry
        return None


class CheckpointedPipeline:
    """Named-stage pipeline with skip-completed resume and per-stage
    row/byte metrics (the lineage ledger the north_rule asks for)."""

    def __init__(self, spark: SparkSession, root: str, catalog: str | None = None):
        """``catalog``: an Iceberg catalog name (e.g. ``graft`` from
        session.get_spark's JAR seam). When given AND the runtime is
        present, stage outputs are Iceberg tables
        ``<catalog>.checkpoints.<stage>`` committed as real snapshots;
        when given WITHOUT a runtime, raises at construction (loud, never
        a silent downgrade); when None (default), the Parquet snapshot
        contract below (VERDICT r4 ask #8)."""
        self.spark = spark
        self.manifest = StageManifest(root)
        self.root = root
        self.catalog = catalog
        if catalog is not None:
            from .iceberg import iceberg_enabled  # noqa: PLC0415

            if not iceberg_enabled(spark):
                raise RuntimeError(
                    f"CheckpointedPipeline(catalog={catalog!r}) needs an Iceberg "
                    "runtime (set SPARK_GRAFT_ICEBERG_JAR + "
                    "SPARK_GRAFT_ICEBERG_WAREHOUSE, or pass catalog=None for the "
                    "Parquet snapshot contract)"
                )

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def stage_table(self, stage: str) -> str:
        return f"{self.catalog}.checkpoints.{stage}"

    def _run_stage_iceberg(self, stage: str, build) -> DataFrame:
        """Iceberg branch: replace-commit the stage table; the manifest
        entry records the REAL snapshot id so resume skips exactly like
        the Parquet branch (same ledger shape, tested by the
        seam-parametrized contract tests)."""
        from .iceberg import snapshot_ids  # noqa: PLC0415

        table = self.stage_table(stage)
        done = self.manifest.load()["stages"].get(stage)
        if done and self.spark.catalog.tableExists(table):
            return self.spark.table(table)
        df, obs = observed_counts(build(), rows=F.lit(True))
        t0 = time.time()
        df.writeTo(table).createOrReplace()
        wall_ms = int((time.time() - t0) * 1000)
        self.manifest.commit_stage(
            stage,
            {
                "snapshot_id": snapshot_ids(self.spark, table)[-1],
                "path": table,
                "rows": obs.get["rows"],
                "bytes": None,
                "wall_ms": wall_ms,
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            },
        )
        return self.spark.table(table)

    def run_stage(self, stage: str, build, partition_by: tuple = ()) -> DataFrame:
        """Return the stage's output DataFrame, computing + committing it
        only if no committed snapshot exists. ``build()`` is called lazily —
        a resumed run never re-executes upstream work. ``rows`` in the
        manifest is observed on the write itself, not re-counted."""
        if self.catalog is not None:
            return self._run_stage_iceberg(stage, build)
        done = self.manifest.completed(stage)
        path = self.stage_path(stage)
        if done:
            return self.spark.read.parquet(path)

        df, obs = observed_counts(build(), rows=F.lit(True))
        t0 = time.time()
        tmp = path + f"._tmp.{uuid.uuid4().hex}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.replace(tmp, path)
        wall_ms = int((time.time() - t0) * 1000)

        size = sum(
            os.path.getsize(os.path.join(dp, fn))
            for dp, _, fns in os.walk(path)
            for fn in fns
        )
        self.manifest.commit_stage(
            stage,
            {
                "snapshot_id": uuid.uuid4().hex,
                "path": path,
                "rows": obs.get["rows"],
                "bytes": size,
                "wall_ms": wall_ms,
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            },
        )
        return self.spark.read.parquet(path)

    def stage_metrics(self) -> dict:
        return self.manifest.load()["stages"]
