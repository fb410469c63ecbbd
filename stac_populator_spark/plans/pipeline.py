"""The flagship end-to-end pipeline (SURVEY.md §7.1 milestone-1 slice).

    pages(url, warc_ts, html, text, lang)
      → extract_items        (vectorized parse; P2/P4/P5/P8 semantics)
      → failure_reason       (validate rules over the extract columns)
      ├─ invalid → errors    (one dead-letter row per page)
      └─ valid   → encode_cells          (S2 L12 + hex r7 + join grid)
                 → pip_join              (broadcast footprint cover; J5)
                 → assign_items_to_tiles (arithmetic tile ids; J7)
                 → stac_item_json        (STAC-valid Feature per item)
                 → collection_extent     (A1/A2 groupBy union)

Validation runs on the extract output, before the footprint join: the
rules read only ``id``, the bbox bounds and the datetimes, so an invalid
page never reaches the join and is dead-lettered exactly once. The
validated extract is the one frame that reads the pages; items and errors
are both derived from it and ``run_pipeline`` pins it (persisted, or the
committed checkpoint stage), so writing every output crosses into the
extract kernel once per run.

Spark lifecycle (SURVEY.md §3.1): one declarative DAG — Catalyst prunes
columns into the parquet scan, the only wide exchange is the collection
aggregation's final groupBy (map-side partial aggregation first), the PIP
join is broadcast (no fact shuffle). The validated extract is optionally
snapshot-checkpointed (sources.checkpoint) for kill-resume.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cells import encode_cells
from ..operators.collection_agg import collected_items, collection_extent
from ..operators.extract import extract_items
from ..operators.spatial_join import footprint_cover_df, pip_join
from ..operators.stac_json import stac_item_json
from ..operators.tiles import assign_items_to_tiles
from ..operators.validate import failure_reason
from ..sources.checkpoint import CheckpointedPipeline

# checkpoint stage holding the validated extract. Manifests written when
# the first stage held footprint-joined rows call it "extracted", so they
# are never resumed into this layout.
VALIDATED_STAGE = "validated"


def finish_items(extracted: DataFrame, cover: DataFrame) -> DataFrame:
    """extract_items output → STAC items with cells, collection match and
    zoom-7 tile id (narrow + broadcast — no fact-side shuffle anywhere).

    The footprint join keeps every row: null-geometry pages and
    footprint-unmatched pages pass as items with a null collection
    (reference tolerates null geometry, collection_update.py:45-48), so
    items+errors always account for every input page.
    """
    items = encode_cells(extracted)
    joined = pip_join(items, cover, how="left")
    tiled = assign_items_to_tiles(joined, z=7)
    return stac_item_json(tiled)


def build_items(pages: DataFrame, cover: DataFrame) -> DataFrame:
    """pages → STAC items (``finish_items`` over ``extract_items``)."""
    return finish_items(extract_items(pages), cover)


def validated_extract(pages: DataFrame) -> DataFrame:
    """extract_items output plus ``failure_reason`` (null = valid)."""
    items = extract_items(pages)
    return items.withColumn("failure_reason", failure_reason(items))


def split_validated(validated: DataFrame, cover: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(items, errors) from the validated extract.

    Items are the valid rows through ``finish_items``. Errors are the
    invalid rows, one per page, with every item column plus
    ``failure_reason``; the columns the finisher adds (cells,
    ``collection_id``, tiles, ``stac_json``) are typed nulls, since an
    invalid page is never joined.
    """
    reason = F.col("failure_reason")
    items = finish_items(validated.filter(reason.isNull()).drop("failure_reason"), cover)
    dead = validated.filter(reason.isNotNull())
    dead_cols = set(dead.columns)
    errors = dead.select(
        *[F.col(f.name) if f.name in dead_cols
          else F.lit(None).cast(f.dataType).alias(f.name)
          for f in items.schema.fields],
        reason,
    )
    return items, errors


def matched_collections(items: DataFrame) -> DataFrame:
    """Collection extents over the footprint-matched items."""
    return collection_extent(collected_items(items))


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    footprints_pdf: pd.DataFrame,
    checkpoint_root: str | None = None,
) -> dict:
    """Full run: items + collection extents + dead-letter routing.

    Returns {"items", "collections", "errors", "validated": DataFrame,
    "metrics": dict}, all lazy. ``validated`` is the frame the other three
    read, pinned so the extract runs once however many outputs are
    written: ``checkpoint_root``'s committed ``validated`` stage when one
    is given, else a persisted frame the caller releases with
    ``out["validated"].unpersist()`` once the outputs are written. The
    persisted pin keeps its lineage, so a lost block is recomputed
    (``localCheckpoint`` would drop it). ``errors`` is the dead-letter
    table (K4): one row per page failing validation, with a
    failure_reason column — the Spark analogue of the reference's
    error-item JSON dumps (populators.py:288-300).
    """
    cover = footprint_cover_df(spark, footprints_pdf)
    if checkpoint_root:
        cp = CheckpointedPipeline(spark, checkpoint_root)
        validated = cp.run_stage(VALIDATED_STAGE, lambda: validated_extract(pages))
        metrics = cp.stage_metrics()
    else:
        validated = validated_extract(pages).persist()
        metrics = {}
    items, errors = split_validated(validated, cover)
    return {
        "items": items,
        "collections": matched_collections(items),
        "errors": errors,
        "validated": validated,
        "metrics": metrics,
    }
