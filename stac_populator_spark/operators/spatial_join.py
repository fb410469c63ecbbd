"""Broadcast point-in-polygon join (J5 in SURVEY.md §2.4).

Strategy (scale-first):
1. **Cover** every footprint polygon with coarse grid cells (driver-side —
   the footprint dimension is small by construction, like the reference's
   collection config /root/reference/STACpopulator/populators.py:156-200).
   Antimeridian-crossing footprints are pre-split into two rectangles
   (reference split rule stac_utils.py:230-251), so every cover entry is a
   simple lon-interval box.
2. **Broadcast** the (cell → footprint) cover table and equi-join items on
   ``cell_grid`` — no shuffle of the fact side at all; the big table
   streams through a BroadcastHashJoin inside whole-stage codegen.
3. **Refine** candidates:
   - rectangle footprints: pure JVM column predicate (between) — the fast
     path, stays in codegen;
   - general rings: vectorized numpy ray-casting pandas UDF
     (functions.pip), batched via Arrow.

At 100 TB the only data movement is the broadcast of the tiny cover table;
item rows never shuffle. Skewed cells (oceans/megacities) don't matter for
a broadcast join — every partition probes the same hash table.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.pip import points_in_ring
from .cells import GRID_DEG, grid_cell_col


def _cover_box(lon_min: float, lat_min: float, lon_max: float, lat_max: float,
               grid_deg: float) -> list[int]:
    """Grid cells covering a non-wrapping box (closed intervals)."""
    eps = 1e-12
    gx0 = int(np.floor((lon_min + 180.0) / grid_deg))
    gx1 = int(np.floor((min(lon_max, 180.0 - eps) + 180.0) / grid_deg))
    gy0 = int(np.floor((lat_min + 90.0) / grid_deg))
    gy1 = int(np.floor((min(lat_max, 90.0 - eps) + 90.0) / grid_deg))
    return [gx * 1000 + gy for gx in range(gx0, gx1 + 1) for gy in range(gy0, gy1 + 1)]


def footprint_cover_pdf(footprints: pd.DataFrame, grid_deg: float = GRID_DEG) -> pd.DataFrame:
    """footprints(collection_id, bbox [lon_min,lat_min,lon_max,lat_max],
    ring) → cover rows (cell_grid, collection_id, part lon/lat bounds,
    ring_json). Crossing footprints yield two parts (split at ±180)."""
    rows = []
    for _, fp in footprints.iterrows():
        lon_min, lat_min, lon_max, lat_max = [float(v) for v in fp["bbox"]]
        crossing = lon_min > lon_max
        if crossing:  # antimeridian split (stac_utils.py:183-186)
            parts = [(lon_min, 180.0), (-180.0, lon_max)]
        else:
            parts = [(lon_min, lon_max)]
        for p_lon_min, p_lon_max in parts:
            if crossing or fp.get("ring") is None:
                # per-part rectangle ring (reference ring vertex order)
                part_ring = [
                    [p_lon_min, lat_min], [p_lon_min, lat_max],
                    [p_lon_max, lat_max], [p_lon_max, lat_min],
                    [p_lon_min, lat_min],
                ]
            else:
                part_ring = list(map(list, fp["ring"]))
            ring_json = json.dumps(part_ring, separators=(",", ":"))
            for cell in _cover_box(p_lon_min, lat_min, p_lon_max, lat_max, grid_deg):
                rows.append(
                    {
                        "cell_grid": cell,
                        "collection_id": fp["collection_id"],
                        "f_lon_min": p_lon_min,
                        "f_lat_min": lat_min,
                        "f_lon_max": p_lon_max,
                        "f_lat_max": lat_max,
                        "ring_json": ring_json,
                    }
                )
    return pd.DataFrame(
        rows,
        columns=["cell_grid", "collection_id", "f_lon_min", "f_lat_min",
                 "f_lon_max", "f_lat_max", "ring_json"],
    )


def footprint_cover_df(spark: SparkSession, footprints: pd.DataFrame,
                       grid_deg: float = GRID_DEG) -> DataFrame:
    schema = T.StructType(
        [
            T.StructField("cell_grid", T.LongType()),
            T.StructField("collection_id", T.StringType()),
            T.StructField("f_lon_min", T.DoubleType()),
            T.StructField("f_lat_min", T.DoubleType()),
            T.StructField("f_lon_max", T.DoubleType()),
            T.StructField("f_lat_max", T.DoubleType()),
            T.StructField("ring_json", T.StringType()),
        ]
    )
    return spark.createDataFrame(footprint_cover_pdf(footprints, grid_deg), schema=schema)


@pandas_udf(T.BooleanType())
def pip_refine_udf(lon: pd.Series, lat: pd.Series, ring_json: pd.Series) -> pd.Series:
    """Exact even-odd PIP refinement for general rings. Parses each distinct
    ring once per Arrow batch, then tests all its points vectorized."""
    out = np.zeros(len(lon), dtype=bool)
    lons = lon.to_numpy(dtype=np.float64)
    lats = lat.to_numpy(dtype=np.float64)
    for rj, idx in ring_json.groupby(ring_json, dropna=True).groups.items():
        ring = np.asarray(json.loads(rj), dtype=np.float64)
        ii = np.asarray(idx)
        out[ii] = points_in_ring(lons[ii], lats[ii], ring)
    return pd.Series(out)


# multi-resolution join grids: big footprints cover few coarse cells, small
# footprints few fine cells — the cover table stays O(#footprints) rows even
# when footprint sizes span orders of magnitude (single-res covers explode
# as (width/grid)² for the biggest footprints).
MULTI_RES_DEG = (16.0, 4.0, 1.0)


def multires_cover_df(spark: SparkSession, footprints: pd.DataFrame,
                      levels: tuple = MULTI_RES_DEG) -> DataFrame:
    """Cover each footprint at the coarsest level with ≤ ~16 cells. Adds a
    ``res`` column (index into levels)."""
    parts = []
    fps = footprints.copy()
    for ri, deg in enumerate(levels):
        if not len(fps):
            break
        is_last = ri == len(levels) - 1
        if is_last:
            stay, rest = fps, fps.iloc[0:0]
        else:
            widths = fps["bbox"].map(
                lambda b: (b[2] - b[0]) if b[2] >= b[0] else (360.0 - b[0] + b[2])
            )
            heights = fps["bbox"].map(lambda b: b[3] - b[1])
            next_deg = levels[ri + 1]
            # footprints bigger than the NEXT (finer) step stay at this
            # coarse level (cells ≤ ~(size/deg + 2)²); smaller ones fall
            # through so fine footprints never bloat coarse-cell joins
            big = (widths > next_deg) | (heights > next_deg)
            stay, rest = fps[big], fps[~big]
        if len(stay):
            c = footprint_cover_pdf(stay, grid_deg=deg)
            c["res"] = ri
            parts.append(c)
        fps = rest
    if parts:
        cover = pd.concat(parts, ignore_index=True)
    else:
        # empty footprints: the fallback cover lacks 'res' — add it so the
        # astype below returns an empty typed frame instead of KeyError
        cover = footprint_cover_pdf(footprints)
        cover["res"] = pd.Series([], dtype="int32")
    schema = T.StructType(
        [
            T.StructField("cell_grid", T.LongType()),
            T.StructField("collection_id", T.StringType()),
            T.StructField("f_lon_min", T.DoubleType()),
            T.StructField("f_lat_min", T.DoubleType()),
            T.StructField("f_lon_max", T.DoubleType()),
            T.StructField("f_lat_max", T.DoubleType()),
            T.StructField("ring_json", T.StringType()),
            T.StructField("res", T.IntegerType()),
        ]
    )
    cover["res"] = cover["res"].astype("int32")
    return spark.createDataFrame(cover, schema=schema)


def pip_join_multires(
    items: DataFrame,
    cover: DataFrame,
    levels: tuple = MULTI_RES_DEG,
    exact: str = "rect",
) -> DataFrame:
    """Broadcast PIP join against a multi-resolution cover: the fact side
    computes one grid cell per level (``grid_cell_col`` at that level's
    resolution, a JVM expression) and unions the per-level broadcast
    joins — still zero fact-side shuffle; candidate volume stays bounded
    for footprints of any size."""
    out = None
    for ri, deg in enumerate(levels):
        lvl_cover = cover.filter(F.col("res") == ri).drop("res")
        lvl_items = items.withColumn("cell_grid", grid_cell_col("lon", "lat", deg))
        j = pip_join(lvl_items, lvl_cover, exact=exact)
        out = j if out is None else out.unionByName(j)
    return out


def pip_join(
    items: DataFrame,
    cover: DataFrame,
    exact: str = "rect",
    how: str = "inner",
) -> DataFrame:
    """Broadcast PIP join: items (with lon/lat/cell_grid) × footprint cover.

    ``exact='rect'`` refines with JVM between-predicates (correct for the
    bbox-ring footprints this engine generates — same shapes the reference
    produces, stac_utils.py:197-228). ``exact='pip'`` refines with the
    general ray-casting UDF. ``exact='none'`` returns raw candidates.

    ``how='inner'`` (default): items in no footprint drop out, mirroring
    items not posted to any collection. ``how='left'``: every item row is
    preserved — null-geometry items and footprint-unmatched items carry a
    null collection_id (the reference tolerates geometry-less items,
    collection_update.py:45-48). The rect/none left path folds refinement
    into the join condition so it stays ONE BroadcastHashJoin(LeftOuter) —
    zero fact-side shuffle. The pip left path needs a left_anti recovery
    pass (a Python UDF can't sit in an outer-join condition); that
    shuffles matched ids once and is documented as the slower variant.
    """
    if how == "left":
        if exact == "pip":
            matched = pip_join(items, cover, exact="pip", how="inner")
            unmatched = items.join(
                matched.select("id").distinct(), "id", "left_anti"
            ).withColumn("collection_id", F.lit(None).cast("string"))
            return matched.unionByName(unmatched)
        it, cv = items.alias("it"), cover.alias("cv")
        cond = F.col("it.cell_grid") == F.col("cv.cell_grid")
        if exact == "rect":
            cond = (
                cond
                & (F.col("it.lon") >= F.col("cv.f_lon_min"))
                & (F.col("it.lon") <= F.col("cv.f_lon_max"))
                & (F.col("it.lat") >= F.col("cv.f_lat_min"))
                & (F.col("it.lat") <= F.col("cv.f_lat_max"))
            )
        j = it.join(F.broadcast(cv), cond, "left")
        return j.select("it.*", F.col("cv.collection_id").alias("collection_id"))
    j = items.join(F.broadcast(cover), "cell_grid")
    if exact == "rect":
        j = j.filter(
            (F.col("lon") >= F.col("f_lon_min"))
            & (F.col("lon") <= F.col("f_lon_max"))
            & (F.col("lat") >= F.col("f_lat_min"))
            & (F.col("lat") <= F.col("f_lat_max"))
        )
    elif exact == "pip":
        j = j.filter(pip_refine_udf(F.col("lon"), F.col("lat"), F.col("ring_json")))
    return j.drop("f_lon_min", "f_lat_min", "f_lon_max", "f_lat_max", "ring_json")
