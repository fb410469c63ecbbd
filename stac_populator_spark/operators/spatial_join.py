"""Broadcast point-in-polygon join (J5 in SURVEY.md §2.4).

Strategy (scale-first):
1. **Cover** every footprint polygon with coarse grid cells (driver-side —
   the footprint dimension is small by construction, like the reference's
   collection config /root/reference/STACpopulator/populators.py:156-200).
   Antimeridian-crossing footprints are pre-split into two parts (reference
   split rule stac_utils.py:230-251), so every cover entry's bbox is a
   simple lon-interval box. A cover row also carries its ring's ``edges``,
   which are null when the ring is its bbox (or absent); a cover where
   every row is a box has no ``edges`` column at all.
2. **Broadcast** the (cell → footprint) cover table and equi-join items on
   ``cell_grid`` — no shuffle of the fact side at all; every partition
   probes the same hash table.
3. **Refine** candidates in the join condition, with one JVM predicate the
   cover row decides: the closed-interval bbox test, and for a row with
   ``edges`` also the even-odd ray cast over them (``_in_ring``, the
   operation order of ``functions.pip.points_in_ring``). A box footprint
   skips the ray cast, and a box-only cover leaves it out of the plan,
   so that join stays in whole-stage codegen; no row crosses into Python.

At 100 TB the only data movement is the broadcast of the tiny cover table;
item rows never shuffle. Skewed cells (oceans/megacities) don't matter for
a broadcast join — every partition probes the same hash table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cells import GRID_DEG, grid_cell_col

# one cover row: a grid cell of one footprint part, the part's bbox and
# its ring edges (null for a box ring, so the refine is the bbox test;
# the DataFrame drops the column when every row is a box)
COVER_SCHEMA = T.StructType(
    [
        T.StructField("cell_grid", T.LongType()),
        T.StructField("collection_id", T.StringType()),
        T.StructField("f_lon_min", T.DoubleType()),
        T.StructField("f_lat_min", T.DoubleType()),
        T.StructField("f_lon_max", T.DoubleType()),
        T.StructField("f_lat_max", T.DoubleType()),
        T.StructField(
            "edges",
            T.ArrayType(T.StructType(
                [T.StructField(n, T.DoubleType()) for n in ("x1", "y1", "x2", "y2")]
            )),
        ),
    ]
)


def _cover_box(lon_min: float, lat_min: float, lon_max: float, lat_max: float,
               grid_deg: float) -> list[int]:
    """Grid cells covering a non-wrapping box (closed intervals)."""
    eps = 1e-12
    gx0 = int(np.floor((lon_min + 180.0) / grid_deg))
    gx1 = int(np.floor((min(lon_max, 180.0 - eps) + 180.0) / grid_deg))
    gy0 = int(np.floor((lat_min + 90.0) / grid_deg))
    gy1 = int(np.floor((min(lat_max, 90.0 - eps) + 90.0) / grid_deg))
    return [gx * 1000 + gy for gx in range(gx0, gx1 + 1) for gy in range(gy0, gy1 + 1)]


def _is_box(ring: np.ndarray, lon_min: float, lat_min: float,
            lon_max: float, lat_max: float) -> bool:
    """True when the ring's distinct vertices are exactly the bbox corners."""
    corners = {(lon_min, lat_min), (lon_min, lat_max), (lon_max, lat_max), (lon_max, lat_min)}
    return {(x, y) for x, y in ring.tolist()} == corners


def _edges(ring: np.ndarray) -> list[dict]:
    """Consecutive vertex pairs of the ring, as ``points_in_ring`` reads
    them; none for a ring it treats as empty (fewer than 4 vertices)."""
    if len(ring) < 4:
        return []
    return [
        {"x1": x1, "y1": y1, "x2": x2, "y2": y2}
        for (x1, y1), (x2, y2) in zip(ring[:-1].tolist(), ring[1:].tolist())
    ]


def footprint_cover_pdf(footprints: pd.DataFrame, grid_deg: float = GRID_DEG) -> pd.DataFrame:
    """footprints(collection_id, bbox [lon_min,lat_min,lon_max,lat_max],
    ring) → cover rows (``COVER_SCHEMA``).

    ``edges`` is null when the ring is null or a box over the bbox corners;
    otherwise it holds the ring's edges. A crossing footprint yields two
    parts, [lon_min, 180] and [-180, lon_max]; a general ring's lons are
    unwrapped to [lon_min, lon_max + 360] and used as they are for the
    first part and shifted by -360 for the second."""
    rows = []
    for _, fp in footprints.iterrows():
        lon_min, lat_min, lon_max, lat_max = [float(v) for v in fp["bbox"]]
        crossing = lon_min > lon_max
        ring = fp.get("ring")
        if ring is not None:  # (n, 2) lon/lat vertices
            ring = np.asarray([list(v)[:2] for v in ring], dtype=np.float64).reshape(-1, 2)
        if ring is None or _is_box(ring, lon_min, lat_min, lon_max, lat_max):
            ring = None
        elif crossing:  # unwrap the lons to [lon_min, lon_max + 360]
            ring[:, 0] = np.where(ring[:, 0] < lon_min, ring[:, 0] + 360.0, ring[:, 0])
        if crossing:  # antimeridian split (stac_utils.py:183-186)
            parts = [(lon_min, 180.0, 0.0), (-180.0, lon_max, -360.0)]
        else:
            parts = [(lon_min, lon_max, 0.0)]
        for p_lon_min, p_lon_max, shift in parts:
            edges = None if ring is None else _edges(ring + [shift, 0.0])
            for cell in _cover_box(p_lon_min, lat_min, p_lon_max, lat_max, grid_deg):
                rows.append(
                    {
                        "cell_grid": cell,
                        "collection_id": fp["collection_id"],
                        "f_lon_min": p_lon_min,
                        "f_lat_min": lat_min,
                        "f_lon_max": p_lon_max,
                        "f_lat_max": lat_max,
                        "edges": edges,
                    }
                )
    return pd.DataFrame(rows, columns=COVER_SCHEMA.fieldNames())


def _cover_df(spark: SparkSession, cover: pd.DataFrame, schema: T.StructType) -> DataFrame:
    """The cover rows as a DataFrame, without the ``edges`` column when no
    row has edges: ``pip_join`` then refines with the bbox test alone and
    its join stays in whole-stage codegen (the ray cast's ``aggregate``
    is evaluated outside it)."""
    if cover["edges"].isna().all():
        cover = cover.drop(columns="edges")
        schema = T.StructType([f for f in schema.fields if f.name != "edges"])
    return spark.createDataFrame(cover, schema=schema)


def footprint_cover_df(spark: SparkSession, footprints: pd.DataFrame,
                       grid_deg: float = GRID_DEG) -> DataFrame:
    return _cover_df(spark, footprint_cover_pdf(footprints, grid_deg), COVER_SCHEMA)


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
    schema = T.StructType(COVER_SCHEMA.fields + [T.StructField("res", T.IntegerType())])
    cover["res"] = cover["res"].astype("int32")
    return _cover_df(spark, cover, schema)


def pip_join_multires(
    items: DataFrame,
    cover: DataFrame,
    levels: tuple = MULTI_RES_DEG,
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
        j = pip_join(lvl_items, lvl_cover)
        out = j if out is None else out.unionByName(j)
    return out


def _in_ring(lon: Column, lat: Column, edges: Column) -> Column:
    """Even-odd ray cast of (lon, lat) against ``edges``, true when they are
    null. Each edge's crossing is computed as ``functions.pip.
    points_in_ring`` computes it, so the two agree bit for bit; the CASE
    keeps a horizontal edge from dividing by zero under ANSI mode."""

    def crosses(e: Column) -> Column:
        straddles = (e["y1"] > lat) != (e["y2"] > lat)
        x_cross = e["x1"] + (lat - e["y1"]) * (e["x2"] - e["x1"]) / (e["y2"] - e["y1"])
        return F.when(straddles, lon < x_cross).otherwise(F.lit(False))

    return edges.isNull() | F.aggregate(edges, F.lit(False), lambda acc, e: acc != crosses(e))


def pip_join(
    items: DataFrame,
    cover: DataFrame,
    how: str = "inner",
    *,
    exact: str = "rect",
) -> DataFrame:
    """Broadcast PIP join: items (with lon/lat/cell_grid) × footprint cover.

    One ``BroadcastHashJoin`` on ``cell_grid`` whose condition is the
    refine: the closed-interval bbox test of the cover row, and the
    even-odd ray cast over its ``edges`` when the footprint is not a box.
    A cover without an ``edges`` column (every footprint a box) gets the
    bbox test alone, which whole-stage codegen compiles with the join.
    The output is the item columns plus the matched ``collection_id``.

    ``how='inner'`` (default): items in no footprint drop out, mirroring
    items not posted to any collection. ``how='left'``: every item row is
    preserved — null-geometry items and footprint-unmatched items carry a
    null collection_id (the reference tolerates geometry-less items,
    collection_update.py:45-48). Either way it is one join and zero
    fact-side shuffle.

    ``exact`` selects nothing: the footprint's shape decides the refine.
    It accepts only ``"rect"``, and stays only because the benchmark's
    traced prefixes (``perfbench/run.py``) still pass it; any other value
    raises ``ValueError``.
    """
    if exact != "rect":
        raise ValueError(f"exact={exact!r}: the refine follows the footprint shape; "
                         "only 'rect' is accepted")
    it, cv = items.alias("it"), cover.alias("cv")
    lon, lat = F.col("it.lon"), F.col("it.lat")
    cond = (
        (F.col("it.cell_grid") == F.col("cv.cell_grid"))
        & (lon >= F.col("cv.f_lon_min"))
        & (lon <= F.col("cv.f_lon_max"))
        & (lat >= F.col("cv.f_lat_min"))
        & (lat <= F.col("cv.f_lat_max"))
    )
    if "edges" in cover.columns:
        cond = cond & _in_ring(lon, lat, F.col("cv.edges"))
    j = it.join(F.broadcast(cv), cond, how)
    return j.select("it.*", F.col("cv.collection_id").alias("collection_id"))
