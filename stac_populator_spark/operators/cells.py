"""Spatial cell-encoding stage: S2 level-12 + icosahedral hex res-7 +
coarse join grid (north_rule indexing requirement).

Three index columns per item:
- ``cell_s2``   — S2 level-12 id (functions.s2), the canonical spatial key
- ``cell_hex``  — icosahedral gnomonic aperture-7 hex res-7 id
  (functions.icosa — the H3-class index: seam-free at ±180, no polar
  degeneracy, near-equal-area). The kNN operator keeps its own
  equirectangular hexgrid (functions.hexgrid) because its exact-variant
  distance guarantee is derived on that plane.
- ``cell_grid`` — coarse fixed grid (GRID_DEG°), the candidate key for the
  broadcast PIP join (footprint covers are tiny at this granularity)

All three are pure functions of (lon, lat); the stage is narrow (no
shuffle). S2 and hex share one Arrow pass through a pandas UDF; the grid
id is plain arithmetic the DuckDB oracle states in SQL, so it is a JVM
column expression (:func:`grid_cell_col`) that never crosses into Python.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.icosa import cell_hex
from ..functions.s2 import s2_cell_id

GRID_DEG = 4.0
S2_LEVEL = 12
HEX_RES = 7


def grid_cell_col(lon: Column | str, lat: Column | str, deg: float = GRID_DEG) -> Column:
    """Coarse grid id ``gx * 1000 + gy``; -1 when lon or lat is null, NaN
    or ±inf. The single point→grid formula of the engine (the footprint
    side, ``spatial_join._cover_box``, covers boxes, not points).

    gx = floor((lon + 180) / deg) clamped to [0, ceil(360/deg) - 1], gy =
    floor((lat + 90) / deg) clamped to [0, ceil(180/deg) - 1]: lon=180 folds
    into the last column and lat=90 into the last row, matching
    ``_cover_box``'s clamp. The quotient is clamped before the floor (equal
    for integral bounds), so no input can overflow the long cast."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    lat = F.col(lat) if isinstance(lat, str) else lat

    def finite(v: Column) -> Column:
        return v.isNotNull() & ~F.isnan(v) & (F.abs(v) != F.lit(math.inf))

    def axis(v: Column, offset: float, span: float) -> Column:
        top = float(math.ceil(span / deg) - 1)
        return F.floor(F.least(F.greatest((v + offset) / deg, F.lit(0.0)), F.lit(top)))

    cell = axis(lon, 180.0, 360.0) * 1000 + axis(lat, 90.0, 180.0)
    return F.when(finite(lon) & finite(lat), cell).otherwise(F.lit(-1))


_CELLS_STRUCT = T.StructType(
    [
        T.StructField("s2", T.LongType()),
        T.StructField("hex", T.LongType()),
    ]
)


@pandas_udf(_CELLS_STRUCT)
def all_cells_udf(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
    """S2 and hex in ONE Arrow round-trip — (lon, lat) cross the
    JVM↔Python bridge once instead of twice."""
    lo, la = lon.to_numpy(), lat.to_numpy()
    return pd.DataFrame(
        {
            "s2": s2_cell_id(lo, la, S2_LEVEL),
            # cell_hex dispatches icosa (default) vs real Uber-H3 ids when
            # the environment opted in (SPARK_GRAFT_HEX_BACKEND) and the
            # wheel exists
            "hex": cell_hex(lo, la, HEX_RES),
        }
    )


def encode_cells(items: DataFrame, lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Append cell_s2 / cell_hex / cell_grid columns (null geometry → null)."""
    lon, lat = F.col(lon_col), F.col(lat_col)
    has = lon.isNotNull() & lat.isNotNull()
    return (
        items.withColumn("_cells", all_cells_udf(lon, lat))
        .withColumn("cell_s2", F.when(has, F.col("_cells.s2")))
        .withColumn("cell_hex", F.when(has, F.col("_cells.hex")))
        .withColumn("cell_grid", F.when(has, grid_cell_col(lon, lat)))
        .drop("_cells")
    )
