"""The flagship oracle recomputes cell_s2/cell_hex in DuckDB SQL
(__spark_entry__._flagship_oracle_sql). These tests pin that the SQL
encoders stay BIT-EXACT vs the numpy encoders on random points + edge
cases — so a refactor of functions/s2.py or functions/icosa.py that
changes ids (or a DuckDB float-semantics change) fails here, not as an
opaque hash mismatch in the driver gate.

The S2/icosa cases need no Spark session (numpy vs DuckDB directly); the
cell_grid cases run ``encode_cells``/``grid_cell_col`` on Spark against
the oracle's DuckDB grid expression.
"""

import re

import duckdb
import numpy as np
import pytest

import __spark_entry__ as E
from stac_populator_spark.functions.icosa import icosa_cell
from stac_populator_spark.functions.s2 import s2_cell_id


def _cells_via_sql(lon: np.ndarray, lat: np.ndarray):
    """Run the flagship oracle's cell CTEs over raw points by substituting
    a synthetic documents table whose derived (lon, lat) equal the inputs.

    The oracle derives lon/lat from doc_id arithmetic, so instead we
    extract the cell pipeline: reuse the oracle SQL verbatim but override
    the ``base`` CTE with direct lon/lat columns.
    """
    sql = E._flagship_oracle_sql()
    # replace the base CTE body: keep everything from the s2xyz CTE on,
    # and provide base(doc_id, lon, lat, has_geo) straight from pts
    m = re.search(r"\),\s*-- ==== S2 level-12", sql)
    assert m, "oracle SQL structure changed; update this test's splice"
    head = """
        WITH RECURSIVE base AS (
          SELECT rid AS doc_id, lon, lat, TRUE AS has_geo FROM pts
        """
    tail = sql[m.start() :]
    # cut the final SELECT (it builds stac_json); select just the cells
    tail = tail[: tail.index("joined AS (")]
    q = (
        head
        + tail
        + """
        sel AS (SELECT b.doc_id, s.cell_s2, h.cell_hex
                FROM base b
                LEFT JOIN s2cell s ON b.doc_id = s.doc_id
                LEFT JOIN hcell h ON b.doc_id = h.doc_id)
        SELECT * FROM sel ORDER BY doc_id
        """
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pts AS SELECT * FROM (SELECT unnest(?) AS lon, unnest(?) AS lat, unnest(?) AS rid)",
        [lon.tolist(), lat.tolist(), list(range(len(lon)))],
    )
    df = con.execute(q).df()
    return df["cell_s2"].to_numpy(), df["cell_hex"].to_numpy()


@pytest.fixture(scope="module")
def points():
    rng = np.random.default_rng(17)
    lon = np.concatenate(
        [rng.uniform(-180, 180, 8000), [-180.0, 180.0, 0.0, 179.99, -179.99, 45.0]]
    )
    lat = np.concatenate(
        [rng.uniform(-90, 90, 8000), [90.0, -90.0, 0.0, 45.0, -45.0, 0.0]]
    )
    return lon, lat


def test_s2_sql_matches_numpy(points):
    lon, lat = points
    s2_sql, _ = _cells_via_sql(lon, lat)
    want = s2_cell_id(lon, lat, 12).astype(np.int64)
    assert (s2_sql.astype(np.int64) == want).all()


def test_icosa_sql_matches_numpy(points):
    lon, lat = points
    _, hex_sql = _cells_via_sql(lon, lat)
    want = icosa_cell(lon, lat, 7).astype(np.int64)
    assert (hex_sql.astype(np.int64) == want).all()


def _oracle_grid_expr() -> str:
    """The oracle's DuckDB cell_grid expression, cut out of the
    doc_points_tiles query so the test reads the SQL the gate runs."""
    sql = E.oracle_sql()["doc_points_tiles"]
    m = re.search(r"AS tile_y,(.*)AS cell_grid", sql, re.S)
    assert m, "doc_points_tiles oracle SQL changed; update this test's splice"
    return m.group(1)


def _grid_edge_points():
    rng = np.random.default_rng(23)
    lon_b = np.arange(-180.0, 180.0 + 4.0, 4.0)  # every column boundary
    lat_b = np.arange(-90.0, 90.0 + 4.0, 4.0)  # every row boundary
    lon_edges = np.concatenate([lon_b, np.nextafter(lon_b, -np.inf), np.nextafter(lon_b, np.inf)])
    lat_edges = np.concatenate([lat_b, np.nextafter(lat_b, -np.inf), np.nextafter(lat_b, np.inf)])
    out_lon = np.array([180.5, 200.0, 540.0, 1e6, -180.5, -200.0, -540.0, -1e6])
    out_lat = np.array([90.5, 95.0, 1e6, -90.5, -95.0, -1e6])
    lon = np.concatenate([
        rng.uniform(-180, 180, 4000),
        lon_edges, rng.uniform(-180, 180, lat_edges.size),
        out_lon, np.zeros(out_lat.size), out_lon[:out_lat.size],
    ])
    lat = np.concatenate([
        rng.uniform(-90, 90, 4000),
        rng.uniform(-90, 90, lon_edges.size), lat_edges,
        np.zeros(out_lon.size), out_lat, out_lat,
    ])
    return lon, lat


def test_cell_grid_matches_oracle_sql(spark):
    from stac_populator_spark.operators.cells import encode_cells

    lon, lat = _grid_edge_points()
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pts AS SELECT * FROM (SELECT unnest(?) AS lon, unnest(?) AS lat, unnest(?) AS rid)",
        [lon.tolist(), lat.tolist(), list(range(len(lon)))],
    )
    want = con.execute(f"SELECT {_oracle_grid_expr()} FROM pts ORDER BY rid").fetchnumpy()
    want = next(iter(want.values())).astype(np.int64)
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
        "rid long, lon double, lat double",
    )
    got = np.array(
        [r[0] for r in encode_cells(pts).orderBy("rid").select("cell_grid").collect()],
        dtype=np.int64,
    )
    assert (got == want).all(), list(zip(lon[got != want], lat[got != want]))


def test_cell_grid_of_missing_or_non_finite_points(spark):
    from pyspark.sql import functions as F

    from stac_populator_spark.operators.cells import encode_cells, grid_cell_col

    nan, inf = float("nan"), float("inf")
    rows = [(0, None, 1.0), (1, 1.0, None), (2, nan, 1.0), (3, 1.0, nan),
            (4, inf, 1.0), (5, 1.0, -inf), (6, 1.0, 1.0)]
    pts = spark.createDataFrame(rows, "rid long, lon double, lat double")
    got = {
        r["rid"]: r["g"]
        for r in pts.select("rid", grid_cell_col("lon", "lat").alias("g")).collect()
    }
    assert got == {0: -1, 1: -1, 2: -1, 3: -1, 4: -1, 5: -1, 6: 45 * 1000 + 22}
    # encode_cells keeps null geometry null
    enc = encode_cells(pts.filter(F.col("rid") <= 1)).select("cell_grid").collect()
    assert [r[0] for r in enc] == [None, None]
