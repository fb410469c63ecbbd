"""kNN vs brute-force oracle; tile assignment vs pandas oracle
(SURVEY.md §5.2 item 4)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stac_populator_spark.datagen import footprints_pdf, tiles_pdf
from stac_populator_spark.functions.geometry import haversine_km
from stac_populator_spark.operators.knn import knn_bruteforce, knn_join
from stac_populator_spark.operators.tiles import assign_items_to_tiles, assign_tiles_to_footprints
from stac_populator_spark.operators.spatial_join import footprint_cover_df


@pytest.fixture(scope="module")
def clustered_points(spark):
    # dense clusters so each point's k=3 neighbors are well inside one
    # k-ring at res 2 (~250 km hexes on the compat grid)
    rng = np.random.default_rng(7)
    centers = [(-73.5, 45.5), (2.3, 48.8), (139.7, 35.7), (151.2, -33.9)]
    rows = []
    i = 0
    for cx, cy in centers:
        for _ in range(40):
            rows.append((f"p{i:04d}", float(cx + rng.normal(0, 0.3)), float(cy + rng.normal(0, 0.3))))
            i += 1
    return spark.createDataFrame(pd.DataFrame(rows, columns=["id", "lon", "lat"])).cache()


def test_knn_matches_bruteforce(spark, clustered_points):
    approx = knn_join(clustered_points, k=3, res=2, radius=1).collect()
    exact = knn_bruteforce(clustered_points, k=3).collect()
    a = {(r["id"], r["rank"]): r["neighbor_id"] for r in approx}
    e = {(r["id"], r["rank"]): r["neighbor_id"] for r in exact}
    assert a == e


def test_knn_salted_identical_results(spark, clustered_points):
    from stac_populator_spark.operators.knn import knn_join_salted

    plain = knn_join(clustered_points, k=3, res=2, radius=1).collect()
    # hot_threshold=10 forces the 40-point cluster cells down the salted path
    salted = knn_join_salted(
        clustered_points, k=3, res=2, radius=1, n_salts=4, hot_threshold=10
    ).collect()
    key = lambda rows: sorted((r["id"], r["rank"], r["neighbor_id"]) for r in rows)
    assert key(salted) == key(plain)


def test_knn_exact_equals_bruteforce_with_isolated_points(spark):
    from stac_populator_spark.operators.knn import knn_join_exact

    # clusters PLUS isolated points whose true neighbors are far outside
    # a radius-1 ring at res 4 (the case the plain ring join gets wrong)
    rng = np.random.default_rng(3)
    rows = []
    i = 0
    for cx, cy in [(-73.5, 45.5), (139.7, 35.7)]:
        for _ in range(25):
            rows.append((f"p{i:04d}", float(cx + rng.normal(0, 0.2)), float(cy + rng.normal(0, 0.2))))
            i += 1
    for lon, lat in [(0.0, 0.0), (5.0, 2.0), (12.0, -3.0), (60.0, 70.0), (58.0, 72.0)]:
        rows.append((f"iso{i:04d}", lon, lat))
        i += 1
    pts = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "lon", "lat"]))

    exact = knn_join_exact(pts, k=3, res=4, radius=1).collect()
    brute = knn_bruteforce(pts, k=3).collect()
    key = lambda rs: sorted((r["id"], r["rank"], r["neighbor_id"]) for r in rs)
    assert key(exact) == key(brute)
    # sanity: the plain ring join would NOT have matched for isolated points
    ring_only = knn_join(pts, k=3, res=4, radius=1).collect()
    assert key(ring_only) != key(brute)


def test_knn_exact_equals_bruteforce_across_antimeridian(spark):
    from stac_populator_spark.operators.knn import knn_join_exact

    # cluster straddling lon=±180: true nearest neighbors cross the seam,
    # which the unwrapped hex grid never sees — exact variant must route
    # these through the brute-force pass (ADVICE r1, knn.py:181)
    rng = np.random.default_rng(11)
    rows = []
    i = 0
    for side in (179.7, -179.7):
        for _ in range(15):
            rows.append(
                (f"am{i:04d}", float(((side + rng.normal(0, 0.15) + 180) % 360) - 180),
                 float(10.0 + rng.normal(0, 0.15)))
            )
            i += 1
    # plus a polar cluster (lon metric degenerates near the pole)
    for _ in range(10):
        rows.append((f"po{i:04d}", float(rng.uniform(-180, 180)), float(89.6 + rng.normal(0, 0.1))))
        i += 1
    # and a normal mid-lon cluster as control
    for _ in range(15):
        rows.append((f"ct{i:04d}", float(2.3 + rng.normal(0, 0.2)), float(48.8 + rng.normal(0, 0.2))))
        i += 1
    pts = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "lon", "lat"]))

    exact = knn_join_exact(pts, k=3, res=4, radius=1).collect()
    brute = knn_bruteforce(pts, k=3).collect()
    key = lambda rs: sorted((r["id"], r["rank"], r["neighbor_id"]) for r in rs)
    assert key(exact) == key(brute)


def test_knn_bruteforce_numpy_oracle(spark, clustered_points):
    pdf = clustered_points.toPandas()
    got = knn_bruteforce(clustered_points, k=1).collect()
    by_id = {r["id"]: r["neighbor_id"] for r in got}
    lon, lat = pdf["lon"].to_numpy(), pdf["lat"].to_numpy()
    for i, row in pdf.iterrows():
        d = haversine_km(row["lon"], row["lat"], lon, lat)
        d[i] = np.inf
        # deterministic tie-break on id mirrors the operator
        best = min(range(len(d)), key=lambda j: (d[j], pdf["id"].iloc[j]))
        assert by_id[row["id"]] == pdf["id"].iloc[best]


def test_tile_point_assignment(spark):
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": ["a", "b", "c", "d"],
                "lon": [-180.0, 179.99, 0.0, -73.6],
                "lat": [85.0, -85.0, 0.0, 45.5],
            }
        )
    )
    out = {r["id"]: (r["tile_x"], r["tile_y"]) for r in assign_items_to_tiles(pts, z=7).collect()}
    assert out["a"] == (0, 0)
    assert out["b"] == (127, 127)
    assert out["c"] == (64, 64)
    # -73.6 → floor((106.4)/2.8125)=37 ; 45.5 → floor((39.5)/1.328125)=29
    assert out["d"] == (37, 29)


def test_tiles_footprints_vs_bruteforce(spark):
    tiles = spark.createDataFrame(tiles_pdf(z=4))
    fps = footprints_pdf()[:80]
    cover = footprint_cover_df(spark, fps)
    parts = (
        cover.select("collection_id", "f_lon_min", "f_lat_min", "f_lon_max", "f_lat_max")
        .distinct()
    )
    got = {
        (r["tile_id"], r["collection_id"])
        for r in assign_tiles_to_footprints(tiles, parts).collect()
    }
    # pandas brute force with antimeridian split
    expected = set()
    tp = tiles_pdf(z=4)
    for _, fp in fps.iterrows():
        lon_min, lat_min, lon_max, lat_max = fp["bbox"]
        spans = [(lon_min, lon_max)] if lon_min <= lon_max else [(lon_min, 180.0), (-180.0, lon_max)]
        for s_lo, s_hi in spans:
            for _, t in tp.iterrows():
                t_lo, t_la, t_hi, t_lb = t["bbox"][0], t["bbox"][1], t["bbox"][2], t["bbox"][3]
                if t_lo <= s_hi and t_hi >= s_lo and t_la <= lat_max and t_lb >= lat_min:
                    expected.add((t["tile_id"], fp["collection_id"]))
    assert got == expected
    assert len(got) > 0


def test_asof_join_crafted(spark):
    import contextlib, io

    import pandas as pd
    from pyspark.sql import functions as F

    from stac_populator_spark.operators.asof import asof_join

    left = spark.createDataFrame(pd.DataFrame({
        "k": [1, 1, 1, 2, 3],
        "lt": [10, 20, 30, 5, 7],
        "lid": ["a", "b", "c", "d", "e"],
    }))
    right = spark.createDataFrame(pd.DataFrame({
        "k": [1, 1, 2], "rt": [10, 25, 6], "pay": ["x", "y", "z"],
    }))
    out = asof_join(left, right, key="k", left_ts="lt", right_ts="rt",
                    right_payload=["pay", "rt"])
    got = {r["lid"]: (r["asof_pay"], r["asof_rt"]) for r in out.collect()}
    assert got["a"] == ("x", 10)      # inclusive: rt == lt matches
    assert got["b"] == ("x", 10)      # latest at-or-before 20
    assert got["c"] == ("y", 25)      # carry advances
    assert got["d"] == (None, None)   # right row is AFTER the left row
    assert got["e"] == (None, None)   # key with no right rows at all
    # plan: each union branch shuffles ONCE into the shared window
    # partitioning (2 Exchange nodes, but every row crosses one shuffle);
    # crucially no range join — no Cartesian/NestedLoop anywhere
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert plan.count(" Exchange (") <= 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan  # it's a window carry, not a join at all


def test_knn_polar_cluster_rings_not_brute(spark):
    # r4 (VERDICT r3 item 5): a dense polar cluster must be resolved by
    # the pole-rotated ring pass with per-point guarantees — not by the
    # brute-force remnant — and match brute force exactly.
    import numpy as np
    import pandas as pd

    from stac_populator_spark.operators.knn import knn_bruteforce, knn_join_exact

    rng = np.random.default_rng(31)
    n_polar, n_world = 400, 4800  # n^2 > brute budget: main loop rings the world set
    polar = pd.DataFrame(
        {
            "id": range(n_polar),
            "lon": rng.uniform(-180, 180, n_polar),
            "lat": 90.0 - rng.uniform(0.0, 4.0, n_polar),  # 86-90°N incl. near-pole
        }
    )
    world = pd.DataFrame(
        {
            "id": range(n_polar, n_polar + n_world),
            "lon": rng.uniform(-180, 180, n_world),
            "lat": rng.uniform(-70, 70, n_world),
        }
    )
    pts = spark.createDataFrame(pd.concat([polar, world], ignore_index=True))

    # brute_budget=0: force the at-scale regime (see knn_polar_stats.py)
    out, stats = knn_join_exact(pts, k=3, res=None, radius=1,
                                return_stats=True, brute_budget=0)
    got = {(r["id"], r["rank"]): (r["neighbor_id"], round(r["dist_km"], 6))
           for r in out.collect()}
    want = {(r["id"], r["rank"]): (r["neighbor_id"], round(r["dist_km"], 6))
            for r in knn_bruteforce(pts, k=3).collect()}
    assert got == want
    # the polar cap went through the rotated ring path, not the brute remnant
    assert stats["polar_cap"] > 0
    # every cap point proven by the rotated ring pass — none fell through
    # to the brute remnant (the remnant's world points are the cost-model
    # break: remnant×total pairs under the 2e7 budget is cheaper as brute)
    assert stats["polar_proven"] == stats["polar_cap"] == n_polar


def test_knn_salted_crosses_antimeridian_like_unsalted(spark):
    # r4 review: knn_join_salted promised identity with knn_join but
    # lacked the antimeridian ghost wrap — cross-seam neighbors were
    # silently replaced by farther ones
    import pandas as pd

    from stac_populator_spark.operators.knn import knn_join, knn_join_salted

    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 2, 3, 4],
                "lon": [179.95, -179.95, 179.80, -179.80],
                "lat": [10.0, 10.0, 10.1, 10.1],
            }
        )
    )
    key = lambda df: sorted((r["id"], r["rank"], r["neighbor_id"]) for r in df.collect())
    a = key(knn_join(pts, k=2, res=2, radius=1))
    b = key(knn_join_salted(pts, k=2, res=2, radius=1, hot_threshold=1))
    assert a == b
    # and the cross-seam pair is actually each other's nearest neighbor
    nn = {(r[0], r[1]): r[2] for r in b}
    assert nn[(1, 1)] == 2 and nn[(2, 1)] == 1


def test_knn_exact_escalates_when_first_pass_proves_nothing(spark):
    # r5 sf10 regression: if the initial res leaves pass 0 with ZERO
    # proofs, the non-convergence exit must NOT fire before the first
    # radius doubling — bailing at pass 0 collapses the whole input into
    # the O(n^2) brute remnant (5.1e9 pairs at sf10). A uniform grid at a
    # deliberately-too-fine res reproduces the 100%-unsat first pass;
    # brute_budget=0 forbids the brute shortcut so the answer can only be
    # right if the escalation engages and converges.
    import itertools

    import pandas as pd

    from stac_populator_spark.operators.knn import knn_bruteforce, knn_join_exact

    pts_pdf = pd.DataFrame(
        [
            {"id": i * 100 + j, "lon": -20.0 + i * 2.0, "lat": -20.0 + j * 2.0}
            for i, j in itertools.product(range(15), range(15))
        ]
    )
    pts = spark.createDataFrame(pts_pdf)
    # res 2 ⇒ edge ~1.07°: the radius-1 guarantee bound (= e) is under the
    # 2° grid spacing, so pass 0 proves nothing — but the radius-2 pass
    # bound (2.5e ≈ 2.7°) covers the ~2° kth distances, so the escalation
    # proves the grid interior. Pre-fix, the cnt > 0.75·prev exit fired at
    # pass 0 and every point fell into the brute remnant.
    got, stats = knn_join_exact(
        pts, k=3, res=2, radius=1, brute_budget=0, return_stats=True
    )
    brute = {(r["id"], r["rank"]): r["neighbor_id"] for r in knn_bruteforce(pts, k=3).collect()}
    got_m = {(r["id"], r["rank"]): r["neighbor_id"] for r in got.collect()}
    assert got_m == brute
    # the escalation must have proven the bulk of the grid — a brute
    # remnant of ~everything is the pre-fix collapse this test pins
    assert stats["brute"] < len(pts_pdf) / 2


def test_session_uses_unix_domain_worker_sockets(spark):
    # r5 sf10 regression: the duplex python-worker socket over loopback
    # TCP can livelock in RTO/zero-window backoff under bidirectional
    # Arrow volume; get_spark must default the channel to unix sockets
    assert spark.conf.get("spark.python.unix.domain.socket.enabled") == "true"


def test_haversine_col_matches_numpy_reference(spark):
    # the ranking distance is a JVM expression; it must agree with the
    # numpy reference to a few ULP on random pairs and on the edge cases
    # where a clip or the float order could go wrong, and keep NaN
    from stac_populator_spark.operators.knn import haversine_col

    rng = np.random.default_rng(2026)
    n = 2000
    pairs = [tuple(map(float, r)) for r in np.column_stack([
        rng.uniform(-180, 180, n), rng.uniform(-90, 90, n),
        rng.uniform(-180, 180, n), rng.uniform(-90, 90, n),
    ])]
    edges = [
        (10.0, 20.0, 10.0, 20.0),  # identical points: 0.0
        (-73.5, 45.5, -73.5, 45.5),
        (0.0, 0.0, 180.0, 0.0),  # antipodal
        (-112.47, 51.34, 67.53, -51.34),  # antipodal, numpy's a rounds above 1
        (-115.24, 8.84, 64.76, -8.84),
        (0.0, 90.0, 0.0, -90.0),  # pole to pole
        (45.0, 90.0, -135.0, 90.0),  # the north pole twice
        (0.0, -90.0, 10.0, -89.0),
        (179.9, 10.0, -179.9, 10.0),  # across the ±180 seam
        (180.0, 0.0, -180.0, 0.0),
        (-180.0, 45.0, 179.5, 45.5),
    ]
    pairs += edges
    df = spark.createDataFrame(
        pd.DataFrame(pairs + [(float("nan"), 10.0, 0.0, 0.0)],
                     columns=["a_lon", "a_lat", "b_lon", "b_lat"])
    ).withColumn("i", F.monotonically_increasing_id())
    got = df.select("i", haversine_col("a_lon", "a_lat", "b_lon", "b_lat").alias("d")) \
        .toPandas().sort_values("i")["d"].to_numpy()
    p = np.array(pairs)
    want = haversine_km(p[:, 0], p[:, 1], p[:, 2], p[:, 3])
    assert np.all(np.abs(got[:-1] - want) <= 1e-12 * np.abs(want))
    assert got[len(pairs) - len(edges)] == 0.0  # identical points
    assert np.isnan(got[-1])  # NaN in, NaN out — not a clipped 20,015 km


def test_knn_bruteforce_matches_duckdb_oracle(spark, clustered_points):
    # the engine's ranking against the oracle's haversine SQL, run by
    # DuckDB: same neighbors, same ranks, same distances at the oracle's
    # rounding
    import duckdb

    import __spark_entry__ as E

    con = duckdb.connect()
    con.register("pts", clustered_points.toPandas())
    want = con.execute(f"""
        WITH pairs AS (
          SELECT a.id AS id, b.id AS neighbor_id, {E._HAVERSINE_KM_SQL} AS d_km
          FROM pts a JOIN pts b ON a.id <> b.id
        )
        SELECT id, neighbor_id, rank, ROUND(d_km, 3) FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY id ORDER BY d_km ASC, neighbor_id ASC) AS rank
          FROM pairs
        ) WHERE rank <= 3
    """).fetchall()
    got = knn_bruteforce(clustered_points, k=3).select(
        "id", "neighbor_id", "rank", F.round("dist_km", 3)
    ).collect()
    assert len(want) == 3 * clustered_points.count()
    assert sorted(map(tuple, got)) == sorted(want)
