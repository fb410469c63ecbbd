"""kNN item-to-item matching (J6 in SURVEY.md §2.4).

Scale design: a brute-force kNN is O(n²) shuffle — impossible at 10^12
rows. Instead we bucket items by hex cell at a chosen resolution and
self-join each item against items in its cell's k-ring neighborhood:

    left:  (id, lon, lat, cell)           — exploded to its k-ring cells
    right: (id, lon, lat, cell)           — partitioned by cell
    join on cell  →  candidate pairs  →  haversine distance
    →  Window.partitionBy(left_id).orderBy(dist, right_id) rank ≤ k

The join key (hex cell) is data-skewed (cities vs oceans) —
`knn_join_salted` salts the hot cells and AQE skew-join handles the rest. The k-ring radius
bounds the search; items whose true k-th neighbor lies beyond the ring get
their ring-local top-k (documented approximation; `knn_bruteforce` is the
exact oracle used by tests and small data).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.geometry import haversine_km
from ..functions.hexgrid import hex_cell, hex_kring


@pandas_udf(T.DoubleType())
def haversine_udf(lon1: pd.Series, lat1: pd.Series, lon2: pd.Series, lat2: pd.Series) -> pd.Series:
    return pd.Series(haversine_km(lon1.to_numpy(), lat1.to_numpy(), lon2.to_numpy(), lat2.to_numpy()))


def _kring_schema():
    return T.ArrayType(T.LongType())


def kring_udf(radius: int):
    @pandas_udf(_kring_schema())
    def _udf(cell: pd.Series) -> pd.Series:
        cells = cell.to_numpy(dtype=np.int64)
        rings = hex_kring(cells, radius)
        return pd.Series(list(rings))

    return _udf


def hex_cell_at_res(res: int):
    @pandas_udf(T.LongType())
    def _udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(hex_cell(lon.to_numpy(), lat.to_numpy(), res))

    return _udf


def choose_res(n_points: int, k: int = 3, radius: int = 1,
               lon_span: float = 360.0, lat_span: float = 170.0) -> int:
    """Density-adaptive bucket resolution: pick the res whose expected
    ring-neighborhood candidate count ≈ max(4k, 16) for the given point
    density. Any FIXED res is superlinear in disguise — per-cell
    population grows with density, so candidate pairs grow O(n²/cells);
    adapting keeps candidate volume O(n·k) from 10³ to 10¹² points. One
    driver-side count() is the only cost (metadata-fast on
    parquet/Iceberg).

    The candidate-count objective sizes e BELOW the expected kth distance
    r_k = sqrt(k/(π·density)) — the FIRST pass is not guaranteed to prove
    anything (whether it does depends on where the density lands on the
    integer-res grid; at sf10 it proved 0 of 71,429 points). That is by
    design: the radius-doubling escalation grows the proof bound
    geometrically at ring-local cost, so the cheap-first-pass +
    escalate shape beats a coarse proof-guaranteeing first pass (a
    proof-targeted e = 1.25·r_k variant was measured 10× slower at
    sf0.1: bigger cells mean every pass carries ~π·(1.25)²·k/0.35
    candidates per point). What is NOT negotiable is that the
    escalation must actually run — see the non-convergence exit note in
    :func:`knn_join_exact` (the r5 sf10 fix)."""
    import math

    ring_cells = 3 * radius * radius + 3 * radius + 1
    target_per_cell = max(4.0 * k, 16.0) / ring_cells
    hex_area = 3.0 * (3.0 ** 0.5) / 2.0  # × e²
    best, best_err = 7, None
    for res in range(0, 16):
        e = edge_deg_at(res)
        cells = (lon_span * lat_span) / (hex_area * e * e)
        per_cell = max(n_points, 1) / cells
        err = abs(math.log(max(per_cell, 1e-12) / target_per_cell))
        if best_err is None or err < best_err:
            best, best_err = res, err
    return best


def edge_deg_at(res: int) -> float:
    from ..functions.hexgrid import edge_deg

    return edge_deg(res)


def _ghost_wrap(right: DataFrame, margin_deg: float) -> DataFrame:
    """Antimeridian ghosts: points within ``margin_deg`` of ±180 get a
    duplicate shifted by ∓360 on an unwrapped lon axis, so a ring search
    near the seam sees its cross-seam neighbors as ordinary candidates
    (haversine is 360°-periodic in Δλ, so distances stay exact). Ghost
    volume is O(margin/360 · n) — vanishing at fine (dense) resolutions."""
    ghosts = right.filter(F.abs(F.col("r_lon")) >= 180.0 - margin_deg).withColumn(
        "r_lon_cell",
        F.when(F.col("r_lon") > 0, F.col("r_lon") - 360.0).otherwise(F.col("r_lon") + 360.0),
    )
    return right.withColumn("r_lon_cell", F.col("r_lon")).unionByName(ghosts)


def _ring_topk(left_pts: DataFrame, right_pts: DataFrame, k: int, res: int,
               radius: int) -> DataFrame:
    """Ring-bucketed top-k of ``right`` candidates per ``left`` point:
    left ids explode their k-ring, right (with antimeridian ghosts) keys
    by home cell; ghost+original duplicates collapse before ranking."""
    e = edge_deg_at(res)
    cell = hex_cell_at_res(res)
    left = left_pts.select(
        F.col("id").alias("l_id"),
        F.col("lon").alias("l_lon"),
        F.col("lat").alias("l_lat"),
        F.explode(kring_udf(radius)(cell(F.col("lon"), F.col("lat")))).alias("cell"),
    )
    right = right_pts.select(
        F.col("id").alias("r_id"),
        F.col("lon").alias("r_lon"),
        F.col("lat").alias("r_lat"),
    )
    margin = 2.0 * e * (radius + 1)
    right = _ghost_wrap(right, margin_deg=margin).withColumn(
        "cell", cell(F.col("r_lon_cell"), F.col("r_lat"))
    )
    pairs = left.join(right, "cell").filter(F.col("l_id") != F.col("r_id"))
    # a ghost AND its original can both land in one ring only when the
    # ring's lon span approaches 360° − margin; below that the dedup
    # groupBy (a second pair-grain shuffle — the most expensive grain in
    # the query) is provably unnecessary and skipped
    ring_lon_span = 4.0 * e * (radius + 1)
    if ring_lon_span + margin >= 360.0:
        pairs = (
            pairs.groupBy("l_id", "l_lon", "l_lat", "r_id", "r_lon", "r_lat")
            .agg(F.lit(1).alias("_one"))
        )
    pairs = pairs.withColumn("dist_km", haversine_udf("l_lon", "l_lat", "r_lon", "r_lat"))
    w = Window.partitionBy("l_id").orderBy(F.col("dist_km").asc(), F.col("r_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("l_id").alias("id"), F.col("r_id").alias("neighbor_id"), "dist_km", "rank")
    )


def _polar_rotate(lon_col: F.Column, lat_col: F.Column, south: bool):
    """Rotate the sphere so the pole sits at (0°, 0°): the polar cap maps
    to a low-latitude disk where the equirect hex-ring guarantee is tight
    (the cos(lat) metric degeneracy vanishes). Pure trig column
    expressions; haversine distance is rotation-invariant, so distances
    computed on ORIGINAL coordinates remain the proof quantity. South cap
    reflects lat first (reflection also preserves distances)."""
    sign = -1.0 if south else 1.0
    lam = F.radians(lon_col)
    phi = F.radians(lat_col * F.lit(sign))
    rlat = F.degrees(F.asin(-F.cos(phi) * F.cos(lam)))
    rlon = F.degrees(F.atan2(F.cos(phi) * F.sin(lam), F.sin(phi)))
    return rlon, rlat


def _polar_ring_topk(left_pts: DataFrame, right_pts: DataFrame, k: int, res: int,
                     radius: int, south: bool) -> DataFrame:
    """:func:`_ring_topk` in pole-rotated coordinates: cells/rings key on
    the rotated (lon, lat); ``dist_km`` stays haversine on the ORIGINAL
    coordinates (bit-identical to every other path). No antimeridian
    ghosts needed — the cap maps to a disk around (0, 0), nowhere near
    ±180° in rotated space."""
    cell = hex_cell_at_res(res)
    rlon_l, rlat_l = _polar_rotate(F.col("lon"), F.col("lat"), south)
    left = left_pts.select(
        F.col("id").alias("l_id"),
        F.col("lon").alias("l_lon"),
        F.col("lat").alias("l_lat"),
        rlat_l.alias("l_rlat"),
        F.explode(kring_udf(radius)(cell(rlon_l, rlat_l))).alias("cell"),
    )
    rlon_r, rlat_r = _polar_rotate(F.col("lon"), F.col("lat"), south)
    right = right_pts.select(
        F.col("id").alias("r_id"),
        F.col("lon").alias("r_lon"),
        F.col("lat").alias("r_lat"),
        cell(rlon_r, rlat_r).alias("cell"),
    )
    pairs = left.join(right, "cell").filter(F.col("l_id") != F.col("r_id"))
    pairs = pairs.withColumn("dist_km", haversine_udf("l_lon", "l_lat", "r_lon", "r_lat"))
    w = Window.partitionBy("l_id").orderBy(F.col("dist_km").asc(), F.col("r_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("l_id").alias("id"), F.col("r_id").alias("neighbor_id"),
            "dist_km", "rank", F.col("l_rlat").alias("_rlat"),
        )
    )


def knn_join(
    items: DataFrame,
    k: int = 3,
    res: int | None = 4,
    radius: int = 1,
    id_col: str = "id",
) -> DataFrame:
    """Cell-bucketed approximate kNN. Returns (id, neighbor_id, dist_km,
    rank). ``res`` picks the bucket size (res 4 hexes ≈ 35 km edge on the
    compat grid); ``res=None`` adapts it to the measured point density
    (:func:`choose_res`) — the scale-safe default. Cross-antimeridian
    neighbors are found via ghost candidates (:func:`_ghost_wrap`)."""
    if res is None:
        res = choose_res(items.count(), k=k, radius=radius)
    from .skew import ensure_parallelism

    pts = ensure_parallelism(
        items.filter(F.col("lon").isNotNull() & F.col("lat").isNotNull()).select(
            F.col(id_col).alias("id"), "lon", "lat"
        )
    )
    return _ring_topk(pts, pts, k=k, res=res, radius=radius)


def knn_join_salted(
    items: DataFrame,
    k: int = 3,
    res: int = 4,
    radius: int = 1,
    id_col: str = "id",
    n_salts: int = 8,
    hot_threshold: int = 1000,
) -> DataFrame:
    """Skew-aware kNN (J8): identical results to :func:`knn_join`, but the
    candidate join splits *hot* cells into ``n_salts`` deterministic
    sub-keys so no single task owns a megacity cell.

    Mechanics: hot cells (right-side rows > hot_threshold) are detected
    with one cheap count; the right side gets
    ``salt = pmod(xxhash64(id), n_salts)``, the left (k-ring-exploded)
    side explodes each *hot* neighbor cell into all n_salts sub-keys and
    keeps salt=0 for cold cells. Join key = (cell, salt). Salting is
    hash-derived — rerun/retry identical (no rand()).
    """
    pts = (
        items.filter(F.col("lon").isNotNull() & F.col("lat").isNotNull())
        .select(
            F.col(id_col).alias("id"),
            "lon",
            "lat",
            hex_cell_at_res(res)(F.col("lon"), F.col("lat")).alias("cell"),
        )
    )
    hot = pts.groupBy("cell").count().filter(F.col("count") > hot_threshold).select(
        "cell", F.lit(True).alias("is_hot")
    )

    # antimeridian ghosts on the candidate side, exactly like
    # :func:`_ring_topk` — without them cross-seam neighbors are silently
    # missed and the documented identity with knn_join breaks (r4 review)
    e = edge_deg_at(res)
    margin = 2.0 * e * (radius + 1)
    right = (
        _ghost_wrap(
            pts.select(
                F.col("id").alias("r_id"),
                F.col("lon").alias("r_lon"),
                F.col("lat").alias("r_lat"),
            ),
            margin_deg=margin,
        )
        .withColumn("cell", hex_cell_at_res(res)(F.col("r_lon_cell"), F.col("r_lat")))
        .join(F.broadcast(hot), "cell", "left")
        .withColumn(
            "salt",
            F.when(F.col("is_hot"), F.pmod(F.xxhash64("r_id"), F.lit(n_salts))).otherwise(F.lit(0)),
        )
        .select("r_id", "r_lon", "r_lat", "cell", "salt")
    )
    left = (
        pts.select(
            F.col("id").alias("l_id"),
            F.col("lon").alias("l_lon"),
            F.col("lat").alias("l_lat"),
            F.explode(kring_udf(radius)(F.col("cell"))).alias("cell"),
        )
        .join(F.broadcast(hot), "cell", "left")
        .withColumn(
            "salt",
            F.explode(
                F.when(F.col("is_hot"), F.sequence(F.lit(0), F.lit(n_salts - 1))).otherwise(
                    F.array(F.lit(0))
                )
            ),
        )
    )
    pairs = left.join(right, ["cell", "salt"]).filter(F.col("l_id") != F.col("r_id"))
    # ghost+original dedup under the same condition as _ring_topk
    ring_lon_span = 4.0 * e * (radius + 1)
    if ring_lon_span + margin >= 360.0:
        pairs = pairs.groupBy("l_id", "l_lon", "l_lat", "r_id", "r_lon", "r_lat").agg(
            F.lit(1).alias("_one")
        )
    pairs = pairs.withColumn("dist_km", haversine_udf("l_lon", "l_lat", "r_lon", "r_lat"))
    w = Window.partitionBy("l_id").orderBy(F.col("dist_km").asc(), F.col("r_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("l_id").alias("id"), F.col("r_id").alias("neighbor_id"), "dist_km", "rank")
    )


def knn_join_exact(
    items: DataFrame,
    k: int = 3,
    res: int | None = 4,
    radius: int = 1,
    id_col: str = "id",
    return_stats: bool = False,
    brute_budget: int = 20_000_000,
) -> DataFrame:
    """EXACT kNN at scale: ring-local pass + per-point distance guarantee,
    ESCALATING ring radius for points not yet proven, brute force only for
    the final remnant.

    Guarantee math (equirectangular hex grid, edge e degrees): any point
    in a cell at hex-distance ≥ radius+1 from p's cell lies at least
    ``D_deg = max(1.5·e·(radius+1) − 2e, e·radius·√3/2)`` degrees from p
    (center spacing ≥ 1.5e per hex step, ±e circumradius each side).
    A neighbor at d km can be at most ``d / (111.0·cos(|lat|+D_deg))``
    degrees away (111.0 is a STRICT lower bound of the 111.195 km/deg
    haversine meridian scale — an upper bound here would mark points
    proven whose true k-th neighbor hides just outside the ring), so a
    point is *proven complete* when it has ≥ k ring candidates and its
    k-th distance satisfies that bound.

    Scale shape: a single fixed-radius pass leaves a density-independent
    fraction unproven (high-latitude points pay a worst-case cos() factor),
    and brute-forcing those is O(f·n²). Instead unproven points re-run the
    ring pass with doubled radius — the guarantee bound grows linearly with
    radius while each point's k-th distance is fixed, so survivors halve
    away geometrically; after ``max_escalations`` only pole-adjacent points
    (where the lon metric degenerates; the antimeridian seam is handled
    exactly by ghost candidates in :func:`_ring_topk`) and true isolates
    remain for the broadcast brute-force pass — a vanishing set.
    """
    from ..functions.hexgrid import edge_deg

    max_escalations = 4
    # brute_budget: pair budget for the broadcast brute-force remnant —
    # ~2e7 haversine lanes is ~1-2s of vectorized Arrow work on 32 cores;
    # below it, another ring (or polar) round costs more than it saves (an
    # optimizer-style cost-model choice; the answer is exact on every path)

    polar_floor = 80.0
    band_margin = 5.0
    band_floor = polar_floor - band_margin
    pts = items.filter(F.col("lon").isNotNull() & F.col("lat").isNotNull()).select(
        F.col(id_col).alias("id"), "lon", "lat"
    )
    # widen an under-partitioned source (single-row-group parquet → one
    # scan split) BEFORE the ring join: the join broadcasts the candidate
    # side, so the streamed side's scan partitioning is the stage width
    # for the explode + map-side WindowGroupLimit sort — measured on the
    # sf10 probe as a single 27-min spill-looping task (r5)
    from .skew import ensure_parallelism

    pts = ensure_parallelism(pts)
    # one job for the total AND the polar band populations at BOTH
    # escalation widths (the polar pass must not add count() round-trips
    # of its own — that cost 3× on the sf0.1 bench when it shipped as
    # separate jobs)
    band_floor2 = polar_floor - 2.0 * band_margin
    _tot = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("lat") >= band_floor).cast("int")).alias("bn"),
        F.sum((F.col("lat") <= -band_floor).cast("int")).alias("bs"),
        F.sum((F.col("lat") >= band_floor2).cast("int")).alias("bn2"),
        F.sum((F.col("lat") <= -band_floor2).cast("int")).alias("bs2"),
        # polar-cap populations too (r6): when the escalation loop never
        # reassigns `remaining` (the brute-cheap small-scale path), the
        # polar round's first cap-population aggregate would re-scan pts —
        # fold it into this job and skip that round-trip below
        F.sum((F.col("lat") >= polar_floor).cast("int")).alias("cn"),
        F.sum((F.col("lat") <= -polar_floor).cast("int")).alias("cs"),
    ).first()
    n_total = _tot["n"]
    n_band_by_floor = {
        band_floor: {False: _tot["bn"] or 0, True: _tot["bs"] or 0},
        band_floor2: {False: _tot["bn2"] or 0, True: _tot["bs2"] or 0},
    }
    if res is None:
        res = choose_res(n_total, k=k, radius=radius)

    done_parts = []
    remaining = pts
    radius_i = radius
    prev_cnt = n_total
    rem_caps = None  # polar-cap populations of `remaining`, kept in sync
    # by the escalation loop's materialization aggregate
    for _ in range(0 if n_total * n_total <= brute_budget else max_escalations):
        # checkpoint (eager=False): the ring pass (join + haversine +
        # window — the expensive subtree) is materialized ONCE and its RDD
        # is then REUSED by this escalation's done_parts branch in the
        # final job — without it the full ring join re-executed per
        # escalation inside the final union (r6: measured 2× the ring cost
        # per escalation at sf1). Under AQE this call already runs the ring
        # join's upstream shuffle stages; the rest waits for the `unsat`
        # aggregate below.
        ring = _ring_topk(remaining, pts, k=k, res=res, radius=radius_i).localCheckpoint(
            eager=False
        )
        e = edge_deg(res)
        d_deg_safe = max(
            1.5 * e * (radius_i + 1) - 2.0 * e, e * radius_i * (3.0 ** 0.5) / 2.0
        )
        per_point = ring.groupBy("id").agg(
            F.count(F.lit(1)).alias("n_found"), F.max("dist_km").alias("kth_km")
        )
        stats = remaining.join(per_point, "id", "left")
        lat_margin = F.least(F.abs(F.col("lat")) + F.lit(d_deg_safe), F.lit(89.0))
        required_deg = F.col("kth_km") / (F.lit(111.0) * F.cos(F.radians(lat_margin)))
        near_pole = F.abs(F.col("lat")) >= F.lit(90.0 - 2.0 * e * (radius_i + 1))
        satisfied = (F.col("n_found") >= k) & (required_deg <= F.lit(d_deg_safe)) & ~near_pole
        # eager=False checkpoint + one aggregate job (r6; under AQE the
        # call itself already runs the per_point/stats shuffle stages): the
        # former EAGER checkpoint ran one job to materialize and a second
        # to count; the aggregate below materializes the checkpoint AND
        # returns the count plus the polar-cap populations the polar round
        # needs — one driver job per escalation instead of three (job
        # overhead is the whole cost at small scale: the ring volume at sf1
        # is ~16 candidates/point). Lineage is still cut: the checkpointed RDD is
        # pinned at first materialization.
        unsat = stats.filter(~F.coalesce(satisfied, F.lit(False))).select(
            "id", "lon", "lat"
        ).localCheckpoint(eager=False)
        done_parts.append(ring.join(unsat.select("id"), "id", "left_anti"))
        remaining = unsat
        _u = unsat.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("lat") >= polar_floor).cast("int")).alias("cn"),
            F.sum((F.col("lat") <= -polar_floor).cast("int")).alias("cs"),
        ).first()
        cnt = _u["n"]
        rem_caps = {False: _u["cn"] or 0, True: _u["cs"] or 0}
        if cnt == 0:
            break
        if cnt * n_total <= brute_budget:
            break  # remnant is brute-cheap
        # non-convergence exit (pole caps / genuinely sparse data) — but
        # NEVER before the first radius doubling: the bound grows
        # linearly with radius, so pass 1 can prove points pass 0 could
        # not even when pass 0 proved nothing at all. Bailing at pass 0
        # turned a mis-sized initial res into an O(n²) brute remnant
        # (the r5 sf10 finding, 5.1e9 haversine pairs).
        if radius_i > radius and cnt > 0.75 * prev_cnt:
            break
        prev_cnt = cnt
        radius_i *= 2

    # polar-cap ring pass (r4, VERDICT r3 item 5): unproven near-pole
    # points get ring-local guarantees in pole-rotated coordinates — the
    # cap maps to a low-latitude disk where the equirect bound is tight —
    # instead of defaulting into the brute remnant. A point is proven when
    # its kth distance satisfies BOTH the rotated ring bound and the
    # band-edge bound (no candidate below the band floor can be closer).
    # 111.0 km/deg is a strict lower bound of the 111.195 haversine scale.
    stats = {"polar_proven": 0, "polar_cap": 0}
    # TWO polar escalations (r5, VERDICT r4 ask #3): round-4's 86%
    # ring-proven rate left band-edge cap points whose kth distance just
    # exceeded one of the two bounds — the second pass widens the band
    # (edge_ok margin doubles) and doubles the ring radius (ring_ok bound
    # doubles), so those get proofs and the brute remnant shrinks to true
    # isolates. The cost model still routes brute-cheap caps straight to
    # the remnant on every round.
    for esc, (bf_i, radius_p) in enumerate(
        ((band_floor, radius), (band_floor2, 2 * radius))
    ):
        # per-pole cap populations of the remnant without a dedicated job
        # where possible (r6): round 0 reuses either the escalation loop's
        # materialization aggregate (rem_caps tracks the final
        # `remaining`) or — when the loop never ran — the _tot columns;
        # only a round-1 re-entry (round 0 engaged and changed
        # `remaining`) pays its own small aggregate over the checkpointed
        # remnant.
        if esc == 0 and rem_caps is not None:
            n_cap = rem_caps
        elif remaining is pts:
            n_cap = {False: _tot["cn"] or 0, True: _tot["cs"] or 0}
        else:
            _rem = remaining.agg(
                F.sum((F.col("lat") >= polar_floor).cast("int")).alias("cn"),
                F.sum((F.col("lat") <= -polar_floor).cast("int")).alias("cs"),
            ).first()
            n_cap = {False: _rem["cn"] or 0, True: _rem["cs"] or 0}
        engaged = False
        for south in (False, True):
            # same cost model as the remnant: when brute-covering this cap
            # is within budget, the polar machinery's extra stages cost
            # more than they save (measured ~4s of fixed overhead at
            # sf0.1's 21-point cap) — at scale cap×total blows any budget
            # and the ring engages
            if n_cap[south] == 0 or n_cap[south] * n_total <= brute_budget:
                continue
            engaged = True
            if esc == 0:
                stats["polar_cap"] += n_cap[south]
            cap_pred = (
                (F.col("lat") <= -polar_floor) if south else (F.col("lat") >= polar_floor)
            )
            cap = remaining.filter(cap_pred)
            band_pred = (
                (F.col("lat") <= -bf_i) if south else (F.col("lat") >= bf_i)
            )
            band = pts.filter(band_pred)
            span = 2.0 * (90.0 - bf_i)
            res_p = choose_res(n_band_by_floor[bf_i][south], k=k, radius=radius_p,
                               lon_span=span, lat_span=span)
            ring = _polar_ring_topk(cap, band, k=k, res=res_p, radius=radius_p, south=south)
            e_p = edge_deg_at(res_p)
            d_deg_safe = max(
                1.5 * e_p * (radius_p + 1) - 2.0 * e_p,
                e_p * radius_p * (3.0 ** 0.5) / 2.0,
            )
            per_point = ring.groupBy("id").agg(
                F.count(F.lit(1)).alias("n_found"),
                F.max("dist_km").alias("kth_km"),
                F.first("_rlat").alias("_rlat"),
            ).join(cap.select("id", "lat"), "id")
            rlat_margin = F.least(F.abs(F.col("_rlat")) + F.lit(d_deg_safe), F.lit(89.0))
            ring_ok = F.col("kth_km") <= F.lit(d_deg_safe) * F.lit(111.0) * F.cos(
                F.radians(rlat_margin)
            )
            edge_ok = F.col("kth_km") <= (F.abs(F.col("lat")) - F.lit(bf_i)) * F.lit(111.0)
            # eager=False checkpoint: reused by both the semi (done) and
            # anti (remnant) branches. Under AQE the call runs per_point's
            # shuffle stages at once; the rest materializes inside the
            # final job (or the stats count below).
            proven = per_point.filter(
                (F.col("n_found") >= k) & ring_ok & edge_ok
            ).select("id").localCheckpoint(eager=False)
            if return_stats:
                stats["polar_proven"] += proven.count()
            done_parts.append(
                ring.drop("_rlat").join(F.broadcast(proven), "id", "left_semi")
            )
            remaining = remaining.join(F.broadcast(proven), "id", "left_anti")
        if not engaged:
            break

    # brute-force remnant: broadcast the (tiny) unproven side
    l = remaining.select(
        F.col("id").alias("l_id"), F.col("lon").alias("l_lon"), F.col("lat").alias("l_lat")
    )
    r = pts.select(
        F.col("id").alias("r_id"), F.col("lon").alias("r_lon"), F.col("lat").alias("r_lat")
    )
    pairs = (
        r.join(F.broadcast(l))
        .filter(F.col("l_id") != F.col("r_id"))
        .withColumn("dist_km", haversine_udf("l_lon", "l_lat", "r_lon", "r_lat"))
    )
    w = Window.partitionBy("l_id").orderBy(F.col("dist_km").asc(), F.col("r_id").asc())
    redo = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("l_id").alias("id"), F.col("r_id").alias("neighbor_id"), "dist_km", "rank")
    )
    out = redo
    for part in done_parts:
        out = out.unionByName(part)
    if return_stats:
        stats["brute"] = remaining.count()
        return out, stats
    return out


def knn_bruteforce(items: DataFrame, k: int = 3, id_col: str = "id") -> DataFrame:
    """Exact O(n²) kNN via cross-join — the correctness oracle for small
    inputs (FIXTURES.md §4); never run at scale."""
    pts = items.filter(F.col("lon").isNotNull() & F.col("lat").isNotNull()).select(
        F.col(id_col).alias("id"), "lon", "lat"
    )
    l = pts.select(F.col("id").alias("l_id"), F.col("lon").alias("l_lon"), F.col("lat").alias("l_lat"))
    r = pts.select(F.col("id").alias("r_id"), F.col("lon").alias("r_lon"), F.col("lat").alias("r_lat"))
    pairs = (
        l.crossJoin(r)
        .filter(F.col("l_id") != F.col("r_id"))
        .withColumn("dist_km", haversine_udf("l_lon", "l_lat", "r_lon", "r_lat"))
    )
    w = Window.partitionBy("l_id").orderBy(F.col("dist_km").asc(), F.col("r_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("l_id").alias("id"), F.col("r_id").alias("neighbor_id"), "dist_km", "rank")
    )
