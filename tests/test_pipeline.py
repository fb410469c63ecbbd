"""End-to-end pipeline tests: PIP join vs brute-force pandas oracle,
antimeridian handling, STAC JSON validity, byte-identity invariant across
parallelism levels (FIXTURES.md §4-5, SURVEY.md §5.2)."""

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stac_populator_spark.datagen import footprints_pdf, pages_df, pages_pdf
from stac_populator_spark.functions.pip import points_in_ring
from stac_populator_spark.operators.cells import encode_cells, grid_cell_col
from stac_populator_spark.operators.extract import extract_items
from stac_populator_spark.operators.spatial_join import (
    footprint_cover_df,
    footprint_cover_pdf,
    pip_join,
)
from stac_populator_spark.plans.pipeline import build_items, run_pipeline

N_PAGES = 1500


@pytest.fixture(scope="module")
def pages(spark):
    return pages_df(spark, N_PAGES, partitions=4).cache()


@pytest.fixture(scope="module")
def items(spark, pages):
    return encode_cells(extract_items(pages)).cache()


@pytest.fixture(scope="module")
def fps():
    return footprints_pdf()


def _brute_force_pip(items_pdf: pd.DataFrame, fps: pd.DataFrame) -> set:
    """O(n·m) pandas oracle: point-in-bbox with antimeridian splitting."""
    out = set()
    for _, fp in fps.iterrows():
        lon_min, lat_min, lon_max, lat_max = fp["bbox"]
        for _, it in items_pdf.iterrows():
            if pd.isna(it["lon"]):
                continue
            lat_ok = lat_min <= it["lat"] <= lat_max
            if lon_min > lon_max:  # crossing
                lon_ok = it["lon"] >= lon_min or it["lon"] <= lon_max
            else:
                lon_ok = lon_min <= it["lon"] <= lon_max
            if lat_ok and lon_ok:
                out.add((it["id"], fp["collection_id"]))
    return out


def test_extraction_counts(items, pages):
    n = pages.count()
    it = items.count()
    assert it == n  # one item per page
    geo = items.filter(F.col("lon").isNotNull()).count()
    assert 0.75 * n < geo < 0.85 * n  # ~80% have geo


def test_pip_join_matches_bruteforce(spark, items, fps):
    cover = footprint_cover_df(spark, fps)
    joined = pip_join(items.filter(F.col("lon").isNotNull()), cover)
    got = {(r["id"], r["collection_id"]) for r in joined.select("id", "collection_id").collect()}
    expected = _brute_force_pip(items.select("id", "lon", "lat").toPandas(), fps)
    assert got == expected
    assert len(got) > 0


def test_pip_join_exact_accepts_only_rect(spark, items, fps):
    # the footprint's shape picks the refine; no value selects another one
    cover = footprint_cover_df(spark, fps)
    for exact in ("pip", "none"):
        with pytest.raises(ValueError):
            pip_join(items, cover, exact=exact)


def _pairs(joined) -> set:
    return {(r["id"], r["collection_id"]) for r in joined.select("id", "collection_id").collect()}


def test_general_ring_refine_matches_box_refine(spark, items, fps):
    # the same boxes as general rings: a vertex inserted halfway up the west
    # edge leaves the shape alone but makes the vertex set no longer the
    # bbox corners, so those cover rows carry edges and are ray cast (the
    # crossing ones per part, over unwrapped lons). Off the boundaries the
    # half-open ray cast and the closed box test agree.
    general = fps.copy()
    general["ring"] = [
        [r[0], [r[0][0], (r[0][1] + r[1][1]) / 2.0], *r[1:]] for r in fps["ring"]
    ]
    box_cover = footprint_cover_df(spark, fps)
    ring_cover = footprint_cover_df(spark, general)
    assert "edges" not in box_cover.columns
    assert ring_cover.filter(F.col("edges").isNull()).count() == 0
    bounds = np.array([list(b) for b in fps["bbox"]])
    on_lon = F.col("lon").isin(*{float(v) for v in bounds[:, [0, 2]].ravel()})
    on_lat = F.col("lat").isin(*{float(v) for v in bounds[:, [1, 3]].ravel()})
    geo = items.filter(F.col("lon").isNotNull() & ~on_lon & ~on_lat)
    box = _pairs(pip_join(geo, box_cover))
    assert box == _pairs(pip_join(geo, ring_cover))
    crossing = {c for c, b in zip(fps["collection_id"], fps["bbox"]) if b[0] > b[2]}
    assert {c for _, c in box} & crossing


# a concave ring: horizontal edges at y = 0 and y = 10, and a notch whose
# two diagonal edges meet at (5, 2)
NOTCHED = [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [6.0, 10.0], [5.0, 2.0],
           [4.0, 10.0], [0.0, 10.0], [0.0, 0.0]]


def _notched_points() -> pd.DataFrame:
    """Random points, every vertex, 21 points along each edge, and points at
    and 1 ULP either side of y = 0, 2 and 10."""
    rng = np.random.default_rng(11)
    lon = [rng.uniform(-1.0, 11.0, 50_000)]
    lat = [rng.uniform(-1.0, 11.0, 50_000)]
    ring = np.array(NOTCHED)
    lon.append(ring[:, 0])
    lat.append(ring[:, 1])
    t = np.linspace(0.0, 1.0, 21)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        lon.append(x1 + t * (x2 - x1))
        lat.append(y1 + t * (y2 - y1))
    xs = np.linspace(-0.5, 10.5, 1_001)
    for y in (0.0, 2.0, 10.0):
        for yy in (np.nextafter(y, -np.inf), y, np.nextafter(y, np.inf)):
            lon.append(xs)
            lat.append(np.full(len(xs), yy))
    lon, lat = np.concatenate(lon), np.concatenate(lat)
    return pd.DataFrame({"id": np.arange(len(lon)), "lon": lon, "lat": lat})


def test_ring_refine_is_bit_identical_to_points_in_ring(spark):
    # the JVM ray cast against the numpy reference, with ANSI mode on (a
    # horizontal edge must not divide by zero): the refine is the closed
    # bbox test and the ray cast, so that is what the reference computes
    fp = pd.DataFrame({"collection_id": ["notch"], "bbox": [[0.0, 0.0, 10.0, 10.0]],
                       "ring": [NOTCHED]})
    pts = _notched_points()
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = spark.createDataFrame(pts).withColumn("cell_grid", grid_cell_col("lon", "lat"))
        got = pip_join(df, footprint_cover_df(spark, fp), how="left").toPandas()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert len(got) == len(pts)  # one footprint: each point once
    got = got.sort_values("id")["collection_id"].notna().to_numpy()
    lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
    expected = (points_in_ring(lon, lat, NOTCHED)
                & (lon >= 0.0) & (lon <= 10.0) & (lat >= 0.0) & (lat <= 10.0))
    assert int((got != expected).sum()) == 0
    assert 0 < expected.sum() < len(pts)


def test_crossing_general_ring_matches_unwrapped_bruteforce(spark):
    # a concave ring across the antimeridian whose notch vertex lies west of
    # it: each cover part carries the unwrapped ring, shifted for the west
    # part, so it matches the reference over unwrapped lons
    ring = [[170.0, -10.0], [-170.0, -10.0], [-170.0, 10.0], [-178.0, 0.0],
            [170.0, 10.0], [170.0, -10.0]]
    fp = pd.DataFrame({"collection_id": ["x"], "bbox": [[170.0, -10.0, -170.0, 10.0]],
                       "ring": [ring]})
    rng = np.random.default_rng(12)
    lon = np.concatenate([rng.uniform(160.0, 180.0, 10_000), rng.uniform(-180.0, -160.0, 10_000)])
    lat = rng.uniform(-12.0, 12.0, len(lon))
    pts = pd.DataFrame({"id": np.arange(len(lon)), "lon": lon, "lat": lat})
    df = spark.createDataFrame(pts).withColumn("cell_grid", grid_cell_col("lon", "lat"))
    got = {r["id"] for r in pip_join(df, footprint_cover_df(spark, fp)).select("id").collect()}
    def unwrap(x):
        x = np.asarray(x, dtype=np.float64)
        return np.where(x < 170.0, x + 360.0, x)

    lon_u = unwrap(lon)
    ring_u = np.column_stack([unwrap([v[0] for v in ring]), [v[1] for v in ring]])
    inside = (points_in_ring(lon_u, lat, ring_u)
              & (lat >= -10.0) & (lat <= 10.0) & (lon_u >= 170.0) & (lon_u <= 190.0))
    expected = set(np.flatnonzero(inside).tolist())
    assert got == expected
    # both parts match points, and the notch leaves some of the bbox out
    assert (lon[inside] > 0).any() and (lon[inside] < 0).any()
    in_bbox = (lat >= -10.0) & (lat <= 10.0) & (lon_u <= 190.0) & (lon_u >= 170.0)
    assert (in_bbox & ~inside).any()


def test_antimeridian_footprints_match(spark, items, fps):
    crossing = fps[[b[0] > b[2] for b in fps["bbox"]]]
    assert len(crossing) > 0
    cover = footprint_cover_df(spark, crossing)
    joined = pip_join(items.filter(F.col("lon").isNotNull()), cover)
    got = {(r["id"], r["collection_id"]) for r in joined.select("id", "collection_id").collect()}
    expected = _brute_force_pip(items.select("id", "lon", "lat").toPandas(), crossing)
    assert got == expected


def test_multires_pip_matches_bruteforce(spark, items, fps):
    from stac_populator_spark.operators.spatial_join import (
        multires_cover_df,
        pip_join_multires,
    )

    cover = multires_cover_df(spark, fps)
    # cover stays compact: ≤ ~20 cells per footprint at its chosen level
    assert cover.count() < len(fps) * 25
    assert cover.select("res").distinct().count() >= 2  # mixed sizes → mixed levels
    geo = items.filter(F.col("lon").isNotNull()).drop("cell_grid")
    got = {
        (r["id"], r["collection_id"])
        for r in pip_join_multires(geo, cover).select("id", "collection_id").collect()
    }
    expected = _brute_force_pip(items.select("id", "lon", "lat").toPandas(), fps)
    assert got == expected


def test_cover_cells_contain_all_matches(items, fps):
    # every brute-force match's item cell must appear in the cover (no
    # false negatives from the coarse-grid candidate stage)
    cover = footprint_cover_pdf(fps)
    by_col = cover.groupby("collection_id")["cell_grid"].apply(set).to_dict()
    ipdf = items.select("id", "lon", "lat", "cell_grid").toPandas()
    expected = _brute_force_pip(ipdf, fps)
    cells = dict(zip(ipdf["id"], ipdf["cell_grid"]))
    for iid, cid in expected:
        assert cells[iid] in by_col[cid]


def test_stac_json_valid(spark, pages, fps):
    cover = footprint_cover_df(spark, fps)
    out = build_items(pages, cover).select("stac_json", "crosses_am").collect()
    assert len(out) > 0
    n_multi = 0
    n_nogeo = 0
    for r in out:
        doc = json.loads(r["stac_json"])  # must parse
        assert doc["type"] == "Feature"
        assert doc["stac_version"] == "1.0.0"
        geom = doc["geometry"]
        if geom is None:
            # corpus-complete: geometry-less pages flow through as valid
            # null-geometry items (reference collection_update.py:45-48)
            n_nogeo += 1
            assert "bbox" not in doc and "collection" not in doc
            continue
        assert isinstance(doc["bbox"], list) and len(doc["bbox"]) == 4
        assert geom["type"] in ("Polygon", "MultiPolygon")
        if geom["type"] == "MultiPolygon":
            n_multi += 1
            assert r["crosses_am"]
            assert len(geom["coordinates"]) == 2
            # split at the antimeridian: west part ends at 180, east at -180
            west, east = geom["coordinates"]
            assert max(p[0] for p in west[0]) == 180.0
            assert min(p[0] for p in east[0]) == -180.0
        else:
            ring = geom["coordinates"][0]
            assert len(ring) == 5 and ring[0] == ring[-1]
        props = doc["properties"]
        assert "page:language" in props
        assert doc["assets"]["source"]["href"].startswith("https://")
    assert n_nogeo > 0  # ~20% of pages have no geo and must still appear


def test_pipeline_accounts_for_full_corpus(spark, pages, fps):
    # every input page appears exactly once in items ∪ errors (per matched
    # collection for multi-footprint matches, but never silently dropped)
    out = run_pipeline(spark, pages, fps)
    urls_in = {r["url"] for r in pages.select("url").collect()}
    urls_items = {r["url"] for r in out["items"].select("url").collect()}
    urls_errors = {r["url"] for r in out["errors"].select("url").collect()}
    assert urls_items | urls_errors == urls_in
    # null-geometry and unmatched items are valid with null collection
    assert out["items"].filter(F.col("collection_id").isNull()).count() > 0


def test_antimeridian_items_exist(items):
    # datagen plants ~0.5% of geo rows as crossing boxes
    assert items.filter(F.col("crosses_am")).count() > 0


def test_text_byte_identity_across_partitionings(spark):
    # the driver invariant: byte-identical extracted text per url at any
    # parallelism (input_hint). Same generator, different partitioning.
    a = pages_df(spark, 600, partitions=2)
    b = pages_df(spark, 600, partitions=13)
    ta = {r["url"]: r["text"] for r in extract_items(a).select("url", "text").collect()}
    tb = {r["url"]: r["text"] for r in extract_items(b).select("url", "text").collect()}
    assert ta == tb
    # and extraction reproduces the stored text column exactly
    stored = {r["url"]: r["text"] for r in a.select("url", "text").collect()}
    assert ta == stored


def test_pages_pdf_slicing_invariance():
    whole = pages_pdf(0, 100)
    parts = pd.concat([pages_pdf(0, 37), pages_pdf(37, 40), pages_pdf(77, 23)], ignore_index=True)
    pd.testing.assert_frame_equal(whole, parts)


def test_run_pipeline_smoke(spark, pages, fps):
    out = run_pipeline(spark, pages, fps)
    items_n = out["items"].count()
    cols = out["collections"]
    assert items_n > 0
    rows = cols.collect()
    assert all(r["item_count"] > 0 for r in rows)
    # collection bbox must contain its non-crossing members' points (the
    # reference's bbox union is plain elementwise min/max with no
    # antimeridian handling — collection_update.py:60-65 — so crossing
    # items are excluded from the containment check)
    member = (
        out["items"].filter(~F.col("crosses_am"))
        .groupBy("collection_id")
        .agg(
            F.min("lon").alias("mn_lon"), F.max("lon").alias("mx_lon"),
            F.min("lat").alias("mn_lat"), F.max("lat").alias("mx_lat"),
        )
    )
    j = cols.join(member, "collection_id").collect()
    assert len(j) > 0
    for r in j:
        b = list(r["bbox"])
        assert b[1] <= r["mn_lat"] and b[3] >= r["mx_lat"]
        if b[0] <= b[2]:  # collection bbox itself doesn't wrap
            assert b[0] <= r["mn_lon"] and b[2] >= r["mx_lon"]


def test_null_and_empty_html_flow_as_null_geometry_items(spark, fps):
    # at corpus scale null/empty html WILL occur; the kernel must emit a
    # well-formed null-geometry item (id from url, null lon/lat/n_chars),
    # never crash and never drop the row
    from stac_populator_spark.operators.spatial_join import footprint_cover_df

    pages = pages_df(spark, 50, partitions=2)
    poison = pages.limit(3).select(
        F.concat(F.col("url"), F.lit("#null")).alias("url"),
        F.col("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.lit(None).cast("string").alias("lang"),
    )
    empty = pages.limit(2).select(
        F.concat(F.col("url"), F.lit("#empty")).alias("url"),
        "warc_ts",
        F.lit(b"").alias("html"),
        "text",
        "lang",
    )
    mixed = pages.unionByName(poison).unionByName(empty)
    cover = footprint_cover_df(spark, footprints_pdf())
    out = build_items(mixed, cover)
    rows = out.filter(F.col("url").contains("#")).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["id"] is not None and r["id"].endswith((".html#null", ".html#empty"))
        assert r["lon"] is None and r["lat"] is None
        assert r["collection_id"] is None and r["cell_s2"] is None
    # the full corpus is still accounted for
    assert out.select("url").distinct().count() == 55
