"""Pure-kernel unit tests (no Spark): text extraction, geometry, S2, hex
grid, PIP. Geometry cases mirror /root/reference/tests/test_stac_utils.py
(bbox 2D/3D, antimeridian split, ring order)."""

import numpy as np
import pandas as pd
import pytest

from stac_populator_spark.functions.geometry import (
    crosses_antimeridian,
    haversine_km,
    item_id_from_url,
    linear_ring,
    make_bbox,
    to_geometry,
    wgs84_compliant,
)
from stac_populator_spark.functions.hexgrid import (
    hex_cell,
    hex_center,
    hex_kring,
    kring_offsets,
)
from stac_populator_spark.functions.pip import points_in_ring
from stac_populator_spark.functions.s2 import (
    s2_cell_center,
    s2_cell_id,
    s2_level,
    s2_parent,
)
from stac_populator_spark.functions.textextract import extract_page_fields, extract_text


# ---------- text extraction ----------

HTML = (
    '<html><head><title> My Page </title>'
    '<meta name="geo.position" content="45.5;-73.6">'
    '<meta name="date" content="2020-03-04T05:06:07">'
    '</head><body><script>var x = 1 < 2;</script>'
    "<p>Hello &amp; welcome</p><p>Second   para</p><!-- note --></body></html>"
)


def test_extract_text_basic():
    out = extract_text(pd.Series([HTML]))
    assert out[0] == "My Page\nHello & welcome\nSecond para"


def test_extract_text_deterministic_across_batches():
    s = pd.Series([HTML] * 7 + ["<p>a</p>"] * 3)
    whole = extract_text(s)
    parts = pd.concat([extract_text(s[:4]), extract_text(s[4:])], ignore_index=True)
    assert (whole.values == parts.values).all()


def test_extract_page_fields():
    f = extract_page_fields(pd.Series([HTML, "<p>no geo</p>"]))
    assert f.loc[0, "lat"] == 45.5 and f.loc[0, "lon"] == -73.6
    assert f.loc[0, "meta_date"] == "2020-03-04T05:06:07"
    assert f.loc[0, "title"] == "My Page"
    assert np.isnan(f.loc[1, "lat"])


def test_extract_geo_box_antimeridian():
    h = '<meta name="geo.box" content="10.0;175.0;20.0;-170.0">'
    f = extract_page_fields(pd.Series([h]))
    assert f.loc[0, "lon"] == 175.0 and f.loc[0, "lon_max"] == -170.0
    assert crosses_antimeridian(f.loc[0, "lon"], f.loc[0, "lon_max"])


# ---------- geometry (reference semantics) ----------

def test_bbox_2d_3d():
    assert make_bbox(-10, -20, 30, 40) == [-10.0, -20.0, 30.0, 40.0]
    # z inserted at index 2 / appended (stac_utils.py:188-195)
    assert make_bbox(-10, -20, 30, 40, 5, 7) == [-10.0, -20.0, 5.0, 30.0, 40.0, 7.0]


def test_ring_order_matches_reference():
    # (min,min)→(min,max)→(max,max)→(max,min)→(min,min) per stac_utils.py:203-224
    assert linear_ring(1, 2, 3, 4) == [[1, 2], [1, 4], [3, 4], [3, 2], [1, 2]]


def test_geometry_polygon():
    g = to_geometry(-10, -20, 30, 40)
    assert g["type"] == "Polygon"
    assert g["coordinates"] == [[[-10, -20], [-10, 40], [30, 40], [30, -20], [-10, -20]]]


def test_geometry_antimeridian_multipolygon():
    g = to_geometry(170, -10, -160, 10)
    assert g["type"] == "MultiPolygon"
    west, east = g["coordinates"]
    assert west == [[[170, -10], [170, 10], [180.0, 10], [180.0, -10], [170, -10]]]
    assert east == [[[-180.0, -10], [-180.0, 10], [-160, 10], [-160, -10], [-180.0, -10]]]


def test_geometry_vertical_only_when_flat():
    g = to_geometry(0, 0, 1, 1, z_min=5.0, z_max=5.0)
    assert g["coordinates"][0][0] == [0, 0, 5.0]
    g2 = to_geometry(0, 0, 1, 1, z_min=5.0, z_max=9.0)
    assert len(g2["coordinates"][0][0]) == 2


def test_wgs84_compliance():
    assert wgs84_compliant([-10, -20, 30, 40])
    assert not wgs84_compliant([-200, 0, 10, 10])
    assert not wgs84_compliant([0, -95, 10, 10])
    assert wgs84_compliant([-10, -20, 0, 30, 40, 100])  # 6-elem indexing


def test_item_id_from_url():
    assert (
        item_id_from_url("https://site1.example/en/page9.html")
        == "site1.example__en__page9.html"
    )


def test_haversine():
    d = haversine_km(0.0, 0.0, 0.0, 1.0)
    assert abs(float(d) - 111.19) < 0.5


# ---------- S2 ----------

def test_s2_level_arith():
    ids = s2_cell_id(np.array([-73.6, 12.0]), np.array([45.5, -60.0]), level=12)
    assert (s2_level(ids) == 12).all()
    p = s2_parent(ids, 5)
    assert (s2_level(p) == 5).all()


def test_s2_deterministic_and_distinct():
    lon = np.array([-73.6, -73.6, 10.0, 10.001])
    lat = np.array([45.5, 45.5, 50.0, 50.0])
    ids = s2_cell_id(lon, lat, 12)
    assert ids[0] == ids[1]
    assert ids[2] != s2_cell_id(np.array([100.0]), np.array([50.0]), 12)[0]


def test_s2_roundtrip_center():
    lon = np.array([-73.6, 10.0, 179.9, -179.9, 0.0, 45.0])
    lat = np.array([45.5, -60.0, 5.0, -5.0, 89.0, -89.0])
    ids = s2_cell_id(lon, lat, 12)
    clon, clat = s2_cell_center(ids)
    # re-encoding the center must give back the same cell
    ids2 = s2_cell_id(clon, clat, 12)
    assert (ids == ids2).all()
    # center is close to the input (level-12 cells are a few km)
    assert (np.abs(clat - lat) < 0.3).all()
    dlon = np.abs((clon - lon + 180) % 360 - 180)
    assert (dlon < 0.6).all()


def test_s2_locality():
    # nearby points at fine level share parents at coarse level
    a = s2_cell_id(np.array([10.0]), np.array([50.0]), 12)
    b = s2_cell_id(np.array([10.005]), np.array([50.005]), 12)
    assert s2_parent(a, 6)[0] == s2_parent(b, 6)[0]


def test_s2_nan():
    assert s2_cell_id(np.array([np.nan]), np.array([1.0]), 12)[0] == 0


# ---------- hex grid ----------

def test_hex_roundtrip():
    lon = np.array([-73.6, 10.0, 0.0, 100.0])
    lat = np.array([45.5, -60.0, 0.0, 80.0])
    cells = hex_cell(lon, lat, res=7)
    clon, clat = hex_center(cells)
    cells2 = hex_cell(clon, clat, res=7)
    assert (cells == cells2).all()
    assert (np.abs(clon - lon) < 0.05).all() and (np.abs(clat - lat) < 0.05).all()


def test_hex_kring_counts():
    assert kring_offsets(1).shape[0] == 7
    assert kring_offsets(2).shape[0] == 19
    c = hex_cell(np.array([10.0]), np.array([50.0]), res=7)
    ring = hex_kring(c, 1)
    assert ring.shape == (1, 7)
    assert len(set(ring[0].tolist())) == 7
    assert c[0] in ring[0]


def test_hex_neighbors_are_adjacent():
    # centers of the 1-ring are ~sqrt(3)*edge apart from the center cell
    c = hex_cell(np.array([10.0]), np.array([50.0]), res=7)
    ring = hex_kring(c, 1)[0]
    clon, clat = hex_center(np.array([c[0]]))
    nlon, nlat = hex_center(ring)
    d = np.hypot(nlon - clon[0], nlat - clat[0])
    d = d[d > 0]
    assert (d < 4 * 0.011).all()


def test_hex_nan():
    assert hex_cell(np.array([np.nan]), np.array([1.0]))[0] == -1


# ---------- PIP ----------

def test_pip_square():
    ring = [[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]]
    lons = np.array([5.0, -1.0, 10.5, 9.99])
    lats = np.array([5.0, 5.0, 5.0, 9.99])
    assert points_in_ring(lons, lats, ring).tolist() == [True, False, False, True]


def test_pip_concave():
    # L-shape: (0,0)-(4,0)-(4,1)-(1,1)-(1,4)-(0,4)
    ring = [[0, 0], [4, 0], [4, 1], [1, 1], [1, 4], [0, 4], [0, 0]]
    lons = np.array([0.5, 2.0, 2.0, 0.5])
    lats = np.array([0.5, 0.5, 2.0, 3.5])
    assert points_in_ring(lons, lats, ring).tolist() == [True, True, False, True]


def test_s2_hilbert_adjacency_property():
    # the defining property of a space-filling Hilbert curve: consecutive
    # curve positions decode to (i, j) cells at Manhattan distance EXACTLY
    # 1. This is emergent from the pos/ij/orientation tables acting
    # together — any wrong table entry breaks it somewhere, so checking it
    # over random positions is an independent structural verification of
    # the encoder (not just determinism/round-trip).
    import numpy as np

    from stac_populator_spark.functions.s2 import (
        _IJ_TO_POS,
        _MAX_LEVEL,
        _POS_TO_IJ,
        _POS_TO_ORIENTATION,
        _SWAP,
    )

    def decode_ij(pos, face):
        i = j = 0
        bits = face & _SWAP
        for k in range(_MAX_LEVEL - 1, -1, -1):
            p = (pos >> (2 * k)) & 3
            ij = int(_POS_TO_IJ[bits, p])
            i = (i << 1) | ((ij >> 1) & 1)
            j = (j << 1) | (ij & 1)
            bits ^= int(_POS_TO_ORIENTATION[p])
        return i, j

    def encode_ij(i, j, face):
        pos = 0
        bits = face & _SWAP
        for k in range(_MAX_LEVEL - 1, -1, -1):
            ij = (((i >> k) & 1) << 1) | ((j >> k) & 1)
            p = int(_IJ_TO_POS[bits, ij])
            pos = (pos << 2) | p
            bits ^= int(_POS_TO_ORIENTATION[p])
        return pos

    rng = np.random.default_rng(9)
    n_checked = 0
    for _ in range(300):
        face = int(rng.integers(0, 6))
        pos = int(rng.integers(1, (1 << (2 * _MAX_LEVEL)) - 1))
        i1, j1 = decode_ij(pos, face)
        i2, j2 = decode_ij(pos + 1, face)
        assert abs(i1 - i2) + abs(j1 - j2) == 1, (face, pos)
        # and encode is the exact inverse of decode
        assert encode_ij(i1, j1, face) == pos
        n_checked += 1
    assert n_checked == 300
