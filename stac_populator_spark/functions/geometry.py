"""bbox / linear-ring / antimeridian geometry kernels (pure numpy+python).

Semantics replicate GeoData in the reference:
- bbox layout [lon_min, lat_min, (z_min,) lon_max, lat_max, (z_max)]
  (/root/reference/STACpopulator/stac_utils.py:188-195)
- 5-point ring order (min,min)→(min,max)→(max,max)→(max,min)→(min,min)
  (/root/reference/STACpopulator/stac_utils.py:197-228)
- antimeridian rule lon_min > lon_max ⇒ MultiPolygon split at ±180
  (/root/reference/STACpopulator/stac_utils.py:183-186, 230-251; golden
  tests /root/reference/tests/test_stac_utils.py:224-254)
- vertical coordinate appended to ring points only when z_min == z_max
  (/root/reference/STACpopulator/stac_utils.py:230-239)

These run inside pandas UDFs; each function is row-local and deterministic.
"""

from __future__ import annotations

import math

import numpy as np

WGS84_LON = (-180.0, 180.0)
WGS84_LAT = (-90.0, 90.0)


def make_bbox(lon_min, lat_min, lon_max, lat_max, z_min=None, z_max=None) -> list:
    """[lon_min, lat_min, (z_min,) lon_max, lat_max, (z_max)] — z inserted at
    index 2 / appended, as stac_utils.py:188-195."""
    bbox = [float(lon_min), float(lat_min), float(lon_max), float(lat_max)]
    if z_min is not None and z_max is not None:
        bbox.insert(2, float(z_min))
        bbox.append(float(z_max))
    return bbox


def wgs84_compliant(bbox: list) -> bool:
    """Range check mirroring check_wgs84_compliance
    (/root/reference/STACpopulator/collection_update.py:18-40): handles 4-
    and 6-element bboxes via len//2 indexing."""
    half = len(bbox) // 2
    lon_idx = (0, half)
    lat_idx = (1, half + 1)
    for i in lon_idx:
        if not (WGS84_LON[0] <= bbox[i] <= WGS84_LON[1]):
            return False
    for i in lat_idx:
        if not (WGS84_LAT[0] <= bbox[i] <= WGS84_LAT[1]):
            return False
    return True


def linear_ring(lon_min: float, lat_min: float, lon_max: float, lat_max: float,
                vertical_val: float | None = None) -> list:
    """5-point closed ring in the reference's exact vertex order
    (stac_utils.py:197-228)."""
    ring = [
        [lon_min, lat_min],
        [lon_min, lat_max],
        [lon_max, lat_max],
        [lon_max, lat_min],
        [lon_min, lat_min],
    ]
    if vertical_val is not None:
        for p in ring:
            p.append(vertical_val)
    return ring


def crosses_antimeridian(lon_min: float, lon_max: float) -> bool:
    """lon_min > lon_max after WGS84 normalization ⇒ crosses
    (stac_utils.py:183-186)."""
    return lon_min > lon_max


def to_geometry(lon_min: float, lat_min: float, lon_max: float, lat_max: float,
                z_min: float | None = None, z_max: float | None = None) -> dict:
    """GeoJSON Polygon, or MultiPolygon split at ±180 when crossing.

    Vertical value included only when z_min == z_max (stac_utils.py:230-239).
    Returns {"type": ..., "coordinates": ...} with MultiPolygon nesting depth
    4 / Polygon depth 3 (models shape /root/reference/STACpopulator/
    models.py:29-49).
    """
    vertical_val = z_min if (z_min is not None and z_min == z_max) else None
    if crosses_antimeridian(lon_min, lon_max):
        return {
            "type": "MultiPolygon",
            "coordinates": [
                [linear_ring(lon_min, lat_min, 180.0, lat_max, vertical_val)],
                [linear_ring(-180.0, lat_min, lon_max, lat_max, vertical_val)],
            ],
        }
    return {
        "type": "Polygon",
        "coordinates": [linear_ring(lon_min, lat_min, lon_max, lat_max, vertical_val)],
    }


def haversine_km(lon1, lat1, lon2, lat2):
    """Vectorized great-circle distance (numpy, km). Used by kNN ranking."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, dtype=np.float64))
                              for a in (lon1, lat1, lon2, lat2))
    dlon = lon2 - lon1
    dlat = lat2 - lat1
    a = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 6371.0088 * 2.0 * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def item_id_from_url(url: str) -> str:
    """Deterministic item id from url: scheme stripped, '/'→'__', as the
    reference derives ids from dataset locations
    (THREDDSCatalogDataModel.create_uid, /root/reference/STACpopulator/
    extensions/thredds.py:249-262)."""
    for pre in ("https://", "http://"):
        if url.startswith(pre):
            url = url[len(pre):]
            break
    return url.replace("/", "__")
