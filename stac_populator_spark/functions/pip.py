"""Vectorized point-in-polygon (even-odd ray casting, pure numpy).

The sandbox has no shapely (SURVEY.md §7.0); footprint polygons are ring
arrays in the same nesting shape as the reference's GeoJSON models
(/root/reference/STACpopulator/models.py:29-49). The broadcast spatial join
(J5 in SURVEY.md §2.4) does not call this kernel: it refines in the JVM
(``operators.spatial_join._in_ring``) with the same operation order, and
this function is the reference the tests hold that refine to, bit for bit.
"""

from __future__ import annotations

import numpy as np


def points_in_ring(lons: np.ndarray, lats: np.ndarray, ring) -> np.ndarray:
    """Even-odd ray casting: (N,) lons/lats vs one closed ring
    [[lon, lat], ...]. Returns bool (N,). Boundary points are
    implementation-defined (test data avoids exact boundaries)."""
    lons = np.asarray(lons, dtype=np.float64)
    lats = np.asarray(lats, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.float64)
    if ring.ndim != 2 or ring.shape[0] < 4:
        return np.zeros(lons.shape, dtype=bool)
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    # For each edge: does a horizontal ray from (lon, lat) cross it?
    ydiff = y2 - y1
    # horizontal edges (ydiff == 0) produce inf/nan/overflow lanes here;
    # they are filtered by the straddles mask below (a horizontal edge
    # never straddles the ray), so all three float-error classes are
    # expected and silenced — the suite runs with RuntimeWarning-as-error
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        xint = x1[None, :] + (lats[:, None] - y1[None, :]) * (x2 - x1)[None, :] / ydiff[None, :]
    straddles = (y1[None, :] > lats[:, None]) != (y2[None, :] > lats[:, None])
    crossings = straddles & (lons[:, None] < xint)
    return (crossings.sum(axis=1) % 2).astype(bool)

