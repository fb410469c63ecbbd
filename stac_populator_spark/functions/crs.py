"""Pure-numpy CRS → WGS84 transforms behind the ``to_wgs84`` seam.

The reference reprojects arbitrary CRSs with pyproj
(/root/reference/STACpopulator/stac_utils.py:110-138) and tests four
cases (tests/test_stac_utils.py:134-156): identity EPSG:4326/4979,
0-360-shifted-longitude WGS84 (a WKT with ``PRIMEM["Greenwich", -360]``),
EPSG:4087 (WGS 84 / World Equidistant Cylindrical) and EPSG:3348
(NAD83(CSRS) / Statistics Canada Lambert). No pyproj wheel ships in this
sandbox, so those tested transforms are implemented here from the public
projection formulas (Snyder, *Map Projections — A Working Manual*, USGS
PP 1395: eqc p.90, LCC-2SP pp.107-109); results match the reference's
pyproj expectations within its own comparison tolerance (pytest.approx
rel 1e-6 — the residual is the sub-metre NAD83(CSRS)→WGS84 datum shift,
which pyproj's hub path also treats as null for most transforms).

``transform_to_wgs84`` is the registry seam, and the pyproj side of it
is wired as an optional wheel (:func:`_try_pyproj`): the numpy registry
stays primary (deterministic, wheel-free, tested), and a CRS the
registry would dead-letter falls through to a pyproj transformer when a
wheel is present — polar stereographic, Mercator variants, non-WGS84
datums all become one `pip install pyproj` away instead of a code
change. Wheel absent (this sandbox): identical dead-letter behavior as
before.

Axis-order handling mirrors GeoData.x_is_longitude (stac_utils.py:96-108):
a regex over the first AXIS entry of a WKT (``(^|\\s)lon`` on name/abbrev
or direction east/west); EPSG geographic codes default to lat-first,
projected codes to easting-first.
"""

from __future__ import annotations

import functools
import re

import numpy as np

WGS84_A = 6378137.0
DEG_M = WGS84_A * np.pi / 180.0  # metres per degree on the WGS84 equator
GRS80_F = 1.0 / 298.257222101
WGS84_F = 1.0 / 298.257223563

# Geographic (lat-first) EPSG codes treated as WGS84-identity: 4326/4979
# are WGS84 itself; ETRS89 (4258/4937) and NAD83 (4269) agree with WGS84
# at the metre level — the same datum-tolerance precedent the reference's
# pyproj hub path applies and the registered NAD83 3347/3348 already use.
GEOGRAPHIC_WGS84_EQUIV = frozenset({4326, 4979, 4258, 4937, 4269})


def _wrap_lon(lon: np.ndarray) -> np.ndarray:
    """Normalize to (-180, 180] the way pyproj renders shifted meridians."""
    return ((np.asarray(lon, dtype=np.float64) + 180.0) % 360.0) - 180.0


def _lcc_nF(e, p1, p2):
    def m(phi):
        return np.cos(phi) / np.sqrt(1 - (e * np.sin(phi)) ** 2)

    def t(phi):
        return np.tan(np.pi / 4 - phi / 2) / (
            (1 - e * np.sin(phi)) / (1 + e * np.sin(phi))
        ) ** (e / 2)

    if abs(p1 - p2) < 1e-12:  # 1SP limit: n = sin(phi1) (Snyder p.107)
        n = np.sin(p1)
    else:
        n = (np.log(m(p1)) - np.log(m(p2))) / (np.log(t(p1)) - np.log(t(p2)))
    return n, m(p1) / (n * t(p1) ** n), t


def lcc_inverse(
    x,
    y,
    a: float = WGS84_A,
    f: float = GRS80_F,
    lat1: float = 49.0,
    lat2: float = 77.0,
    lat0: float = 63.390675,
    lon0: float = -91.866667,
    fe: float = 6200000.0,
    fn: float = 3000000.0,
    k0: float = 1.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Ellipsoidal Lambert Conformal Conic inverse — Snyder pp.107-109.
    2SP by default (defaults are EPSG:3348, Statistics Canada Lambert,
    GRS80); lat1 == lat2 degrades to the 1SP variant with ``k0`` (the
    n → sin(φ₁) limit, Snyder p.107)."""
    e = np.sqrt(2 * f - f * f)
    p1, p2, p0 = np.radians(lat1), np.radians(lat2), np.radians(lat0)
    n, F, t = _lcc_nF(e, p1, p2)
    ak = a * k0
    rho0 = ak * F * t(p0) ** n

    xp = np.asarray(x, dtype=np.float64) - fe
    yp = rho0 - (np.asarray(y, dtype=np.float64) - fn)
    rho = np.sign(n) * np.hypot(xp, yp)
    # Snyder p.107: for n < 0 (southern standard parallels) the signs of
    # x and (ρ₀ − y) must be reversed before the θ computation — without
    # this every southern LCC longitude lands off by 180°/n
    s = np.sign(n)
    theta = np.arctan2(s * xp, s * yp)
    tt = (rho / (ak * F)) ** (1 / n)
    lon = np.degrees(theta / n) + lon0
    phi = np.pi / 2 - 2 * np.arctan(tt)
    for _ in range(8):  # converges in ~4 iterations to double precision
        phi = np.pi / 2 - 2 * np.arctan(
            tt * ((1 - e * np.sin(phi)) / (1 + e * np.sin(phi))) ** (e / 2)
        )
    return lon, np.degrees(phi)


def lcc_forward(
    lon,
    lat,
    a: float = WGS84_A,
    f: float = GRS80_F,
    lat1: float = 49.0,
    lat2: float = 77.0,
    lat0: float = 63.390675,
    lon0: float = -91.866667,
    fe: float = 6200000.0,
    fn: float = 3000000.0,
    k0: float = 1.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Ellipsoidal LCC forward (Snyder eqs 15-1…15-10) — the independent
    series pinning :func:`lcc_inverse` by roundtrip for arbitrary
    WKT-parsed parameter sets."""
    e = np.sqrt(2 * f - f * f)
    p1, p2, p0 = np.radians(lat1), np.radians(lat2), np.radians(lat0)
    n, F, t = _lcc_nF(e, p1, p2)
    ak = a * k0
    rho0 = ak * F * t(p0) ** n
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    rho = ak * F * t(phi) ** n
    theta = n * np.radians(np.asarray(lon, dtype=np.float64) - lon0)
    return fe + rho * np.sin(theta), fn + rho0 - rho * np.cos(theta)


def albers_inverse(
    x,
    y,
    a: float = WGS84_A,
    f: float = GRS80_F,
    lat1: float = 29.5,
    lat2: float = 45.5,
    lat0: float = 23.0,
    lon0: float = -96.0,
    fe: float = 0.0,
    fn: float = 0.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Ellipsoidal Albers Equal-Area Conic inverse — Snyder pp.101-102
    (eqs 14-1…14-21): the q-series latitude recovery. Defaults are the
    EPSG:5070 CONUS Albers parameters (GRS80). Pinned by the
    forward∘inverse roundtrip and Snyder's own numerical example
    (PP1395 p.292, Clarke 1866)."""
    e2 = 2 * f - f * f
    e = np.sqrt(e2)

    def q(phi):
        s = np.sin(phi)
        return (1 - e2) * (
            s / (1 - e2 * s**2) - (1 / (2 * e)) * np.log((1 - e * s) / (1 + e * s))
        )

    def m(phi):
        return np.cos(phi) / np.sqrt(1 - e2 * np.sin(phi) ** 2)

    p1, p2, p0 = np.radians(lat1), np.radians(lat2), np.radians(lat0)
    n = (m(p1) ** 2 - m(p2) ** 2) / (q(p2) - q(p1))
    C = m(p1) ** 2 + n * q(p1)
    rho0 = a * np.sqrt(C - n * q(p0)) / n

    xp = np.asarray(x, dtype=np.float64) - fe
    yp = rho0 - (np.asarray(y, dtype=np.float64) - fn)
    rho = np.hypot(xp, yp)
    # Snyder p.102: for n < 0 (southern standard parallels) reverse the
    # signs of x and (ρ₀ − y) before θ — ρ₀ is itself negative there
    s = np.sign(n)
    theta = np.arctan2(s * xp, s * yp)
    qq = (C - (rho * n / a) ** 2) / n
    # iterate eq 3-16 for phi from q
    phi = np.arcsin(np.clip(qq / 2, -1.0, 1.0))
    for _ in range(10):
        s = np.sin(phi)
        phi = phi + (1 - e2 * s**2) ** 2 / (2 * np.cos(phi)) * (
            qq / (1 - e2)
            - s / (1 - e2 * s**2)
            + (1 / (2 * e)) * np.log((1 - e * s) / (1 + e * s))
        )
    lon = lon0 + np.degrees(theta / n)
    return lon, np.degrees(phi)


def albers_forward(
    lon,
    lat,
    a: float = WGS84_A,
    f: float = GRS80_F,
    lat1: float = 29.5,
    lat2: float = 45.5,
    lat0: float = 23.0,
    lon0: float = -96.0,
    fe: float = 0.0,
    fn: float = 0.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Ellipsoidal Albers forward (Snyder eqs 14-1…14-4) — the independent
    series used to pin :func:`albers_inverse` by roundtrip."""
    e2 = 2 * f - f * f
    e = np.sqrt(e2)

    def q(phi):
        s = np.sin(phi)
        return (1 - e2) * (
            s / (1 - e2 * s**2) - (1 / (2 * e)) * np.log((1 - e * s) / (1 + e * s))
        )

    def m(phi):
        return np.cos(phi) / np.sqrt(1 - e2 * np.sin(phi) ** 2)

    p1, p2, p0 = np.radians(lat1), np.radians(lat2), np.radians(lat0)
    n = (m(p1) ** 2 - m(p2) ** 2) / (q(p2) - q(p1))
    C = m(p1) ** 2 + n * q(p1)
    rho0 = a * np.sqrt(C - n * q(p0)) / n
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    rho = a * np.sqrt(C - n * q(phi)) / n
    theta = n * np.radians(np.asarray(lon, dtype=np.float64) - lon0)
    return fe + rho * np.sin(theta), fn + rho0 - rho * np.cos(theta)


def tm_inverse(
    x,
    y,
    a: float = WGS84_A,
    f: float = 1.0 / 298.257223563,
    lon0: float = -3.0,
    lat0: float = 0.0,
    k0: float = 0.9996,
    fe: float = 500000.0,
    fn: float = 0.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Ellipsoidal Transverse Mercator inverse (Snyder pp.63-64, eqs
    8-17…8-25) — the generic TM family covering every UTM zone and most
    national grids. Defaults are WGS84 UTM (k0=0.9996, FE=500km).
    Series accuracy ≲1e-9° within a 6° zone (pinned by the
    forward∘inverse roundtrip test against the independent forward
    series)."""
    e2 = 2 * f - f * f
    ep2 = e2 / (1 - e2)
    e1 = (1 - np.sqrt(1 - e2)) / (1 + np.sqrt(1 - e2))

    def meridian_arc(phi):
        return a * (
            (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * phi
            - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * np.sin(2 * phi)
            + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * np.sin(4 * phi)
            - (35 * e2**3 / 3072) * np.sin(6 * phi)
        )

    m0 = meridian_arc(np.radians(lat0))
    m = m0 + (np.asarray(y, dtype=np.float64) - fn) / k0
    mu = m / (a * (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256))
    phi1 = (
        mu
        + (3 * e1 / 2 - 27 * e1**3 / 32) * np.sin(2 * mu)
        + (21 * e1**2 / 16 - 55 * e1**4 / 32) * np.sin(4 * mu)
        + (151 * e1**3 / 96) * np.sin(6 * mu)
        + (1097 * e1**4 / 512) * np.sin(8 * mu)
    )
    sin1, cos1, tan1 = np.sin(phi1), np.cos(phi1), np.tan(phi1)
    c1 = ep2 * cos1**2
    t1 = tan1**2
    n1 = a / np.sqrt(1 - e2 * sin1**2)
    r1 = a * (1 - e2) / (1 - e2 * sin1**2) ** 1.5
    d = (np.asarray(x, dtype=np.float64) - fe) / (n1 * k0)
    phi = phi1 - (n1 * tan1 / r1) * (
        d**2 / 2
        - (5 + 3 * t1 + 10 * c1 - 4 * c1**2 - 9 * ep2) * d**4 / 24
        + (61 + 90 * t1 + 298 * c1 + 45 * t1**2 - 252 * ep2 - 3 * c1**2) * d**6 / 720
    )
    lam = (
        d
        - (1 + 2 * t1 + c1) * d**3 / 6
        + (5 - 2 * c1 + 28 * t1 - 3 * c1**2 + 8 * ep2 + 24 * t1**2) * d**5 / 120
    ) / cos1
    return lon0 + np.degrees(lam), np.degrees(phi)


def tm_forward(
    lon,
    lat,
    a: float = WGS84_A,
    f: float = 1.0 / 298.257223563,
    lon0: float = -3.0,
    lat0: float = 0.0,
    k0: float = 0.9996,
    fe: float = 500000.0,
    fn: float = 0.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Ellipsoidal TM forward (Snyder p.61, eqs 8-9…8-14) — an independent
    series used to pin ``tm_inverse`` by roundtrip (and anchor cases:
    the natural origin maps exactly to (FE, FN))."""
    e2 = 2 * f - f * f
    ep2 = e2 / (1 - e2)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64) - lon0)
    sinp, cosp, tanp = np.sin(phi), np.cos(phi), np.tan(phi)
    n = a / np.sqrt(1 - e2 * sinp**2)
    t = tanp**2
    c = ep2 * cosp**2
    aa = lam * cosp

    def meridian_arc(p):
        return a * (
            (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * p
            - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * np.sin(2 * p)
            + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * np.sin(4 * p)
            - (35 * e2**3 / 3072) * np.sin(6 * p)
        )

    m = meridian_arc(phi)
    m0 = meridian_arc(np.radians(lat0))
    x = fe + k0 * n * (
        aa
        + (1 - t + c) * aa**3 / 6
        + (5 - 18 * t + t**2 + 72 * c - 58 * ep2) * aa**5 / 120
    )
    y = fn + k0 * (
        m
        - m0
        + n * tanp * (
            aa**2 / 2
            + (5 - t + 9 * c + 4 * c**2) * aa**4 / 24
            + (61 - 58 * t + t**2 + 600 * c - 330 * ep2) * aa**6 / 720
        )
    )
    return x, y


def utm_params(code: int) -> dict | None:
    """EPSG WGS84 UTM codes → TM parameters: 326zz = zone zz north,
    327zz = zone zz south (lon0 = 6·zone − 183, FN = 0 / 10,000km)."""
    if 32601 <= code <= 32660:
        zone, fn = code - 32600, 0.0
    elif 32701 <= code <= 32760:
        zone, fn = code - 32700, 10000000.0
    else:
        return None
    return {"lon0": 6.0 * zone - 183.0, "k0": 0.9996, "fe": 500000.0, "fn": fn}


def _wkt_ellipsoid(spec: str) -> tuple[float, float]:
    """(a, f) from the WKT's SPHEROID/ELLIPSOID entry; WGS84 if absent."""
    m = re.search(
        r'(?:SPHEROID|ELLIPSOID)\s*\[\s*"[^"]*"\s*,\s*(-?[\d.eE+]+)\s*,\s*(-?[\d.eE+]+)',
        spec,
        re.IGNORECASE,
    )
    if not m:
        return WGS84_A, 1.0 / 298.257223563
    a, invf = float(m.group(1)), float(m.group(2))
    return a, (0.0 if invf == 0 else 1.0 / invf)


def _wkt_datum_is_wgs84(spec: str) -> bool:
    """True when the WKT's horizontal datum is WGS84-equivalent: the DATUM
    name says WGS84, or an all-zero TOWGS84 declares a null shift. Anything
    else (OSGB36/Airy, NAD27/Clarke, …) must NOT silently flow through a
    WGS84-output transform — ~0.1-1 km datum shifts."""
    m = re.search(r'DATUM\s*\[\s*"([^"]+)"', spec, re.IGNORECASE)
    name = m.group(1) if m else ""
    # WKT1 spells it 'WGS_1984'/'WGS 84'; WKT2 uses the full
    # 'World Geodetic System 1984' (code-review r4: the short-form-only
    # match dead-lettered plain-WGS84 WKT2 catalogs)
    if re.search(r"WGS[ _]?(19)?84|World[ _]Geodetic[ _]System[ _]1984", name, re.IGNORECASE):
        return True
    t = re.search(r"TOWGS84\s*\[\s*([^\]]+)\]", spec, re.IGNORECASE)
    if t:
        vals = [float(v) for v in re.findall(r"-?[\d.eE+]+", t.group(1))[:7]]
        return all(abs(v) < 1e-9 for v in vals)
    return False


# PARAMETER[...] blocks with one nesting level (a PARAMETER may embed its
# own LENGTHUNIT[...]/ID[...] sub-blocks in WKT2)
_WKT_PARAM_BLOCK_RE = re.compile(
    r"PARAMETER\s*\[[^\[\]]*(?:\[[^\[\]]*\][^\[\]]*)*\]", re.IGNORECASE
)


def _wkt_linear_unit(spec: str) -> float:
    """Metres-per-unit of the projected CS axes. In WKT1 the PROJCS linear
    UNIT follows the GEOGCS block, so the last non-degree UNIT wins; WKT2
    uses LENGTHUNIT. Defaults to metre when nothing is declared.

    PARAMETER blocks are stripped before the scan: WKT2 lets each
    PARAMETER carry its OWN LENGTHUNIT (handled per-parameter by
    :func:`_wkt_param`), and those must not leak into the axis-unit
    last-wins scan (ADVICE r4)."""
    factor = 1.0
    for m in re.finditer(
        r'(?:LENGTHUNIT|UNIT)\s*\[\s*"([^"]*)"\s*,\s*(-?[\d.eE+]+)',
        _WKT_PARAM_BLOCK_RE.sub("", spec),
        re.IGNORECASE,
    ):
        name = m.group(1).lower()
        if "degree" in name or "radian" in name or "grad" in name:
            continue
        factor = float(m.group(2))
    return factor


def _wkt_param(spec: str, *names: str, default=None):
    """First matching PARAMETER value, plus that parameter's OWN
    LENGTHUNIT factor when one is declared inside the PARAMETER block
    (WKT2 permits per-parameter units — a false_easting in a different
    unit than the CS axes is legal and must scale by its own factor, not
    the axis unit). Returns ``(value, own_unit_or_None)``."""
    for nm in names:
        m = re.search(
            r'PARAMETER\s*\[\s*"' + nm + r'"\s*,\s*(-?[\d.eE+]+)'
            r'(?:\s*,\s*LENGTHUNIT\s*\[\s*"[^"]*"\s*,\s*(-?[\d.eE+]+))?',
            spec,
            re.IGNORECASE,
        )
        if m:
            own = float(m.group(2)) if m.group(2) is not None else None
            return float(m.group(1)), own
    return default, None


def _tm_wkt_params(spec: str) -> dict | None:
    """Parse TM parameters out of a WKT that declares a Transverse
    Mercator conversion (WKT1 'Transverse_Mercator' PARAMETER names or
    WKT2 'Longitude of natural origin' style).

    The returned dict carries the WKT's own ellipsoid (a, f) and the
    projected linear-unit factor ("unit", metres-per-unit, applied by the
    caller to x/y; fe/fn here are already converted to metres). Raises
    NotImplementedError — the dead-letter route, never a silent wrong
    answer — for TM variants the series doesn't cover (south-orientated)
    and for non-WGS84 datums (OSGB36, NAD27, …) where the ellipsoidal
    inverse alone would be off by a datum shift."""
    if not re.search(r"Transverse[ _]?Mercator", spec, re.IGNORECASE):
        return None
    if re.search(r"South[ _]?Orientated", spec, re.IGNORECASE):
        raise NotImplementedError(
            "Transverse Mercator South Orientated (westing/southing axes) is not "
            "covered by the TM series; routing to dead-letter"
        )
    if not _wkt_datum_is_wgs84(spec):
        raise NotImplementedError(
            "TM WKT declares a non-WGS84 datum with no null TOWGS84 shift; the "
            "ellipsoidal inverse alone cannot produce WGS84 output — routing to "
            "dead-letter (pyproj seam)"
        )

    def p(*names, default=None):
        for nm in names:
            m = re.search(
                r'PARAMETER\s*\[\s*"' + nm + r'"\s*,\s*(-?[\d.eE+]+)', spec, re.IGNORECASE
            )
            if m:
                return float(m.group(1))
        return default

    a, f = _wkt_ellipsoid(spec)
    unit = _wkt_linear_unit(spec)
    fe, fe_unit = _wkt_param(spec, "false_easting", "False easting", default=0.0)
    fn, fn_unit = _wkt_param(spec, "false_northing", "False northing", default=0.0)
    return {
        "a": a,
        "f": f,
        "lon0": p("central_meridian", "Longitude of natural origin", default=0.0),
        "lat0": p("latitude_of_origin", "Latitude of natural origin", default=0.0),
        "k0": p("scale_factor", "Scale factor at natural origin", default=1.0),
        # WKT2 per-parameter LENGTHUNIT wins over the CS axis unit (ADVICE r4)
        "fe": fe * (fe_unit if fe_unit is not None else unit),
        "fn": fn * (fn_unit if fn_unit is not None else unit),
        "unit": unit,
    }


def _wkt_datum_is_conic_safe(spec: str) -> bool:
    """Datum gate for the conic WKT families: WGS84, NAD83 (the registered
    EPSG:3347/3348 precedent — pyproj's hub path treats the NAD83→WGS84
    shift as null, sub-metre), or an explicit all-zero TOWGS84."""
    m = re.search(r'DATUM\s*\[\s*"([^"]+)"', spec, re.IGNORECASE)
    name = m.group(1) if m else ""
    if re.search(r"WGS[ _]?(19)?84|NAD83|North[ _]American[ _]Datum[ _]1983", name, re.IGNORECASE):
        return True
    return _wkt_datum_is_wgs84(spec)


def _conic_wkt_params(spec: str) -> dict | None:
    """LCC (1SP/2SP) / Albers parameters out of a PROJCS/PROJCRS WKT —
    the generic projected-CRS fallback shrinking the dead-letter-on-sight
    set (reference: any pyproj-resolvable CRS, stac_utils.py:110-138).
    Returns the :func:`lcc_inverse`/:func:`albers_inverse` kwargs plus
    ``kind`` ('lcc'|'albers') and ``unit`` (metres-per-unit for x/y);
    raises NotImplementedError (→ dead-letter) on datums outside the
    WGS84/NAD83/null-TOWGS84 set."""
    is_lcc = re.search(r"Lambert[ _]Conformal[ _]Conic|Lambert[ _]Conic[ _]Conformal", spec, re.IGNORECASE)
    is_albers = re.search(r"Albers", spec, re.IGNORECASE)
    if not (is_lcc or is_albers):
        return None
    if not _wkt_datum_is_conic_safe(spec):
        raise NotImplementedError(
            "conic WKT declares a datum outside WGS84/NAD83 with no null "
            "TOWGS84 shift — routing to dead-letter (pyproj seam)"
        )

    def p(*names, default=None):
        for nm in names:
            m = re.search(
                r'PARAMETER\s*\[\s*"' + nm + r'"\s*,\s*(-?[\d.eE+]+)', spec, re.IGNORECASE
            )
            if m:
                return float(m.group(1))
        return default

    a, f = _wkt_ellipsoid(spec)
    unit = _wkt_linear_unit(spec)
    lat0 = p("latitude_of_origin", "latitude_of_center",
             "Latitude of false origin", "Latitude of natural origin", default=0.0)
    sp1 = p("standard_parallel_1", "Latitude of 1st standard parallel")
    sp2 = p("standard_parallel_2", "Latitude of 2nd standard parallel")
    if sp1 is None:
        sp1 = lat0  # 1SP form: the origin latitude is the standard parallel
    if sp2 is None:
        sp2 = sp1
    out = {
        "kind": "lcc" if is_lcc else "albers",
        "unit": unit,
        "a": a,
        "f": f,
        "lat1": sp1,
        "lat2": sp2,
        "lat0": lat0,
        "lon0": p("central_meridian", "longitude_of_center",
                  "Longitude of false origin", "Longitude of natural origin", default=0.0),
    }
    fe, fe_unit = _wkt_param(
        spec, "false_easting", "Easting at false origin", "False easting", default=0.0
    )
    fn, fn_unit = _wkt_param(
        spec, "false_northing", "Northing at false origin", "False northing", default=0.0
    )
    # WKT2 per-parameter LENGTHUNIT wins over the CS axis unit (ADVICE r4)
    out["fe"] = fe * (fe_unit if fe_unit is not None else unit)
    out["fn"] = fn * (fn_unit if fn_unit is not None else unit)
    if is_lcc:
        out["k0"] = p("scale_factor", "Scale factor at natural origin", default=1.0)
    return out


def _polar_wkt_params(spec: str) -> dict | None:
    """Polar Stereographic parameters out of a PROJCS/PROJCRS WKT —
    :func:`polar_stereo_inverse` kwargs plus ``unit``. WKT1 puts the
    standard parallel in latitude_of_origin (variant B usage,
    |lat| < 90) or declares the pole itself with a scale_factor
    (variant A); WKT2 names the method variant explicitly. Same datum
    gate as the conics (→ dead-letter / pyproj seam outside
    WGS84/NAD83/null-TOWGS84)."""
    if not re.search(r"Polar[ _]?Stereographic", spec, re.IGNORECASE):
        return None
    if not _wkt_datum_is_conic_safe(spec):
        raise NotImplementedError(
            "polar-stereographic WKT declares a datum outside WGS84/NAD83 "
            "with no null TOWGS84 shift — routing to dead-letter (pyproj seam)"
        )

    def p(*names, default=None):
        for nm in names:
            m = re.search(
                r'PARAMETER\s*\[\s*"' + nm + r'"\s*,\s*(-?[\d.eE+]+)', spec, re.IGNORECASE
            )
            if m:
                return float(m.group(1))
        return default

    a, f = _wkt_ellipsoid(spec)
    unit = _wkt_linear_unit(spec)
    lat_ts = p("standard_parallel_1", "Latitude of standard parallel")
    lat0 = p("latitude_of_origin", "Latitude of natural origin", default=90.0)
    out = {
        "unit": unit,
        "a": a,
        "f": f,
        "lon0": p("central_meridian", "Longitude of origin",
                  "Longitude of natural origin", default=0.0),
    }
    if lat_ts is None and abs(abs(lat0) - 90.0) > 1e-9:
        lat_ts = lat0  # WKT1 variant-B usage: the parallel rides in lat0
    if lat_ts is not None:
        out["lat_ts"] = lat_ts
        out["k0"] = None
        out["south"] = lat_ts < 0
    else:  # variant A: pole + scale factor
        out["lat_ts"] = None
        out["k0"] = p("scale_factor", "Scale factor at natural origin", default=1.0)
        out["south"] = lat0 < 0
    fe, fe_unit = _wkt_param(
        spec, "false_easting", "False easting", default=0.0
    )
    fn, fn_unit = _wkt_param(
        spec, "false_northing", "False northing", default=0.0
    )
    out["fe"] = fe * (fe_unit if fe_unit is not None else unit)
    out["fn"] = fn * (fn_unit if fn_unit is not None else unit)
    return out


def _laea_wkt_params(spec: str) -> dict | None:
    """Lambert Azimuthal Equal Area parameters out of a PROJCS/PROJCRS
    WKT — :func:`laea_inverse` kwargs plus ``unit``. Same datum gate as
    the conics; oblique and polar aspects both resolve (laea_inverse
    branches on |lat0| = 90)."""
    if not re.search(r"Lambert[ _]Azimuthal[ _]Equal[ _]Area", spec, re.IGNORECASE):
        return None
    if not _wkt_datum_is_conic_safe(spec):
        raise NotImplementedError(
            "LAEA WKT declares a datum outside WGS84/NAD83 with no null "
            "TOWGS84 shift — routing to dead-letter (pyproj seam)"
        )

    def p(*names, default=None):
        for nm in names:
            m = re.search(
                r'PARAMETER\s*\[\s*"' + nm + r'"\s*,\s*(-?[\d.eE+]+)', spec, re.IGNORECASE
            )
            if m:
                return float(m.group(1))
        return default

    a, f = _wkt_ellipsoid(spec)
    unit = _wkt_linear_unit(spec)
    lat0 = p("latitude_of_origin", "latitude_of_center",
             "Latitude of natural origin", default=0.0)
    out = {
        "unit": unit,
        "a": a,
        "f": f,
        "lat0": lat0,
        "lon0": p("central_meridian", "longitude_of_center",
                  "Longitude of natural origin", default=0.0),
    }
    fe, fe_unit = _wkt_param(spec, "false_easting", "False easting", default=0.0)
    fn, fn_unit = _wkt_param(spec, "false_northing", "False northing", default=0.0)
    out["fe"] = fe * (fe_unit if fe_unit is not None else unit)
    out["fn"] = fn * (fn_unit if fn_unit is not None else unit)
    return out


def _mercator_wkt_params(spec: str) -> dict | None:
    """Mercator parameters out of a PROJCS/PROJCRS WKT —
    :func:`mercator_inverse` kwargs plus ``unit``. Covers Mercator_1SP /
    variant A (k0), Mercator_2SP / variant B (k0 derived from the
    standard parallel, EPSG method 9805), and the spherical 'Popular
    Visualisation Pseudo Mercator' (Web Mercator, method 1024). The
    Transverse/Oblique families are matched by their own parsers first;
    the regex here requires Mercator NOT preceded by those qualifiers."""
    if not re.search(r"Mercator", spec, re.IGNORECASE):
        return None
    if re.search(r"Transverse[ _]?Mercator|Oblique[ _]?Mercator", spec, re.IGNORECASE):
        return None  # owned by the TM parser / dead-letter
    spherical = bool(
        re.search(
            r"Pseudo[-_ ]?Mercator|Popular\s+Visualisation|Auxiliary[-_ ]Sphere",
            spec,
            re.IGNORECASE,
        )
    )
    if not _wkt_datum_is_conic_safe(spec):
        raise NotImplementedError(
            "mercator WKT declares a datum outside WGS84/NAD83 with no null "
            "TOWGS84 shift — routing to dead-letter (pyproj seam)"
        )

    def p(*names, default=None):
        for nm in names:
            m = re.search(
                r'PARAMETER\s*\[\s*"' + nm + r'"\s*,\s*(-?[\d.eE+]+)', spec, re.IGNORECASE
            )
            if m:
                return float(m.group(1))
        return default

    a, f = _wkt_ellipsoid(spec)
    unit = _wkt_linear_unit(spec)
    k0 = p("scale_factor", "Scale factor at natural origin")
    sp1 = p("standard_parallel_1", "Latitude of 1st standard parallel")
    if k0 is None and sp1 is not None and not spherical:
        # variant B: true scale at ±sp1 ⇒ k0 = m(sp1) (EPSG 9805)
        e = np.sqrt(2 * f - f * f)
        p1 = np.radians(abs(sp1))
        k0 = float(np.cos(p1) / np.sqrt(1 - (e * np.sin(p1)) ** 2))
    out = {
        "spherical": spherical,
        "unit": unit,
        "a": a,
        "f": f,
        "k0": 1.0 if k0 is None else k0,
        "lon0": p("central_meridian", "Longitude of natural origin",
                  "Longitude of origin", default=0.0),
    }
    fe, fe_unit = _wkt_param(spec, "false_easting", "False easting", default=0.0)
    fn, fn_unit = _wkt_param(spec, "false_northing", "False northing", default=0.0)
    out["fe"] = fe * (fe_unit if fe_unit is not None else unit)
    out["fn"] = fn * (fn_unit if fn_unit is not None else unit)
    return out


def compound_horizontal(spec: str) -> str | None:
    """CompoundCRS handling (reference: vertical axis promotes the CRS to
    3D and z passes through to a 6-element bbox — stac_utils.py:146-165,
    docs/crs.md:28-33): return the horizontal component of a
    COMPOUNDCRS/COMPD_CS WKT, or None if not compound. The vertical
    component contributes no horizontal transform — z is carried as-is."""
    if not re.match(r"\s*(COMPOUNDCRS|COMPD_CS)\s*\[", spec, re.IGNORECASE):
        return None
    # first nested CRS block = horizontal component
    m = re.search(r"(PROJCRS|PROJCS|GEOGCRS|GEOGCS)\s*\[", spec, re.IGNORECASE)
    if not m:
        return None
    depth, i = 0, m.start()
    for j in range(m.start(), len(spec)):
        if spec[j] == "[":
            depth += 1
        elif spec[j] == "]":
            depth -= 1
            if depth == 0:
                return spec[i : j + 1]
    return None


def eqc_inverse(x, y) -> tuple[np.ndarray, np.ndarray]:
    """EPSG:4087 (World Equidistant Cylindrical, lat_ts=0) inverse:
    plate-carrée metres → degrees (Snyder p.90)."""
    return (
        np.asarray(x, dtype=np.float64) / DEG_M,
        np.asarray(y, dtype=np.float64) / DEG_M,
    )


def _iter_conformal_phi(t, e, iters: int = 8) -> np.ndarray:
    """φ from the isometric parameter t (Snyder eq 7-9, fixed-point
    iteration — the same scheme :func:`lcc_inverse` uses; converges to
    double precision in ~4 iterations)."""
    phi = np.pi / 2 - 2 * np.arctan(t)
    for _ in range(iters):
        phi = np.pi / 2 - 2 * np.arctan(
            t * ((1 - e * np.sin(phi)) / (1 + e * np.sin(phi))) ** (e / 2)
        )
    return phi


def _snyder_t(phi, e):
    """Snyder eq 15-9: the conformal-projection isometric parameter."""
    return np.tan(np.pi / 4 - phi / 2) / (
        (1 - e * np.sin(phi)) / (1 + e * np.sin(phi))
    ) ** (e / 2)


def polar_stereo_inverse(
    x,
    y,
    a: float = WGS84_A,
    f: float = WGS84_F,
    lat_ts: float | None = 70.0,
    lon0: float = -45.0,
    fe: float = 0.0,
    fn: float = 0.0,
    k0: float | None = None,
    south: bool | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Ellipsoidal Polar Stereographic inverse — Snyder pp.160-162 (EPSG
    method 9829 'variant B' when ``lat_ts`` is given, 9810 'variant A'
    when ``k0`` is given instead). Defaults are EPSG:3413 (NSIDC Sea Ice
    Polar Stereographic North). The aspect (pole) follows the sign of
    ``lat_ts`` unless ``south`` is passed explicitly (variant A has no
    standard parallel to read it from). South aspect computes in the
    mirrored north form — Snyder p.161: reverse the signs of x, y, λ₀,
    λ, φ₁ and φ."""
    e = np.sqrt(2 * f - f * f)
    if south is None:
        south = lat_ts is not None and lat_ts < 0
    sgn = -1.0 if south else 1.0
    xp = sgn * (np.asarray(x, dtype=np.float64) - fe)
    yp = sgn * (np.asarray(y, dtype=np.float64) - fn)
    lon0_n = sgn * lon0
    rho = np.hypot(xp, yp)
    if k0 is not None:  # variant A: scale factor at the pole
        t = rho * np.sqrt((1 + e) ** (1 + e) * (1 - e) ** (1 - e)) / (2 * a * k0)
    else:  # variant B: true scale at lat_ts
        p_ts = np.radians(abs(lat_ts))
        m_ts = np.cos(p_ts) / np.sqrt(1 - (e * np.sin(p_ts)) ** 2)
        t = rho * _snyder_t(p_ts, e) / (a * m_ts)
    phi = _iter_conformal_phi(t, e)
    lon = lon0_n + np.degrees(np.arctan2(xp, -yp))
    return _wrap_lon(sgn * lon), sgn * np.degrees(phi)


def polar_stereo_forward(
    lon,
    lat,
    a: float = WGS84_A,
    f: float = WGS84_F,
    lat_ts: float | None = 70.0,
    lon0: float = -45.0,
    fe: float = 0.0,
    fn: float = 0.0,
    k0: float | None = None,
    south: bool | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Polar Stereographic forward (Snyder eqs 21-33/34, ellipsoidal) —
    pins :func:`polar_stereo_inverse` by roundtrip."""
    e = np.sqrt(2 * f - f * f)
    if south is None:
        south = lat_ts is not None and lat_ts < 0
    sgn = -1.0 if south else 1.0
    phi = np.radians(sgn * np.asarray(lat, dtype=np.float64))
    theta = np.radians(sgn * np.asarray(lon, dtype=np.float64) - sgn * lon0)
    t = _snyder_t(phi, e)
    if k0 is not None:
        rho = 2 * a * k0 * t / np.sqrt((1 + e) ** (1 + e) * (1 - e) ** (1 - e))
    else:
        p_ts = np.radians(abs(lat_ts))
        m_ts = np.cos(p_ts) / np.sqrt(1 - (e * np.sin(p_ts)) ** 2)
        rho = a * m_ts * t / _snyder_t(p_ts, e)
    return fe + sgn * rho * np.sin(theta), fn - sgn * rho * np.cos(theta)


def mercator_inverse(
    x,
    y,
    a: float = WGS84_A,
    f: float = WGS84_F,
    lon0: float = 0.0,
    fe: float = 0.0,
    fn: float = 0.0,
    k0: float = 1.0,
    spherical: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Mercator inverse. Ellipsoidal variant A/B by default (EPSG:3395
    with k0=1; variant B callers pass k0 = m(φ₁), EPSG method 9805);
    ``spherical=True`` is EPSG:3857 Web Mercator / 'Popular
    Visualisation Pseudo Mercator' (method 1024) — DEFINED on the
    sphere of radius a, not an approximation."""
    xp = np.asarray(x, dtype=np.float64) - fe
    yp = np.asarray(y, dtype=np.float64) - fn
    lon = lon0 + np.degrees(xp / (a * k0))
    if spherical:
        lat = np.degrees(2 * np.arctan(np.exp(yp / (a * k0))) - np.pi / 2)
        return _wrap_lon(lon), lat
    e = np.sqrt(2 * f - f * f)
    t = np.exp(-yp / (a * k0))
    return _wrap_lon(lon), np.degrees(_iter_conformal_phi(t, e))


def mercator_forward(
    lon,
    lat,
    a: float = WGS84_A,
    f: float = WGS84_F,
    lon0: float = 0.0,
    fe: float = 0.0,
    fn: float = 0.0,
    k0: float = 1.0,
    spherical: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Mercator forward (Snyder eq 7-7 ellipsoidal / 7-2 spherical) —
    pins :func:`mercator_inverse` by roundtrip."""
    lam = np.radians(np.asarray(lon, dtype=np.float64) - lon0)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    xx = fe + a * k0 * lam
    if spherical:
        return xx, fn + a * k0 * np.log(np.tan(np.pi / 4 + phi / 2))
    e = np.sqrt(2 * f - f * f)
    return xx, fn - a * k0 * np.log(_snyder_t(phi, e))


def _authalic_q(phi, e):
    """Snyder eq 3-12: the authalic-latitude auxiliary q."""
    es = e * np.sin(phi)
    return (1 - e * e) * (
        np.sin(phi) / (1 - es * es) - (1 / (2 * e)) * np.log((1 - es) / (1 + es))
    )


def laea_inverse(
    x,
    y,
    a: float = WGS84_A,
    f: float = GRS80_F,
    lat0: float = 52.0,
    lon0: float = 10.0,
    fe: float = 4_321_000.0,
    fn: float = 3_210_000.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Ellipsoidal Lambert Azimuthal Equal Area inverse, oblique aspect —
    Snyder pp.187-190 (EPSG method 9820). Defaults are EPSG:3035
    (ETRS89-extended / LAEA Europe — the EU INSPIRE grid). The authalic →
    geodetic conversion uses the e⁶ series (Snyder eq 3-18; error ≲ 1e-11
    rad on GRS80). Polar aspects (|lat0| = 90, Snyder eqs 24-31…33 —
    e.g. EPSG:3571-3576 pan-Arctic grids) take their own branch:
    ρ = a·√(q_p ∓ q), λ from atan2 about the pole."""
    e = np.sqrt(2 * f - f * f)
    p0 = np.radians(lat0)
    qp = _authalic_q(np.pi / 2, e)
    xp = np.asarray(x, dtype=np.float64) - fe
    yp = np.asarray(y, dtype=np.float64) - fn
    if abs(abs(lat0) - 90.0) < 1e-9:
        south = lat0 < 0
        sgn = -1.0 if south else 1.0
        rho = np.hypot(xp, yp)
        q = sgn * (qp - (rho / a) ** 2)
        beta = np.arcsin(np.clip(q / qp, -1.0, 1.0))
        beta = np.where(rho == 0, sgn * np.pi / 2, beta)
        lam = np.arctan2(xp, -sgn * yp)  # north: atan2(x, −y); south: atan2(x, y)
    else:
        b1 = np.arcsin(_authalic_q(p0, e) / qp)
        rq = a * np.sqrt(qp / 2)
        m1 = np.cos(p0) / np.sqrt(1 - (e * np.sin(p0)) ** 2)
        d = a * m1 / (rq * np.cos(b1))
        rho = np.hypot(xp / d, d * yp)
        with np.errstate(invalid="ignore"):
            ce = 2 * np.arcsin(rho / (2 * rq))
        safe_rho = np.where(rho == 0, 1.0, rho)
        beta = np.arcsin(
            np.cos(ce) * np.sin(b1) + d * yp * np.sin(ce) * np.cos(b1) / safe_rho
        )
        beta = np.where(rho == 0, b1, beta)
        lam = np.arctan2(
            xp * np.sin(ce),
            d * rho * np.cos(b1) * np.cos(ce) - d * d * yp * np.sin(b1) * np.sin(ce),
        )
    e2 = e * e
    phi = (
        beta
        + (e2 / 3 + 31 * e2 * e2 / 180 + 517 * e2 * e2 * e2 / 5040) * np.sin(2 * beta)
        + (23 * e2 * e2 / 360 + 251 * e2 * e2 * e2 / 3780) * np.sin(4 * beta)
        + (761 * e2 * e2 * e2 / 45360) * np.sin(6 * beta)
    )
    return _wrap_lon(lon0 + np.degrees(lam)), np.degrees(phi)


def laea_forward(
    lon,
    lat,
    a: float = WGS84_A,
    f: float = GRS80_F,
    lat0: float = 52.0,
    lon0: float = 10.0,
    fe: float = 4_321_000.0,
    fn: float = 3_210_000.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Ellipsoidal LAEA forward (Snyder eqs 24-27…24-29 oblique,
    24-23/24 polar) — pins :func:`laea_inverse` by roundtrip."""
    e = np.sqrt(2 * f - f * f)
    p0 = np.radians(lat0)
    qp = _authalic_q(np.pi / 2, e)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64) - lon0)
    q = _authalic_q(phi, e)
    if abs(abs(lat0) - 90.0) < 1e-9:
        sgn = -1.0 if lat0 < 0 else 1.0
        rho = a * np.sqrt(np.maximum(qp - sgn * q, 0.0))
        return fe + rho * np.sin(lam), fn - sgn * rho * np.cos(lam)
    b1 = np.arcsin(_authalic_q(p0, e) / qp)
    rq = a * np.sqrt(qp / 2)
    m1 = np.cos(p0) / np.sqrt(1 - (e * np.sin(p0)) ** 2)
    d = a * m1 / (rq * np.cos(b1))
    beta = np.arcsin(np.clip(q / qp, -1.0, 1.0))
    b = rq * np.sqrt(
        2 / (1 + np.sin(b1) * np.sin(beta) + np.cos(b1) * np.cos(beta) * np.cos(lam))
    )
    xx = fe + b * d * np.cos(beta) * np.sin(lam)
    yy = fn + (b / d) * (
        np.cos(b1) * np.sin(beta) - np.sin(b1) * np.cos(beta) * np.cos(lam)
    )
    return xx, yy


def laea_params(code: int) -> dict | None:
    """EPSG LAEA codes on WGS84-equivalent datums → :func:`laea_inverse`
    kwargs (ETRS89 ≡ WGS84 at the metre level, the registered
    datum-tolerance precedent)."""
    table = {
        # ETRS89-extended / LAEA Europe (EU INSPIRE standard grid)
        3035: {"a": WGS84_A, "f": GRS80_F, "lat0": 52.0, "lon0": 10.0,
               "fe": 4_321_000.0, "fn": 3_210_000.0},
    }
    # WGS 84 / North Pole LAEA family (polar aspect), lon0 per region
    for c, lon0 in ((3571, 180.0), (3572, -150.0), (3573, -100.0),
                    (3574, -40.0), (3575, 10.0), (3576, 90.0)):
        table[c] = {"a": WGS84_A, "f": WGS84_F, "lat0": 90.0, "lon0": lon0,
                    "fe": 0.0, "fn": 0.0}
    return table.get(code)


def polar_stereo_params(code: int) -> dict | None:
    """EPSG WGS84 polar-stereographic codes → variant-B parameters
    (EPSG registry definitions; all metres, FE = FN = 0)."""
    return {
        3413: {"lat_ts": 70.0, "lon0": -45.0},   # NSIDC Sea Ice North
        3995: {"lat_ts": 71.0, "lon0": 0.0},     # Arctic Polar Stereographic
        3031: {"lat_ts": -71.0, "lon0": 0.0},    # Antarctic Polar Stereographic
        3976: {"lat_ts": -70.0, "lon0": 0.0},    # NSIDC Sea Ice South
        # UPS (variant A: scale factor at the pole, FE = FN = 2,000,000 m)
        5041: {"lat_ts": None, "k0": 0.994, "lon0": 0.0,
               "fe": 2_000_000.0, "fn": 2_000_000.0, "south": False},
        5042: {"lat_ts": None, "k0": 0.994, "lon0": 0.0,
               "fe": 2_000_000.0, "fn": 2_000_000.0, "south": True},
    }.get(code)


def lcc_params(code: int) -> dict | None:
    """EPSG LCC-2SP codes on WGS84-equivalent datums → :func:`lcc_inverse`
    kwargs. RGF93 (Lambert-93) is ≡ WGS84 at the centimetre level — the
    same datum-tolerance precedent as the registered NAD83 3347/3348."""
    return {
        # RGF93 v1 / Lambert-93 (France) — GRS80 ellipsoid
        2154: {"a": WGS84_A, "f": GRS80_F, "lat1": 49.0, "lat2": 44.0,
               "lat0": 46.5, "lon0": 3.0, "fe": 700_000.0, "fn": 6_600_000.0},
    }.get(code)


_LON_AXIS_RE = re.compile(r"(^|\s)lon", re.IGNORECASE)


def _spec_text(crs_spec) -> str:
    return str(crs_spec)


def _epsg_code(crs_spec) -> int | None:
    s = _spec_text(crs_spec).strip()
    m = re.fullmatch(r"(?:EPSG:)?(\d{4,5})", s, re.IGNORECASE)
    if m:
        return int(m.group(1))
    # OGC identifier forms (STAC/OGC-API payloads carry these verbatim):
    #   urn:ogc:def:crs:EPSG::4326   urn:ogc:def:crs:EPSG:9.9.1:4326
    #   http://www.opengis.net/def/crs/EPSG/0/4326
    m = re.fullmatch(
        r"urn:ogc:def:crs:EPSG:[^:]*:(\d{4,5})", s, re.IGNORECASE
    ) or re.fullmatch(
        r"https?://www\.opengis\.net/def/crs/EPSG/[^/]*/(\d{4,5})", s, re.IGNORECASE
    )
    if m:
        return int(m.group(1))
    m = re.search(r'ID\s*\[\s*"EPSG"\s*,\s*(\d+)\s*\]\s*\]\s*$', s)
    return int(m.group(1)) if m else None


_CRS84_RE = re.compile(
    r"^(?:OGC:)?CRS84$|^urn:ogc:def:crs:OGC:[^:]*:CRS84$"
    r"|^https?://www\.opengis\.net/def/crs/OGC/[^/]*/CRS84$",
    re.IGNORECASE,
)


def _is_crs84(crs_spec) -> bool:
    """OGC:CRS84 — WGS84 with LON-FIRST axis order, the CRS the STAC spec
    mandates for item geometries. Identity transform, east-first."""
    return bool(_CRS84_RE.match(_spec_text(crs_spec).strip()))


def x_is_longitude(crs_spec) -> bool:
    """First-axis longitude detection mirroring stac_utils.py:100-108."""
    s = _spec_text(crs_spec)
    m = re.search(r'AXIS\s*\[\s*"([^"]*)"\s*,\s*(\w+)', s)
    if m:
        name, direction = m.group(1), m.group(2)
        return bool(_LON_AXIS_RE.search(name)) or direction.lower() in ("east", "west")
    code = _epsg_code(crs_spec)
    if code in GEOGRAPHIC_WGS84_EQUIV and not _is_crs84(crs_spec):
        return False  # EPSG geographic: latitude first
    return True  # projected CRSs (and OGC:CRS84): easting/longitude first


def crs_axis_units(crs_spec) -> list[str]:
    """Per-axis unit names in declaration order (GeoData.x/y/z_units reads
    pyproj's axis_info[i].unit_name; here parsed from the WKT AXIS blocks'
    ANGLEUNIT/LENGTHUNIT entries, with EPSG geographic defaults)."""
    s = _spec_text(crs_spec)
    axis_blocks = re.split(r"AXIS\s*\[", s)[1:]
    units = []
    for block in axis_blocks:
        m = re.search(r'(?:ANGLEUNIT|LENGTHUNIT)\s*\[\s*"([^"]+)"', block)
        if m:
            units.append(m.group(1))
    if units:
        return units
    code = _epsg_code(crs_spec)
    if code == 4326:
        return ["degree", "degree"]
    if code == 4979:
        return ["degree", "degree", "metre"]
    return ["metre", "metre", "metre"]


def crs_reference_system(crs_spec):
    """Datacube ``reference_system``: the EPSG code when one exists, else
    the (whitespace-normalized) WKT — mirroring
    ``crs.to_epsg() or crs.to_wkt()`` (reference datacube.py:158-159; the
    reference's own test asserts its fixture WKT normalizes to exactly
    this, tests/test_cmip6_datacube.py:63-64)."""
    code = _epsg_code(crs_spec)
    if code is not None:
        return code
    return re.sub(r"\n\s+", "", _spec_text(crs_spec)).strip()


def _primem_shift(crs_spec) -> float:
    m = re.search(r'PRIMEM\s*\[\s*"[^"]*"\s*,\s*(-?[\d.]+)', _spec_text(crs_spec))
    return float(m.group(1)) if m else 0.0


_PYPROJ: object = "unresolved"


def _try_pyproj():
    """Optional-wheel seam: probe for a pyproj wheel once per Python
    worker at first use. Present → any pyproj-resolvable CRS transforms
    instead of dead-lettering; absent → None, registry-only behavior."""
    global _PYPROJ
    if _PYPROJ == "unresolved":
        try:
            import pyproj  # noqa: PLC0415

            _PYPROJ = pyproj
        except ImportError:
            _PYPROJ = None
    return _PYPROJ


@functools.lru_cache(maxsize=256)
def _pyproj_transformer(spec: str):
    """Per-worker transformer cache: CRS parse + pipeline build is
    ~ms-scale, far too slow to repeat per Arrow batch of one catalog's
    items; distinct CRS specs per workload are O(10)."""
    pyproj = _try_pyproj()
    return pyproj.Transformer.from_crs(
        pyproj.CRS.from_user_input(spec), "EPSG:4326", always_xy=True
    )


def _pyproj_inverse(x, y, spec: str):
    t = _pyproj_transformer(spec)
    lon, lat = t.transform(
        np.asarray(x, dtype=np.float64), np.asarray(y, dtype=np.float64)
    )
    return np.asarray(lon, dtype=np.float64), np.asarray(lat, dtype=np.float64)


def transform_to_wgs84(x, y, z=None, crs_spec="EPSG:4326"):
    """(x, y[, z]) in ``crs_spec`` → (lon, lat, vert) on WGS84.

    The numpy registry is primary. A CRS the registry cannot handle
    falls through to a pyproj transformer when the wheel is present
    (:func:`_try_pyproj`); otherwise raises NotImplementedError — the
    dead-letter route callers rely on.
    """
    spec = _spec_text(crs_spec)
    horizontal = compound_horizontal(spec)
    if horizontal is not None:
        # CompoundCRS: transform the horizontal component, pass z through
        # (vertical promotion → 6-element bbox, stac_utils.py:146-165)
        return transform_to_wgs84(x, y, z, horizontal)

    code = _epsg_code(crs_spec)
    x_lon = x_is_longitude(crs_spec)
    lon_in, lat_in = (x, y) if x_lon else (y, x)

    try:
        utm = utm_params(code) if code is not None else None
        tm_wkt = _tm_wkt_params(spec) if utm is None else None
        conic = _conic_wkt_params(spec) if utm is None and tm_wkt is None and code not in (3347, 3348) else None
        polar = (
            polar_stereo_params(code)
            if code is not None and utm is None and tm_wkt is None and conic is None
            else None
        )
        polar_wkt = (
            _polar_wkt_params(spec)
            if utm is None and tm_wkt is None and conic is None and polar is None
            else None
        )
        laea_wkt = (
            _laea_wkt_params(spec)
            if utm is None and tm_wkt is None and conic is None
            and polar is None and polar_wkt is None and code != 3035
            else None
        )
        merc_wkt = (
            _mercator_wkt_params(spec)
            if utm is None and tm_wkt is None and conic is None
            and polar is None and polar_wkt is None and laea_wkt is None
            and code not in (3857, 3395)
            else None
        )
        if utm is not None:
            lon, lat = tm_inverse(x, y, **utm)
        elif tm_wkt is not None:
            unit = tm_wkt.pop("unit", 1.0)
            lon, lat = tm_inverse(
                np.asarray(x, dtype=np.float64) * unit,
                np.asarray(y, dtype=np.float64) * unit,
                **tm_wkt,
            )
        elif conic is not None:
            unit = conic.pop("unit", 1.0)
            inv = lcc_inverse if conic.pop("kind") == "lcc" else albers_inverse
            lon, lat = inv(
                np.asarray(x, dtype=np.float64) * unit,
                np.asarray(y, dtype=np.float64) * unit,
                **conic,
            )
        elif code in GEOGRAPHIC_WGS84_EQUIV or _is_crs84(crs_spec) or (
            re.search(r"GEOGCRS|GEOGCS", _spec_text(crs_spec))
            and not re.match(r"\s*(PROJCRS|PROJCS)\s*\[", _spec_text(crs_spec))
        ):
            lon = np.asarray(lon_in, dtype=np.float64)
            shift = _primem_shift(crs_spec)
            if shift:  # e.g. PRIMEM -360: the 0-360 convention
                lon = _wrap_lon(lon + shift)
            lat = np.asarray(lat_in, dtype=np.float64)
        elif polar is not None:
            lon, lat = polar_stereo_inverse(x, y, **polar)
        elif polar_wkt is not None:
            unit = polar_wkt.pop("unit", 1.0)
            lon, lat = polar_stereo_inverse(
                np.asarray(x, dtype=np.float64) * unit,
                np.asarray(y, dtype=np.float64) * unit,
                **polar_wkt,
            )
        elif code == 3857:  # Web Mercator (spherical by definition)
            lon, lat = mercator_inverse(x, y, spherical=True)
        elif code == 3395:  # World Mercator (ellipsoidal variant A)
            lon, lat = mercator_inverse(x, y)
        elif merc_wkt is not None:
            unit = merc_wkt.pop("unit", 1.0)
            lon, lat = mercator_inverse(
                np.asarray(x, dtype=np.float64) * unit,
                np.asarray(y, dtype=np.float64) * unit,
                **merc_wkt,
            )
        elif code == 4087:
            lon, lat = eqc_inverse(x, y)
        elif code in (3347, 3348):
            lon, lat = lcc_inverse(x, y)
        elif code is not None and lcc_params(code) is not None:
            lon, lat = lcc_inverse(x, y, **lcc_params(code))
        elif code is not None and laea_params(code) is not None:
            lon, lat = laea_inverse(x, y, **laea_params(code))
        elif laea_wkt is not None:
            unit = laea_wkt.pop("unit", 1.0)
            lon, lat = laea_inverse(
                np.asarray(x, dtype=np.float64) * unit,
                np.asarray(y, dtype=np.float64) * unit,
                **laea_wkt,
            )
        else:
            raise NotImplementedError(f"no registered transform for CRS {crs_spec!r}")
    except NotImplementedError as registry_err:
        # the registry's dead-letter set (unknown projection, non-WGS84
        # datum, south-orientated TM, …) → pyproj when available
        if _try_pyproj() is None:
            raise NotImplementedError(
                f"{registry_err} (no pyproj wheel present to fall back to — "
                "install pyproj to transform this CRS)"
            ) from registry_err
        try:
            # always_xy=True expects east-first input — reuse the
            # x_is_longitude swap so north-first WKTs feed pyproj correctly
            lon, lat = _pyproj_inverse(lon_in, lat_in, spec)
        except Exception as e:  # noqa: BLE001 - normalize to the dead-letter contract
            raise NotImplementedError(
                f"pyproj could not transform CRS {crs_spec!r} "
                f"({type(e).__name__}: {e}); routing to dead-letter"
            ) from e

    if np.any(np.abs(lon) > 180.0 + 1e-9):
        raise ValueError(f"longitude not WGS84-compliant after transform: {lon}")
    if np.any(np.abs(lat) > 90.0 + 1e-9):
        raise ValueError(f"latitude not WGS84-compliant after transform: {lat}")
    vert = None if z is None else np.asarray(z, dtype=np.float64)
    return lon, lat, vert
