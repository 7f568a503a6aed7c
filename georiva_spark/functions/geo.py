"""Geometry helpers: GeoJSON parsing, vectorized point-in-polygon, affine
pixel↔coordinate math (SURVEY.md §2.8 Geo row).

Dependency-free (numpy only — the container has no shapely/rasterio): the
containment test is an even-odd crossing-number algorithm vectorized over
pixel centers, which reproduces rasterio.mask(all_touched=False) semantics —
a pixel belongs to a polygon iff its *center* is inside
(geoprocessing/zonal.py:52-54; SURVEY §7 hard part 1).
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class ParsedGeometry:
    """Rings flattened from a (Multi)Polygon; even-odd parity over all rings
    handles holes without distinguishing shells."""
    rings: tuple[np.ndarray, ...]      # each (n, 2) float64 [lon, lat], closed or open
    bbox: tuple[float, float, float, float]  # west, south, east, north


def parse_geojson(geometry: str | None) -> ParsedGeometry | None:
    """Parse a GeoJSON Polygon/MultiPolygon string; None/invalid → None
    (reference returns EMPTY_STATS for null geometry, zonal.py:41-48)."""
    if geometry is None:
        return None
    try:
        geom = json.loads(geometry)
    except (TypeError, ValueError):
        return None
    gtype = geom.get("type")
    if gtype == "Polygon":
        polys = [geom["coordinates"]]
    elif gtype == "MultiPolygon":
        polys = geom["coordinates"]
    else:
        return None
    rings: list[np.ndarray] = []
    for poly in polys:
        for ring in poly:
            arr = np.asarray(ring, dtype=np.float64)
            if arr.ndim == 2 and len(arr) >= 3:
                rings.append(arr)
    if not rings:
        return None
    allpts = np.vstack(rings)
    bbox = (float(allpts[:, 0].min()), float(allpts[:, 1].min()),
            float(allpts[:, 0].max()), float(allpts[:, 1].max()))
    return ParsedGeometry(rings=tuple(rings), bbox=bbox)


def points_in_geometry(lon: np.ndarray, lat: np.ndarray,
                       geom: ParsedGeometry) -> np.ndarray:
    """Vectorized even-odd containment of points in a (Multi)Polygon.

    Crossing-number per ring, XOR-accumulated → holes subtract, disjoint
    shells add. Half-open edge rule (y1 <= p < y2) keeps shared edges
    counted once.
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    inside = np.zeros(lon.shape, dtype=bool)
    w, s, e, n = geom.bbox
    candidate = (lon >= w) & (lon <= e) & (lat >= s) & (lat <= n)
    if not candidate.any():
        return inside
    px, py = lon[candidate], lat[candidate]
    acc = np.zeros(px.shape, dtype=bool)
    for ring in geom.rings:
        x1, y1 = ring[:-1, 0], ring[:-1, 1]
        x2, y2 = ring[1:, 0], ring[1:, 1]
        if ring[0, 0] != ring[-1, 0] or ring[0, 1] != ring[-1, 1]:
            x1 = np.append(x1, ring[-1, 0]); y1 = np.append(y1, ring[-1, 1])
            x2 = np.append(x2, ring[0, 0]);  y2 = np.append(y2, ring[0, 1])
        # edges × points: (E, 1) vs (P,) broadcasting
        y1c, y2c = y1[:, None], y2[:, None]
        x1c, x2c = x1[:, None], x2[:, None]
        crosses = (y1c <= py) != (y2c <= py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1c + (py - y1c) * (x2c - x1c) / (y2c - y1c)
        hits = crosses & (px < xint)
        acc ^= (hits.sum(axis=0) % 2).astype(bool)
    inside[candidate] = acc
    return inside


def scanline_runs(geom: ParsedGeometry, lats: np.ndarray,
                  chunk: int = 4096) -> tuple[np.ndarray, ...]:
    """Raptor scanline rasterization (VLDB 2019): ``geom``'s half-open lon
    runs ``[lo, hi)`` along each of the sorted, distinct, NaN-free
    ``lats`` → (rlat, lo, hi) float64 arrays. A point is inside per
    :func:`points_in_geometry` iff a run has ``rlat == lat`` and
    ``lo <= lon < hi``, bit for bit: the same crossing formula and
    half-open edge rule, sorted crossings paired by the even-odd rule (a
    NaN crossing never counts, so an odd count gets a leading -inf), runs
    clamped to the closed bbox (``nextafter(e, inf)`` keeps ``lon <= e``).
    Crossings come per edge over the latitudes it spans, ``chunk``
    latitudes at a time: O(edges × chunk) memory."""
    w, s, e, n = geom.bbox
    closed = [r if (r[0, :2] == r[-1, :2]).all() else np.vstack([r, r[:1]])
              for r in geom.rings]
    p = np.concatenate([r[:-1] for r in closed])
    q = np.concatenate([r[1:] for r in closed])
    x1, y1, x2, y2 = p[:, 0], p[:, 1], q[:, 0], q[:, 1]
    # (y1 <= lat) != (y2 <= lat)  ⇔  min(y1, y2) <= lat < max(y1, y2)
    first = np.searchsorted(lats, np.minimum(y1, y2), "left")
    stop = np.searchsorted(lats, np.maximum(y1, y2), "left")
    out, a1 = [], np.searchsorted(lats, n, "right")
    for c0 in range(np.searchsorted(lats, s, "left"), a1, chunk):
        c1 = min(c0 + chunk, a1)
        lo_i = np.clip(first, c0, c1)
        cnt = np.clip(stop, c0, c1) - lo_i
        ei = np.repeat(np.arange(len(x1)), cnt)
        li = (np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)
              + lo_i[ei])
        py = lats[li]
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            xc = x1[ei] + (py - y1[ei]) * (x2[ei] - x1[ei]) / (y2[ei] - y1[ei])
        li, xc = li[~np.isnan(xc)], xc[~np.isnan(xc)]
        odd = np.flatnonzero(np.bincount(li - c0, minlength=c1 - c0) % 2) + c0
        li = np.concatenate([li, odd])
        xc = np.concatenate([xc, np.full(len(odd), -np.inf)])
        order = np.lexsort((xc, li))
        li, xc = li[order], xc[order]
        lo = np.maximum(xc[0::2], w)
        hi = np.minimum(xc[1::2], np.nextafter(e, np.inf))
        keep = lo < hi
        out.append((lats[li[0::2][keep]], lo[keep], hi[keep]))
    return tuple(np.concatenate([o[k] for o in out] or [np.empty(0)])
                 for k in range(3))


# Spherical web-mercator (EPSG:3857) — closed form, no pyproj needed.
WEBMERC_RADIUS = 6378137.0
WEBMERC_MAX_LAT = 85.05112877980659  # atan(sinh(pi)) in degrees


def lonlat_to_webmercator_xy(lon: float, lat: float) -> tuple[float, float]:
    lat = min(max(lat, -WEBMERC_MAX_LAT), WEBMERC_MAX_LAT)
    x = WEBMERC_RADIUS * math.radians(lon)
    y = WEBMERC_RADIUS * math.log(math.tan(math.pi / 4
                                           + math.radians(lat) / 2))
    return x, y


def webmercator_to_lonlat_xy(x: float, y: float) -> tuple[float, float]:
    lon = math.degrees(x / WEBMERC_RADIUS)
    lat = math.degrees(2 * math.atan(math.exp(y / WEBMERC_RADIUS))
                       - math.pi / 2)
    return lon, lat


def reproject_geometry(geometry: str, dst_crs: str,
                       src_crs: str = "EPSG:4326") -> str:
    """Reproject a GeoJSON geometry string between CRSs
    (geoprocessing/zonal.py:30-38).

    Closed-form natively (no pyproj): 4326↔3857 spherical mercator,
    4326↔UTM zones (EPSG:326xx/327xx, Krüger series), and 4326↔polar
    stereographic (EPSG:3413 north / 3976 south, Snyder ellipsoidal) —
    the grids regional and sea-ice products actually ship on. Remaining
    exotic CRS pairs stay gated behind the pyproj seam; the rest of the
    mask pipeline is CRS-agnostic since it only consumes ring
    coordinates.
    """
    def _norm(c: str) -> str:
        return c.strip().upper().replace(" ", "")
    src, dst = _norm(src_crs), _norm(dst_crs)
    if src == dst:
        return geometry
    fwd = {("EPSG:4326", "EPSG:3857"): lonlat_to_webmercator_xy,
           ("EPSG:3857", "EPSG:4326"): webmercator_to_lonlat_xy}
    fn = fwd.get((src, dst)) or _crs_closed_form(src, dst)
    if fn is not None:
        geom = json.loads(geometry)

        def tx(coords):
            if (isinstance(coords, (list, tuple)) and len(coords) >= 2
                    and all(isinstance(c, (int, float)) for c in coords[:2])):
                a, b = fn(float(coords[0]), float(coords[1]))
                return [a, b]
            return [tx(c) for c in coords]

        geom["coordinates"] = tx(geom["coordinates"])
        return json.dumps(geom)
    try:
        import pyproj  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            f"reprojection {src_crs}→{dst_crs} needs pyproj (not in this "
            "container); 4326↔3857 transforms are computed natively") from e
    raise NotImplementedError("pyproj transform path not wired yet")


def webmercator_xy(lat, lon):
    """(merc_x, merc_y) EPSG:3857 Columns from lat/lon degrees — the
    closed-form spherical mercator, JVM-side. Latitude clamps to the
    mercator limit (±85.051…°), matching the scalar helper — without it
    a polar pixel would produce an infinite merc_y."""
    from pyspark.sql import functions as F
    lat_c = F.greatest(F.lit(-WEBMERC_MAX_LAT),
                       F.least(lat, F.lit(WEBMERC_MAX_LAT)))
    x = (F.lit(WEBMERC_RADIUS) * F.radians(lon)).alias("merc_x")
    y = (F.lit(WEBMERC_RADIUS) * F.log(
        F.tan(F.lit(math.pi / 4) + F.radians(lat_c) / F.lit(2.0)))
        ).alias("merc_y")
    return x, y


def webmercator_tile(lat, lon, zoom: int):
    """Slippy-map tile index (tile_x, tile_y) Columns for a zoom level —
    the XYZ addressing the reference's titiler service exposes. Pure
    JVM expressions (radians/tan/log), clamped to the valid tile range.
    """
    from pyspark.sql import functions as F
    n = F.lit(float(1 << zoom))
    xt = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n)
    lat_r = F.radians(lat)
    yt = F.floor((F.lit(1.0) - F.log(F.tan(lat_r)
                                     + F.lit(1.0) / F.cos(lat_r))
                  / F.lit(math.pi)) / F.lit(2.0) * n)
    clamp = lambda c: F.greatest(F.lit(0), F.least(c, F.lit((1 << zoom) - 1)))  # noqa: E731
    return clamp(xt).alias("tile_x"), clamp(yt).alias("tile_y")


# ---------------------------------------------------------------------------
# General-CRS closed forms: UTM (Krüger series) + polar stereographic
# (Snyder ellipsoidal). Both are published closed-form series — no pyproj
# needed for the grids regional/ice products actually use
# (geoprocessing/zonal.py:30-38 delegates ALL of this to pyproj).
# ---------------------------------------------------------------------------

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
_E2 = WGS84_F * (2.0 - WGS84_F)
_E = math.sqrt(_E2)
_N3 = WGS84_F / (2.0 - WGS84_F)
# Krüger flattening series in n (3rd order: sub-mm inside a UTM zone)
KRUGER_A = WGS84_A / (1 + _N3) * (1 + _N3 ** 2 / 4 + _N3 ** 4 / 64)
KRUGER_ALPHA = (_N3 / 2 - 2 * _N3 ** 2 / 3 + 5 * _N3 ** 3 / 16,
                13 * _N3 ** 2 / 48 - 3 * _N3 ** 3 / 5,
                61 * _N3 ** 3 / 240)
KRUGER_BETA = (_N3 / 2 - 2 * _N3 ** 2 / 3 + 37 * _N3 ** 3 / 96,
               _N3 ** 2 / 48 + _N3 ** 3 / 15,
               17 * _N3 ** 3 / 480)
KRUGER_DELTA = (2 * _N3 - 2 * _N3 ** 2 / 3 - 2 * _N3 ** 3,
                7 * _N3 ** 2 / 3 - 8 * _N3 ** 3 / 5,
                56 * _N3 ** 3 / 15)
UTM_K0 = 0.9996
UTM_E0 = 500_000.0
UTM_FN_SOUTH = 10_000_000.0


def utm_zone_lon0(zone: int) -> float:
    """Central meridian (degrees) of a UTM zone."""
    return -183.0 + 6.0 * zone


def utm_forward_np(lat, lon, zone: int, south: bool = False):
    """UTM forward (Krüger series, WGS84) — vectorized numpy.
    → (easting, northing) meters."""
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64)
                     - utm_zone_lon0(zone))
    sphi = np.sin(phi)
    t = np.sinh(np.arctanh(sphi) - _E * np.arctanh(_E * sphi))
    xi_p = np.arctan2(t, np.cos(lam))
    eta_p = np.arcsinh(np.sin(lam) / np.hypot(t, np.cos(lam)))
    xi, eta = xi_p.copy(), eta_p.copy()
    for j, a_j in enumerate(KRUGER_ALPHA, start=1):
        xi = xi + a_j * np.sin(2 * j * xi_p) * np.cosh(2 * j * eta_p)
        eta = eta + a_j * np.cos(2 * j * xi_p) * np.sinh(2 * j * eta_p)
    easting = UTM_E0 + UTM_K0 * KRUGER_A * eta
    northing = (UTM_FN_SOUTH if south else 0.0) + UTM_K0 * KRUGER_A * xi
    return easting, northing


def utm_inverse_np(easting, northing, zone: int, south: bool = False):
    """UTM inverse (Krüger series) → (lat, lon) degrees."""
    xi = (np.asarray(northing, np.float64)
          - (UTM_FN_SOUTH if south else 0.0)) / (UTM_K0 * KRUGER_A)
    eta = (np.asarray(easting, np.float64) - UTM_E0) / (UTM_K0 * KRUGER_A)
    xi_p, eta_p = xi.copy(), eta.copy()
    for j, b_j in enumerate(KRUGER_BETA, start=1):
        xi_p = xi_p - b_j * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_p = eta_p - b_j * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    chi = np.arcsin(np.sin(xi_p) / np.cosh(eta_p))
    phi = chi.copy()
    for j, d_j in enumerate(KRUGER_DELTA, start=1):
        phi = phi + d_j * np.sin(2 * j * chi)
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
    return np.degrees(phi), np.degrees(lam) + utm_zone_lon0(zone)


def utm_cols(lat, lon, zone: int, south: bool = False):
    """(easting, northing) Columns — the same Krüger series as
    utm_forward_np as pure JVM expressions (sinh/cosh/atanh/asinh are
    built-ins), so a 100-TB reprojection is whole-stage codegen with no
    UDF and the math is reproducible in an external SQL oracle."""
    from pyspark.sql import functions as F
    phi = F.radians(lat)
    lam = F.radians(lon - F.lit(utm_zone_lon0(zone)))
    sphi = F.sin(phi)
    t = F.sinh(F.atanh(sphi) - F.lit(_E) * F.atanh(F.lit(_E) * sphi))
    hyp = F.sqrt(t * t + F.cos(lam) * F.cos(lam))
    xi_p = F.atan2(t, F.cos(lam))
    eta_p = F.asinh(F.sin(lam) / hyp)
    xi, eta = xi_p, eta_p
    for j, a_j in enumerate(KRUGER_ALPHA, start=1):
        xi = xi + F.lit(a_j) * F.sin(F.lit(2.0 * j) * xi_p) \
            * F.cosh(F.lit(2.0 * j) * eta_p)
        eta = eta + F.lit(a_j) * F.cos(F.lit(2.0 * j) * xi_p) \
            * F.sinh(F.lit(2.0 * j) * eta_p)
    e_col = (F.lit(UTM_E0) + F.lit(UTM_K0 * KRUGER_A) * eta) \
        .alias("easting")
    n_col = (F.lit(UTM_FN_SOUTH if south else 0.0)
             + F.lit(UTM_K0 * KRUGER_A) * xi).alias("northing")
    return e_col, n_col


def _ps_t(phi):
    return (np.tan(np.pi / 4 - phi / 2)
            * ((1 + _E * np.sin(phi)) / (1 - _E * np.sin(phi)))
            ** (_E / 2))


def _ps_m(phi):
    return np.cos(phi) / np.sqrt(1 - _E2 * np.sin(phi) ** 2)


def polar_stereo_np(lat, lon, lat_ts: float = 70.0, lon0: float = -45.0,
                    south: bool = False):
    """Ellipsoidal polar stereographic forward (Snyder 21-33/34), true
    scale at ``lat_ts`` — the EPSG:3413 / 3976 family. → (x, y) m."""
    phi = np.radians(np.asarray(lat, np.float64))
    lam = np.radians(np.asarray(lon, np.float64) - lon0)
    if south:
        phi, lam = -phi, -lam
    ts = math.radians(abs(lat_ts))
    rho = WGS84_A * _ps_m(ts) * _ps_t(phi) / _ps_t(ts)
    x = rho * np.sin(lam)
    y = -rho * np.cos(lam)
    if south:
        x, y = -x, -y
    return x, y


def polar_stereo_inverse_np(x, y, lat_ts: float = 70.0,
                            lon0: float = -45.0, south: bool = False):
    """Ellipsoidal polar stereographic inverse (Snyder 21-39/40 + the
    conformal-latitude series 3-5). → (lat, lon) degrees."""
    x = np.asarray(x, np.float64)
    y = np.asarray(y, np.float64)
    if south:
        x, y = -x, -y
    ts = math.radians(abs(lat_ts))
    rho = np.hypot(x, y)
    t = rho * _ps_t(ts) / (WGS84_A * _ps_m(ts))
    chi = np.pi / 2 - 2 * np.arctan(t)
    e2, e4 = _E2, _E2 ** 2
    e6, e8 = _E2 ** 3, _E2 ** 4
    phi = (chi
           + (e2 / 2 + 5 * e4 / 24 + e6 / 12 + 13 * e8 / 360)
           * np.sin(2 * chi)
           + (7 * e4 / 48 + 29 * e6 / 240 + 811 * e8 / 11520)
           * np.sin(4 * chi)
           + (7 * e6 / 120 + 81 * e8 / 1120) * np.sin(6 * chi)
           + (4279 * e8 / 161280) * np.sin(8 * chi))
    lam = np.arctan2(x, -y)
    if south:
        phi, lam = -phi, -lam
    return np.degrees(phi), np.degrees(lam) + lon0


def polar_stereo_cols(lat, lon, lat_ts: float = 70.0,
                      lon0: float = -45.0):
    """(ps_x, ps_y) Columns for the north polar stereographic — the
    same Snyder closed form as polar_stereo_np, JVM-side."""
    from pyspark.sql import functions as F
    phi = F.radians(lat)
    lam = F.radians(lon - F.lit(lon0))
    sphi = F.sin(phi)
    t = (F.tan(F.lit(math.pi / 4) - phi / F.lit(2.0))
         * F.pow((F.lit(1.0) + F.lit(_E) * sphi)
                 / (F.lit(1.0) - F.lit(_E) * sphi), F.lit(_E / 2)))
    ts = math.radians(abs(lat_ts))
    scale = WGS84_A * float(_ps_m(ts)) / float(_ps_t(ts))
    rho = F.lit(scale) * t
    return ((rho * F.sin(lam)).alias("ps_x"),
            (-rho * F.cos(lam)).alias("ps_y"))


# ---------------------------------------------------------------------------
# Spherical projections for GRIB2 projected grids (templates 3.1/3.20/3.30).
# NWP products on Lambert-conformal (HRRR/NAM, template 3.30), polar-
# stereographic (sea ice, 3.20) and rotated-pole (COSMO/ICON-EU, 3.1) grids
# define the projection on a SPHERE whose radius rides in section 3 (earth
# shape octet); the reference reads them via eccodes (formats/grib.py:61-144).
# All closed-form per Snyder, Map Projections — A Working Manual (USGS PP
# 1395): LCC spherical 15-1..15-11, stereographic spherical 21-8..21-15.
# ---------------------------------------------------------------------------

GRIB_EARTH_SPHERE = 6371229.0   # GRIB2 earth-shape code 6 (the NCEP default)


def lcc_sphere_np(lat, lon, lat1: float, lat2: float, lat0: float,
                  lon0: float, radius: float = GRIB_EARTH_SPHERE):
    """Spherical Lambert conformal conic forward (Snyder 15-1..15-4),
    standard parallels ``lat1``/``lat2``, origin (``lat0``, ``lon0``).
    → (x, y) meters, vectorized."""
    phi = np.radians(np.asarray(lat, np.float64))
    lam = np.radians(((np.asarray(lon, np.float64) - lon0 + 180.0)
                      % 360.0) - 180.0)
    p1, p2, p0 = (math.radians(lat1), math.radians(lat2),
                  math.radians(lat0))
    if abs(lat1 - lat2) < 1e-12:
        n = math.sin(p1)
    else:
        n = (math.log(math.cos(p1) / math.cos(p2))
             / math.log(math.tan(math.pi / 4 + p2 / 2)
                        / math.tan(math.pi / 4 + p1 / 2)))
    f = math.cos(p1) * math.tan(math.pi / 4 + p1 / 2) ** n / n
    rho = radius * f / np.tan(np.pi / 4 + phi / 2) ** n
    rho0 = radius * f / math.tan(math.pi / 4 + p0 / 2) ** n
    return rho * np.sin(n * lam), rho0 - rho * np.cos(n * lam)


def lcc_sphere_inverse_np(x, y, lat1: float, lat2: float, lat0: float,
                          lon0: float, radius: float = GRIB_EARTH_SPHERE):
    """Spherical LCC inverse (Snyder 15-5..15-11) → (lat, lon) degrees."""
    x = np.asarray(x, np.float64)
    y = np.asarray(y, np.float64)
    p1, p2, p0 = (math.radians(lat1), math.radians(lat2),
                  math.radians(lat0))
    if abs(lat1 - lat2) < 1e-12:
        n = math.sin(p1)
    else:
        n = (math.log(math.cos(p1) / math.cos(p2))
             / math.log(math.tan(math.pi / 4 + p2 / 2)
                        / math.tan(math.pi / 4 + p1 / 2)))
    f = math.cos(p1) * math.tan(math.pi / 4 + p1 / 2) ** n / n
    rho0 = radius * f / math.tan(math.pi / 4 + p0 / 2) ** n
    sgn = 1.0 if n >= 0 else -1.0
    rho = sgn * np.hypot(x, rho0 - y)
    theta = np.arctan2(sgn * x, sgn * (rho0 - y))
    phi = 2.0 * np.arctan((radius * f / rho) ** (1.0 / n)) - np.pi / 2
    return np.degrees(phi), np.degrees(theta / n) + lon0


def polar_stereo_sphere_np(lat, lon, lat_ts: float, lon0: float,
                           south: bool = False,
                           radius: float = GRIB_EARTH_SPHERE):
    """Spherical polar stereographic forward, true scale at ``lat_ts``
    (Snyder 21-8..21-12 with k0 folded in): ρ = R·(1+sin|φts|)·cosφ/(1+sinφ)
    from the pole of projection. → (x, y) meters."""
    phi = np.radians(np.asarray(lat, np.float64))
    lam = np.radians(np.asarray(lon, np.float64) - lon0)
    if south:
        phi, lam = -phi, -lam
    k = radius * (1.0 + math.sin(math.radians(abs(lat_ts))))
    rho = k * np.cos(phi) / (1.0 + np.sin(phi))
    x, y = rho * np.sin(lam), -rho * np.cos(lam)
    if south:
        x, y = -x, -y
    return x, y


def polar_stereo_sphere_inverse_np(x, y, lat_ts: float, lon0: float,
                                   south: bool = False,
                                   radius: float = GRIB_EARTH_SPHERE):
    """Spherical polar stereographic inverse → (lat, lon) degrees."""
    x = np.asarray(x, np.float64)
    y = np.asarray(y, np.float64)
    if south:
        x, y = -x, -y
    k = radius * (1.0 + math.sin(math.radians(abs(lat_ts))))
    rho = np.hypot(x, y)
    phi = np.pi / 2 - 2.0 * np.arctan(rho / k)
    lam = np.arctan2(x, -y)
    if south:
        phi, lam = -phi, -lam
    return np.degrees(phi), np.degrees(lam) + lon0


def mercator_sphere_np(lat, lon, lat_ts: float, lon0: float = 0.0,
                       radius: float = GRIB_EARTH_SPHERE):
    """Spherical Mercator forward with true scale at ``lat_ts`` (Snyder
    7-1/7-2 with k0 = cos φts folded in) — GRIB2 grid template 3.10.
    → (x, y) meters."""
    k = radius * math.cos(math.radians(lat_ts))
    phi = np.radians(np.asarray(lat, np.float64))
    lam = np.radians(((np.asarray(lon, np.float64) - lon0 + 180.0)
                      % 360.0) - 180.0)
    return k * lam, k * np.log(np.tan(np.pi / 4 + phi / 2))


def mercator_sphere_inverse_np(x, y, lat_ts: float, lon0: float = 0.0,
                               radius: float = GRIB_EARTH_SPHERE):
    """Inverse of mercator_sphere_np → (lat, lon) degrees."""
    k = radius * math.cos(math.radians(lat_ts))
    lat = np.degrees(2.0 * np.arctan(np.exp(np.asarray(y, np.float64) / k))
                     - np.pi / 2)
    lon = np.degrees(np.asarray(x, np.float64) / k) + lon0
    return lat, lon


def rotated_pole_to_lonlat_np(lat_r, lon_r, sp_lat: float, sp_lon: float,
                              angle: float = 0.0):
    """Rotated-pole grid (GRIB2 template 3.1) → true (lat, lon) degrees.

    The rotated system places the geographic south pole at
    (``sp_lat``, ``sp_lon``); ``angle`` is the additional rotation about
    the rotated polar axis. Composition (COSMO convention): rotate the
    rotated-frame vector by θ = −(90° + sp_lat) about the y-axis, then by
    sp_lon about the z-axis. Verified invariants: identity when
    sp_lat=-90/sp_lon=0; the rotated south pole maps to (sp_lat, sp_lon);
    rotated (0°,0°) maps to (sp_lat + 90°, sp_lon).
    """
    phi = np.radians(np.asarray(lat_r, np.float64))
    lam = np.radians(np.asarray(lon_r, np.float64) + angle)
    theta = -math.radians(90.0 + sp_lat)
    ct, st = math.cos(theta), math.sin(theta)
    xr = np.cos(phi) * np.cos(lam)
    yr = np.cos(phi) * np.sin(lam)
    zr = np.sin(phi)
    # Ry(theta): x' = ct*x + st*z ; z' = -st*x + ct*z
    x1 = ct * xr + st * zr
    z1 = -st * xr + ct * zr
    lam0 = math.radians(sp_lon)
    cl, sl = math.cos(lam0), math.sin(lam0)
    x2 = cl * x1 - sl * yr
    y2 = sl * x1 + cl * yr
    lat = np.degrees(np.arcsin(np.clip(z1, -1.0, 1.0)))
    lon = np.degrees(np.arctan2(y2, x2))
    return lat, lon


def lonlat_to_rotated_pole_np(lat, lon, sp_lat: float, sp_lon: float,
                              angle: float = 0.0):
    """Inverse of rotated_pole_to_lonlat_np (true → rotated coordinates),
    used by tests to round-trip and by fixture builders."""
    phi = np.radians(np.asarray(lat, np.float64))
    lam = np.radians(np.asarray(lon, np.float64))
    x = np.cos(phi) * np.cos(lam)
    y = np.cos(phi) * np.sin(lam)
    z = np.sin(phi)
    lam0 = math.radians(sp_lon)
    cl, sl = math.cos(lam0), math.sin(lam0)
    x1 = cl * x + sl * y
    y1 = -sl * x + cl * y
    theta = -math.radians(90.0 + sp_lat)
    ct, st = math.cos(theta), math.sin(theta)
    x2 = ct * x1 - st * z
    z2 = st * x1 + ct * z
    lat_r = np.degrees(np.arcsin(np.clip(z2, -1.0, 1.0)))
    lon_r = np.degrees(np.arctan2(y1, x2)) - angle
    return lat_r, lon_r


def _crs_closed_form(src: str, dst: str):
    """Return a coordinate fn for closed-form CRS pairs involving 4326:
    web mercator, UTM zones (EPSG:326xx/327xx), polar stereographic
    (EPSG:3413 north / EPSG:3976 south)."""
    def utm_pair(code: str):
        if code.startswith("EPSG:326") and len(code) == 10:
            return int(code[8:]), False
        if code.startswith("EPSG:327") and len(code) == 10:
            return int(code[8:]), True
        return None

    ps_params = {"EPSG:3413": (70.0, -45.0, False),
                 "EPSG:3976": (70.0, 0.0, True)}
    if src == "EPSG:4326":
        z = utm_pair(dst)
        if z is not None:
            return lambda lo, la: tuple(
                float(v) for v in utm_forward_np(la, lo, z[0], z[1]))
        if dst in ps_params:
            ts, l0, so = ps_params[dst]
            return lambda lo, la: tuple(float(v) for v in polar_stereo_np(
                la, lo, lat_ts=ts, lon0=l0, south=so))
    if dst == "EPSG:4326":
        z = utm_pair(src)
        if z is not None:
            def inv(x, y, z=z):
                la, lo = utm_inverse_np(x, y, z[0], z[1])
                return float(lo), float(la)
            return inv
        if src in ps_params:
            ts, l0, so = ps_params[src]

            def inv_ps(x, y, ts=ts, l0=l0, so=so):
                la, lo = polar_stereo_inverse_np(x, y, lat_ts=ts,
                                                 lon0=l0, south=so)
                return float(lo), float(la)
            return inv_ps
    return None


def affine_index(lat0: float, lon0: float, res: float,
                 lat: float, lon: float) -> tuple[int, int]:
    """Exact nearest-pixel index from the affine transform — the J4
    "as-of join in space" resolved by arithmetic, not a tolerance join
    (analysis/timeseries/service.py:92-97; SURVEY §7 hard part 4).

    Grid contract: pixel center at (lat0 + res*(y+0.5), lon0 + res*(x+0.5)).
    floor((coord - origin)/res) gives the containing pixel; xarray
    method='nearest' on center coordinates picks the same pixel for interior
    points and resolves exact-boundary ties toward the lower index, which
    floor-with-half-shift reproduces.
    """
    y = int(np.floor((lat - lat0) / res))
    x = int(np.floor((lon - lon0) / res))
    return y, x
