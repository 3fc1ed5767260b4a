"""Closed-form WGS84 UTM <-> lon/lat — the engine's `dd` flag.

The reference reprojects coordinates everywhere through OGR
(get_coord_transform, utils.py:657-673; used by xy_to_pixel/pixel_to_xy at
utils.py:924, 1143 whenever dd=True). Its test fixtures are EPSG:32617
(UTM zone 17N, tests.py:555). This module supplies the same capability
without GDAL: the standard Transverse Mercator series (Snyder 1987, USGS
Professional Paper 1395, eqs. 8-9..8-25 — public formulas), accurate to
well under a millimeter inside a UTM zone, vectorized over NumPy arrays.

Supported EPSG ranges: 326xx (UTM north) and 327xx (UTM south).
"""

from __future__ import annotations

import numpy as np

_A = 6378137.0                    # WGS84 semi-major axis
_F = 1.0 / 298.257223563          # WGS84 flattening
_E2 = _F * (2.0 - _F)             # first eccentricity squared
_EP2 = _E2 / (1.0 - _E2)          # second eccentricity squared
_K0 = 0.9996                      # UTM scale factor
_E4, _E6 = _E2 ** 2, _E2 ** 3
_FALSE_E = 500000.0
_FALSE_N_SOUTH = 10000000.0


def _zone_params(epsg: int) -> tuple[float, bool]:
    if 32601 <= epsg <= 32660:
        zone, north = epsg - 32600, True
    elif 32701 <= epsg <= 32760:
        zone, north = epsg - 32700, False
    else:
        raise ValueError(f"unsupported EPSG:{epsg} (UTM 326xx/327xx only)")
    lam0 = np.radians(-183.0 + 6.0 * zone)
    return lam0, north


def _meridian_arc(phi: np.ndarray) -> np.ndarray:
    """M(phi): meridian distance from the equator (Snyder eq. 3-21)."""
    return _A * ((1 - _E2 / 4 - 3 * _E4 / 64 - 5 * _E6 / 256) * phi
                 - (3 * _E2 / 8 + 3 * _E4 / 32 + 45 * _E6 / 1024) * np.sin(2 * phi)
                 + (15 * _E4 / 256 + 45 * _E6 / 1024) * np.sin(4 * phi)
                 - (35 * _E6 / 3072) * np.sin(6 * phi))


def utm_from_lonlat(lon, lat, epsg: int) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) decimal degrees → (easting, northing) meters
    (Snyder eqs. 8-9..8-14)."""
    lam0, north = _zone_params(epsg)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64))
    sin_p, cos_p, tan_p = np.sin(phi), np.cos(phi), np.tan(phi)
    N = _A / np.sqrt(1 - _E2 * sin_p ** 2)
    T = tan_p ** 2
    C = _EP2 * cos_p ** 2
    Aa = cos_p * (lam - lam0)
    M = _meridian_arc(phi)
    x = _K0 * N * (Aa + (1 - T + C) * Aa ** 3 / 6
                   + (5 - 18 * T + T ** 2 + 72 * C - 58 * _EP2) * Aa ** 5 / 120)
    y = _K0 * (M + N * tan_p * (Aa ** 2 / 2
               + (5 - T + 9 * C + 4 * C ** 2) * Aa ** 4 / 24
               + (61 - 58 * T + T ** 2 + 600 * C - 330 * _EP2) * Aa ** 6 / 720))
    e = x + _FALSE_E
    n = y + (0.0 if north else _FALSE_N_SOUTH)
    return e, n


def utm_forward_sql(src_select: str, epsg: int) -> str:
    """Render the forward Transverse-Mercator transform (the same Snyder
    eqs. 8-9..8-14 as ``utm_from_lonlat``) as portable SQL: wraps
    ``src_select`` (with ``lon``/``lat`` columns) adding
    ``easting``/``northing`` columns.

    The SQL text is identical under both dialects (only sin/cos/tan/sqrt/
    radians, shared ANSI), so the dual-rendered oracle compares like for
    like. Engine-libm last-ulp differences in the trig functions can in
    principle flip a later floor() at a cell boundary — the probability is
    ~1e-12 per value (the ASOF-tie class); parity with the NumPy reference
    is pinned to < 1e-6 m in tests/test_crosscrs_regrid.py.

    Replaces the reference's OGR coordinate transform in the raster
    reprojection path (gdal.ReprojectImage, utils.py:714; CRS transforms
    at utils.py:657-673)."""
    from unmixing_spark import dialect as D

    lam0, north = _zone_params(epsg)
    false_n = 0.0 if north else _FALSE_N_SOUTH
    c0 = 1 - _E2 / 4 - 3 * _E4 / 64 - 5 * _E6 / 256
    c1 = 3 * _E2 / 8 + 3 * _E4 / 32 + 45 * _E6 / 1024
    c2 = 15 * _E4 / 256 + 45 * _E6 / 1024
    c3 = 35 * _E6 / 3072
    a, k0, e2, ep2 = D.dbl(_A), D.dbl(_K0), D.dbl(_E2), D.dbl(_EP2)
    return f"""
    SELECT *,
      {k0} * nn * (aa + (1 - tt + cc) * aa * aa * aa / 6
        + (5 - 18 * tt + tt * tt + 72 * cc - 58 * {ep2})
          * aa * aa * aa * aa * aa / 120) + {D.dbl(_FALSE_E)} AS easting,
      {k0} * (mm + nn * tanp * (aa * aa / 2
        + (5 - tt + 9 * cc + 4 * cc * cc) * aa * aa * aa * aa / 24
        + (61 - 58 * tt + tt * tt + 600 * cc - 330 * {ep2})
          * aa * aa * aa * aa * aa * aa / 720)) + {D.dbl(false_n)} AS northing
    FROM (
      SELECT *,
        {a} / sqrt(1 - {e2} * sinp * sinp) AS nn,
        tanp * tanp AS tt,
        {ep2} * cosp * cosp AS cc,
        cosp * dlam AS aa,
        {a} * ({D.dbl(c0)} * phi - {D.dbl(c1)} * sin2p
               + {D.dbl(c2)} * sin4p - {D.dbl(c3)} * sin6p) AS mm
      FROM (
        SELECT *, sin(phi) AS sinp, cos(phi) AS cosp, tan(phi) AS tanp,
               sin(2 * phi) AS sin2p, sin(4 * phi) AS sin4p,
               sin(6 * phi) AS sin6p
        FROM (
          SELECT *, radians(lat) AS phi,
                 radians(lon) - {D.dbl(lam0)} AS dlam
          FROM ({src_select})
        )
      )
    )
    """


def lonlat_from_utm(easting, northing, epsg: int) -> tuple[np.ndarray, np.ndarray]:
    """(easting, northing) meters → (lon, lat) decimal degrees
    (Snyder eqs. 8-17..8-25, footpoint-latitude inverse)."""
    lam0, north = _zone_params(epsg)
    x = np.asarray(easting, dtype=np.float64) - _FALSE_E
    y = np.asarray(northing, dtype=np.float64)
    if not north:
        y = y - _FALSE_N_SOUTH
    M = y / _K0
    mu = M / (_A * (1 - _E2 / 4 - 3 * _E4 / 64 - 5 * _E6 / 256))
    e1 = (1 - np.sqrt(1 - _E2)) / (1 + np.sqrt(1 - _E2))
    phi1 = (mu
            + (3 * e1 / 2 - 27 * e1 ** 3 / 32) * np.sin(2 * mu)
            + (21 * e1 ** 2 / 16 - 55 * e1 ** 4 / 32) * np.sin(4 * mu)
            + (151 * e1 ** 3 / 96) * np.sin(6 * mu)
            + (1097 * e1 ** 4 / 512) * np.sin(8 * mu))
    sin1, cos1, tan1 = np.sin(phi1), np.cos(phi1), np.tan(phi1)
    C1 = _EP2 * cos1 ** 2
    T1 = tan1 ** 2
    N1 = _A / np.sqrt(1 - _E2 * sin1 ** 2)
    R1 = _A * (1 - _E2) / (1 - _E2 * sin1 ** 2) ** 1.5
    D = x / (N1 * _K0)
    phi = phi1 - (N1 * tan1 / R1) * (
        D ** 2 / 2
        - (5 + 3 * T1 + 10 * C1 - 4 * C1 ** 2 - 9 * _EP2) * D ** 4 / 24
        + (61 + 90 * T1 + 298 * C1 + 45 * T1 ** 2
           - 252 * _EP2 - 3 * C1 ** 2) * D ** 6 / 720)
    lam = lam0 + (D - (1 + 2 * T1 + C1) * D ** 3 / 6
                  + (5 - 2 * C1 + 28 * T1 - 3 * C1 ** 2
                     + 8 * _EP2 + 24 * T1 ** 2) * D ** 5 / 120) / cos1
    return np.degrees(lam), np.degrees(phi)
