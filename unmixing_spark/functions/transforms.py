"""Spectral transforms as NumPy tile kernels.

These are the single-node kernels over dense (p, m, n) cubes; the
registered queries compute the same indices relationally over the cell
table (queries/raster_q.py). The kernels run directly in
tests/test_golden_fixtures.py against the reference's bundled rasters to
reproduce the reference's golden values exactly (test/tests.py:362-391).

Semantics re-implemented from the published papers the reference cites
(transform.py docstrings): Crist (1985) RSE 17:302 Table 1 for TM
reflectance Tasseled Cap; Baig et al. (2014) RSL 5:5 Table 2 for OLI;
Deng & Wu (2012) RSE 127 for BCI.
"""

from __future__ import annotations

import numpy as np

from unmixing_spark.raster import NODATA

# Crist (1985), Table 1 — TM reflectance factor coefficients, bands
# 1-5 and 7. Published constants (same source the reference cites at
# transform.py:164-173).
TC_TM_REFLECTANCE = np.array([
    (0.2043, 0.4158, 0.5524, 0.5741, 0.3124, 0.2303),    # brightness
    (-0.1603, -0.2819, -0.4934, 0.7940, -0.0002, -0.1446),  # greenness
    (0.0315, 0.2021, 0.3102, 0.1594, -0.6806, -0.6109),  # wetness
    (-0.2117, -0.0284, 0.1302, -0.1007, 0.6529, -0.7078),
    (-0.8669, -0.1835, 0.3856, 0.0408, -0.1132, 0.2272),
    (0.3677, -0.8200, 0.4354, 0.0518, -0.0066, -0.0104),
], dtype=np.float32)

# Baig et al. (2014), Table 2 — OLI at-sensor coefficients.
TC_OLI = np.array([
    (0.3029, 0.2786, 0.4733, 0.5599, 0.5080, 0.1872),
    (-0.2941, -0.2430, -0.5424, 0.7276, 0.0713, -0.1608),
    (0.1511, 0.1973, 0.3283, 0.3407, -0.7117, -0.4559),
    (-0.8239, 0.0849, 0.4396, -0.0580, 0.2013, -0.2773),
    (-0.3294, 0.0557, 0.1056, 0.1855, -0.4349, 0.8085),
    (0.1079, -0.9023, 0.4119, 0.0575, -0.0259, 0.0252),
], dtype=np.float32)


def tasseled_cap(cube: np.ndarray, rt: np.ndarray = TC_TM_REFLECTANCE,
                 ncomp: int = 3) -> np.ndarray:
    """rt @ X over a (p, m, n) cube → (ncomp, m, n). The reference's
    __tasseled_cap__ (transform.py:17-43) without the offset option
    (offset=False in every reference call site)."""
    p, m, n = cube.shape
    x = cube.reshape(p, m * n)
    return np.dot(rt, x).reshape(rt.shape[0], m, n)[0:ncomp]


def ndvi(cube: np.ndarray, red_idx: int = 2, nir_idx: int = 3,
         nodata: float = NODATA) -> np.ndarray:
    """(NIR-Red)/(NIR+Red) with NoData passthrough (transform.py:80-101)."""
    p, m, n = cube.shape
    red, nir = cube[red_idx], cube[nir_idx]
    with np.errstate(divide="ignore", invalid="ignore"):
        out = np.where((nir == nodata) & (red == nodata), nodata,
                       (nir - red) / (nir + red))
    return out.reshape(1, m, n)


def biophysical_composition_index(cube: np.ndarray, rt: np.ndarray = TC_TM_REFLECTANCE,
                                  nodata: float = NODATA) -> np.ndarray:
    """BCI of Deng & Wu (2012): TC → per-component global min-max normalize
    (min excludes NoData) → ((H+L)/2 - V)/((H+L)/2 + V). Matches
    transform.py:46-77 including its NoData-in-min-only quirk."""
    p, m, n = cube.shape
    x = tasseled_cap(cube, rt, ncomp=3).reshape(3, m * n)
    comps = []
    for i in range(3):
        vals = x[i]
        tcmin = vals[vals != nodata].min()
        comps.append((vals - tcmin) / (vals.max() - tcmin))
    h, v, l = comps
    return (((h + l) / 2.0 - v) / ((h + l) / 2.0 + v)).reshape(1, m, n)
