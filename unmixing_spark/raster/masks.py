"""Mask kernels (NumPy, tile-level).

Array kernels reproduce the reference semantics exactly (golden tests
tests.py:444-481, 534-545); the relational forms over the cell table live
in queries/raster_q.py. The array kernels run on dense tile cubes where
masking needs spatial structure (``sasma.focal.interpolate_endmember_map``).
"""

from __future__ import annotations

import numpy as np

from unmixing_spark.raster import NODATA


def binary_mask(cube: np.ndarray, mask: np.ndarray, nodata: float = NODATA,
                invert: bool = False) -> np.ndarray:
    """Mask==1 pixels → NoData across all bands; `invert` flips the rule.
    Reference: utils.binary_mask (utils.py:184-227)."""
    out = cube.copy()
    m = mask.copy()
    if m.shape[-2:] != out.shape[-2:]:
        raise ValueError("Raster and mask do not have the same shape")
    m2 = m.reshape(m.shape[-2], m.shape[-1])
    if invert:
        out[:, m2 < 1] = nodata
    else:
        out[:, m2 > 0] = nodata
    return out


def cfmask(mask: np.ndarray, mask_values=(1, 2, 3, 4, 255)) -> np.ndarray:
    """QA value membership → 0/1 mask (utils.cfmask, utils.py:230-263;
    QA tables in eos.py:8-23). The IN-list predicate."""
    m = mask.reshape(mask.shape[-2], mask.shape[-1])
    return np.isin(m, mask_values).reshape(1, *m.shape).astype(np.int64)


def density_slice(band: np.ndarray, rel=np.less_equal, threshold: float = 1000,
                  nodata: float = NODATA) -> np.ndarray:
    """Threshold predicate ∧ not-NoData → 0/1 (utils.py:560-579)."""
    b = band.reshape(band.shape[-2], band.shape[-1])
    return np.logical_and(rel(b, threshold), b != nodata).astype(np.int64)


def saturation_mask(cube: np.ndarray, saturation_value: float = 10000) -> np.ndarray:
    """OR over bands of band > limit (utils.py:971-997)."""
    mask = np.zeros((1, cube.shape[1], cube.shape[2]), dtype=bool)
    for i in range(cube.shape[0]):
        np.logical_or(mask, cube[i] > saturation_value, out=mask)
    return mask
