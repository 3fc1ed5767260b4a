"""Mask kernels (NumPy, tile-level) + their Spark column forms.

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


def clean_mask(mask: np.ndarray) -> np.ndarray:
    """Clip to [0,1] (utils.clean_mask, utils.py:266-280)."""
    return np.clip(mask, 0, 1)


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


def combine_masks(*masks: np.ndarray, multiply: bool = False) -> np.ndarray:
    """Greedy OR (default) or conservative AND-by-multiplication
    (utils.combine_masks, utils.py:309-340)."""
    base = np.ones(masks[0].shape) if multiply else np.zeros(masks[0].shape)
    for m in masks:
        base = np.multiply(base, m) if multiply else np.where(m > 0, m, base)
    return base


def copy_nodata(source: np.ndarray, target: np.ndarray,
                nodata: float = NODATA) -> np.ndarray:
    """Propagate source's NoData cells into target (utils.py:528-557)."""
    out = target.copy()
    out[source == nodata] = nodata
    return out


def subarray(cube: np.ndarray, filtered_value: float = NODATA,
             indices: bool = False):
    """(p, m, n) → (p, z) keeping pixels that are not `filtered_value` in
    ANY band — the `(arr != v).any(axis=0)` keep rule of utils.subarray
    (utils.py:1067-1101)."""
    p = cube.shape[0]
    flat = cube.reshape(p, -1)
    keep = (flat != filtered_value).any(axis=0)
    if indices:
        return flat[:, keep], np.flatnonzero(keep)
    return flat[:, keep]


def ravel_and_filter(cube: np.ndarray, filter_values: bool = True,
                     nodata: float = NODATA) -> np.ndarray:
    """(p, m, n) → ((m·n), p), dropping rows whose FIRST band is NoData —
    lsma.ravel_and_filter (lsma.py:769-796; filter rule at 794)."""
    p = cube.shape[0]
    arr = cube.reshape(p, -1).T
    if filter_values:
        arr = arr[arr[:, 0] != nodata]
    return arr
