"""Multi-date compositing kernels — exact reference semantics.

Re-implements utils.composite2 / composite3
(utils.py:392-525) with vectorized NumPy (no apply_along_axis, no
multiprocessing — executors replace the reference's process pool; the
relational form over the cell table is queries/raster_q.q_composite_*).

Semantics preserved exactly, including the subtle ones the reference's
own tests pin (tests.py:179-222, 262-329):

- composite2 (masked-array semantics): NoData excluded from every reducer;
  all-NoData pixels come back NoData; sum-to-one normalization divides by
  the per-pixel band sum with all-masked pixels left NoData.
- composite3 plain 'min'/'max'/'mean': NoData NOT stripped (so 'min'
  happily returns -9999 — pinned at tests.py:216); starred 'min*'/'max*'/
  'mean*' and 'median' strip NoData first.
- THE DTYPE-COERCION TRAP (test_principle, tests.py:262-329): the
  reference's apply_along_axis infers the output dtype from the FIRST
  pixel's result; if that pixel is all-NoData and dtype=int, the whole
  band is truncated to ints. Reproduced bit-for-bit via the same
  first-pixel rule.
"""

from __future__ import annotations

import warnings

import numpy as np

from unmixing_spark.raster import NODATA


def _nan_reduce(reducer: str, a: np.ndarray) -> np.ndarray:
    """np.nan{reducer} over axis 0, where an all-NaN column yields NaN
    silently: numpy reports all-NaN and empty slices through
    ``warnings``, which ``np.errstate`` does not reach."""
    with warnings.catch_warnings(), np.errstate(all="ignore"):
        warnings.simplefilter("ignore", RuntimeWarning)
        return getattr(np, f"nan{reducer}")(a, axis=0)


def _as_stack(rasters, band):
    """dates x pixels matrix for one band."""
    return np.stack([np.asarray(r)[band].ravel() for r in rasters])


def composite2(reducers, *rasters, normalize: str | None = "sum",
               nodata: float = NODATA, dtype=np.float32) -> np.ndarray:
    """Per-band reducer list with NoData-masked semantics + optional
    sum-to-one normalization (utils.py:392-451)."""
    shp = np.asarray(rasters[0]).shape
    assert len(reducers) == shp[0]
    bands = []
    for i, red in enumerate(reducers):
        if red not in ("min", "max", "median", "mean"):
            continue  # None → drop band (endmember subtraction under unity)
        stack = _as_stack(rasters, i).astype(np.float64)
        stack[stack == nodata] = np.nan
        bands.append(_nan_reduce(red, stack))
    final = np.stack(bands)                    # (q', pixels), NaN = NoData
    if normalize is not None:
        const = _nan_reduce(normalize, final)
        const = np.where(np.isnan(const), 1.0, const)
        final = final / const
    final = np.where(np.isnan(final), dtype(nodata), final)
    return final.reshape(len(bands), shp[-2], shp[-1])


def _first_pixel_dtype_rule(values: np.ndarray, first_is_nodata: bool,
                            dtype) -> np.ndarray:
    """apply_along_axis infers output dtype from the first result; if the
    first pixel returned dtype(nodata) (an int for dtype=int), every later
    float is truncated — the trap pinned by tests.py:262-329."""
    if first_is_nodata and np.issubdtype(np.dtype(dtype), np.integer):
        with np.errstate(invalid="ignore"):     # NaN casts to INT64_MIN
            return values.astype(np.int64).astype(np.float64)
    return values


def composite3(reducers, *rasters, normalize: str | None = "sum",
               nodata: float = NODATA, dtype=np.float32) -> np.ndarray:
    """apply_along_axis-flavored composite (utils.py:454-525): plain
    reducers do NOT strip NoData; starred + median do."""
    shp = np.asarray(rasters[0]).shape
    if len(shp) < 3:
        shp = (1, *shp)
        rasters = [np.asarray(r).reshape(shp) for r in rasters]
    bands = []
    for i, red in enumerate(reducers):
        stack = _as_stack(rasters, i).astype(np.float64)
        if red in ("min", "max", "mean"):
            bands.append(getattr(stack, red)(axis=0))
            continue
        if red in ("min*", "max*", "mean*", "median"):
            fn = red.strip("*")
            masked = np.where(stack == nodata, np.nan, stack)
            vals = _nan_reduce(fn, masked)
            all_nodata = np.isnan(masked).all(axis=0)
            vals = _first_pixel_dtype_rule(vals, bool(all_nodata.flat[0]), dtype)
            vals = np.where(all_nodata, dtype(nodata), vals)
            bands.append(vals)
            continue
        # None → drop band

    final = np.stack(bands)
    if normalize is not None:
        all_nodata = (final == nodata).all(axis=0)
        with np.errstate(all="ignore"):
            norm = final / getattr(final, normalize)(axis=0)
        norm = _first_pixel_dtype_rule(norm, bool(all_nodata.flat[0]), dtype)
        final = np.where(all_nodata, dtype(nodata), norm)
    return final.reshape(len(bands), shp[-2], shp[-1])


def fill_nodata_bandwise(cube: np.ndarray, fill=None,
                         nodata: float = NODATA) -> np.ndarray:
    """Impute NoData with per-band means (or a user vector) —
    utils.fill_nodata_bandwise / fill_nan_bandwise (utils.py:617-654)."""
    out = cube.astype(np.float64).copy()
    p = out.shape[0]
    for b in range(p):
        band = out[b]
        m = band == nodata
        if fill is not None:
            band[m] = fill[b]
        elif m.any() and (~m).any():
            band[m] = band[~m].mean()
    return out
