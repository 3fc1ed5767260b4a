"""Affine pixel<->world coordinate transforms, vectorized.

Semantics of the reference's xy_to_pixel / pixel_to_xy
(utils.py:1104-1157 / 890-937): world→pixel is the inverse GeoTransform
affine with int() TRUNCATION (nearest-containing-cell assignment — the
point→cell spatial index); pixel→world maps the pixel's upper-left corner.
Reprojection (the `dd` flag) is out of scope here — the engine's world
grid is already lon/lat; for projected fixtures the tests work in native
projection units.
"""

from __future__ import annotations

import numpy as np

GT = tuple[float, float, float, float, float, float]


def xy_to_pixel(xy: np.ndarray, gt: GT) -> np.ndarray:
    """(N, 2) world coords → (N, 2) integer (col, row) via truncation."""
    xy = np.asarray(xy, dtype=np.float64)
    x = (xy[:, 0] - gt[0]) / gt[1]
    y = (xy[:, 1] - gt[3]) / gt[5]
    return np.stack([x.astype(np.int64), y.astype(np.int64)], axis=1)


def pixel_to_xy(pixels: np.ndarray, gt: GT) -> np.ndarray:
    """(N, 2) (col, row) → (N, 2) world coords of pixel origins."""
    px = np.asarray(pixels, dtype=np.float64)
    lon = px[:, 0] * gt[1] + gt[0]
    lat = px[:, 1] * gt[5] + gt[3]
    return np.stack([lon, lat], axis=1)
