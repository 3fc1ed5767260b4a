"""Rasterization: sparse cell rows → tile rows (sparse payload).

The reference's raster cube is a dense ``(p, m, n)`` band-major NumPy array
(utils.as_array, utils.py:45-63). A web-page raster is ~99% empty (pages
cluster in cities), so the tile row carries a SPARSE payload — local pixel
indices + band values for occupied pixels only — and the dense cube is
materialized transiently inside kernels that need spatial structure
(focal windows). Payload scales with data, not tile area: at 0.1%
occupancy the dense form is 1000x larger and its Arrow serialization
dominated the whole pipeline (measured: 118s of a 160s run at 23k tiles).

Grouping is sort-based inside mapInPandas (one Python call per Arrow
batch) rather than applyInPandas (one call per tile): at millions of
small tiles the per-group overhead dominates otherwise.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unmixing_spark.raster import NODATA
from unmixing_spark.spatial.grid import GridSpec, WORLD_GRID

# sparse tile: idx = local row*tile+col of occupied pixels (sorted);
# bands = band-major values for those pixels, len = p * len(idx)
TILE_SCHEMA = (
    "tile_id long, x0 double, y0 double, dx double, dy double, "
    "p int, m int, n int, idx array<int>, bands array<double>"
)


def tile_to_dense(row) -> np.ndarray:
    """Sparse tile row → dense (p, m, n) cube with NODATA fill — the
    reference's array form, built only inside kernels that need it."""
    p, m, n = int(row["p"]), int(row["m"]), int(row["n"])
    arr = np.full((p, m * n), NODATA, dtype=np.float64)
    idx = np.asarray(row["idx"], dtype=np.int64)
    vals = np.asarray(row["bands"], dtype=np.float64).reshape(p, len(idx))
    arr[:, idx] = vals
    return arr.reshape(p, m, n)


def assemble_tiles(cells: DataFrame, band_cols: list[str],
                   grid: GridSpec = WORLD_GRID) -> DataFrame:
    """cells (cell_id, tile_id, b1..bp) → sparse tile rows."""
    p = len(band_cols)
    tile = grid.tile
    nxc, ntx, deg = grid.nx, grid.ntx, grid.deg

    def _assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        tids = pdf["tile_id"].to_numpy()
        order = np.argsort(tids, kind="stable")
        tids = tids[order]
        cells_np = pdf["cell_id"].to_numpy()[order]
        bands_np = np.stack([pdf[bc].to_numpy(dtype=np.float64)[order]
                             for bc in band_cols])
        uniq = np.unique(tids)
        bounds = np.searchsorted(tids, uniq)
        rows = {k: [] for k in ("tile_id", "x0", "y0", "dx", "dy",
                                "p", "m", "n", "idx", "bands")}
        for gi, tid in enumerate(uniq):
            lo = bounds[gi]
            hi = bounds[gi + 1] if gi + 1 < len(uniq) else len(tids)
            iy = cells_np[lo:hi] // nxc
            ix = cells_np[lo:hi] % nxc
            lidx = (iy % tile) * tile + (ix % tile)
            o = np.argsort(lidx)
            ty, tx = divmod(int(tid), ntx)
            rows["tile_id"].append(int(tid))
            rows["x0"].append(-180.0 + tx * tile * deg)
            rows["y0"].append(90.0 - ty * tile * deg)
            rows["dx"].append(deg)
            rows["dy"].append(-deg)
            rows["p"].append(p)
            rows["m"].append(tile)
            rows["n"].append(tile)
            rows["idx"].append(lidx[o].astype(np.int32))
            rows["bands"].append(bands_np[:, lo:hi][:, o].ravel())
        return pd.DataFrame(rows)

    def _build_batch(it):
        # carry the trailing tile group across batch boundaries
        carry = None
        for pdf in it:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            tids = pdf["tile_id"].to_numpy()
            keep = tids != tids[-1]
            carry = pdf[~keep]
            pdf = pdf[keep]
            if len(pdf):
                yield _assemble(pdf)
        if carry is not None and len(carry):
            yield _assemble(carry)

    return (cells.repartition(F.col("tile_id"))
            .sortWithinPartitions("tile_id", "cell_id")
            .mapInPandas(_build_batch, TILE_SCHEMA))
