"""Rasterization: sparse cell rows → tile rows (sparse payload).

The reference's raster cube is a dense ``(p, m, n)`` band-major NumPy array
(utils.as_array, utils.py:45-63). A web-page raster is ~99% empty (pages
cluster in cities), so the tile row carries a SPARSE payload — local pixel
indices + band values for occupied pixels only — and the dense cube is
materialized transiently inside kernels that need spatial structure
(focal windows). Payload scales with data, not tile area: at 0.1%
occupancy the dense form is 1000x larger and its Arrow serialization
dominated the whole pipeline (measured: 118s of a 160s run at 23k tiles).

Grouping is sort-based inside ``mapInArrow`` (one Python call per Arrow
batch) rather than applyInPandas (one call per tile): at millions of
small tiles the per-group overhead dominates otherwise. The batch is
assembled with whole-array numpy steps straight from the Arrow buffers —
no pandas frame and no per-tile Python loop — and the list columns are
built from one offsets array each.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unmixing_spark.boundary import nan_as_null
from unmixing_spark.raster import NODATA
from unmixing_spark.spatial.grid import GridSpec, WORLD_GRID

# sparse tile: idx = local row*tile+col of occupied pixels (sorted);
# bands = band-major values for those pixels, len = p * len(idx)
TILE_SCHEMA = (
    "tile_id long, x0 double, y0 double, dx double, dy double, "
    "p int, m int, n int, idx array<int>, bands array<double>"
)
_TILE_COLS = [f.split()[0] for f in TILE_SCHEMA.split(", ")]


def tile_to_dense(row) -> np.ndarray:
    """Sparse tile row → dense (p, m, n) cube with NODATA fill — the
    reference's array form, built only inside kernels that need it."""
    p, m, n = int(row["p"]), int(row["m"]), int(row["n"])
    arr = np.full((p, m * n), NODATA, dtype=np.float64)
    idx = np.asarray(row["idx"], dtype=np.int64)
    vals = np.asarray(row["bands"], dtype=np.float64).reshape(p, len(idx))
    arr[:, idx] = vals
    return arr.reshape(p, m, n)


def list_array(offsets: np.ndarray, values: pa.Array) -> pa.ListArray:
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values)


def band_major_positions(counts: np.ndarray, width: int) -> np.ndarray:
    """(width, N) positions of N pixels in the concatenated band-major
    blocks of tiles holding ``counts`` pixels each: pixel i of a tile that
    starts at pixel s and holds c pixels keeps band b at width*s + b*c +
    (i - s)."""
    n = int(counts.sum())
    seg_start = np.repeat(np.cumsum(counts) - counts, counts)
    seg_count = np.repeat(counts, counts)
    return (width - 1) * seg_start + np.arange(n) + \
        np.arange(width)[:, None] * seg_count


def assemble_batches(batches: Iterator[pa.RecordBatch], band_cols: list[str],
                     grid: GridSpec = WORLD_GRID) -> Iterator[pa.RecordBatch]:
    """Cell batches sorted by ``(tile_id, cell_id)`` → sparse tile batches.

    Inside one tile the cell order IS the local-index order (cell_id =
    iy * nx + ix, lidx = (iy % tile) * tile + ix % tile), so a tile is a
    contiguous run that needs no sort: tile starts come from one
    ``flatnonzero`` over the sorted tile ids, and ``lidx`` and the
    band-major scatter positions from one vectorized step each. The
    trailing tile of a batch is carried into the next, which may continue
    it."""
    carry = None
    for rb in batches:
        cols = (rb.column("tile_id").to_numpy(zero_copy_only=False),
                rb.column("cell_id").to_numpy(zero_copy_only=False),
                np.stack([rb.column(bc).cast(pa.float64())
                          .to_numpy(zero_copy_only=False) for bc in band_cols])
                if rb.num_rows else np.zeros((len(band_cols), 0)))
        if carry is not None:
            cols = tuple(np.concatenate([c, x], axis=-1)
                         for c, x in zip(carry, cols))
        if not len(cols[0]):
            carry = None
            continue
        cut = int(np.searchsorted(cols[0], cols[0][-1]))
        carry = tuple(c[..., cut:] for c in cols)
        if cut:
            yield _assemble(*(c[..., :cut] for c in cols), grid)
    if carry is not None:
        yield _assemble(*carry, grid)


def _assemble(tids: np.ndarray, cells: np.ndarray, bands: np.ndarray,
              grid: GridSpec) -> pa.RecordBatch:
    """Whole tiles, sorted by (tile_id, cell_id), → one tile batch."""
    (p, n), tile, deg = bands.shape, grid.tile, grid.deg
    starts = np.flatnonzero(np.r_[True, tids[1:] != tids[:-1]])
    counts = np.diff(np.r_[starts, n])
    uniq = tids[starts]
    lidx = ((cells // grid.nx) % tile) * tile + (cells % grid.nx) % tile
    flat = np.empty(p * n)
    flat[band_major_positions(counts, p).ravel()] = bands.ravel()
    ty, tx = np.divmod(uniq, grid.ntx)
    k = len(uniq)
    offsets = np.r_[starts, n]
    return pa.RecordBatch.from_arrays([
        pa.array(uniq, pa.int64()),
        pa.array(-180.0 + (tx * tile).astype(np.float64) * deg),
        pa.array(90.0 - (ty * tile).astype(np.float64) * deg),
        pa.array(np.full(k, deg)),
        pa.array(np.full(k, -deg)),
        pa.array(np.full(k, p, np.int32)),
        pa.array(np.full(k, tile, np.int32)),
        pa.array(np.full(k, tile, np.int32)),
        list_array(offsets, pa.array(lidx.astype(np.int32))),
        list_array(p * offsets, nan_as_null(flat)),
    ], names=_TILE_COLS)


def assemble_tiles(cells: DataFrame, band_cols: list[str],
                   grid: GridSpec = WORLD_GRID) -> DataFrame:
    """cells (cell_id, tile_id, b1..bp) → sparse tile rows."""
    return (cells.repartition(F.col("tile_id"))
            .sortWithinPartitions("tile_id", "cell_id")
            .mapInArrow(lambda it: assemble_batches(it, band_cols, grid),
                        TILE_SCHEMA))
