"""Distributed FCLS abundance mapping — the flagship operator.

The reference's ``FCLSAbundanceMapper.map_abundance`` (lsma.py:179-230)
fans pixel chunks out to a ProcessPoolExecutor; here executors replace the
process pool and Arrow batches replace pickled chunks:

- LSMA path (one endmember matrix for the whole scene, lsma.py:152-157):
  the (q, p) matrix is a broadcast closure constant; each Arrow batch of
  pixels is one matrix solve through ``boundary.map_matrix`` — a narrow,
  shuffle-free stage whose parallelism is the upstream partitioning. This
  is the 100 TB fast path.
- MESMA path (per-pixel endmembers, lsma.py:159-167): endmember tensors
  travel as a co-partitioned ``array<double>`` column next to the spectra —
  never collected, never broadcast — and are read from the same batch.
- Tile path: ``mapInArrow`` over tile rows (grouped per ``tile_id`` by
  the sort-based ``mapInArrow`` of raster/rasterize.py), emitting one
  abundance cube per tile — the unit the BASELINE throughput metric
  counts. Gather, scatter and the per-tile metrics are whole-array numpy
  steps over the Arrow list buffers, with no per-tile Python.

Determinism: the pixels are independent, but the batched FCLS solve is
not bit-invariant to which pixels share an Arrow batch (the normal-
equation products run over the whole batch). Results agree across
partitionings after rounding to 10 decimals (tests/test_synthetic_scene.py
splits one solve into two; the reference pins 1 vs 2 processes,
tests.py:62-82) and are bit-identical only for an unchanged partitioning.
scripts/scaling_bench.py's fcls job checks the row count and the xxhash64
sum of q_fcls_tiles (whose mean_rmse is rounded to 4 decimals) across
parallelism levels, as does tests/test_determinism.py.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from unmixing_spark.boundary import map_matrix, nan_as_null
from unmixing_spark.lsma.fcls import fcls_abundance, predict_spectra_from_abundance
from unmixing_spark.raster import NODATA
from unmixing_spark.raster.rasterize import band_major_positions, list_array


def _fcls_rmse(X: np.ndarray, E: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """FCLS abundances (N, q) of pixels X (N, p) and each pixel's
    forward-model RMSE (validate_by_forward_model, lsma.py:232-297 /
    utils.rmse, utils.py:940-968)."""
    A = fcls_abundance(X, E)
    R = predict_spectra_from_abundance(A, E)
    return A, np.sqrt(np.mean((R - X) ** 2, axis=1))


def unmix_cells(cells: DataFrame, endmembers: np.ndarray,
                band_cols: list[str]) -> DataFrame:
    """LSMA over pixel rows: (cell_id, b1..bp) → (cell_id, a1..aq,
    rmse), rmse being the per-pixel forward-model residual."""
    E = np.ascontiguousarray(np.asarray(endmembers, dtype=np.float64))
    q = E.shape[0]
    schema = ", ".join(["cell_id long"] +
                       [f"a{i+1} double" for i in range(q)] + ["rmse double"])

    def _unmix(X: np.ndarray, batch: pa.RecordBatch) -> list:
        A, rmse = _fcls_rmse(X, E)
        return [batch.column("cell_id"), *A.T, rmse]

    return map_matrix(cells, band_cols, _unmix, schema)


ABUNDANCE_TILE_SCHEMA = (
    "tile_id long, q int, m int, n int, idx array<int>, "
    "abundances array<double>, n_pixels long, mean_rmse double"
)
_ABUNDANCE_COLS = [f.split()[0] for f in ABUNDANCE_TILE_SCHEMA.split(", ")]


def segment_sums(x: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """``x[s:s+n].sum()`` for every segment, bit for bit, with one numpy
    call per distinct segment length: the segments of one length gather
    into the rows of a matrix, and a row sum keeps the summation order
    of a 1-D ``.sum()``. ``np.add.reduceat`` and ``np.bincount`` sum in
    plain sequence, so they differ from ``.sum()`` in the last bits from
    3 elements up."""
    out = np.zeros(len(lens))
    for n in np.unique(lens):
        sel = lens == n
        out[sel] = x[starts[sel, None] + np.arange(n)].sum(axis=1)
    return out


def unmix_tile_batches(batches: Iterator[pa.RecordBatch],
                       endmembers: np.ndarray) -> Iterator[pa.RecordBatch]:
    """Sparse tile batches (tile_id, p, m, n, idx, bands) → abundance tile
    batches, one batched FCLS solve per batch.

    Works on the flat ``values``/``offsets`` buffers of the list columns:
    one index array gathers every tile's band-major block into an (N, p)
    pixel matrix, one ``fcls_abundance`` call solves the valid pixels, one
    index array scatters the abundances back to band-major (q, n_occ)
    blocks, and the per-tile pixel counts and mean RMSEs are segment
    reductions (``segment_sums`` keeps numpy's summation order, so a
    tile's mean equals ``rmse[tile].mean()`` bit for bit)."""
    E = np.ascontiguousarray(np.asarray(endmembers, dtype=np.float64))
    q = E.shape[0]
    for rb in batches:
        if rb.num_rows == 0:
            continue
        p = int(rb.column("p")[0].as_py())
        idx, bands = rb.column("idx"), rb.column("bands")
        offsets = idx.offsets.to_numpy() - idx.offsets[0].as_py()
        counts, n = np.diff(offsets), int(offsets[-1])
        # a tile's bands list is its (p, n_occ) block, so the batch's bands
        # are one band-major run starting at the first list offset
        X = np.ascontiguousarray(bands.values.to_numpy(zero_copy_only=False)[
            bands.offsets[0].as_py() + band_major_positions(counts, p)].T)
        valid = X[:, 0] != NODATA
        A_all = np.full((n, q), NODATA)
        rmse = np.zeros(0)
        if valid.any():
            A_all[valid], rmse = _fcls_rmse(X[valid], E)
        flat = np.empty(n * q)
        flat[band_major_positions(counts, q).ravel()] = A_all.T.ravel()
        # per-tile valid counts and mean RMSE: rmse holds the valid pixels
        # in tile order, so each tile is one contiguous segment of it
        cv = np.r_[0, np.cumsum(valid)][offsets]
        n_px = np.diff(cv)
        mean_rmse = np.full(len(counts), np.nan)
        hit = n_px > 0
        mean_rmse[hit] = segment_sums(rmse, cv[:-1][hit], n_px[hit]) / n_px[hit]
        yield pa.RecordBatch.from_arrays([
            rb.column("tile_id"),
            pa.array(np.full(rb.num_rows, q, np.int32)),
            rb.column("m"), rb.column("n"), idx,
            list_array(q * offsets, nan_as_null(flat)),
            pa.array(n_px, pa.int64()),
            nan_as_null(mean_rmse),
        ], names=_ABUNDANCE_COLS)


def unmix_tiles(tiles: DataFrame, endmembers: np.ndarray) -> DataFrame:
    """FCLS per sparse tile: (tile_id, p, m, n, idx, bands) → abundance
    tile (same sparse layout, q bands) + per-tile metrics. Pixels whose
    band-0 value is NODATA are filtered (lsma.py:794 rule).

    Vectorized across the whole Arrow batch (``unmix_tile_batches``):
    every tile's valid pixels gather into ONE (N, p) matrix, one batched
    FCLS solve, scatter back. The pixels are independent, but the batched
    solve is not bit-invariant to which pixels share a batch: results
    agree across partitionings after rounding to 10 decimals
    (tests/test_synthetic_scene.py) and are bit-identical only for an
    unchanged partitioning."""
    return tiles.mapInArrow(
        lambda it: unmix_tile_batches(it, endmembers),
        ABUNDANCE_TILE_SCHEMA)


def unmix_cells_mesma(cells: DataFrame, band_cols: list[str],
                      q: int = 3) -> DataFrame:
    """MESMA: per-pixel endmember matrices carried as a flattened (q*p)
    ``endmembers`` array column next to ``cell_id`` and the bands
    (concat_endmember_arrays product, sasma.py:96-111;
    __mesma2__ kernel, lsma.py:169-177). Co-partitioned data-parallel —
    no broadcast, no collect."""
    schema = ", ".join(["cell_id long"] + [f"a{i+1} double" for i in range(q)])

    def _unmix(X: np.ndarray, batch: pa.RecordBatch) -> list:
        EM = (batch.column("endmembers").flatten().to_numpy()
              .reshape(len(X), q, -1))
        A = np.empty((len(X), q))
        # group pixels sharing an endmember matrix → batched solves;
        # keyed by the exact bytes (not their hash) so distinct
        # matrices can never silently collide into one group
        groups: dict[bytes, list[int]] = {}
        for i, e in enumerate(EM):
            groups.setdefault(e.tobytes(), []).append(i)
        for idxs in groups.values():
            idx = np.asarray(idxs)
            A[idx] = fcls_abundance(X[idx], EM[idx[0]])
        return [batch.column("cell_id"), *A.T]

    return map_matrix(cells, band_cols, _unmix, schema)
