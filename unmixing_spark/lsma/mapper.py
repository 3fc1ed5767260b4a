"""Distributed FCLS abundance mapping — the flagship operator.

The reference's ``FCLSAbundanceMapper.map_abundance`` (lsma.py:179-230)
fans pixel chunks out to a ProcessPoolExecutor; here executors replace the
process pool and Arrow batches replace pickled chunks:

- LSMA path (one endmember matrix for the whole scene, lsma.py:152-157):
  the (q, p) matrix is a broadcast closure constant; pixels stream through
  ``mapInPandas`` — a narrow, shuffle-free stage whose parallelism is the
  upstream partitioning. This is the 100 TB fast path.
- MESMA path (per-pixel endmembers, lsma.py:159-167): endmember tensors
  travel as a co-partitioned ``array<double>`` column next to the spectra —
  never collected, never broadcast.
- Tile path: ``mapInPandas`` over tile rows (grouped per ``tile_id`` by
  the sort-based ``mapInPandas`` of raster/rasterize.py), emitting one
  abundance cube per tile — the unit the BASELINE throughput metric counts.

Determinism: per-pixel independence ⇒ output invariant to partitioning
(reference pins this for 1 vs 2 processes, tests.py:62-82; we pin it
across parallelism levels in scripts/scaling_bench.py's fcls job — exact
row count and xxhash64 sum of q_fcls_tiles — and in
tests/test_determinism.py).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unmixing_spark.lsma.fcls import fcls_abundance, predict_spectra_from_abundance
from unmixing_spark.raster import NODATA


def unmix_cells(cells: DataFrame, endmembers: np.ndarray,
                band_cols: list[str], keep_cols: list[str] = ("cell_id",),
                delta: float | None = None) -> DataFrame:
    """LSMA over pixel rows: (keep_cols…, b1..bp) → (keep_cols…, a1..aq, rmse).

    rmse is the per-pixel forward-model residual (validate_by_forward_model,
    lsma.py:232-297 / utils.rmse, utils.py:940-968).
    """
    E = np.ascontiguousarray(np.asarray(endmembers, dtype=np.float64))
    q = E.shape[0]
    keep_cols = list(keep_cols)
    schema_fields = [f"{c} long" for c in keep_cols] + \
        [f"a{i+1} double" for i in range(q)] + ["rmse double"]
    schema = ", ".join(schema_fields)

    def _unmix(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = pdf[band_cols].to_numpy(dtype=np.float64)
            A = fcls_abundance(X, E, delta=delta)
            R = predict_spectra_from_abundance(A, E)
            rmse = np.sqrt(np.mean((R - X) ** 2, axis=1))
            out = {c: pdf[c].to_numpy() for c in keep_cols}
            for i in range(q):
                out[f"a{i+1}"] = A[:, i]
            out["rmse"] = rmse
            yield pd.DataFrame(out)

    return cells.mapInPandas(_unmix, schema)


ABUNDANCE_TILE_SCHEMA = (
    "tile_id long, q int, m int, n int, idx array<int>, "
    "abundances array<double>, n_pixels long, mean_rmse double"
)


def unmix_tiles(tiles: DataFrame, endmembers: np.ndarray,
                delta: float | None = None) -> DataFrame:
    """FCLS per sparse tile: (tile_id, p, m, n, idx, bands) → abundance
    tile (same sparse layout, q bands) + per-tile metrics. Pixels whose
    band-0 value is NODATA are filtered (lsma.py:794 rule).

    Vectorized across the whole Arrow batch: every tile's valid pixels
    gather into ONE (N, p) matrix, one batched FCLS solve, scatter back.
    Per-pixel independence makes the batching exact (and partition-
    invariant — the reference's determinism test, tests.py:62-82)."""
    E = np.ascontiguousarray(np.asarray(endmembers, dtype=np.float64))
    q = E.shape[0]

    def _unmix(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            p = int(pdf["p"].iloc[0])
            counts = np.array([len(i) for i in pdf["idx"]])
            X = np.concatenate([np.asarray(b, dtype=np.float64).reshape(p, -1).T
                                for b in pdf["bands"]]) if counts.sum() else \
                np.zeros((0, p))
            valid = X[:, 0] != NODATA if len(X) else np.zeros(0, bool)
            A_all = np.full((len(X), q), NODATA, dtype=np.float64)
            rmse_all = np.zeros(len(X))
            if valid.any():
                A = fcls_abundance(X[valid], E, delta=delta)
                A_all[valid] = A
                R = predict_spectra_from_abundance(A, E)
                rmse_all[valid] = np.sqrt(np.mean((R - X[valid]) ** 2, axis=1))
            ends = np.cumsum(counts)
            starts = ends - counts
            abund, n_px, mean_rmse = [], [], []
            for s, e in zip(starts, ends):
                abund.append(A_all[s:e].T.ravel())          # (q, n_occ) band-major
                v = valid[s:e]
                n_px.append(int(v.sum()))
                mean_rmse.append(float(rmse_all[s:e][v].mean()) if v.any() else float("nan"))
            yield pd.DataFrame({
                "tile_id": pdf["tile_id"].to_numpy(),
                "q": np.full(len(pdf), q, dtype=np.int32),
                "m": pdf["m"].to_numpy().astype(np.int32),
                "n": pdf["n"].to_numpy().astype(np.int32),
                "idx": pdf["idx"],
                "abundances": abund,
                "n_pixels": np.asarray(n_px, dtype=np.int64),
                "mean_rmse": mean_rmse,
            })

    return tiles.mapInPandas(_unmix, ABUNDANCE_TILE_SCHEMA)


def unmix_cells_mesma(cells: DataFrame, band_cols: list[str],
                      em_col: str = "endmembers", q: int = 3,
                      keep_cols: list[str] = ("cell_id",)) -> DataFrame:
    """MESMA: per-pixel endmember matrices carried as a flattened (q*p)
    array column (concat_endmember_arrays product, sasma.py:96-111;
    __mesma2__ kernel, lsma.py:169-177). Co-partitioned data-parallel —
    no broadcast, no collect."""
    p = len(band_cols)
    keep_cols = list(keep_cols)
    schema = ", ".join([f"{c} long" for c in keep_cols] +
                       [f"a{i+1} double" for i in range(q)])

    def _unmix(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = pdf[band_cols].to_numpy(dtype=np.float64)
            EM = np.stack(pdf[em_col].to_numpy()).reshape(len(pdf), q, p)
            A = np.empty((len(pdf), q))
            # group pixels sharing an endmember matrix → batched solves;
            # keyed by the exact bytes (not their hash) so distinct
            # matrices can never silently collide into one group
            groups: dict[bytes, list[int]] = {}
            for i, e in enumerate(EM):
                groups.setdefault(e.tobytes(), []).append(i)
            for idxs in groups.values():
                idx = np.asarray(idxs)
                A[idx] = fcls_abundance(X[idx], EM[idx[0]])
            out = {c: pdf[c].to_numpy() for c in keep_cols}
            for i in range(q):
                out[f"a{i+1}"] = A[:, i]
            yield pd.DataFrame(out)

    return cells.mapInPandas(_unmix, schema)
