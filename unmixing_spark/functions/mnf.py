"""Minimum Noise Fraction rotation — two-pass distributed.

Re-implemented from Green et al. (1988, IEEE TGRS 26:1) — the paper the
reference's dependency wraps (transform.mnf_rotation, transform.py:104-118
delegates to pysptools; per SURVEY.md §7.0 we implement from the paper,
not the package):

1. estimate the noise covariance Σ_N from pixel shift differences,
2. whiten: F = U_N Λ_N^{-1/2},
3. PCA of the whitened signal covariance; components ordered by
   DESCENDING SNR (the "MNF eigen-order" invariant of the north star),
4. deterministic eigenvector sign convention (largest-|entry| positive) so
   outputs are reproducible across LAPACK builds and partitionings.

Distributed plan (SURVEY.md §2.8 L1): pass 1 computes the signal
covariance with JVM-side ``covar_samp`` partial+final aggregation and the
noise covariance from the EXACT shift-difference pairs — a cell_id+1
equi-self-join followed by 21 difference-product sums (whole-stage
codegen end to end; the reductions emit O(p²) values regardless of data
size, and the fit is a pure function of the data, independent of
partition layout). Driver does the (p x p) eigendecompositions. Pass 2
broadcasts the (p x p) rotation into a narrow whole-batch projection
(``boundary.map_matrix``).

NoData handling: NoData band values are remapped to 0 before the fit and
before the rotation, in both passes, matching transform.py:112.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unmixing_spark.boundary import map_matrix
from unmixing_spark.raster import NODATA


def _sign_fix(V: np.ndarray) -> np.ndarray:
    """Make each eigenvector's largest-|entry| positive (deterministic)."""
    idx = np.abs(V).argmax(axis=0)
    signs = np.sign(V[idx, np.arange(V.shape[1])])
    signs[signs == 0] = 1.0
    return V * signs


def mnf_rotation_matrix(signal_cov: np.ndarray, noise_cov: np.ndarray):
    """→ (rotation R (p, p), snr eigenvalues desc). Y = (X - mean) @ R."""
    wn, Un = np.linalg.eigh(noise_cov)
    wn = np.maximum(wn, 1e-12 * wn.max())
    F = Un @ np.diag(1.0 / np.sqrt(wn))
    Sw = F.T @ signal_cov @ F
    ws, V = np.linalg.eigh(Sw)
    order = np.argsort(ws)[::-1]
    V = _sign_fix(V[:, order])
    return F @ V, ws[order]


def mnf_fit(X: np.ndarray, nodata: float = NODATA):
    """Single-node MNF fit over a raveled (N, p) pixel matrix, rows in
    raster raveled (cell_id) order → (rotation R, mean mu, snr).

    Noise via shift difference on consecutive raveled rows (Green 1988
    §III: adjacent-pixel differences share signal, difference is ~√2
    noise) — the raveled-consecutive pairing the reference's noise
    estimator uses (transform.py:104-118 via pysptools' np.diff), i.e.
    including the (row, n−1)→(row+1, 0) wrap pairs."""
    X = np.asarray(X, dtype=np.float64).copy()
    X[X == nodata] = 0.0
    dX = np.diff(X, axis=0)
    noise_cov = (dX.T @ dX) / (2.0 * (dX.shape[0] - 1))
    mu = X.mean(axis=0)
    Xc = X - mu
    signal_cov = (Xc.T @ Xc) / (X.shape[0] - 1)
    R, snr = mnf_rotation_matrix(signal_cov, noise_cov)
    return R, mu, snr


def mnf_rotate(cube: np.ndarray, nodata: float = NODATA):
    """Single-node kernel over a (p, m, n) cube → ((p, m, n) rotated cube,
    snr eigenvalues). Delegates the fit to ``mnf_fit`` on the raveled
    matrix (rows iterate the raster row-major, so consecutive rows are
    horizontal pixel neighbors — the shift-difference pairs)."""
    p, m, n = cube.shape
    X = cube.reshape(p, m * n).T.astype(np.float64).copy()
    X[X == nodata] = 0.0
    R, mu, snr = mnf_fit(X, nodata)
    Y = (X - mu) @ R
    return Y.T.reshape(p, m, n), snr


def mnf_fit_distributed(cells: DataFrame, band_cols: list[str],
                        nodata: float = NODATA):
    """Pass 1 of the distributed MNF: EXACT shift-difference fit.

    The noise covariance pairs each cell with its raveled-order successor
    via a ``cell_id + 1`` equi-self-join — the same pairing the
    single-node kernel's ``np.diff`` uses on the dense raveled matrix
    (and the reference's pysptools noise estimator, transform.py:104-118).
    This makes the fit a pure function of the DATA, independent of
    partition layout (the previous within-Arrow-batch estimator dropped
    cross-batch seams and varied with partitioning). On a sparse cell
    table, pairs exist only where both neighbors exist — still intrinsic.

    All sums run JVM-side (whole-stage codegen): signal covariance via
    ``covar_samp``/``avg`` (stable co-moment aggregation), noise via the
    21 pairwise difference-product sums after the join. At cluster scale
    the self-join co-locates when the table is bucketed by cell_id; the
    aggregation outputs are O(p²) rows regardless of data size. Requires a
    ``cell_id`` column. Returns (rotation R, mean mu, snr);
    parity with ``mnf_fit`` pinned in tests/test_mnf_distributed.py."""
    p = len(band_cols)
    z = [F.when(F.col(c) == float(nodata), F.lit(0.0))
          .otherwise(F.col(c).cast("double")).alias(f"z{i}")
         for i, c in enumerate(band_cols)]
    base = cells.select(F.col("cell_id").cast("long").alias("cell_id"), *z)

    sig_aggs = [F.count(F.lit(1)).alias("n")]
    sig_aggs += [F.avg(f"z{i}").alias(f"m{i}") for i in range(p)]
    sig_aggs += [F.covar_samp(f"z{i}", f"z{j}").alias(f"c_{i}_{j}")
                 for i in range(p) for j in range(i, p)]

    nxt = base.select((F.col("cell_id") - F.lit(1)).alias("cell_id"),
                      *[F.col(f"z{i}").alias(f"r{i}") for i in range(p)])
    diffs = (base.join(nxt, "cell_id")
             .select(*[(F.col(f"r{i}") - F.col(f"z{i}")).alias(f"d{i}")
                       for i in range(p)]))
    noi_aggs = [F.count(F.lit(1)).alias("nd")]
    noi_aggs += [F.sum(F.col(f"d{i}") * F.col(f"d{j}")).alias(f"dd_{i}_{j}")
                 for i in range(p) for j in range(i, p)]
    # both 1-row aggregates in ONE action (cross join of single rows):
    # Catalyst runs the two branches as parallel stages of one job
    row = base.agg(*sig_aggs).crossJoin(diffs.agg(*noi_aggs)).collect()[0]

    # Degenerate inputs null out the aggregates (covar_samp needs n >= 2;
    # the noise sums need >= 1 adjacent cell_id pair) — fail with a clear
    # message instead of a TypeError when None hits the numpy fill below.
    if (row["nd"] or 0) == 0:
        raise ValueError(
            "mnf_fit_distributed: no adjacent cell_id pairs — need at least "
            "two cells with consecutive cell_ids to estimate noise")
    if (row["n"] or 0) < 2:
        raise ValueError(
            "mnf_fit_distributed: need >= 2 cells for signal covariance, "
            "got %d" % (row["n"] or 0))

    mu = np.array([row[f"m{i}"] for i in range(p)])
    signal_cov = np.zeros((p, p))
    noise_cov = np.zeros((p, p))
    for i in range(p):
        for j in range(i, p):
            signal_cov[i, j] = signal_cov[j, i] = row[f"c_{i}_{j}"]
            noise_cov[i, j] = noise_cov[j, i] = row[f"dd_{i}_{j}"]
    noise_cov /= 2.0 * max((row["nd"] or 0) - 1, 1)
    R, snr = mnf_rotation_matrix(signal_cov, noise_cov)
    return R, mu, snr


def mnf_transform_distributed(cells: DataFrame, band_cols: list[str],
                              R: np.ndarray, mu: np.ndarray) -> DataFrame:
    """Pass 2: broadcast rotation, narrow projection (no shuffle) to
    ``cell_id`` and ``mnf1..mnfp``. NoData band values are remapped to 0
    first, as in pass 1 and ``mnf_rotate``."""
    p = len(band_cols)
    Rb, mub = np.asarray(R), np.asarray(mu)
    schema = ", ".join(["cell_id long"] +
                       [f"mnf{i+1} double" for i in range(p)])

    def _proj(X: np.ndarray, batch: pa.RecordBatch) -> list:
        X[X == NODATA] = 0.0
        return [batch.column("cell_id"), *((X - mub) @ Rb).T]

    return map_matrix(cells, band_cols, _proj, schema)
