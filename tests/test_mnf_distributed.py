"""Distributed MNF fit == single-node kernel, exactly (VERDICT r2 item 2).

The distributed noise estimator is the cell_id+1 self-join — the same
raveled-consecutive pairing the single-node ``mnf_fit``/``mnf_rotate``
use via ``np.diff`` (and the reference's pysptools noise estimator,
transform.py:104-118). On a dense raster the two definitions coincide
pair-for-pair, so the fitted rotation must agree to floating-point
reduction noise at ANY partitioning.
"""

from __future__ import annotations

import numpy as np
import pytest

from unmixing_spark.functions.mnf import (NODATA, mnf_fit,
                                          mnf_fit_distributed, mnf_rotate,
                                          mnf_transform_distributed)

P, M, N = 6, 12, 17


@pytest.fixture(scope="module")
def dense_cube():
    rng = np.random.default_rng(3)
    cube = rng.uniform(0.0, 300.0, size=(P, M, N))
    # sprinkle NoData to exercise the remap-before-diff rule
    cube[2, 4, 7] = NODATA
    cube[5, 0, 0] = NODATA
    return cube


def _cells_df(spark, cube, n_parts):
    p, m, n = cube.shape
    X = cube.reshape(p, m * n).T
    rows = [(int(i), *[float(v) for v in X[i]]) for i in range(m * n)]
    schema = "cell_id long, " + ", ".join(f"b{k+1} double" for k in range(p))
    return spark.createDataFrame(rows, schema).repartition(n_parts)


def test_distributed_fit_equals_single_node(spark, dense_cube):
    X = dense_cube.reshape(P, M * N).T.astype(np.float64).copy()
    X[X == NODATA] = 0.0
    R0, mu0, snr0 = mnf_fit(X)
    bands = [f"b{k+1}" for k in range(P)]
    for n_parts in (3, 17):
        cells = _cells_df(spark, dense_cube, n_parts)
        R, mu, snr = mnf_fit_distributed(cells, bands)
        assert np.abs(mu - mu0).max() < 1e-9
        assert np.abs(R - R0).max() < 1e-9, \
            f"R mismatch at {n_parts} partitions: {np.abs(R - R0).max()}"
        assert np.abs(snr - snr0).max() < 1e-9


def test_distributed_fit_partition_invariant(spark, dense_cube):
    """Two different partitionings give the same R to reduction noise —
    the property the old within-batch estimator violated."""
    bands = [f"b{k+1}" for k in range(P)]
    R3, mu3, _ = mnf_fit_distributed(_cells_df(spark, dense_cube, 3), bands)
    R17, mu17, _ = mnf_fit_distributed(_cells_df(spark, dense_cube, 17), bands)
    assert np.abs(R3 - R17).max() < 1e-9
    assert np.abs(mu3 - mu17).max() < 1e-9


def test_distributed_transform_equals_single_node(spark, dense_cube):
    """Pass 2 projects every cell as ``mnf_rotate`` does, the NoData
    cells included: their NoData band values are remapped to 0 before
    the projection, as in pass 1."""
    Y0 = mnf_rotate(dense_cube)[0].reshape(P, M * N).T
    bands = [f"b{k+1}" for k in range(P)]
    cells = _cells_df(spark, dense_cube, 3)
    R, mu, _ = mnf_fit_distributed(cells, bands)
    rows = (mnf_transform_distributed(cells, bands, R, mu)
            .orderBy("cell_id").collect())
    assert [r["cell_id"] for r in rows] == list(range(M * N))
    Y = np.array([[r[f"mnf{k+1}"] for k in range(P)] for r in rows])
    nodata_cells = [4 * N + 7, 0]
    assert np.abs(Y[nodata_cells] - Y0[nodata_cells]).max() < 1e-6
    assert np.abs(Y - Y0).max() < 1e-6


def test_single_node_rotate_unchanged(dense_cube):
    """mnf_rotate still behaves identically after the mnf_fit refactor
    (the golden tests pin the reference scene; this pins the refactor on
    synthetic data): Y = (X - mu) @ R with the fit's own R."""
    out, snr = mnf_rotate(dense_cube)
    X = dense_cube.reshape(P, M * N).T.astype(np.float64).copy()
    X[X == NODATA] = 0.0
    R, mu, snr2 = mnf_fit(X)
    assert np.array_equal(out, ((X - mu) @ R).T.reshape(P, M, N))
    assert np.array_equal(snr, snr2)


def test_sparse_table_pairs_only_where_both_exist(spark, dense_cube):
    """Dropping a cell removes exactly its two adjacent pairs from the
    noise estimate (intrinsic definition on sparse cell tables)."""
    bands = [f"b{k+1}" for k in range(P)]
    full = _cells_df(spark, dense_cube, 5)
    from pyspark.sql import functions as F
    gap_id = 40
    sparse = full.filter(F.col("cell_id") != gap_id)
    R_s, _, _ = mnf_fit_distributed(sparse, bands)
    # single-node twin: diffs between consecutive ids, skipping pairs
    # that touch the removed cell
    X = dense_cube.reshape(P, M * N).T.astype(np.float64).copy()
    X[X == NODATA] = 0.0
    d = np.diff(X, axis=0)
    keep = np.ones(len(d), dtype=bool)
    keep[gap_id - 1] = keep[gap_id] = False
    d = d[keep]
    noise_cov = (d.T @ d) / (2.0 * (len(d) - 1))
    Xs = np.delete(X, gap_id, axis=0)
    mu = Xs.mean(axis=0)
    Xc = Xs - mu
    signal_cov = (Xc.T @ Xc) / (len(Xs) - 1)
    from unmixing_spark.functions.mnf import mnf_rotation_matrix
    R0, _ = mnf_rotation_matrix(signal_cov, noise_cov)
    assert np.abs(R_s - R0).max() < 1e-9
