"""MNF, PPI, FCLS-scene and endmember-search tests on a generated raster.

The reference-fixture tests (test_golden_fixtures.py,
test_determinism.py, test_endmember_search.py) skip where the
reference's TIFFs are absent; these exercise the same kernels on a
self-contained 6-band scene so the paths keep coverage everywhere. The
scene mixes the pipeline's three canonical endmembers with smooth
abundance fields (so adjacent pixels share signal and MNF's
shift-difference noise estimate is meaningful), plants one pure pixel
per endmember, and adds Gaussian noise. Besides self-pinned values, the
tests assert properties the construction guarantees: two signal
components, the planted pixels as the purest and as the simplex
vertices, and FCLS recovering the generating abundances.
"""

from __future__ import annotations

import hashlib
from itertools import combinations, product

import numpy as np
import pytest

from unmixing_spark.functions.mnf import mnf_rotate
from unmixing_spark.lsma.endmembers import (endmembers_by_maximum_angle,
                                            endmembers_by_maximum_area,
                                            endmembers_by_maximum_volume,
                                            spectra_at_xy)
from unmixing_spark.lsma.fcls import fcls_abundance
from unmixing_spark.lsma.ppi import ppi_local
from unmixing_spark.pipeline import CANONICAL_ENDMEMBERS

M = N = 32
GT = (300000.0, 30.0, 0.0, 4700000.0, 0.0, -30.0)
PURE = [(3, 5), (27, 9), (14, 28)]     # (col, row) of each pure pixel
MIXED = [(8, 8), (16, 16), (20, 4), (5, 20), (25, 25)]


def _xy(col, row):
    return (GT[0] + (col + 0.5) * GT[1], GT[3] + (row + 0.5) * GT[5])


@pytest.fixture(scope="module")
def scene():
    """(cube (6, M, N), true abundances (M*N, 3), MNF cube, snr)."""
    rng = np.random.default_rng(11)
    r, c = np.mgrid[0:M, 0:N] / M
    w = np.stack([1.2 + np.sin(2 * np.pi * c),
                  1.2 + np.cos(2 * np.pi * r),
                  0.6 + r * c])
    A = (w / w.sum(axis=0)).reshape(3, -1).T
    for k, (col, row) in enumerate(PURE):
        A[row * N + col] = np.eye(3)[k]
    X = A @ CANONICAL_ENDMEMBERS + rng.normal(0.0, 0.5, size=(M * N, 6))
    cube = X.T.reshape(6, M, N)
    out, snr = mnf_rotate(cube)
    return cube, A, out, snr


def test_mnf_eigen_order(scene):
    _, _, out, snr = scene
    assert out.shape == (6, M, N)
    assert (np.diff(snr) <= 1e-9).all()       # descending SNR
    # three endmembers span a 2-D affine signal subspace: two components
    # carry signal, the rest sit at the whitened noise floor (~1)
    assert snr[1] > 10 and np.abs(snr[2:] - 1).max() < 0.15
    np.testing.assert_allclose(snr[:2], [31.91011089, 15.43358918],
                               atol=1e-6)
    diag0 = out.transpose(2, 1, 0).diagonal()[0].sum()
    assert abs(diag0 - 0.6437997664125001) < 1e-6


def test_ppi_finds_planted_pure_pixels(scene):
    _, _, out, _ = scene
    X = out.reshape(6, -1).T[:, :3]
    counts = ppi_local(X, n_skewers=2000, seed=42)
    assert counts.sum() == 4000                # min + max per skewer
    top3 = set(np.argsort(-counts)[:3].tolist())
    assert top3 == {row * N + col for col, row in PURE}
    assert (counts > 0).sum() == 23


def _scene_fcls(out):
    em = spectra_at_xy(out, [_xy(*p) for p in PURE], GT)
    X = out.reshape(6, -1).T
    return fcls_abundance(X[:, :2], em[:, :2]), X, em


def test_fcls_scene_determinism_across_chunkings(scene):
    _, A_true, out, _ = scene
    A, X, em = _scene_fcls(out)
    B, _, _ = _scene_fcls(out)
    assert (hashlib.sha256(A.tobytes()).hexdigest()
            == hashlib.sha256(B.tobytes()).hexdigest())
    for cut in (37, 512, 1000):
        parts = np.vstack([fcls_abundance(X[:cut, :2], em[:, :2]),
                           fcls_abundance(X[cut:, :2], em[:, :2])])
        assert np.array_equal(np.round(A, 10), np.round(parts, 10))
    assert A.min() >= 0.0
    assert np.abs(A.sum(axis=1) - 1.0).max() < 1e-6
    assert np.abs(A - A_true).max() < 0.1     # recovers the generator
    np.testing.assert_allclose(
        A.mean(axis=0),
        [0.35211718911334583, 0.3597297634450068, 0.2881530474416474],
        atol=1e-8)


def test_max_volume_grouped(scene):
    _, _, out, _ = scene
    groups = {"a": [PURE[0], MIXED[0], MIXED[1]],
              "b": [PURE[1], MIXED[2]],
              "c": [PURE[2], MIXED[3], MIXED[4]]}
    cases = {k: [_xy(*p) for p in v] for k, v in groups.items()}
    spectra, coords = endmembers_by_maximum_volume(out, cases, gt=GT)
    assert spectra.shape == (3, 3)
    best = max(product(*cases.values()), key=lambda combo: abs(
        np.linalg.det(spectra_at_xy(out, list(combo), GT)[:, :3])))
    assert [tuple(c) for c in coords] == list(best)
    assert [tuple(c) for c in coords] == [_xy(*MIXED[1]), _xy(*PURE[1]),
                                          _xy(*PURE[2])]


def test_max_area_picks_simplex_vertices(scene):
    _, _, out, _ = scene
    flat = [_xy(*p) for p in PURE + MIXED]
    spectra, coords = endmembers_by_maximum_area(out, flat, gt=GT)
    assert spectra.shape == (3, 3)
    # the planted pure pixels are the vertices of the mixing simplex, so
    # they span the largest triangle of the two signal components
    assert sorted(tuple(c) for c in coords) == sorted(_xy(*p) for p in PURE)

    def area2(xys):
        a, b, c = spectra_at_xy(out, list(xys), GT)[:, :2]
        u, v = b - a, c - a
        return 0.5 * abs(u[0] * v[1] - u[1] * v[0])

    best = max(area2(t) for t in combinations(flat, 3))
    assert abs(area2(coords) - best) < 1e-9


def test_max_angle_from_vertex(scene):
    _, _, out, _ = scene
    ref = _xy(*PURE[0])
    cands = [_xy(*p) for p in PURE[1:] + MIXED]
    spectra, coords = endmembers_by_maximum_angle(out, cands, ref, gt=GT)
    assert coords[0] == ref and spectra.shape == (3, 6)
    assert sorted(tuple(c) for c in coords[1:]) == sorted(
        _xy(*p) for p in PURE[1:])
