"""Endmember combination search on the reference fixture (the reference's
own tests only type-check these, tests.py:122-177; we pin behavior)."""

from __future__ import annotations

import numpy as np
import pytest

from unmixing_spark.functions.mnf import mnf_rotate
from unmixing_spark.lsma.endmembers import (endmembers_by_maximum_angle,
                                            endmembers_by_maximum_area,
                                            endmembers_by_maximum_volume)
from unmixing_spark.tiffio import read_tiff
from tests.test_golden_fixtures import CASES, FIX, needs_fix


@pytest.fixture(scope="module")
def mnf7():
    rast, gt, nd = read_tiff(f"{FIX}/multi7_raster.tiff")
    out, _ = mnf_rotate(rast)
    return out, gt


@needs_fix
def test_max_volume_grouped_dict(mnf7):
    """Grouped-dict product search (lsma.py:616-632): one candidate per
    class, the combo maximizing |det|."""
    out, gt = mnf7
    spectra, coords = endmembers_by_maximum_volume(out, CASES, gt=gt)
    assert spectra.shape[0] == 3
    # one coordinate from each class group
    for (xy, group) in zip(coords, CASES.values()):
        assert tuple(xy) in {tuple(g) for g in group}
    # the winning combo really is the max over the product space
    from itertools import product
    from unmixing_spark.lsma.endmembers import spectra_at_xy
    best = 0.0
    for combo in product(*CASES.values()):
        m = np.array([spectra_at_xy(out, [c], gt)[0][:3] for c in combo])
        best = max(best, abs(np.linalg.det(m)))
    got = abs(np.linalg.det(np.array([s[:3] for s in spectra])))
    assert abs(got - best) < 1e-9


@needs_fix
def test_max_volume_with_ref_target(mnf7):
    """Reference semantics (lsma.py:624/641): ref_target shrinks the
    combination size to ndim-1, spectra truncate to ndim components, so
    the matrix is square (3, 3) and the winner is the max over ALL
    ref+pair combos."""
    out, gt = mnf7
    ref = (300953, 4682679)  # the reference test's fixed target (tests.py:160)
    spectra, coords = endmembers_by_maximum_volume(
        out, CASES["Vegetation"], ref_target=ref, gt=gt)
    assert coords[0] == ref
    assert spectra.shape == (3, 3)
    from itertools import combinations
    from unmixing_spark.lsma.endmembers import spectra_at_xy
    rv = spectra_at_xy(out, [ref], gt)[0][:3]
    best = max(
        abs(np.linalg.det(np.array(
            [rv, spectra_at_xy(out, [a], gt)[0][:3],
             spectra_at_xy(out, [b], gt)[0][:3]])))
        for a, b in combinations(CASES["Vegetation"], 2))
    assert abs(abs(np.linalg.det(spectra)) - best) < 1e-9


@needs_fix
def test_max_area_flat_sequence(mnf7):
    """area_dim=2 reference default (lsma.py:433): 3-combinations scored
    on the first two components, spectra truncated to ndim=3."""
    out, gt = mnf7
    spectra, coords = endmembers_by_maximum_area(out, CASES["High/Bright"], gt=gt)
    assert spectra.shape == (3, 3)
    assert len({tuple(c) for c in coords}) == 3
    from itertools import combinations
    from unmixing_spark.lsma.endmembers import spectra_at_xy
    def area2(xys):
        a, b, c = (spectra_at_xy(out, [xy], gt)[0][:2] for xy in xys)
        u, v = b - a, c - a
        return 0.5 * abs(u[0] * v[1] - u[1] * v[0])
    best = max(area2(t) for t in combinations(CASES["High/Bright"], 3))
    assert abs(area2([tuple(c) for c in coords]) - best) < 1e-9


@needs_fix
def test_max_angle(mnf7):
    out, gt = mnf7
    ref = (342683, 4703919)  # tests.py:172
    spectra, coords = endmembers_by_maximum_angle(
        out, CASES["Vegetation"], ref, gt=gt)
    assert coords[0] == ref
    assert spectra.shape[0] == 3
    # the reported pair subtends a larger angle than any other pair
    from itertools import combinations
    from unmixing_spark.lsma.endmembers import spectra_at_xy
    rv = spectra_at_xy(out, [ref], gt)[0]
    def ang(a, b):
        u = spectra_at_xy(out, [a], gt)[0] - rv
        v = spectra_at_xy(out, [b], gt)[0] - rv
        return np.arccos(np.clip(u @ v / (np.linalg.norm(u) * np.linalg.norm(v)), -1, 1))
    best = max(ang(a, b) for a, b in combinations(CASES["Vegetation"], 2))
    got = ang(tuple(coords[1]), tuple(coords[2]))
    assert abs(got - best) < 1e-12


@needs_fix
def test_max_volume_dict_with_ref_asserts_group_count(mnf7):
    """Reference constraint (lsma.py:622-623): grouped search + ref_target
    requires ndim == len(groups) + 1; a 3-group dict at ndim=3 must raise
    the reference's assertion, not a LinAlgError."""
    out, gt = mnf7
    ref = (300953, 4682679)
    with pytest.raises(AssertionError, match="one less than the dimensionality"):
        endmembers_by_maximum_volume(out, CASES, ref_target=ref, gt=gt)
    # and the well-formed call (2 groups + ref at ndim=3) works
    two = {k: CASES[k] for k in list(CASES)[:2]}
    spectra, coords = endmembers_by_maximum_volume(
        out, two, ref_target=ref, gt=gt)
    assert spectra.shape == (3, 3)
    assert coords[0] == ref


def test_nfindr_planted_simplex_reaches_global_argmax():
    """q_nfindr's correctness argument, verified directly: with three
    planted vertices whose triangle strictly contains every other
    candidate, N-FINDR's positional-swap local search converges to the
    global max-|det| simplex (each swap maximizes a linear functional,
    attained at a convex-hull vertex = a planted vertex)."""
    from itertools import combinations

    from unmixing_spark.lsma.endmembers import nfindr
    from unmixing_spark.queries.linalg_q import NFINDR_PLANTED

    rng = np.random.default_rng(7)
    interior = rng.uniform([40.0, 8.0], [600.0, 110.0], size=(60, 2))
    planted = np.array([[x, y] for _, x, y in NFINDR_PLANTED])
    X = np.vstack([planted, interior])

    idx = nfindr(X, q=3)

    def vol(ids):
        (x1, y1), (x2, y2), (x3, y3) = X[list(ids)]
        return abs((x2 - x1) * (y3 - y1) - (x3 - x1) * (y2 - y1))

    best = max(combinations(range(len(X)), 3), key=vol)
    assert sorted(idx) == sorted(best) == [0, 1, 2]


def test_eigen_power_sums_match_eigvalsh():
    """q_eigen_power_sums' Newton-identities claim: the SQL's normalized
    power sums r_k = tr(S^k)/tr(S)^k equal sum(lambda^k)/sum(lambda)^k of
    the SAME rounded covariance matrix's eigenvalues."""
    import duckdb

    from unmixing_spark.pagegen import BAND_NAMES, cell_raster_sql
    from unmixing_spark.queries.linalg_q import _eigen_power_sums

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    row = con.sql(_eigen_power_sums("duckdb")).df().iloc[0]

    p = len(BAND_NAMES)
    cov_cols = ", ".join(
        f"round(covar_samp({BAND_NAMES[i]}, {BAND_NAMES[j]}), 4) AS c_{i}_{j}"
        for i in range(p) for j in range(i, p))
    crow = con.sql(
        f"SELECT {cov_cols} FROM ({cell_raster_sql('duckdb')})").df().iloc[0]
    S = np.zeros((p, p))
    for i in range(p):
        for j in range(i, p):
            S[i, j] = S[j, i] = crow[f"c_{i}_{j}"]
    lam = np.linalg.eigvalsh(S)
    assert abs(row["t1"] - round(lam.sum(), 4)) < 1e-9
    for k in range(2, p + 1):
        want = (lam ** k).sum() / lam.sum() ** k
        assert abs(row[f"r{k}"] - want) < 1e-7, (k, row[f"r{k}"], want)
