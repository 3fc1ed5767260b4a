"""Flagship FCLS parity: the pandas-UDF kernel vs the q=3 closed-form SQL.

q_fcls3_closed_form (queries/scale_q.py) is the flagship problem —
CANONICAL_ENDMEMBERS, same δ — solved exactly in dual-rendered SQL, which
gives FCLS a full DuckDB value oracle in the driver gate. These tests pin
the triangle between the three implementations:

  exact rational  <-- 2e-13 -->  closed-form float / SQL
  exact rational  <-- κ(AtA)·ε ≈ 2e-7 -->  FC-NNLS kernel

The kernel cannot do better than its conditioning bound: the Heinz-Chang
δ-augmentation (δ = 1/(1000·max|E|), pinned — see fcls.py:100) makes
κ(AtA) ≈ 1e9, so a backward-stable solve carries forward error up to
κ·ε ≈ 2e-7. The closed form avoids the ill-conditioned solve entirely
(Sherman-Morrison, constants in exact rational arithmetic), so it is the
MORE accurate side — verified against exact-rational evaluation below.
Reference: lsma.py:179-230; tests.py:43-82 pin FCLS bytes the same way.
"""

from __future__ import annotations

import warnings
from fractions import Fraction

import duckdb
import numpy as np
import pytest

from tests.conftest import SF_SMALL
from unmixing_spark import dialect as D
from unmixing_spark.lsma.fcls import (fcls3_closed_form_constants,
                                      fcls3_closed_form_eval, fcls_abundance)
from unmixing_spark.pagegen import BAND_NAMES, cell_raster_sql
from unmixing_spark.pipeline import CANONICAL_ENDMEMBERS as E

KERNEL_TOL = 2e-7   # κ(AtA)·ε conditioning bound of the kernel's solve
EXACT_TOL = 1e-11   # closed-form float evaluation vs exact rational


def _sf_cells():
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/documents.parquet')")
    rows = con.execute(
        f"SELECT cell_id, {', '.join(BAND_NAMES)} FROM "
        f"({cell_raster_sql(D.DUCKDB)}) ORDER BY cell_id").fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    X = np.array([r[1:] for r in rows], dtype=np.float64)
    return con, ids, X


def _exact_solution(x: np.ndarray) -> np.ndarray:
    """Exact rational FCLS optimum for one pixel (ground truth)."""
    from itertools import combinations
    consts = fcls3_closed_form_constants(E)
    v = [sum(Fraction(float(E[r, c])) * Fraction(float(x[c]))
             for c in range(E.shape[1])) for r in range(3)]
    # rebuild exact k/C/c0 (the float dict loses exactness) — redo inline
    m = np.abs(E).max()
    dF = Fraction(1.0 / (1000.0 * m))
    d2 = dF * dF
    M = [[sum(Fraction(float(E[i, c])) * Fraction(float(E[j, c]))
              for c in range(E.shape[1])) for j in range(3)] for i in range(3)]
    best_score, best_a = None, None
    for r in (3, 2, 1):
        for S in combinations(range(3), r):
            Ms = [[M[i][j] for j in S] for i in S]
            n = len(S)
            aug = [[Ms[i][j] for j in range(n)]
                   + [Fraction(1 if k == i else 0) for k in range(n)]
                   for i in range(n)]
            for col in range(n):
                piv = next(rr for rr in range(col, n) if aug[rr][col] != 0)
                aug[col], aug[piv] = aug[piv], aug[col]
                pv = aug[col][col]
                aug[col] = [q / pv for q in aug[col]]
                for rr in range(n):
                    if rr != col and aug[rr][col] != 0:
                        f = aug[rr][col]
                        aug[rr] = [a - f * b for a, b in zip(aug[rr], aug[col])]
            N = [row[n:] for row in aug]
            s = [sum(row) for row in N]
            sigma = sum(s)
            a = [sum(N[i][j] * v[S[j]] for j in range(n))
                 + s[i] * (1 - sum(s[j] * v[S[j]] for j in range(n)))
                 / (d2 + sigma) for i in range(n)]
            if min(a) < 0:
                continue
            t = [d2 * v[S[i]] + 1 for i in range(n)]
            score = sum(t[i] * a[i] for i in range(n))
            if best_score is None or score > best_score:
                best_score = score
                full = [Fraction(0)] * 3
                for i, idx in enumerate(S):
                    full[idx] = a[i]
                best_a = full
    assert consts  # constants importable
    return np.array([float(a) for a in best_a])


def test_closed_form_float_matches_exact_rational():
    """The float evaluator (== the SQL expression tree) is within fp
    noise of the exact rational optimum — proving the closed form is the
    accurate side of the kernel-parity comparison."""
    _, _, X = _sf_cells()
    rng = np.random.default_rng(11)
    idx = rng.choice(len(X), size=min(40, len(X)), replace=False)
    approx = fcls3_closed_form_eval(X[idx], E)
    for row, x in zip(approx, X[idx]):
        exact = _exact_solution(x)
        assert np.abs(row - exact).max() < EXACT_TOL


def test_kernel_matches_closed_form_on_sf_cells():
    """fcls_abundance (FC-NNLS, the flagship kernel) agrees with the
    closed form on every sf0.001 cell to the conditioning bound."""
    _, _, X = _sf_cells()
    a_kernel = fcls_abundance(X, E)
    a_closed = fcls3_closed_form_eval(X, E)
    worst = np.abs(a_kernel - a_closed).max()
    assert worst < KERNEL_TOL, f"max |kernel - closed| = {worst}"


def test_sql_oracle_matches_eval_mirror():
    """The DuckDB rendering of q_fcls3_closed_form returns exactly the
    Python mirror's values (same expression tree, rounded to 6)."""
    from unmixing_spark.queries.scale_q import _fcls3
    con, ids, X = _sf_cells()
    rows = con.execute(_fcls3(D.DUCKDB) + " ORDER BY cell_id").fetchall()
    assert [r[0] for r in rows] == ids.tolist()
    a_sql = np.array([r[1:] for r in rows], dtype=np.float64)
    a_eval = np.round(fcls3_closed_form_eval(X, E), 6)
    assert np.abs(a_sql - a_eval).max() == 0.0


def test_mesma_kernel_matches_closed_form(spark):
    """q_mesma3_closed_form vs the MESMA kernel (unmix_cells_mesma,
    lsma/mapper.py): same class rule, same fixed per-class matrices,
    per-pixel endmember switching — abundances agree to the kernel's
    conditioning bound on every sf0.001 cell."""
    import pandas as pd
    from pyspark.sql import functions as F
    from unmixing_spark.lsma.mapper import unmix_cells_mesma
    from unmixing_spark.queries.scale_q import _mesma_class_endmembers
    from unmixing_spark import pipeline
    ems = _mesma_class_endmembers()

    cells = pipeline.cell_raster(spark, SF_SMALL)
    classed = cells.withColumn(
        "cls", F.when(F.col("b1") >= 2.0, 2)
        .when(F.col("b4") >= 50.0, 1).otherwise(0))
    mapping = F.create_map(*[x for c in sorted(ems) for x in (
        F.lit(c), F.array(*[F.lit(float(v)) for v in ems[c].ravel()]))])
    with_em = classed.withColumn("endmembers", mapping[F.col("cls")])
    kernel = (unmix_cells_mesma(with_em, list(BAND_NAMES), q=3)
              .toPandas().sort_values("cell_id").reset_index(drop=True))

    from unmixing_spark.queries import registry
    spec = registry()["q_mesma3_closed_form"]
    sql = (spec.spark_fn(spark, SF_SMALL)
           .toPandas().sort_values("cell_id").reset_index(drop=True))
    assert (kernel["cell_id"].to_numpy() == sql["cell_id"].to_numpy()).all()
    for c in ("a1", "a2", "a3"):
        worst = np.abs(kernel[c].to_numpy() - sql[c].to_numpy()).max()
        assert worst < KERNEL_TOL + 5e-7, f"{c}: {worst}"  # + round(6) quantum


def test_ppi_sql_twin_matches_kernels(spark):
    """q_ppi_sql_twin == ppi_local == ppi_distributed on the same cells
    and the same seeded skewers (k=200): identical winner sets and hit
    counts — the relational spec and both kernels agree exactly."""
    from unmixing_spark import pipeline
    from unmixing_spark.lsma.ppi import ppi_distributed, skewers
    from unmixing_spark.queries.scale_q import PPI_SQL_SKEWERS

    con, ids, X = _sf_cells()
    from unmixing_spark.queries.scale_q import _ppi_sql
    sql_rows = con.execute(_ppi_sql(D.DUCKDB)).fetchall()

    # single-node kernel with the same skewers
    S = skewers(X.shape[1], PPI_SQL_SKEWERS, seed=42)
    proj = X @ S
    counts = np.zeros(len(X), dtype=np.int64)
    # argmax with id tie-break == np.argmax on id-sorted rows (ids sorted)
    np.add.at(counts, proj.argmax(axis=0), 1)
    np.add.at(counts, proj.argmin(axis=0), 1)
    order = np.lexsort((ids, -counts))[:20]
    expect = [(int(ids[i]), int(counts[i])) for i in order]
    assert [(r[0], r[1]) for r in sql_rows] == expect

    # distributed kernel, same skewer count/seed
    cells = pipeline.cell_raster(spark, SF_SMALL)
    dist = (ppi_distributed(cells, list(BAND_NAMES),
                            n_skewers=PPI_SQL_SKEWERS, top=20)
            .collect())
    assert [(r["cell_id"], r["hits"]) for r in dist] == expect


def test_focal_idw_twin_matches_kernel():
    """q_focal_idw_twin == normalized_convolution on the densified
    raster: embed the sparse cells in a dense window (missing = 0 =
    masked), run the single-node kernel, compare at every occupied cell
    that has at least one occupied neighbor."""
    from unmixing_spark.queries.scale_q import _focal_idw
    from unmixing_spark.sasma.focal import normalized_convolution
    from unmixing_spark.sasma.kernels import kernel_idw_l1
    from unmixing_spark.spatial.grid import WORLD_GRID

    g = WORLD_GRID
    con, ids, X = _sf_cells()
    rows = con.execute(_focal_idw(D.DUCKDB) + " ORDER BY cell_id").fetchall()
    got = {r[0]: r[1] for r in rows}

    iy, ix = ids // g.nx, ids % g.nx
    y0, y1 = iy.min() - 3, iy.max() + 4
    x0, x1 = ix.min() - 3, ix.max() + 4
    dense = np.zeros((y1 - y0, x1 - x0))
    dense[iy - y0, ix - x0] = X[:, 1]            # b2
    out = normalized_convolution(dense, kernel_idw_l1(5), 0.0)[0]

    checked = 0
    for cid, yy, xx in zip(ids, iy - y0, ix - x0):
        v = out[yy, xx]
        if cid in got:
            assert not np.isnan(v)
            assert abs(round(v, 6) - got[cid]) <= 1e-6, cid
            checked += 1
        else:
            assert np.isnan(v)                    # no occupied neighbor
    assert checked > 100


def test_focal_class_idw_twin_matches_halo_kernel(spark):
    """q_focal_class_idw_twin == interpolate_endmember_tiles (the
    distributed halo-exchange SASMA kernel) at every occupied cell: same
    class rule, same 5×5 IDW kernel, values equal after round(6); a
    (cell, class) present in one is present in the other."""
    from pyspark.sql import functions as F
    from unmixing_spark import pipeline
    from unmixing_spark.queries.scale_q import _focal_class_idw
    from unmixing_spark.raster.rasterize import assemble_tiles
    from unmixing_spark.sasma.focal import interpolate_endmember_tiles
    from unmixing_spark.sasma.kernels import kernel_idw_l1
    from unmixing_spark.spatial.grid import WORLD_GRID

    g = WORLD_GRID
    con, ids, X = _sf_cells()
    twin = {(r[0], r[1]): r[2] for r in
            con.execute(_focal_class_idw(D.DUCKDB)).fetchall()}

    cells = (pipeline.cell_raster(spark, SF_SMALL)
             .withColumn("cls", F.when(F.col("b1") >= 2.0, 2.0)
                         .when(F.col("b4") >= 50.0, 1.0).otherwise(0.0)))
    tiles = assemble_tiles(cells, ["b2", "cls"])
    # building the plan infers no eval type from partial type hints
    # (PySpark warns when it cannot)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = interpolate_endmember_tiles(
            tiles, kernel_idw_l1(5), class_band=1, spectral_bands=[0],
            labels=[0, 1, 2])
    assert not [w for w in caught if issubclass(w.category, UserWarning)]
    kern = {}
    for row in out.collect():
        interp = np.array([np.nan if x is None else float(x)
                           for x in row["interp"]])
        kern[(row["tile_id"], row["em_class"])] = interp

    t = g.tile
    checked = 0
    for cid in ids:
        iy, ix = divmod(int(cid), g.nx)
        tile_id = (iy // t) * g.ntx + (ix // t)
        pos = (iy % t) * t + (ix % t)
        for label in (0, 1, 2):
            v = kern[(tile_id, label)][pos]
            key = (int(cid), label)
            if np.isnan(v):
                assert key not in twin
            else:
                assert key in twin, key
                assert abs(round(float(v), 6) - twin[key]) <= 1e-6, key
                checked += 1
    assert checked > 150


@pytest.mark.usefixtures("spark")
def test_spark_rendering_matches_duckdb(spark):
    """Dual-rendering parity for the new template (the driver gate's
    check, run locally at sf0.001)."""
    from unmixing_spark.queries import registry
    spec = registry()["q_fcls3_closed_form"]
    sdf = spec.spark_fn(spark, SF_SMALL).toPandas()
    con, _, _ = _sf_cells()
    ddf = con.execute(spec.oracle).df()
    s = sdf.sort_values("cell_id").reset_index(drop=True)
    d = ddf.sort_values("cell_id").reset_index(drop=True)
    assert (s["cell_id"].to_numpy() == d["cell_id"].to_numpy()).all()
    for c in ("a1", "a2", "a3"):
        assert np.array_equal(s[c].to_numpy(), d[c].to_numpy()), c
