"""The flagship's Arrow tile stages, called directly on hand-built record
batches (no Spark): tile assembly (raster/rasterize.assemble_batches) and
tile FCLS (lsma/mapper.unmix_tile_batches) must equal a per-tile numpy
reference bit for bit."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from unmixing_spark.lsma.fcls import fcls_abundance, predict_spectra_from_abundance
from unmixing_spark.lsma.mapper import segment_sums, unmix_tile_batches
from unmixing_spark.pipeline import CANONICAL_ENDMEMBERS as E
from unmixing_spark.raster import NODATA
from unmixing_spark.raster.rasterize import assemble_batches
from unmixing_spark.spatial.grid import WORLD_GRID as G

BANDS = ["b1", "b2", "b3", "b4", "b5", "b6"]


def _cells() -> dict[str, np.ndarray]:
    """Cell rows sorted by (tile_id, cell_id): a 12-pixel tile (past the
    8-element threshold of numpy's pairwise sum), a tile with one NODATA
    pixel, a tile whose pixels are all NODATA, and small tiles."""
    rng = np.random.default_rng(7)
    spec = [((100, 200), 12, 0), ((100, 201), 3, 0), ((100, 203), 1, 0),
            ((50, 7), 5, 1), ((80, 150), 2, 2), ((81, 0), 4, 0)]
    rows = []
    for (ty, tx), n, n_nodata in spec:
        local = np.sort(rng.choice(G.tile * G.tile, size=n, replace=False))
        iy = ty * G.tile + local // G.tile
        ix = tx * G.tile + local % G.tile
        # off the endmember simplex, so every pixel has a real residual
        X = rng.dirichlet(np.ones(3), size=n) @ E + rng.normal(0, 5, (n, len(BANDS)))
        X[:n_nodata, 0] = NODATA
        for c, x in zip(iy * G.nx + ix, X):
            rows.append((c, ty * G.ntx + tx, *x))
    rows.sort(key=lambda r: (r[1], r[0]))
    cols = list(zip(*rows))
    out = {"cell_id": np.array(cols[0], np.int64),
           "tile_id": np.array(cols[1], np.int64)}
    for b, v in zip(BANDS, cols[2:]):
        out[b] = np.array(v, np.float64)
    return out


def _batch(cells: dict[str, np.ndarray], lo: int, hi: int) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict({k: v[lo:hi] for k, v in cells.items()})


def _tiles(cells: dict[str, np.ndarray]) -> pa.RecordBatch:
    """All tiles of ``cells`` as one record batch."""
    out = assemble_batches(iter([_batch(cells, 0, len(cells["tile_id"]))]), BANDS)
    return pa.Table.from_batches(list(out)).combine_chunks().to_batches()[0]


def _reference_tiles(cells: dict[str, np.ndarray]) -> list[dict]:
    """One tile at a time, straight from the sparse-tile definition."""
    rows = []
    for tid in np.unique(cells["tile_id"]):
        sel = cells["tile_id"] == tid
        iy, ix = np.divmod(cells["cell_id"][sel], G.nx)
        lidx = (iy % G.tile) * G.tile + ix % G.tile
        o = np.argsort(lidx)
        ty, tx = divmod(int(tid), G.ntx)
        rows.append({
            "tile_id": int(tid), "x0": -180.0 + tx * G.tile * G.deg,
            "y0": 90.0 - ty * G.tile * G.deg, "dx": G.deg, "dy": -G.deg,
            "p": len(BANDS), "m": G.tile, "n": G.tile,
            "idx": lidx[o].astype(np.int32).tolist(),
            "bands": np.stack([cells[b][sel][o] for b in BANDS]).ravel().tolist()})
    return rows


def _reference_unmix(rb: pa.RecordBatch) -> list[dict]:
    """The batch's valid pixels in one FCLS solve (the batching the tile
    stage uses), everything around it one tile at a time."""
    tiles = rb.to_pylist()
    p, q = len(BANDS), E.shape[0]
    X = np.concatenate([np.reshape(t["bands"], (p, -1)).T for t in tiles])
    valid = X[:, 0] != NODATA
    A_all = np.full((len(X), q), NODATA)
    rmse = np.zeros(len(X))
    A = fcls_abundance(X[valid], E)
    A_all[valid] = A
    rmse[valid] = np.sqrt(np.mean((predict_spectra_from_abundance(A, E) - X[valid]) ** 2, axis=1))
    out, s = [], 0
    for t in tiles:
        e = s + len(t["idx"])
        v = valid[s:e]
        out.append({"tile_id": t["tile_id"], "q": q, "m": t["m"], "n": t["n"],
                    "idx": t["idx"], "abundances": A_all[s:e].T.ravel().tolist(),
                    "n_pixels": int(v.sum()),
                    "mean_rmse": float(rmse[s:e][v].mean()) if v.any() else None})
        s = e
    return out


def _bits(rows: list[dict]) -> list[dict]:
    """Float values as their bytes, so equality is bit equality."""
    return [{k: np.asarray(v, np.float64).tobytes() if isinstance(v, (float, list))
             and k != "idx" else v for k, v in r.items()} for r in rows]


def test_assemble_batches_equals_per_tile_reference():
    cells = _cells()
    n = len(cells["tile_id"])
    split = 13  # inside the 12-pixel tile (rows 11-22)
    assert cells["tile_id"][split - 1] == cells["tile_id"][split]
    batches = [_batch(cells, 0, split), _batch(cells, split, split),
               _batch(cells, split, n)]
    got = pa.Table.from_batches(list(assemble_batches(iter(batches), BANDS))).to_pylist()
    assert _bits(got) == _bits(_reference_tiles(cells))


def test_assemble_batches_of_one_row_each():
    cells = _cells()
    batches = [_batch(cells, i, i + 1) for i in range(len(cells["tile_id"]))]
    got = pa.Table.from_batches(list(assemble_batches(iter(batches), BANDS))).to_pylist()
    assert _bits(got) == _bits(_reference_tiles(cells))


def test_unmix_tile_batches_equals_per_tile_reference():
    cells = _cells()
    tiles = _tiles(cells)
    assert tiles.num_rows == 6
    # sliced batches: the list columns' offsets do not start at 0
    parts = [tiles.slice(0, 1), tiles.slice(1, 0), tiles.slice(1, 3), tiles.slice(4, 2)]
    assert parts[2].column("bands").offsets[0].as_py() > 0
    got = [r for b in unmix_tile_batches(iter(parts), E) for r in b.to_pylist()]
    want = [r for b in parts if b.num_rows for r in _reference_unmix(b)]
    assert _bits(got) == _bits(want)
    by_tile = {r["tile_id"]: r for r in got}
    assert max(len(r["idx"]) for r in got) == 12
    nodata = by_tile[50 * G.ntx + 7]
    assert nodata["n_pixels"] == 4
    assert nodata["abundances"][0::5] == [NODATA] * 3
    empty = by_tile[80 * G.ntx + 150]
    assert empty["n_pixels"] == 0 and empty["mean_rmse"] is None


def test_unmix_tile_batches_skips_empty_batches():
    cells = _cells()
    tiles = _tiles(cells)
    assert list(unmix_tile_batches(iter([tiles.slice(0, 0)]), E)) == []


@pytest.mark.parametrize("bufsize", [8192, 2048])
def test_segment_sums_match_numpy_sum(bufsize):
    rng = np.random.default_rng(3)
    lens = np.array(list(range(0, 300)) + [2047, 2048, 2049, 5000, 9000])
    x = rng.random(int(lens.sum()) + 5) * 1e3
    starts = 5 + np.r_[0, np.cumsum(lens)[:-1]]
    old = np.getbufsize()
    np.setbufsize(bufsize)
    try:
        got = segment_sums(x, starts, lens)
        want = np.array([x[s:s + n].sum() for s, n in zip(starts, lens)])
    finally:
        np.setbufsize(old)
    assert (got + 0.0).tobytes() == want.tobytes()
