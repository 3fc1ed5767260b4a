"""Normalized-convolution focal interpolation + distributed halo exchange.

The reference's stencil operator (sasma.interpolate_endmember_spectra,
sasma.py:268-293): a weighted focal mean where zero-valued (masked) pixels
contribute neither to the weighted sum nor to the weight normalizer;
constant-0 padding outside the array.

Distributed form (SURVEY.md §2.5 W3): focal windows cross tile borders, so
``interpolate_endmember_tiles`` ships each tile to every BLOCK_T x BLOCK_T
tile block whose halo (multi-ring, ``ceil(r / tile)`` rings) it falls in;
a grouped-map UDF convolves the block's padded supertile and emits only
the interiors of the block's own tiles. One shuffle (the halo fan-out),
kernel math stays in NumPy. A single-band focal mean is the case of one
class label that every pixel carries.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unmixing_spark.raster import NODATA
from unmixing_spark.spatial.grid import GridSpec, WORLD_GRID


def normalized_convolution(band: np.ndarray, window: np.ndarray,
                           cval: float = 0.0,
                           nodata: float = NODATA) -> np.ndarray:
    """Single-band weighted focal mean excluding zeros from the weight sum
    (sasma.py:268-293 semantics). Direct vectorized convolution: one
    shifted-add per kernel cell — O(w² · m · n), no scipy."""
    m, n = band.shape[-2:]
    b = band.reshape(m, n).astype(np.float64)
    b = np.where(b == nodata, cval, b)
    w = window.shape[-1]
    r = w // 2
    padded = np.pad(b, r, mode="constant", constant_values=cval)
    num = np.zeros((m, n))
    den = np.zeros((m, n))
    nz = (padded != cval).astype(np.float64)
    for di in range(w):
        for dj in range(w):
            wt = window.reshape(w, w)[di, dj]
            if wt == 0.0:
                continue
            sub = padded[di:di + m, dj:dj + n]
            num += wt * sub
            den += wt * nz[di:di + m, dj:dj + n]
    with np.errstate(divide="ignore", invalid="ignore"):
        return (num / den).reshape(1, m, n)


def interpolate_endmember_map(spectra: np.ndarray, em_locations: np.ndarray,
                              window: np.ndarray, q: int = 3, n: int = 2,
                              labels=None, cval: float = 0.0,
                              nodata: float = NODATA) -> list[np.ndarray]:
    """Per (endmember class x band): mask spectra to class locations, focal-
    interpolate, regroup bands by class (sasma.interpolate_endmember_map,
    sasma.py:189-265). Executors replace the reference's per-map process
    fan-out (sasma.py:245-252)."""
    from itertools import product

    from unmixing_spark.raster.masks import binary_mask

    shp = spectra.shape
    if labels is None:
        labels = range(1, q + 1)
    loc2d = em_locations.reshape(shp[1], shp[2])
    masked = [
        binary_mask(spectra[j].reshape(1, shp[1], shp[2]),
                    np.where(loc2d == i, 1, 0), nodata=nodata, invert=True)
        for i, j in product(labels, range(n))
    ]
    interpolated = [normalized_convolution(mm, window, cval, nodata)
                    for mm in masked]
    return [np.concatenate(interpolated[i * n:(i + 1) * n], axis=0)
            for i in range(q)]


def _pin_group_partitions(df: DataFrame, keys: list[str]) -> DataFrame:
    """Explicit keyed repartition before a grouped-map UDF.

    AQE's partition coalescing sizes shuffle outputs by BYTES — but the
    grouped-map cost here is Python/kernel time per GROUP, so coalescing
    the tiny halo payloads onto 2 reducers serializes thousands of
    convolutions (measured 7.3x on q_sasma_interpolation at sf0.01: 42.5 s
    coalesced vs 5.8 s pinned). A user-specified repartition is exempt
    from coalescing, and groupBy over the same keys reuses the exchange
    (hashpartitioning(keys, N) already satisfies ClusteredDistribution),
    so this adds no extra shuffle."""
    n = df.sparkSession.sparkContext.defaultParallelism * 4
    return df.repartition(n, *[F.col(k) for k in keys])


BLOCK_T = 4   # tiles per block edge for the block-grouped fan-out —
              # r6 sweep at the 10x replica (warm): B=2 4.3s, B=3 3.7s,
              # B=4 3.6-4.0s, B=6/8 flat; block count n_tiles/16 still
              # dwarfs any core count at web scale


def _block_dest_expr(grid: GridSpec, rings: int, B: int):
    """Destination BLOCK ids for a tile: the blocks whose (B + 2*rings)-
    tile super-region contains it, i.e. blocks floor((t±rings)/B) on
    each axis — closed-form JVM arithmetic, <= ceil((2*rings+B)/B)^2
    distinct ids (4 for rings=1, B=2 vs the 9 per-tile dests)."""
    ntx = grid.ntx
    nty = (grid.ny + grid.tile - 1) // grid.tile
    nbx = (ntx + B - 1) // B
    nby = (nty + B - 1) // B
    ty = F.floor(F.col("tile_id") / ntx)
    tx = F.col("tile_id") % ntx
    dests = []
    for dy in range(-rings, rings + 1):
        for dx in range(-rings, rings + 1):
            by = F.floor((ty + dy) / B)
            bx = F.floor((tx + dx) / B)
            valid = (by >= 0) & (by < nby) & (bx >= 0) & (bx < nbx)
            dests.append(F.when(valid, (by * nbx + bx).cast("long")))
    return F.array_distinct(F.array_compact(F.array(*dests)))


def _halo_rings(r: int, t: int) -> int:
    """Halo ring count for kernel radius r on t-cell tiles: multi-ring
    halos support the reference's large SASMA windows (110 px at 32-cell
    tiles → 2 rings; SASMA notebook cell 31, SURVEY §7.4.3)."""
    return max(1, -(-r // t))  # ceil(r / t), at least one ring


def interpolate_endmember_tiles(tiles: DataFrame, window: np.ndarray,
                                class_band: int, spectral_bands: list[int],
                                labels: list[int],
                                grid: GridSpec = WORLD_GRID) -> DataFrame:
    """Distributed interpolate_endmember_map (sasma.py:189-265): the
    per-(endmember class × band) fan-out the reference runs as q·n
    processes (sasma.py:245-252) becomes per-destination-tile halo groups,
    each computing ALL q·n (class, band) normalized convolutions over its
    S×S supertile (multi-ring halo, S = 2·rings+1; class masking is
    binary_mask invert=True semantics, sasma.py:242-244).

    tiles: sparse payload (tile_id, p, m, n, idx, bands) where band
    ``class_band`` holds the per-pixel class label and ``spectral_bands``
    index the bands to synthesize. Before the shuffle each row is pruned
    to the |spectral_bands| value slices + 1 class slice it needs, shipped
    ONCE per destination — grouping by dest alone (rather than
    (dest, class, band), the r2 shape) cuts the halo shuffle volume
    q·n·2/(n+1)-fold (6→1 copies of each value slice here) while keeping
    n_tiles-wide parallelism, which at 10⁶ tiles dwarfs the core count
    anyway. Output: one row per (tile_id, em_class, band), identical to
    the exploded-key formulation; grouping rows by (tile_id, em_class)
    regroups bands by class exactly like the reference's concat
    (sasma.py:263-265)."""
    r = window.shape[-1] // 2
    t = grid.tile
    rings = _halo_rings(r, t)
    ntx = grid.ntx
    nty = (grid.ny + grid.tile - 1) // grid.tile
    sb = list(spectral_bands)

    # Round-6 (guide §4 "the cost is per GROUP, amortize it"): groups
    # are BLOCK_T x BLOCK_T tile blocks instead of single tiles. Each
    # (label, band) normalized convolution runs ONCE over the block's
    # supertile and every center tile slices its interior out — 4x
    # fewer Python group dispatches, ~2x fewer kernel flops, and each
    # tile ships to <= 4 blocks instead of 9 dest tiles. A convolution
    # output cell depends only on its +-r neighborhood, which both
    # groupings populate with identical values (halo tiles within
    # ``rings``, zeros beyond), so the per-tile interiors — and the
    # pinned parity tests — are bit-identical. Block count is
    # n_tiles/4: still orders of magnitude above any core count at
    # web scale.
    B = BLOCK_T
    nbx = (ntx + B - 1) // B
    S = B + 2 * rings

    n_occ = F.size("idx")
    halo = (tiles
            .withColumn("dest", F.explode(_block_dest_expr(grid, rings, B)))
            .select("dest", "tile_id", "m", "n", "idx",
                    *[F.slice("bands", F.lit(b) * n_occ + 1, n_occ)
                      .alias(f"vals{b}") for b in sb],
                    F.slice("bands", F.lit(class_band) * n_occ + 1,
                            n_occ).alias("cls")))

    schema = ("tile_id long, em_class int, band int, m int, n int, "
              "interp array<double>")
    empty = pd.DataFrame({
        "tile_id": pd.Series([], dtype="int64"),
        "em_class": pd.Series([], dtype="int32"),
        "band": pd.Series([], dtype="int32"),
        "m": pd.Series([], dtype="int32"),
        "n": pd.Series([], dtype="int32"),
        "interp": pd.Series([], dtype="object"),
    })

    def _conv(key, pdf):
        dest = int(key[0])
        dby, dbx = divmod(dest, nbx)
        ty0, tx0 = dby * B - rings, dbx * B - rings
        sup_vals = {b: np.zeros((S * t, S * t)) for b in sb}
        sup_cls = np.full((S * t, S * t), np.nan)
        present: set[int] = set()
        for row in pdf.itertuples(index=False):
            tid = int(row.tile_id)
            tyy, txx = divmod(tid, ntx)
            oy, ox = tyy - ty0, txx - tx0
            present.add(tid)
            if not (0 <= oy < S and 0 <= ox < S):
                continue
            idx = np.asarray(row.idx, dtype=np.int64)
            ys, xs = slice(oy * t, (oy + 1) * t), slice(ox * t, (ox + 1) * t)
            blk = np.full(t * t, np.nan)
            blk[idx] = np.asarray(row.cls, dtype=np.float64)
            sup_cls[ys, xs] = blk.reshape(t, t)
            for b in sb:
                blk = np.zeros(t * t)
                blk[idx] = np.asarray(getattr(row, f"vals{b}"),
                                      dtype=np.float64)
                sup_vals[b][ys, xs] = blk.reshape(t, t)
        centers = [(i, j, (dby * B + i) * ntx + (dbx * B + j))
                   for i in range(B) for j in range(B)
                   if dby * B + i < nty and dbx * B + j < ntx
                   and (dby * B + i) * ntx + (dbx * B + j) in present]
        if not centers:
            return empty
        rows = []
        for label in labels:
            for b in sb:
                v = sup_vals[b]
                masked = np.where((sup_cls == label) & (v != NODATA), v, 0.0)
                out = normalized_convolution(masked, window, 0.0, NODATA)[0]
                for i, j, tid in centers:
                    rows.append((tid, label, b, t, t,
                                 out[(rings + i) * t:(rings + i + 1) * t,
                                     (rings + j) * t:(rings + j + 1) * t]
                                 .ravel()))
        return pd.DataFrame(rows, columns=["tile_id", "em_class", "band",
                                           "m", "n", "interp"])

    halo = _pin_group_partitions(halo, ["dest"])
    return halo.groupBy("dest").applyInPandas(_conv, schema)
