"""Spatial joins at scale: point-in-polygon, kNN, zonal — the north rule's
join surface beyond the SQL forms in queries/spatial_q.py.

Design for 10^12 points:
- PIP: the polygon side is small (AOIs) → broadcast. Each point is tested
  against candidate polygons pre-filtered by bounding box (a cheap column
  predicate that Catalyst pushes into the scan), then the exact
  winding-number test runs vectorized in a pandas UDF. One narrow stage.
- kNN: never cross-join the big side. Points and cells share the grid, so
  candidates come from expanding cell rings around each query point
  (GridSpec.neighbors generalized to cell rings); only ring cells join.
  For the small query sets typical of endmember search, the query side is
  the broadcast side and the big side is scanned once.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from unmixing_spark.spatial.grid import GridSpec, WORLD_GRID


def winding_contains(poly: np.ndarray, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Vectorized winding-number point-in-polygon test.

    poly: (k, 2) ring (closed or open), lon/lat: (N,). Returns bool (N,).
    Replaces the reference's OGR geometry containment (it builds OGR
    polygons at lsma.py:695-741; we test directly)."""
    px, py = poly[:, 0], poly[:, 1]
    px2, py2 = np.roll(px, -1), np.roll(py, -1)
    wn = np.zeros(len(lon), dtype=np.int64)
    for i in range(len(px)):
        x1, y1, x2, y2 = px[i], py[i], px2[i], py2[i]
        cross = (x2 - x1) * (lat - y1) - (lon - x1) * (y2 - y1)
        up = (y1 <= lat) & (y2 > lat) & (cross > 0)
        dn = (y1 > lat) & (y2 <= lat) & (cross < 0)
        wn += up.astype(np.int64) - dn.astype(np.int64)
    return wn != 0


def point_in_polygon_join(points: DataFrame,
                          polygons: list[tuple[str, np.ndarray]]) -> DataFrame:
    """points (lon, lat, …) ⋈ polygons → points + matched polygon name
    (inner).

    polygons: [(name, (k,2) ring array)] — closed over (broadcast) by the
    UDF; bbox prefilter stays in the JVM as a pushed-down predicate."""
    names = [n for n, _ in polygons]
    rings = [np.asarray(r, dtype=np.float64) for _, r in polygons]
    bboxes = [(r[:, 0].min(), r[:, 0].max(), r[:, 1].min(), r[:, 1].max())
              for r in rings]

    # bbox OR-filter: cheap JVM-side candidate pruning before Python
    cond = None
    for (x0, x1, y0, y1) in bboxes:
        c = (F.col("lon") >= x0) & (F.col("lon") <= x1) & \
            (F.col("lat") >= y0) & (F.col("lat") <= y1)
        cond = c if cond is None else (cond | c)
    pruned = points.filter(cond)

    @F.pandas_udf(T.StringType())
    def match(lon: pd.Series, lat: pd.Series) -> pd.Series:
        lo = lon.to_numpy(dtype=np.float64)
        la = lat.to_numpy(dtype=np.float64)
        out = np.full(len(lo), None, dtype=object)
        for name, ring, (x0, x1, y0, y1) in zip(names, rings, bboxes):
            cand = (out == None) & (lo >= x0) & (lo <= x1) & (la >= y0) & (la <= y1)  # noqa: E711
            if cand.any():
                hit = winding_contains(ring, lo[cand], la[cand])
                idx = np.flatnonzero(cand)[hit]
                out[idx] = name
        return pd.Series(out)

    # withColumn(udf) + filter on its output makes Catalyst push the
    # filter BELOW the projection and evaluate the UDF twice (one
    # ArrowEvalPython under the filter, one above — the guide §4.4
    # duplication); marking it non-deterministic pins a single
    # evaluation. The function is pure — the marker only constrains
    # the optimizer, values are unchanged.
    match_nd = match.asNondeterministic()
    return (pruned.withColumn("aoi", match_nd(F.col("lon"), F.col("lat")))
            .filter(F.col("aoi").isNotNull()))


def _knn_probe(cells: DataFrame, qspecs: list[tuple[str, float, float, int]],
               k: int, grid: GridSpec) -> DataFrame:
    """One kNN probe: the union of the queries' Chebyshev candidate disks
    (vectorized NumPy enumeration — tiny, (2r+1)² ids per query) becomes a
    broadcast LEFT-SEMI join against the big cell table — scanned once, no
    shuffle of the big side. A semi-join sits ABOVE the cell aggregation
    (Catalyst does not push join keys through aggregates), so the derived
    cell_id is never re-evaluated per input row; when cell_id is a stored
    Iceberg column instead, swap the semi-join for `.isin` and the same
    set prunes at the parquet scan. The surviving cells then cross-join
    the tiny query set for exact distances and a top-k window. Scoring a
    cell against a query whose own disk it missed only ADDS candidates —
    never drops one — so per-query exactness is governed solely by each
    query's own radius. Disks too large to enumerate (sparse-region
    fallback) degrade to the unpruned scan — the brute-force plan, still
    exact."""
    g = grid
    ids: set[int] = set()
    enumerable = True
    for _, qlon, qlat, r in qspecs:
        if (2 * r + 1) ** 2 > 250_000:
            enumerable = False
            break
        qix = min(max(int((qlon + 180.0) / g.deg), 0), g.nx - 1)
        qiy = min(max(int((90.0 - qlat) / g.deg), 0), g.ny - 1)
        xs = np.arange(max(0, qix - r), min(g.nx - 1, qix + r) + 1,
                       dtype=np.int64)
        ys = np.arange(max(0, qiy - r), min(g.ny - 1, qiy + r) + 1,
                       dtype=np.int64)
        ids.update((ys[:, None] * g.nx + xs[None, :]).ravel().tolist())
    exhaustive = not (enumerable and len(ids) <= 1_000_000)
    if not exhaustive:
        ids_df = cells.sparkSession.createDataFrame(
            [(i,) for i in sorted(ids)], "cell_id long")
        pruned = cells.join(F.broadcast(ids_df), "cell_id", "semi")
    else:
        pruned = cells
    qdf = cells.sparkSession.createDataFrame(
        [(n, lo, la) for n, lo, la, _ in qspecs],
        "name string, qlon double, qlat double")
    joined = pruned.crossJoin(F.broadcast(qdf))
    clon = (F.col("cell_id") % g.nx + 0.5) * g.deg - 180.0
    clat = 90.0 - (F.floor(F.col("cell_id") / g.nx) + 0.5) * g.deg
    d2 = (clon - F.col("qlon")) ** 2 + (clat - F.col("qlat")) ** 2
    from pyspark.sql import Window
    scored = joined.withColumn("d2", d2)
    if exhaustive:
        # brute-force fallback: the global per-name window would sort the
        # whole corpus x queries product on |queries| reducers. Bound it
        # with a map-side combine: local top-k per (input partition, name)
        # first — keeps every global top-k candidate (ordering is total:
        # d2, cell_id), shrinks the final sort to <= k * n_parts * |queries|
        # rows. At a stored-table scale this is the k-limited equivalent of
        # a partial aggregation.
        wl = Window.partitionBy("_pid", "name").orderBy(
            F.col("d2").asc(), F.col("cell_id").asc())
        scored = (scored.withColumn("_pid", F.spark_partition_id())
                  .withColumn("_lrn", F.row_number().over(wl))
                  .filter(F.col("_lrn") <= k)
                  .drop("_pid", "_lrn"))
    w = Window.partitionBy("name").orderBy(F.col("d2").asc(),
                                           F.col("cell_id").asc())
    topk = (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("name", "cell_id", "d2", "rn"))
    return topk, exhaustive


def knn_join(cells: DataFrame, queries: list[tuple[str, float, float]],
             k: int = 5) -> DataFrame:
    """k nearest occupied cells of ``WORLD_GRID`` per query point via
    ADAPTIVE ring search.

    Probe → certify → expand: each round joins the big cell table against
    the (tiny, broadcast, JVM-generated) candidate disks of the still-
    unsatisfied queries. A query is CERTIFIED exact once its k-th best hit
    is strictly closer than (r+0.5)·deg — the minimum distance any cell
    outside Chebyshev radius r can have from a point of the query's own
    cell — so certified results are guaranteed identical to the
    brute-force cross-join oracle (same distances, same cell_id
    tie-break). Every query starts at radius 20; unsatisfied queries
    quadruple their radius (bounded by the grid diameter, so always
    exact) and re-probe; satisfied ones drop out, so the common case is
    ONE scan of the big table for all queries at once.

    The per-round certification check reads only the probe OUTPUT — at
    most k·|queries| rows, tiny by definition of kNN — and the final
    result is returned from those collected rows, so no pass over the big
    table is ever repeated for data that is already certified. This is
    adaptive-query-execution-style control flow, not a driver-side
    compute path. Generalizes the candidate search of lsma.py:587-655."""
    g = WORLD_GRID
    spark = cells.sparkSession
    cap = max(g.nx, g.ny)
    pending = {name: min(20, cap) for name, _, _ in queries}
    coords = {name: (lon, lat) for name, lon, lat in queries}
    out_rows: list[tuple] = []
    while pending:
        qspecs = [(n, coords[n][0], coords[n][1], r)
                  for n, r in pending.items()]
        probe, exhaustive = _knn_probe(cells, qspecs, k, g)
        hits: dict[str, list] = {}
        for row in probe.collect():
            hits.setdefault(row["name"], []).append(row)
        nxt: dict[str, int] = {}
        for name, r in pending.items():
            got = hits.get(name, [])
            bound = ((r + 0.5) * g.deg) ** 2
            certified = (len(got) >= k
                         and max(h["d2"] for h in got) < bound)
            # an exhaustive probe (disk too large to enumerate → full
            # scan) is exact by construction — never re-scan for it
            if certified or exhaustive or r >= cap:
                out_rows += [(h["name"], h["cell_id"], float(h["d2"]),
                              h["rn"]) for h in got]
            else:
                nxt[name] = min(r * 4, cap)
        pending = nxt
    return spark.createDataFrame(
        out_rows, "name string, cell_id long, d2 double, rn int")
