"""Storage-layout operators: the table-maintenance passes a 100 TB
Iceberg/Delta deployment runs between query workloads (task brief; the
reference engine has no table layer):

- q_zorder_layout — Z-order (Morton 1966) spatial file clustering audit:
  the same page stream laid out into files two ways (Z-order-sorted vs
  ingest-ordered), per-file cell bounding boxes, and per-probe scan cost
  (files touched / rows scanned / scan amplification) for the hotspot
  query rectangles. This is the data-skipping argument behind Delta
  ``OPTIMIZE ZORDER BY`` and Iceberg sort orders, made measurable: a
  min/max-pruned scan reads only files whose bbox intersects the query
  rect, so spatial clustering turns a full-table scan into a few-file
  read.
- q_compaction_plan — Iceberg ``rewrite_data_files``-style small-file
  compaction planning (binpack strategy): per partition, files are
  packed in listing order into output groups of ~TARGET_MB, and the plan
  reports per-group fill plus the per-partition file-count reduction.

Both dual-rendered (Spark executes, DuckDB is the driver's oracle),
full-value oracles. Brute-force pins in tests/test_layout.py rebuild the
geocode, the Morton interleave, both layouts, and the packing in plain
Python/numpy.
"""

from __future__ import annotations

from unmixing_spark import dialect as D
from unmixing_spark.pagegen import CITIES, geocode_exprs, url_expr
from unmixing_spark.queries import QuerySpec, register, sql_template
from unmixing_spark.spatial.grid import WORLD_GRID

# ---- Z-order layout audit ------------------------------------------------

N_FILES = 64          # files per layout (the write fan-out being audited)
IX_BITS = 13          # WORLD_GRID nx = 7200 < 2^13
IY_BITS = 12          # WORLD_GRID ny = 3600 < 2^12
PROBE_DEG = 1.0       # probe rectangle half-width (matches hotspot jitter)


def morton_sql(ix: str, iy: str, d: str) -> str:
    """Morton/Z-order interleave of (ix, iy) — ix at even bit positions,
    iy at odd. Rendered as a sum of exact power-of-two products over
    ``idiv_i``/``%`` so no dialect-sensitive shift operator appears; the
    whole expression is integer math inside whole-stage codegen."""
    terms = []
    for k in range(IX_BITS):
        bit = f"(({D.idiv_i(f'({ix})', str(1 << k), d)}) % 2)"
        terms.append(f"{bit} * {1 << (2 * k)}")
    for k in range(IY_BITS):
        bit = f"(({D.idiv_i(f'({iy})', str(1 << k), d)}) % 2)"
        terms.append(f"{bit} * {1 << (2 * k + 1)}")
    return "cast(" + " + ".join(terms) + " as bigint)"


def probe_rects() -> list[tuple[int, int, int, int, int]]:
    """(pid, ix_lo, ix_hi, iy_lo, iy_hi) — the 8 hotspot-city ±PROBE_DEG
    rectangles in CELL space, computed at template-build time with the
    same floor/clamp semantics as GridSpec.ix_sql/iy_sql (pure IEEE
    doubles, so the Python pin reproduces them bit-exactly)."""
    import math
    g = WORLD_GRID
    out = []
    for pid, (lon, lat) in enumerate(CITIES):
        def ix(x: float) -> int:
            return min(max(int(math.floor((x + 180.0) / g.deg)), 0), g.nx - 1)

        def iy(y: float) -> int:
            return min(max(int(math.floor((90.0 - y) / g.deg)), 0), g.ny - 1)

        out.append((pid, ix(lon - PROBE_DEG), ix(lon + PROBE_DEG),
                    iy(lat + PROBE_DEG), iy(lat - PROBE_DEG)))
    return out


def _zorder_layout(d: str) -> str:
    """Z-order vs ingest-order file layout, audited by scan cost.

    Both layouts split the SAME {N_FILES}-file budget over the same rows:
    ``zorder`` sorts by the Morton key before chunking (ntile), ``ingest``
    chunks in url order (url is an md5-geocoded stream, so ingest order
    has no spatial locality — the realistic worst case a crawler writes).
    Per (layout, file): the min/max cell bbox a manifest would carry.
    Per (layout, probe): files whose bbox intersects the probe rect
    (exactly min/max skipping), rows inside those files, rows actually in
    the rect, and the scan amplification rows_scanned / rows_matched.

    Scale shape: at 10^12 pages the layout ASSIGNMENT is write-time
    ``repartitionByRange(morton_key)`` (sampled range boundaries — no
    global window) and per-file bboxes come from manifest metadata; the
    audit here synthesizes both inside one query so the strategy's
    skipping win is a value-hashed fact, not a narrative. The ntile
    windows are the audit-scale stand-in for the range partitioner (both
    produce contiguous key chunks); the probe join is an 8-row broadcast
    nested loop against {N_FILES}-row file stats — trivially small on
    both sides. rows_matched is probe-only (layout-independent), joined
    back so every output row prices its own ground truth."""
    g = geocode_exprs(d)
    grid = WORLD_GRID
    rect_rows = ", ".join(f"({p}, {a}, {b}, {c}, {e})"
                          for p, a, b, c, e in probe_rects())
    url = url_expr(d)
    return f"""
    WITH urls AS (SELECT {url} AS url FROM documents),
    pts AS {D.mat(d)}(
      SELECT url, ix, iy, {morton_sql('ix', 'iy', d)} AS mkey
      FROM (
        SELECT url,
               {grid.ix_sql('lon')} AS ix,
               {grid.iy_sql('lat')} AS iy
        FROM (SELECT url, {g['lon']} AS lon, {g['lat']} AS lat FROM urls)
      )
    ),
    layouts AS {D.mat(d)}(
      SELECT 'zorder' AS layout, ix, iy,
             ntile({N_FILES}) OVER (ORDER BY mkey, url) AS file_id
      FROM pts
      UNION ALL
      SELECT 'ingest' AS layout, ix, iy,
             ntile({N_FILES}) OVER (ORDER BY url) AS file_id
      FROM pts
    ),
    files AS {D.mat(d)}(
      SELECT layout, file_id,
             cast(count(*) as bigint) AS n_rows,
             min(ix) AS ix_min, max(ix) AS ix_max,
             min(iy) AS iy_min, max(iy) AS iy_max
      FROM layouts GROUP BY layout, file_id
    ),
    probes AS ({D.values_rel(rect_rows, "t(pid, ix_lo, ix_hi, iy_lo, iy_hi)", d)}),
    touched AS (
      SELECT f.layout, p.pid,
             cast(count(*) as bigint) AS files_scanned,
             cast(sum(f.n_rows) as bigint) AS rows_scanned
      FROM files f JOIN probes p
        ON f.ix_min <= p.ix_hi AND f.ix_max >= p.ix_lo
       AND f.iy_min <= p.iy_hi AND f.iy_max >= p.iy_lo
      GROUP BY f.layout, p.pid
    ),
    matched AS (
      SELECT p.pid, cast(count(*) as bigint) AS rows_matched
      FROM pts x JOIN probes p
        ON x.ix BETWEEN p.ix_lo AND p.ix_hi
       AND x.iy BETWEEN p.iy_lo AND p.iy_hi
      GROUP BY p.pid
    ),
    tot AS (SELECT cast(count(*) as bigint) AS n FROM pts),
    spine AS (
      SELECT l.layout, p.pid FROM probes p
      CROSS JOIN (SELECT 'zorder' AS layout
                  UNION ALL SELECT 'ingest' AS layout) l
    )
    SELECT s.layout, s.pid,
           cast(coalesce(t.files_scanned, 0) as bigint) AS files_scanned,
           cast(coalesce(t.rows_scanned, 0) as bigint) AS rows_scanned,
           cast(coalesce(m.rows_matched, 0) as bigint) AS rows_matched,
           round(cast(coalesce(t.rows_scanned, 0) as double) / tt.n, 6)
             AS scan_frac,
           CASE WHEN coalesce(m.rows_matched, 0) = 0 THEN NULL
                ELSE round(cast(coalesce(t.rows_scanned, 0) as double)
                           / m.rows_matched, 6) END AS amplification
    FROM spine s
    LEFT JOIN touched t ON t.layout = s.layout AND t.pid = s.pid
    LEFT JOIN matched m ON m.pid = s.pid
    CROSS JOIN tot tt
    ORDER BY s.layout, s.pid
    """


sql_template("q_zorder_layout", _zorder_layout,
             "Z-order vs ingest file layout: per-probe min/max-pruned "
             "files touched, rows scanned, scan amplification")


# ---- small-file compaction planning ---------------------------------------

TARGET_MB = 512       # binpack target output size
FILE_MB_MIN = 8       # synthesized file sizes: FILE_MB_MIN + md5 % FILE_MB_SPAN
FILE_MB_SPAN = 120


def _compaction_plan(d: str) -> str:
    """Binpack compaction plan over a small-file listing.

    Synthesis: every page is a data file in its ``source`` partition
    (the post-ingest worst case: one file per task commit), sized
    {FILE_MB_MIN}..{FILE_MB_MIN}+{FILE_MB_SPAN}-1 MB by md5 so both
    renderings price identical bytes. Plan: within each partition, files
    pack in listing order (url) into output groups at the first
    cumulative {TARGET_MB} MB boundary — the group of a file is
    floor(cum_bytes_before / target), i.e. a group closes once it
    reaches target (Iceberg binpack's greedy fill). Output: one row per
    planned output group with its fill ratio, plus the per-partition
    files_before/groups_after reduction every row carries.

    Scale shape: ONE partition-keyed cumulative window (the planner's
    only exchange — listing order is a per-partition sort, exactly what
    a manifest scan returns) + one (partition, group) aggregation + a
    partition-keyed window over the ~files/target-sized group relation.
    No global ordering anywhere: partitions plan independently, which is
    why rewrite planning parallelizes across a 10^6-partition table."""
    url = url_expr(d)
    szkey = "'fsz' || url"
    mb = f"{FILE_MB_MIN} + ({D.md5_slice(szkey, 1, d)}) % {FILE_MB_SPAN}"
    cum = ("sum(file_mb) OVER (PARTITION BY part_key ORDER BY url "
           "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    return f"""
    WITH listing AS (
      SELECT source AS part_key, {url} AS url,
             cast({mb} as bigint) AS file_mb
      FROM documents
    ),
    planned AS (
      SELECT part_key, url, file_mb,
             {D.idiv_i(f'({cum} - file_mb)', str(TARGET_MB), d)} AS out_group
      FROM listing
    ),
    groups AS {D.mat(d)}(
      SELECT part_key, out_group,
             cast(count(*) as bigint) AS n_files,
             cast(sum(file_mb) as bigint) AS group_mb
      FROM planned GROUP BY part_key, out_group
    )
    SELECT part_key, out_group, n_files, group_mb,
           round(cast(group_mb as double) / {TARGET_MB}, 6) AS fill_ratio,
           cast(sum(n_files) OVER (PARTITION BY part_key) as bigint)
             AS files_before,
           cast(count(*) OVER (PARTITION BY part_key) as bigint)
             AS groups_after
    FROM groups
    ORDER BY part_key, out_group
    """


sql_template("q_compaction_plan", _compaction_plan,
             "binpack small-file compaction plan: per-partition greedy "
             "fill to a target size, group fills + file-count reduction")


# ---- quadtree cell covering (the S2 covering op) ---------------------------

COVER_LEVELS = 6      # quadtree depth: level-l cells are 2^l base cells wide


def _cover_seeds() -> list[tuple[int, int, int]]:
    """(pid, cx, cy) level-{COVER_LEVELS} seed cells per probe rect —
    the covering's starting frontier, computed at build time exactly as
    S2 coverings start from the fixed face cells. Every level-L cell
    intersecting the rect is a seed; refinement below is pure SQL."""
    seeds = []
    w = 1 << COVER_LEVELS
    for pid, ix_lo, ix_hi, iy_lo, iy_hi in probe_rects():
        for cx in range(ix_lo // w, ix_hi // w + 1):
            for cy in range(iy_lo // w, iy_hi // w + 1):
                seeds.append((pid, cx, cy))
    return seeds


def _cell_covering(d: str) -> str:
    """S2-style mixed-level quadtree covering of the probe rectangles,
    with the covering's exactness PROVEN in-query.

    A covering turns a 2-D range predicate into a small IN-list of
    hierarchical cell ids — the spatial-index primitive behind H3/S2
    range queries (north rule). Algorithm (S2's region coverer,
    restricted to exact rect queries on the cell lattice): start from
    the level-{COVER_LEVELS} cells touching the rect; at each level a
    cell fully inside the rect is EMITTED, a partially-overlapping cell
    splits into its 4 children; base cells (level 0) that intersect are
    emitted (a base cell intersecting a cell-aligned rect is inside it,
    so the recursion terminates exactly). The unroll is
    {COVER_LEVELS} fixed CTE rounds — bounded like the redirect unroll,
    never iteration-to-fixpoint.

    In-query proofs carried on every row: (1) disjoint-exact AREA —
    Σ 4^level over the covering equals the rect's area in base cells;
    (2) QUERY parity — counting pages by joining the point stream to
    the covering (the index-scan plan) equals counting by the direct
    rect predicate (the full-scan plan). Both must hold per probe or
    the value hash breaks.

    Scale shape: the covering itself is metadata-sized (seeds × ≤4^l,
    here ≤ ~200 rows total) and computes in a LINEAR chain of tiny CTEs
    — each refinement round carries its emitted cells forward (an
    accumulate chain, not a union of per-level emits, which Catalyst's
    CTE inlining would re-derive quadratically); per-pid covering stats
    are window functions over the final covering rows so the chain is
    referenced only twice (the page-count join + the output). The
    page-count join broadcasts the covering against the point stream —
    exactly how an indexed spatial range query executes at 10^12 rows
    (covering cells → partition pruning → per-cell scan), while the
    direct-predicate twin is the full-scan cost it replaces."""
    g = geocode_exprs(d)
    grid = WORLD_GRID
    rect_rows = ", ".join(f"({p}, {a}, {b}, {c}, {e})"
                          for p, a, b, c, e in probe_rects())
    seed_rows = ", ".join(f"({p}, {x}, {y})" for p, x, y in _cover_seeds())
    url = url_expr(d)

    w0 = 1 << COVER_LEVELS
    rounds = [f"""r{COVER_LEVELS} AS (
      SELECT c.pid, {COVER_LEVELS} AS level, c.cx, c.cy,
             c.cx * {w0} AS x0, (c.cx + 1) * {w0} - 1 AS x1,
             c.cy * {w0} AS y0, (c.cy + 1) * {w0} - 1 AS y1,
             CASE WHEN c.cx * {w0} >= p.ix_lo AND (c.cx + 1) * {w0} - 1 <= p.ix_hi
                   AND c.cy * {w0} >= p.iy_lo AND (c.cy + 1) * {w0} - 1 <= p.iy_hi
                  THEN 1 ELSE 0 END AS is_full
      FROM seeds c JOIN probes p ON p.pid = c.pid
      WHERE c.cx * {w0} <= p.ix_hi AND (c.cx + 1) * {w0} - 1 >= p.ix_lo
        AND c.cy * {w0} <= p.iy_hi AND (c.cy + 1) * {w0} - 1 >= p.iy_lo
    )"""]
    for lv in range(COVER_LEVELS, 0, -1):
        # ONE reference to r{lv} per round: every row expands against the
        # 4-child quad; an already-EMITTED (full) cell passes through only
        # on the (0,0) child, a frontier (partial) cell classifies its 4
        # children against the rect. A second reference would double the
        # inlined subtree per level (2^L plan blowup — the CC-loop lesson).
        w = 1 << (lv - 1)
        cx = "(c.cx * 2 + q.dx)"
        cy = "(c.cy * 2 + q.dy)"
        rounds.append(f"""r{lv - 1} AS (
      SELECT pid, level, cx, cy, x0, x1, y0, y1, is_full FROM (
        SELECT c.pid,
               CASE WHEN c.is_full = 1 THEN c.level ELSE {lv - 1} END AS level,
               CASE WHEN c.is_full = 1 THEN c.cx ELSE {cx} END AS cx,
               CASE WHEN c.is_full = 1 THEN c.cy ELSE {cy} END AS cy,
               CASE WHEN c.is_full = 1 THEN c.x0 ELSE {cx} * {w} END AS x0,
               CASE WHEN c.is_full = 1 THEN c.x1
                    ELSE ({cx} + 1) * {w} - 1 END AS x1,
               CASE WHEN c.is_full = 1 THEN c.y0 ELSE {cy} * {w} END AS y0,
               CASE WHEN c.is_full = 1 THEN c.y1
                    ELSE ({cy} + 1) * {w} - 1 END AS y1,
               CASE WHEN c.is_full = 1 THEN 1
                    WHEN {cx} * {w} >= p.ix_lo AND ({cx} + 1) * {w} - 1 <= p.ix_hi
                     AND {cy} * {w} >= p.iy_lo AND ({cy} + 1) * {w} - 1 <= p.iy_hi
                    THEN 1 ELSE 0 END AS is_full,
               CASE WHEN c.is_full = 1
                    THEN CASE WHEN q.dx = 0 AND q.dy = 0 THEN 1 ELSE 0 END
                    WHEN {cx} * {w} <= p.ix_hi AND ({cx} + 1) * {w} - 1 >= p.ix_lo
                     AND {cy} * {w} <= p.iy_hi AND ({cy} + 1) * {w} - 1 >= p.iy_lo
                    THEN 1 ELSE 0 END AS keep
        FROM r{lv} c CROSS JOIN quad q JOIN probes p ON p.pid = c.pid
      ) t WHERE keep = 1
    )""")
    rounds_sql = ",\n    ".join(rounds)
    return f"""
    WITH probes AS ({D.values_rel(rect_rows, "t(pid, ix_lo, ix_hi, iy_lo, iy_hi)", d)}),
    seeds AS ({D.values_rel(seed_rows, "t(pid, cx, cy)", d)}),
    quad AS ({D.values_rel("(0, 0), (0, 1), (1, 0), (1, 1)", "t(dx, dy)", d)}),
    {rounds_sql},
    covering AS {D.mat(d)}(
      SELECT pid, level, cx, cy, x0, x1, y0, y1 FROM r0
    ),
    pts AS {D.mat(d)}(
      SELECT {grid.ix_sql('lon')} AS ix, {grid.iy_sql('lat')} AS iy
      FROM (SELECT {g['lon']} AS lon, {g['lat']} AS lat
            FROM (SELECT {url} AS url FROM documents))
    ),
    via_cover AS (
      SELECT c.pid, cast(count(*) as bigint) AS covered_pages
      FROM covering c JOIN pts x
        ON x.ix BETWEEN c.x0 AND c.x1
       AND x.iy BETWEEN c.y0 AND c.y1
      GROUP BY c.pid
    ),
    direct AS (
      SELECT p.pid, cast(count(*) as bigint) AS direct_pages
      FROM probes p JOIN pts x
        ON x.ix BETWEEN p.ix_lo AND p.ix_hi
       AND x.iy BETWEEN p.iy_lo AND p.iy_hi
      GROUP BY p.pid
    ),
    stats AS (
      SELECT c.pid, c.level, c.cx, c.cy,
             cast(count(*) OVER (PARTITION BY c.pid) as bigint) AS n_cells,
             cast(sum((c.x1 - c.x0 + 1) * (c.y1 - c.y0 + 1))
                  OVER (PARTITION BY c.pid) as bigint) AS area_cells,
             cast((p.ix_hi - p.ix_lo + 1) * (p.iy_hi - p.iy_lo + 1)
                  as bigint) AS rect_area,
             cast(coalesce(v.covered_pages, 0) as bigint) AS covered_pages,
             cast(coalesce(dr.direct_pages, 0) as bigint) AS direct_pages
      FROM covering c
      JOIN probes p ON p.pid = c.pid
      LEFT JOIN via_cover v ON v.pid = c.pid
      LEFT JOIN direct dr ON dr.pid = c.pid
    )
    SELECT pid, level, cx, cy, n_cells, area_cells, rect_area,
           cast(CASE WHEN area_cells = rect_area THEN 1 ELSE 0 END
                as bigint) AS area_ok,
           covered_pages, direct_pages,
           cast(CASE WHEN covered_pages = direct_pages THEN 1 ELSE 0 END
                as bigint) AS count_ok
    FROM stats
    ORDER BY pid, level, cx, cy
    """


# ---- raster region labeling (polygonize) -----------------------------------

REGION_FACTOR = 8          # parent-cell factor: 0.4 deg region-label lattice
REGION_ORACLE_ROUNDS = 8   # fixed unroll depth for the DuckDB oracle ONLY
                           # (2^8-1 = 255-hop cover; the Spark side iterates
                           # cc_labels to a PROVEN fixpoint and raises past
                           # its cap, so a deeper graph fails loudly, never
                           # silently — same contract as q_neardup_components)


def _region_cells(d: str) -> str:
    """CTE text ending in ``cells``(pcell, px, py, n_pages): the occupied
    parent-cell mask (REGION_FACTOR x REGION_FACTOR base cells per
    region-lattice cell, so the hotspot blobs are solid and adjacency is
    meaningful at every sf)."""
    g = geocode_exprs(d)
    grid = WORLD_GRID
    pnx = grid.nx // REGION_FACTOR
    return f"""pts AS (
      SELECT {D.idiv_i(grid.ix_sql('lon'), str(REGION_FACTOR), d)} AS px,
             {D.idiv_i(grid.iy_sql('lat'), str(REGION_FACTOR), d)} AS py
      FROM (SELECT {g['lon']} AS lon, {g['lat']} AS lat
            FROM (SELECT {url_expr(d)} AS url FROM documents))
    ),
    cells AS {D.mat(d)}(
      SELECT py * {pnx} + px AS pcell, px, py,
             cast(count(*) as bigint) AS n_pages
      FROM pts GROUP BY px, py
    )"""


def _region_edges_sql(d: str) -> str:
    """4-neighbor adjacency over occupied cells, symmetrized — two
    equi-joins on shifted keys (never a distance predicate), the shape
    that stays a pair of keyed joins at any lattice size. The SINGLE
    definition of the region graph: the DuckDB oracle renders it as
    CTEs over the cells CTE, the Spark path renders the SAME fragment
    over a temp view of the checkpointed cells — the two engines cannot
    silently compute different adjacency."""
    return f"""e1 AS {D.mat(d)}(
      SELECT a.pcell AS u, b.pcell AS v
      FROM cells a JOIN cells b ON b.px = a.px + 1 AND b.py = a.py
    ),
    e2 AS {D.mat(d)}(
      SELECT a.pcell AS u, b.pcell AS v
      FROM cells a JOIN cells b ON b.px = a.px AND b.py = a.py + 1
    ),
    edges AS {D.mat(d)}(
      SELECT u, v FROM e1 UNION ALL SELECT v AS u, u AS v FROM e1
      UNION ALL
      SELECT u, v FROM e2 UNION ALL SELECT v AS u, u AS v FROM e2
    )"""


def _mask_regions_spark(spark, sf_dir):
    """Raster polygonization: connected regions of the occupied-cell
    mask (4-connectivity), the relational analogue of GDAL's
    gdal_polygonize/sieve over the engine's tile masks (reference
    masking surface: utils.binary_mask/density_slice — this labels the
    mask's connected structure instead of thresholding per pixel).

    Spark side: the occupied-cell mask aggregates once (one exchange),
    adjacency is two shifted-key equi-joins, and labels iterate via
    cc_labels (adaptive driver-checked fixpoint, raises past the cap).
    Per-region stats are one label-keyed aggregation. At 10^12 pages
    the mask table is bounded by the LATTICE (≤ 900x425 cells here,
    independent of corpus size) — region labeling is metadata-scale
    work downstream of one corpus-sized aggregation, exactly like the
    tile pipeline's rasterize step."""
    from pyspark.sql import functions as F
    from unmixing_spark import loops, pipeline
    from unmixing_spark.queries.scale_q import cc_labels

    pipeline.register_tables(spark, sf_dir, ("documents",))
    cells = loops.checkpoint(spark.sql(
        f"WITH {_region_cells(D.SPARK)} SELECT * FROM cells"))
    # the SAME adjacency fragment the oracle renders, over a temp view
    # of the checkpointed cells (one definition of the region graph)
    cells.createOrReplaceTempView("cells")
    edges = spark.sql(
        f"WITH {_region_edges_sql(D.SPARK)} SELECT u, v FROM edges")
    n, _rounds = cc_labels(edges)
    converged = n.agg(
        (F.lit(1) - F.coalesce(
            F.max((F.col("lbl") < F.col("prev")).cast("int")), F.lit(0)))
        .alias("converged"))
    lbl = n.select(F.col("id").alias("pcell"), "lbl")
    labeled = (cells.join(lbl, "pcell", "left")
               .select(F.coalesce("lbl", F.col("pcell")).alias("region"),
                       "px", "py", "n_pages"))
    return (labeled.groupBy("region")
            .agg(F.count("*").cast("bigint").alias("n_cells"),
                 F.sum("n_pages").cast("bigint").alias("total_pages"),
                 F.min("px").alias("px_min"), F.max("px").alias("px_max"),
                 F.min("py").alias("py_min"), F.max("py").alias("py_max"))
            .crossJoin(F.broadcast(converged))
            .select("region", "n_cells", "total_pages",
                    "px_min", "px_max", "py_min", "py_max",
                    F.col("converged").cast("int").alias("converged")))


def _mask_regions_oracle() -> str:
    """Unrolled label propagation + pointer jumps (DuckDB), depth
    {REGION_ORACLE_ROUNDS}, with the convergence check re-derived
    in-query (conv CTE) so an under-deep unroll breaks the value hash
    via converged=0 against the Spark side's proven converged=1."""
    from unmixing_spark.queries.scale_q import label_prop_ctes, nbr_min_cte

    chain, last = label_prop_ctes(REGION_ORACLE_ROUNDS)
    ctes = [_region_cells(D.DUCKDB), _region_edges_sql(D.DUCKDB), *chain,
            nbr_min_cte(last, "chk"), f"""conv AS (
      SELECT coalesce(max(CASE WHEN c.lbl <> l.lbl THEN 1 ELSE 0 END), 0)
        AS changed
      FROM chk c JOIN {last} l ON l.id = c.id
    ),
    labeled AS (
      SELECT coalesce(l.lbl, c.pcell) AS region, c.px, c.py, c.n_pages
      FROM cells c LEFT JOIN {last} l ON l.id = c.pcell
    )"""]
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT region,
           cast(count(*) as bigint) AS n_cells,
           cast(sum(n_pages) as bigint) AS total_pages,
           min(px) AS px_min, max(px) AS px_max,
           min(py) AS py_min, max(py) AS py_max,
           cast((SELECT 1 - changed FROM conv) as int) AS converged
    FROM labeled
    GROUP BY region
    """


register("q_mask_regions", QuerySpec(
    spark_fn=_mask_regions_spark, oracle=_mask_regions_oracle(),
    doc="raster polygonize: connected regions of the occupied-cell mask "
        "(4-connectivity), adaptive label propagation, per-region cell/"
        "page counts + bbox, in-query convergence proof"))


sql_template("q_cell_covering", _cell_covering,
             "S2-style mixed-level quadtree covering of query rects with "
             "in-query exactness proofs (area identity + index-scan vs "
             "full-scan count parity)")
