"""Coverage-completing queries: as-of join, JSON, regexp, percentile
windows, bilinear regrid, anti-filter, forward-model validation.

Closes the remaining SURVEY.md §2 checklist lines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unmixing_spark import dialect as D
from unmixing_spark import pipeline
from unmixing_spark.pagegen import BAND_NAMES, cell_raster_sql, geo_pages_sql
from unmixing_spark.queries import QuerySpec, register, sql_template
from unmixing_spark.raster import NODATA
from unmixing_spark.spatial.grid import WORLD_GRID


# ---- as-of join (§2.3 MISSING row) ------------------------------------------

def _asof_oracle(d: str) -> str:
    """Each order matched to the user's latest event at-or-before the order
    date. Both dialects render the SAME ranked-window form: DuckDB's native
    ASOF JOIN leaves the choice among equal-timestamp rows unspecified,
    which would make the tie-break (event_id DESC here) an oracle-hash
    coin-flip — so the oracle pins it with the identical window query."""
    oe = D.ts_to_epoch("o.o_orderdate", d)
    ee = D.ts_to_epoch("e.ts", d)
    return f"""
    SELECT o_orderkey, last_event FROM (
      SELECT o.o_orderkey, e.event_id AS last_event,
             row_number() OVER (PARTITION BY o.o_orderkey
                                ORDER BY {ee} DESC, e.event_id DESC) AS rn
      FROM orders o JOIN events e
        ON (o.o_custkey % 50) = e.user_id AND {oe} >= {ee}
    ) WHERE rn = 1
    """


sql_template("q_asof_join", _asof_oracle,
             "as-of join: latest event at-or-before each order (§2.3 MISSING row)",
             tables=("orders", "events"))


# ---- JSON ingest (F3) ----------------------------------------------------------

def _json_ingest(d: str) -> str:
    k = D.json_get("props", "k", d)
    return f"""
    SELECT event_type,
           cast(count(*) as bigint) AS events,
           cast(sum(cast({k} as bigint)) as bigint) AS k_total,
           cast(max(cast({k} as bigint)) as bigint) AS k_max
    FROM events
    GROUP BY event_type
    """


sql_template("q_json_ingest", _json_ingest,
             "JSON property extraction + agg (F3; utils.py:848-869 json surface)",
             tables=("events",))


# ---- regexp extraction (F1) -----------------------------------------------------

def _regexp_extract(d: str) -> str:
    # date-keyword extraction from a path-like string (visualize.py:59-61
    # pattern: digits between separators) — here: doc id from the url path
    return f"""
    SELECT lang,
           cast(sum(cast(regexp_extract(url, '/([0-9]+)$', 1) as bigint)) as bigint) AS id_sum,
           cast(count(*) as bigint) AS n
    FROM ({geo_pages_sql(d)})
    GROUP BY lang
    """


sql_template("q_regexp_extract", _regexp_extract,
             "regexp keyword extraction from url strings (F1; visualize.py:59-61)")


# ---- percentile / rank windows (W5) ----------------------------------------------

def _percent_rank(d: str) -> str:
    # SASMA notebook cell 26: top-10% brightness AND bottom-50% greenness
    return f"""
    WITH cells AS ({cell_raster_sql(d)}),
    ranked AS (
      SELECT cell_id, b2, b4,
             percent_rank() OVER (ORDER BY b2, cell_id) AS pr_b2,
             percent_rank() OVER (ORDER BY b4, cell_id) AS pr_b4
      FROM cells
    )
    SELECT cell_id, round(pr_b2, 6) AS pr_b2, round(pr_b4, 6) AS pr_b4
    FROM ranked
    WHERE pr_b2 >= {D.dbl(0.9)} AND pr_b4 <= {D.dbl(0.5)}
    """


sql_template("q_percentile_window", _percent_rank,
             "percent_rank window cleanup (W5; SASMA notebook percentile filter)")


# ---- anti-filter (P13) --------------------------------------------------------------

def _anti_filter(d: str) -> str:
    # visualize.__filter_spectra_at__ (visualize.py:110-122): drop the
    # pixel(s) matching a reference spectrum — anti-join on the feature key
    g = WORLD_GRID
    target = g.cell_sql(D.dbl(-74.0), D.dbl(40.7))
    return f"""
    WITH cells AS ({cell_raster_sql(d)})
    SELECT cast(count(*) as bigint) AS remaining,
           cast(sum(CASE WHEN cell_id = {target} THEN 1 ELSE 0 END) as bigint) AS target_left
    FROM cells WHERE cell_id != {target}
    """


sql_template("q_anti_filter_spectra", _anti_filter,
             "anti-predicate: drop the reference pixel (visualize.py:110-122)")


# ---- subarray exists-filter (P2) -----------------------------------------------------

def _subarray(d: str) -> str:
    # utils.subarray keep rule: pixel kept if not-NoData in ANY band
    # ((arr != v).any(axis=0), utils.py:1095) — as an exists-style OR filter
    nd = D.dbl(NODATA)
    cond = " OR ".join(f"{b} != {nd}" for b in BAND_NAMES)
    return f"""
    WITH cells AS ({cell_raster_sql(d)}),
    stamped AS (
      SELECT cell_id,
             CASE WHEN b1 < {D.dbl(2.0)} THEN {nd} ELSE b1 END AS b1,
             CASE WHEN b2 > {D.dbl(400.0)} THEN {nd} ELSE b2 END AS b2,
             b3, b4, b5, b6
      FROM cells
    )
    SELECT cast(count(*) as bigint) AS kept
    FROM stamped WHERE {cond}
    """


sql_template("q_subarray_filter", _subarray,
             "keep pixels not-NoData in ANY band (utils.subarray, utils.py:1067-1101)")


# ---- bilinear regrid (J2 full semantics) ----------------------------------------------

def _bilinear_regrid(d: str) -> str:
    """intersect_rasters with bilinear resampling (utils.py:676-731 uses
    gdal.ReprojectImage bilinear): coarse grid (4x) values sampled back to
    fine cells as the weighted mean of the 4 surrounding coarse centers —
    closed-form in SQL, no UDF."""
    g = WORLD_GRID
    f = 4
    coarse_deg = D.dbl(g.deg * f)
    # fine-cell center in coarse fractional grid coords (offset so that
    # integer values land on coarse cell centers)
    cx = f"((({g.cell_to_ix('c.cell_id')}) + {D.dbl(0.5)}) / {f} - {D.dbl(0.5)})"
    cy = f"((({g.cell_to_iy('c.cell_id')}) + {D.dbl(0.5)}) / {f} - {D.dbl(0.5)})"
    nxc = g.nx // f
    return f"""
    WITH cells AS ({cell_raster_sql(d)}),
    coarse AS (
      SELECT {g.parent_cell_sql('cell_id', f)} AS ccell, avg(b2) AS v
      FROM cells GROUP BY {g.parent_cell_sql('cell_id', f)}
    ),
    frac AS (
      SELECT c.cell_id, {cx} AS fx, {cy} AS fy,
             cast(floor({cx}) as bigint) AS x0, cast(floor({cy}) as bigint) AS y0
      FROM cells c
    ),
    corners AS (
      SELECT f2.cell_id, f2.fx, f2.fy, f2.x0, f2.y0,
             q00.v AS v00, q10.v AS v10, q01.v AS v01, q11.v AS v11
      FROM frac f2
      LEFT JOIN coarse q00 ON q00.ccell = f2.y0 * {nxc} + f2.x0
      LEFT JOIN coarse q10 ON q10.ccell = f2.y0 * {nxc} + f2.x0 + 1
      LEFT JOIN coarse q01 ON q01.ccell = (f2.y0 + 1) * {nxc} + f2.x0
      LEFT JOIN coarse q11 ON q11.ccell = (f2.y0 + 1) * {nxc} + f2.x0 + 1
    )
    SELECT cell_id,
           round(coalesce(v00, {D.dbl(0.0)}) * (1 - (fx - x0)) * (1 - (fy - y0))
               + coalesce(v10, {D.dbl(0.0)}) * (fx - x0) * (1 - (fy - y0))
               + coalesce(v01, {D.dbl(0.0)}) * (1 - (fx - x0)) * (fy - y0)
               + coalesce(v11, {D.dbl(0.0)}) * (fx - x0) * (fy - y0), 6) AS b2_bilinear
    FROM corners
    """


# round-6 note: cells feeds BOTH the coarse aggregation and the frac
# projection, but materialize= REGRESSED here (0.85 -> 1.17 s at the
# 10x replica) — the coarse branch only reads (cell_id, b2) and the
# frac branch only cell_id, so the pruned duplicate chains beat an
# eager all-column checkpoint. Left inlined.
sql_template("q_bilinear_regrid", _bilinear_regrid,
             "grid-to-grid join with bilinear resampling (intersect_rasters, utils.py:676-731)")


# ---- cross-CRS regrid (J2 full semantics: UTM source -> lon/lat grid) ------------------

UTM_EPSG = 32618       # UTM zone 18N — contains the NYC hotspot (lon -78..-72)
UTM_CELL_M = 6000.0    # source cell ~ target cell size (0.05 deg), so the nearest-neighbor gather is well-posed


def _crosscrs_regrid(d: str) -> str:
    """intersect_rasters across CRSs (utils.py:676-731; the reference uses
    gdal.ReprojectImage at utils.py:714, default nearest-neighbor): the
    SOURCE raster lives on a 2400 m UTM zone-18N grid (built here by
    forward-projecting zone pages with the Snyder transform and
    aggregating), the TARGET is the WORLD_GRID lon/lat raster. Each
    occupied target cell's center is forward-projected into the source
    CRS and gathers the containing source cell's value — the
    cell-center-reprojection + equi-join plan (broadcast-able: the
    projected target-cell keys are tiny next to the page table; target
    cells with an empty source cell keep NULL = NoData, gdal's fill)."""
    from unmixing_spark.spatial.reproject import utm_forward_sql
    g = WORLD_GRID
    zone = (f"SELECT lon, lat, text, cell_id FROM ({geo_pages_sql(d)}) "
            f"WHERE lon >= {D.dbl(-78.0)} AND lon < {D.dbl(-72.0)} "
            f"AND lat > {D.dbl(0.0)} AND lat < {D.dbl(84.0)}")
    src_pages = utm_forward_sql(zone, UTM_EPSG)
    cell_m = D.dbl(UTM_CELL_M)
    centers = (f"SELECT cell_id, "
               f"{g.cell_center_lon_sql('cell_id')} AS lon, "
               f"{g.cell_center_lat_sql('cell_id')} AS lat "
               f"FROM (SELECT cell_id FROM ({zone}) GROUP BY cell_id)")
    tgt = utm_forward_sql(centers, UTM_EPSG)
    # Quantize projected coords to 1e-6 m BEFORE the floor() binning: a
    # last-ulp libm sin/cos divergence between JVM and DuckDB could
    # otherwise flip a cell assignment exactly at a 6000 m boundary
    # (flaky value-hash gate). Micrometer quantization keeps the binning a
    # pure function of the (identical to <1e-6 m) projected values.
    eq, nq = "round(easting, 6)", "round(northing, 6)"
    # Both sides' keys are non-NULL (zone pages and occupied cells), so
    # `<=>` joins exactly as `=`. In Spark, `=` makes Catalyst infer
    # isnotnull(ei, ni) on src and push it through the aggregate and the
    # UTM projections: the pushed filter is the whole UTM tree with every
    # column reference expanded (170k characters), which overflows the
    # 64 KB method limit and drops the scan stage out of whole-stage
    # codegen. `<=>` infers no such filter.
    eq_op = "<=>" if d == D.SPARK else "="
    return f"""
    WITH src AS (
      SELECT {D.idiv(eq, cell_m)} AS ei,
             {D.idiv(nq, cell_m)} AS ni,
             round(avg(length(text)), 6) AS v,
             cast(count(*) as bigint) AS src_pages
      FROM ({src_pages})
      GROUP BY {D.idiv(eq, cell_m)}, {D.idiv(nq, cell_m)}
    ),
    tgt AS (
      SELECT cell_id,
             {D.idiv(eq, cell_m)} AS ei,
             {D.idiv(nq, cell_m)} AS ni
      FROM ({tgt})
    )
    SELECT t.cell_id, t.ei, t.ni, s.v AS text_len_resampled, s.src_pages
    FROM tgt t LEFT JOIN src s ON t.ei {eq_op} s.ei AND t.ni {eq_op} s.ni
    """


sql_template("q_crosscrs_regrid", _crosscrs_regrid,
             "cross-CRS raster regrid: UTM 32618 source raster gathered onto the WORLD_GRID via cell-center reprojection (gdal.ReprojectImage, utils.py:714)")


# ---- LEDAPS modal-keep mask (P8 second half) -------------------------------------------

def _ledaps_modal_keep(d: str) -> str:
    """mask_ledaps_qa (utils.py:796-845) FULL semantics: compute the modal
    QA value, then the join-back filter — pixels whose QA differs from the
    mode get NoData stamped across the bands (maskr[maskr != mode] = 0;
    rastr[maskr == 0] = nodata). The mode is one broadcast row; the filter
    is a constant-predicate projection over the big table."""
    nd = D.dbl(NODATA)
    return f"""
    WITH cells AS ({cell_raster_sql(d)}),
    qa AS (SELECT cell_id, cast(b1 as bigint) AS qaval, b2, b4 FROM cells),
    m AS (
      SELECT qaval AS modal FROM (
        SELECT qaval, row_number() OVER (ORDER BY count(*) DESC, qaval) AS rn
        FROM qa GROUP BY qaval
      ) WHERE rn = 1
    )
    SELECT q.cell_id,
           CASE WHEN q.qaval = m.modal THEN q.b2 ELSE {nd} END AS b2_masked,
           CASE WHEN q.qaval = m.modal THEN q.b4 ELSE {nd} END AS b4_masked,
           CASE WHEN q.qaval = m.modal THEN 1 ELSE 0 END AS kept
    FROM qa q CROSS JOIN m
    """


# round-6 note: cells feeds BOTH the modal row and the stamp; an eager
# cells checkpoint measured dead even with the inlined form (1.31/1.55
# vs 1.31/1.52 s interleaved at the 10x replica) — the mode branch
# prunes to b1 only under count() timing, so the duplicate chain is
# cheap. Left inlined.
sql_template("q_ledaps_modal_keep", _ledaps_modal_keep,
             "LEDAPS QA modal-keep: mode -> join-back NoData stamp (utils.py:796-845)")


# ---- multi-source band stack (S4) -------------------------------------------------------

def _stack_multisource(d: str) -> str:
    """stack_hdf_as_array (utils.py:1036-1064): open N subdatasets of one
    source and stack their bands into a (b, m, n) cube sharing one
    GeoTransform. Relational form: N per-cell aggregations over the same
    pages source (the 'subdatasets'), equi-joined on cell_id — the shared
    grid IS the shared GeoTransform — emitting one band-stacked row per
    cell. The join keys co-partition, so at scale this is a shuffle-free
    merge of bucketed subdataset tables."""
    return f"""
    WITH sd1 AS ({cell_raster_sql(d)}),
    sd2 AS (
      SELECT cell_id,
             cast(count(DISTINCT lang) as double) AS b7,
             cast(count(DISTINCT split_part(url, '/', 3)) as double) AS b8
      FROM ({geo_pages_sql(d)})
      GROUP BY cell_id
    )
    SELECT s1.cell_id, s1.b1, s1.b2, s1.b3, s1.b4, s1.b5, s1.b6,
           s2.b7, s2.b8, 8 AS p
    FROM sd1 s1 JOIN sd2 s2 ON s1.cell_id = s2.cell_id
    """


sql_template("q_stack_multisource", _stack_multisource,
             "multi-source band stack: N subdataset aggs joined on the shared grid (utils.py:1036-1064)")


# ---- forward-model validation (L5; rows-only: needs FCLS) ------------------------------

def _forward_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """validate_by_forward_model (lsma.py:232-297): unmix, forward-model
    R = A·E, deterministic hash-sampled RMSE (np.random.choice analogue,
    lsma.py:283)."""
    ab = pipeline.flagship_abundance_cells(spark, sf_dir)
    sampled = ab.filter(F.abs(F.hash("cell_id")) % 10 < 3)
    return sampled.agg(
        F.count("*").alias("sampled"),
        F.round(F.sqrt(F.avg(F.col("rmse") ** 2)), 4).alias("rmse_overall"))


register("q_forward_model_validation", QuerySpec(
    spark_fn=_forward_model, oracle=None,
    doc="forward-model RMSE on a deterministic sample (lsma.py:232-297)"))


# ---- approx distinct (§2.4 MISSING row; rows-only: approx by design) --------------------

def _approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    geo = pipeline.geo_pages(spark, sf_dir)
    return geo.agg(
        F.approx_count_distinct("cell_id", 0.02).alias("cells_approx"),
        F.countDistinct("cell_id").alias("cells_exact"))


register("q_approx_count_distinct", QuerySpec(
    spark_fn=_approx_distinct, oracle=None,
    doc="HLL approx distinct vs exact (§2.4 MISSING row; error bound pinned in tests)"))

# ---- interval (range) join via bucket blocking --------------------------------

IJ_MOD = 37      # every event_id % 37 == 0 opens an incident window
IJ_WIN_S = 21600     # window length: 6 h, half-open [start, start + W)
IJ_BKT_S = 7200      # blocking-bucket width: 2 h -> each window covers
                     # exactly IJ_WIN_S/IJ_BKT_S + 1 = 4 candidate buckets


def _interval_join(d: str) -> str:
    """Interval (range) join: aggregate every event falling inside each
    incident window — the ts-BETWEEN theta-join every monitoring /
    attribution pipeline runs, and the §2.3 companion to q_asof_join.
    Windows are deterministic (every IJ_MOD-th event opens a 6 h
    half-open window at its own timestamp; the opener is inside its own
    window by construction).

    Plan: the naive form is a theta-join (ts BETWEEN lo AND hi) that
    Catalyst can only execute as BroadcastNestedLoopJoin — O(|E|*|W|)
    comparisons and a broadcast that dies when the window side outgrows
    the driver. This operator instead renders the canonical distributed
    interval-join shape (the same decomposition Spark's own range-join
    hints and every time-series engine use): each window EXPANDS into
    its <= IJ_WIN_S/IJ_BKT_S + 1 covering coarse buckets via a tiny
    constant offsets relation, each event maps to exactly ONE bucket, and
    the join becomes a hash EQUI-join on bucket id followed by the exact
    residual predicate. Expansion factor is a compile-time constant, the
    shuffle is bucket-keyed (time-uniform by construction), and no pair
    is ever produced twice (one bucket per event), so no dedup pass.
    All arithmetic is exact epoch-second bigints; the value sum is
    micro-unit fixed point (order-independent across partitions).
    """
    ee = D.ts_to_epoch("ts", d)
    n_off = IJ_WIN_S // IJ_BKT_S
    offs = ", ".join(f"({j})" for j in range(n_off + 1))
    vmicro = "cast(floor(value * 1000000 + 0.5) as bigint)"
    return f"""
    WITH ev AS {D.mat(d)}(
      SELECT event_id, user_id, {ee} AS ep, {vmicro} AS v_micro
      FROM events
    ),
    win AS (
      SELECT event_id AS window_id, ep AS w_lo, ep + {IJ_WIN_S} AS w_hi
      FROM ev WHERE event_id % {IJ_MOD} = 0
    ),
    offs AS ({D.values_rel(offs, "o(j)", d)}),
    wbkt AS (
      SELECT w.window_id, w.w_lo, w.w_hi,
             {D.idiv_i('w.w_lo', str(IJ_BKT_S), d)} + o.j AS bkt
      FROM win w JOIN offs o
        ON {D.idiv_i('w.w_lo', str(IJ_BKT_S), d)} + o.j
           <= {D.idiv_i('w.w_hi - 1', str(IJ_BKT_S), d)}
    )
    SELECT w.window_id,
           cast(min(w.w_lo) as bigint)              AS start_epoch,
           cast(count(*) as bigint)                 AS n_events,
           cast(count(DISTINCT e.user_id) as bigint) AS n_users,
           cast(sum(e.v_micro) as bigint)           AS sum_value_micro,
           round(cast(sum(e.v_micro) as double) / 1000000.0, 6)
                                                    AS sum_value
    FROM wbkt w
    JOIN ev e ON {D.idiv_i('e.ep', str(IJ_BKT_S), d)} = w.bkt
    WHERE e.ep >= w.w_lo AND e.ep < w.w_hi
    GROUP BY w.window_id
    """


sql_template("q_interval_join", _interval_join,
             "interval/range join rendered as the distributed "
             "bucket-blocked equi-join + exact residual (constant "
             "expansion, one bucket per event, no dedup pass): per-"
             "window event counts, distinct users, fixed-point value "
             "sums",
             tables=("events",))


# ---- SCD2 changelog compaction -------------------------------------------------

SCD2_OPEN_US = 253402300800000000   # 9999-01-01 in epoch-micros: the open
                                    # upper bound of the current row, so
                                    # point-in-time lookups are a plain
                                    # BETWEEN (no NULL arm)


def _scd2_compaction(d: str) -> str:
    """Changelog -> type-2 slowly-changing-dimension compaction: the
    events stream is each user's attribute changelog, and the output is
    the versioned dimension row set [valid_from, valid_to) every
    warehouse keeps for point-in-time joins (Kimball SCD type 2; the
    shape a MERGE INTO maintains incrementally on Delta/Iceberg).
    No-op updates (consecutive events carrying the same event_type) are
    collapsed first — the dimension versions only on actual change.

    Scale shape: two user-keyed windows over the SAME partitioning (lag
    to detect change, lead/row_number to close intervals — one exchange,
    Catalyst shares the sort), no join at all. Epochs are exact
    microsecond bigints; the open interval ends at a declared sentinel
    so downstream point-in-time predicates are a single BETWEEN."""
    # the parquet column is TIMESTAMP_NTZ; the session tz is pinned UTC
    # (session.py), so the cast to TIMESTAMP is shift-free in Spark and
    # matches DuckDB's naive-as-UTC epoch_us
    us = ("unix_micros(cast(ts as timestamp))" if d == D.SPARK
          else "cast(epoch_us(ts) as bigint)")
    w = "PARTITION BY user_id ORDER BY ep_us, event_id"
    return f"""
    WITH ch AS (
      SELECT user_id, event_type, ep_us, event_id
      FROM (
        SELECT user_id, event_type, {us} AS ep_us, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY {us}, event_id) AS prev_type
        FROM events
      ) t
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id,
           event_type,
           cast(row_number() OVER ({w}) as bigint)  AS version,
           cast(ep_us as bigint)                    AS valid_from_us,
           cast(coalesce(lead(ep_us) OVER ({w}), {SCD2_OPEN_US})
                as bigint)                          AS valid_to_us,
           cast(CASE WHEN lead(ep_us) OVER ({w}) IS NULL
                     THEN 1 ELSE 0 END as bigint)   AS is_current
    FROM ch
    """


sql_template("q_scd2_compaction", _scd2_compaction,
             "changelog -> SCD type-2 dimension compaction: no-op "
             "collapse + half-open validity intervals from two windows "
             "over one user-keyed exchange",
             tables=("events",))


def _temporal_join(d: str) -> str:
    """Point-in-time (temporal) join: each order looks up the version of
    its user's dimension row that was valid AT the order timestamp — the
    query SCD2 exists to serve, and the warehouse-standard companion to
    q_asof_join (asof picks the latest event; this picks the governing
    validity interval, exactly one per probe by the tiling invariant).

    Plan: the dimension (the compacted SCD2 output, versions ≪ events)
    is the small side — at any scale it broadcasts or buckets by
    user_id, and the probe is a user_id equi-join with the BETWEEN as a
    residual predicate, NOT a theta-join: Catalyst keeps the hash join
    because the equality key is present. Orders before a user's first
    version LEFT-join to NULLs and report matched = 0 (declared rather
    than dropped, so coverage is auditable).

    Probe timestamps: TPC-H order dates (1992-98) predate the events
    epoch entirely, so each order probes at a DECLARED deterministic
    instant inside the observed dimension span — a Knuth-hash offset of
    the order key from the events' min timestamp (the corpus carries no
    co-temporal fact table; the join semantics under test are
    unchanged). The 1-row span aggregate broadcasts."""
    return f"""
    WITH dim AS {D.mat(d)}({_scd2_compaction(d)}),
    span AS (
      SELECT min(valid_from_us) AS lo,
             max(CASE WHEN valid_to_us < {SCD2_OPEN_US}
                      THEN valid_to_us ELSE valid_from_us END) AS hi
      FROM dim
    ),
    probes AS (
      SELECT o.o_orderkey,
             cast(o.o_custkey % 50 as bigint) AS user_id,
             s.lo + (o.o_orderkey * 2654435761) % (s.hi - s.lo + 1)
               AS probe_us
      FROM orders o CROSS JOIN span s
    )
    SELECT p.o_orderkey,
           p.user_id,
           cast(p.probe_us as bigint)            AS probe_us,
           dim.event_type                        AS state_at_order,
           cast(coalesce(dim.version, 0) as bigint) AS dim_version,
           cast(CASE WHEN dim.version IS NOT NULL
                     THEN 1 ELSE 0 END as bigint) AS matched
    FROM probes p
    LEFT JOIN dim ON dim.user_id = p.user_id
                 AND p.probe_us >= dim.valid_from_us
                 AND p.probe_us < dim.valid_to_us
    """


sql_template("q_temporal_join", _temporal_join,
             "point-in-time join against the SCD2 dimension: user_id "
             "hash join + validity-interval residual (exactly one "
             "version per matched probe by the tiling invariant)",
             tables=("orders", "events"))
