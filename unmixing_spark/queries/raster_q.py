"""Raster-semantics queries: masks, composites, transforms, rectification.

Each reproduces a reference operator's *semantics* relationally over the
cell raster (sparse long form of the tile cube). The dense-array versions
of the same operators (operating on (p,m,n) tiles) live in raster/ and
functions/ and are verified against the reference's bundled GeoTIFF
fixtures in tests/test_golden_fixtures.py; these SQL forms are verified
against the DuckDB oracle.
"""

from __future__ import annotations

from unmixing_spark import dialect as D
from unmixing_spark.pagegen import EPOCH_2025, cell_raster_sql, geo_pages_sql
from unmixing_spark.queries import sql_template

NODATA = "-9999.0"


def _cells(d: str) -> str:
    return f"WITH cells AS ({cell_raster_sql(d)})"


# ---- masks (§2.2) ---------------------------------------------------------

def _density_slice(d: str) -> str:
    # utils.density_slice (utils.py:560-579): single-band threshold -> 0/1
    return f"""
    {_cells(d)}
    SELECT cell_id,
           CASE WHEN b2 <= 300.0 AND b2 != {NODATA} THEN 1 ELSE 0 END AS mask
    FROM cells
    """


sql_template("q_density_slice", _density_slice,
             "threshold predicate -> 0/1 mask (utils.py:560-579)")


def _saturation(d: str) -> str:
    # utils.saturation_mask (utils.py:971-997): OR over bands of band > limit
    return f"""
    {_cells(d)}
    SELECT cell_id,
           CASE WHEN b1 > 3.0 OR b3 > 2.0 OR b4 > 90.0 THEN 1 ELSE 0 END AS saturated
    FROM cells
    """


sql_template("q_saturation_mask", _saturation,
             "multi-band OR saturation mask (utils.py:971-997)")


def _cfmask(d: str) -> str:
    # utils.cfmask (utils.py:230-263): QA membership test np.in1d -> isin;
    # QA analogue: language-code membership per page, mask counts per tile
    return f"""
    SELECT tile_id,
           cast(sum(CASE WHEN lang IN ('en', 'de', 'fr') THEN 1 ELSE 0 END) as bigint) AS masked,
           cast(count(*) as bigint) AS total
    FROM ({geo_pages_sql(d)})
    GROUP BY tile_id
    """


sql_template("q_cfmask_isin", _cfmask,
             "IN-list QA membership mask (utils.py:230-263, eos.py:8-23)")


def _combine_masks(d: str) -> str:
    # utils.combine_masks (utils.py:309-340): greedy OR vs conservative AND
    return f"""
    {_cells(d)}
    SELECT cell_id,
           greatest(m1, m2) AS greedy,
           least(m1, m2)    AS conservative
    FROM (
      SELECT cell_id,
             CASE WHEN b2 <= 300.0 THEN 1 ELSE 0 END AS m1,
             CASE WHEN b4 >= 40.0  THEN 1 ELSE 0 END AS m2
      FROM cells
    )
    """


sql_template("q_combine_masks", _combine_masks,
             "N-way mask OR/AND combination (utils.py:309-340)")


def _binary_mask_apply(d: str) -> str:
    # utils.binary_mask (utils.py:184-227): stamp NODATA where mask==1
    # (mask 1 = masked out, docstring 184-191); invert flag = flip predicate
    return f"""
    {_cells(d)}
    SELECT cell_id,
           CASE WHEN mask = 1 THEN {NODATA} ELSE b2 END AS b2_masked,
           CASE WHEN mask = 0 THEN {NODATA} ELSE b2 END AS b2_inverted
    FROM (
      SELECT cell_id, b2,
             CASE WHEN b1 >= 2.0 THEN 1 ELSE 0 END AS mask
      FROM cells
    )
    """


sql_template("q_binary_mask_apply", _binary_mask_apply,
             "apply 0/1 mask across bands with invert flag (utils.py:184-227)")


def _copy_nodata(d: str) -> str:
    # utils.copy_nodata (utils.py:528-557): propagate source NoData to target
    return f"""
    {_cells(d)}
    SELECT a.cell_id,
           CASE WHEN b.b2_masked = {NODATA} THEN {NODATA} ELSE a.b4 END AS b4_out
    FROM cells a
    JOIN (
      SELECT cell_id,
             CASE WHEN b1 >= 2.0 THEN {NODATA} ELSE b2 END AS b2_masked
      FROM cells
    ) b ON a.cell_id = b.cell_id
    """


sql_template("q_copy_nodata", _copy_nodata,
             "propagate NoData cells source->target via equi-join (utils.py:528-557)")


def _fill_nodata_bandwise(d: str) -> str:
    # utils.fill_nodata_bandwise (utils.py:617-626): impute with band mean
    return f"""
    {_cells(d)}
    SELECT cell_id,
           round(CASE WHEN b2m = {NODATA}
                 THEN avg(CASE WHEN b2m != {NODATA} THEN b2m END) OVER ()
                 ELSE b2m END, 4) AS b2_filled
    FROM (SELECT cell_id,
                 CASE WHEN b1 >= 2.0 THEN {NODATA} ELSE b2 END AS b2m
          FROM cells)
    """


sql_template("q_fill_nodata_bandwise", _fill_nodata_bandwise,
             "impute NoData with per-band mean (utils.py:617-654)")


def _mask_unstable(d: str) -> str:
    # sasma.mask_unstable_abundances (sasma.py:296-311): share > tol -> NODATA
    return f"""
    {_cells(d)}
    SELECT cell_id,
           CASE WHEN share > 0.9999 THEN {NODATA} ELSE round(share, 6) END AS stable_share
    FROM (SELECT cell_id, b1 / (b1 + b3) AS share FROM cells)
    """


sql_template("q_mask_unstable_abundances", _mask_unstable,
             "NoData-out near-unity abundances (sasma.py:296-311)")


# ---- composites over the date axis (§2.4) ---------------------------------

def _stack(d: str) -> str:
    """Multi-date stack: per (cell, 30-day period) band values — the list-
    of-rasters input of composite* (utils.py:343-525)."""
    month = D.idiv(f"warc_epoch - {EPOCH_2025}", "2592000")
    return f"""
    stack AS (
      SELECT cell_id, {month} AS period,
             round(avg(length(text)), 6) AS v2,
             round(avg(length(url)), 6)  AS v5,
             cast(count(*) as double)    AS v1
      FROM ({geo_pages_sql(d)})
      GROUP BY cell_id, {month}
    )
    """


def _composite_median(d: str) -> str:
    med = D.median_("v2", d)
    return f"""
    WITH {_stack(d)}
    SELECT cell_id,
           round({med}, 6)     AS median_v2,
           round(min(v2), 6)   AS min_v2,
           round(max(v2), 6)   AS max_v2,
           round(avg(v2), 6)   AS mean_v2,
           cast(count(*) as bigint) AS n_periods
    FROM stack GROUP BY cell_id
    """


sql_template("q_composite_reducers", _composite_median,
             "multi-date composite: median/min/max/mean reducers (utils.composite, utils.py:343-389)")


def _composite_normalize(d: str) -> str:
    # composite2 sum-to-one normalization (utils.py:438-447)
    return f"""
    WITH {_stack(d)}
    SELECT cell_id,
           round(s1 / (s1 + s2 + s5), 6) AS w1,
           round(s2 / (s1 + s2 + s5), 6) AS w2,
           round(s5 / (s1 + s2 + s5), 6) AS w5
    FROM (
      SELECT cell_id, avg(v1) AS s1, avg(v2) AS s2, avg(v5) AS s5
      FROM stack GROUP BY cell_id
    ) WHERE s1 + s2 + s5 > 0
    """


sql_template("q_composite_sum_to_one", _composite_normalize,
             "per-band composite + sum-to-one normalization (utils.composite2, utils.py:392-451)")


# ---- error metrics (§2.4 A5/A6) -------------------------------------------

def _rmse_mae(d: str) -> str:
    # utils.rmse (utils.py:940-968) / utils.mae (utils.py:734-754) between
    # two "images": first-half vs second-half of the crawl year per cell
    half = f"CASE WHEN warc_epoch - {EPOCH_2025} < 15768000 THEN 0 ELSE 1 END"
    return f"""
    WITH img AS (
      SELECT cell_id, {half} AS h, avg(length(text)) AS v
      FROM ({geo_pages_sql(d)}) GROUP BY cell_id, {half}
    )
    SELECT round(sqrt(avg((a.v - b.v) * (a.v - b.v))), 6) AS rmse,
           round(avg(abs(a.v - b.v)), 6) AS mae,
           cast(count(*) as bigint) AS n
    FROM img a JOIN img b ON a.cell_id = b.cell_id AND a.h = 0 AND b.h = 1
    """


sql_template("q_rmse_mae", _rmse_mae,
             "RMSE (Powell 2007) + MAE between co-gridded images (utils.py:940-968, 734-754)")


# ---- transforms (§2.8): normalized bands -> TC -> indices ------------------

def _norm_cells(d: str) -> str:
    """Global min-max normalize each band (two-pass broadcast pattern;
    BCI preprocessing, transform.py:66-69)."""
    return f"""
    {_cells(d)},
    rng AS (
      SELECT min(b1) n1, max(b1) x1, min(b2) n2, max(b2) x2,
             min(b3) n3, max(b3) x3, min(b4) n4, max(b4) x4,
             min(b5) n5, max(b5) x5, min(b6) n6, max(b6) x6
      FROM cells
    ),
    norm AS (
      SELECT cell_id,
             (b1 - n1) / nullif(x1 - n1, 0) AS u1,
             (b2 - n2) / nullif(x2 - n2, 0) AS u2,
             (b3 - n3) / nullif(x3 - n3, 0) AS u3,
             (b4 - n4) / nullif(x4 - n4, 0) AS u4,
             (b5 - n5) / nullif(x5 - n5, 0) AS u5,
             (b6 - n6) / nullif(x6 - n6, 0) AS u6
      FROM cells CROSS JOIN rng
    )
    """


# fixed 3x6 coefficient matrix — same *structure* as Tasseled Cap
# (transform.py:17-43: rt @ X with hard-coded matrix, Crist 1985 pattern);
# constants are ours because our band semantics differ from Landsat.
TC_MATRIX = [
    [0.3037, 0.2793, 0.4743, 0.5585, 0.5082, 0.1863],   # "brightness"
    [-0.2848, -0.2435, -0.5436, 0.7243, 0.0840, -0.1800],  # "greenness"
    [0.1509, 0.1973, 0.3279, 0.3406, -0.7112, -0.4572],  # "wetness"
]


def _tc_expr(comp: int) -> str:
    row = TC_MATRIX[comp]
    return " + ".join(f"{D.dbl(c)} * u{i+1}" for i, c in enumerate(row))


def _tasseled_cap(d: str) -> str:
    return f"""
    {_norm_cells(d)}
    SELECT cell_id,
           round({_tc_expr(0)}, 6) AS tcb,
           round({_tc_expr(1)}, 6) AS tcg,
           round({_tc_expr(2)}, 6) AS tcw
    FROM norm
    """


# round-6 note: cells feeds BOTH the rng min/max row and the norm
# projection, but materialize= REGRESSED here (0.8 -> 1.3 s at the 10x
# replica): under count() timing Catalyst prunes the duplicated chain
# to the few columns each consumer needs, which is cheaper than an
# eager all-column checkpoint. Left inlined.
sql_template("q_tasseled_cap", _tasseled_cap,
             "fixed-matrix linear transform rt @ X (transform.py:17-43, 121-217)")


def _ndvi(d: str) -> str:
    # transform.ndvi (transform.py:80-101): (NIR-Red)/(NIR+Red) w/ NoData pass
    return f"""
    {_cells(d)}
    SELECT cell_id,
           CASE WHEN b4 = {NODATA} OR b2 = {NODATA} THEN {NODATA}
                ELSE round((b4 - b2) / nullif(b4 + b2, 0), 6) END AS ndvi
    FROM cells
    """


sql_template("q_ndvi", _ndvi, "normalized difference index (transform.py:80-101)")


def _bci(d: str) -> str:
    # transform.biophysical_composition_index (transform.py:46-77):
    # TC -> global min-max per component -> ((H+L)/2 - V)/((H+L)/2 + V)
    return f"""
    {_norm_cells(d)},
    tc AS (
      SELECT cell_id, {_tc_expr(0)} AS h, {_tc_expr(1)} AS v, {_tc_expr(2)} AS l
      FROM norm
    ),
    tcr AS (
      SELECT min(h) nh, max(h) xh, min(v) nv, max(v) xv, min(l) nl, max(l) xl FROM tc
    ),
    tcn AS (
      SELECT cell_id,
             (h - nh) / nullif(xh - nh, 0) AS hn,
             (v - nv) / nullif(xv - nv, 0) AS vn,
             (l - nl) / nullif(xl - nl, 0) AS ln2
      FROM tc CROSS JOIN tcr
    )
    SELECT cell_id,
           round(((hn + ln2) / {D.dbl(2.0)} - vn) / nullif((hn + ln2) / {D.dbl(2.0)} + vn, 0), 6) AS bci
    FROM tcn
    """


sql_template("q_bci", _bci,
             "BCI: TC + global min-max normalize + composition ratio (transform.py:46-77)")


def _rndsi(d: str) -> str:
    # transform.rndsi (transform.py:220-262): NDSI ratio of normalized parts
    return f"""
    {_norm_cells(d)}
    SELECT cell_id,
           round((u5 - u4) / nullif(u5 + u4, 0), 6) AS ndsi,
           round(u1 / nullif(u1 + u2, 0), 6)        AS ntc1
    FROM norm
    """


sql_template("q_rndsi", _rndsi, "ratio-normalized difference index (transform.py:220-262)")


def _normalize_reflectance(d: str) -> str:
    # lsma.normalize_reflectance_within_image (lsma.py:658-692): per-pixel
    # divide by cross-band mean, x100 (Wu 2004)
    return f"""
    {_cells(d)}
    SELECT cell_id,
           round({D.dbl(100.0)} * b2 / nullif((b1 + b2 + b3 + b4 + b5 + b6) / {D.dbl(6.0)}, 0), 6) AS nb2,
           round({D.dbl(100.0)} * b4 / nullif((b1 + b2 + b3 + b4 + b5 + b6) / {D.dbl(6.0)}, 0), 6) AS nb4
    FROM cells
    """


sql_template("q_normalize_reflectance", _normalize_reflectance,
             "per-pixel cross-band mean normalization (lsma.py:658-692)")


def _dynamic_range(d: str) -> str:
    # lsma.report_raster_dynamic_range (lsma.py:799-839)
    return f"""
    {_cells(d)}
    SELECT round(max(b2) - min(b2), 6) AS range_b2,
           round(stddev_samp(b2), 4)   AS sd_b2,
           round(max(b4) - min(b4), 6) AS range_b4,
           round(stddev_samp(b4), 4)   AS sd_b4
    FROM cells
    """


sql_template("q_dynamic_range", _dynamic_range,
             "per-band dynamic range + sigma stats (lsma.py:799-839)")


def _histogram(d: str) -> str:
    # visualize histogram + cumulative frequency (visualize.py:468-509)
    bucket = D.idiv("b2", "50")
    return f"""
    {_cells(d)}
    SELECT bucket, n,
           cast(sum(n) OVER (ORDER BY bucket) as bigint) AS cum
    FROM (
      SELECT {bucket} AS bucket, cast(count(*) as bigint) AS n
      FROM cells GROUP BY {bucket}
    )
    """


sql_template("q_histogram_cumfreq", _histogram,
             "bucketed histogram + cumulative frequency window (visualize.py:468-509)")


# ---- rectification + regridding joins (§2.3) -------------------------------

def _hall_rectification(d: str) -> str:
    # lsma.hall_rectification (lsma.py:523-584): per-band linear map fit on
    # control cells shared by two images, applied to the subject image.
    half = f"CASE WHEN warc_epoch - {EPOCH_2025} < 15768000 THEN 0 ELSE 1 END"
    return f"""
    WITH img AS (
      SELECT cell_id, {half} AS h, avg(length(text)) AS v
      FROM ({geo_pages_sql(d)}) GROUP BY cell_id, {half}
    ),
    controls AS (
      SELECT a.cell_id, a.v AS ref, b.v AS sub
      FROM img a JOIN img b ON a.cell_id = b.cell_id AND a.h = 0 AND b.h = 1
    ),
    fit AS (
      SELECT regr_slope(ref, sub) AS m, regr_intercept(ref, sub) AS c
      FROM controls
    )
    SELECT cell_id, round(m * sub + c, 5) AS rectified
    FROM controls CROSS JOIN fit
    """


sql_template("q_hall_rectification", _hall_rectification,
             "radiometric rectification: control-set linear map m*x+b (lsma.py:523-584)")


def _intersect_rasters(d: str) -> str:
    # utils.intersect_rasters (utils.py:676-731): re-key to the coarser
    # reference grid and aggregate — grid-to-grid spatial equi-join
    from unmixing_spark.spatial.grid import WORLD_GRID
    parent = WORLD_GRID.parent_cell_sql("cell_id", 4)
    return f"""
    {_cells(d)}
    SELECT {parent} AS coarse_cell,
           round(avg(b2), 6) AS b2_resampled,
           cast(count(*) as bigint) AS fine_cells
    FROM cells
    GROUP BY {parent}
    """


sql_template("q_intersect_rasters", _intersect_rasters,
             "regrid to coarser reference grid (utils.intersect_rasters, utils.py:676-731)")


def _ravel_long(d: str) -> str:
    # lsma.ravel / ravel_and_filter (lsma.py:760-796): the wide->long pivot
    # (p,m,n) -> ((m*n), p) as a relational unpivot; NoData rows dropped by
    # the band-0 rule. Portable unpivot via UNION ALL.
    from unmixing_spark.pagegen import BAND_NAMES
    arms = " UNION ALL ".join(
        f"SELECT cell_id, '{b}' AS band, {b} AS value FROM cells"
        for b in BAND_NAMES)
    return f"""
    {_cells(d)}
    SELECT * FROM ({arms})
    WHERE cell_id IN (SELECT cell_id FROM cells WHERE b1 != {NODATA})
    """


sql_template("q_ravel_long_pivot", _ravel_long,
             "wide->long pivot with band-0 NoData filter (lsma.ravel_and_filter, lsma.py:769-796)")


def _hsv_transform(d: str) -> str:
    """Per-pixel RGB→HSV transform over a false-color composite — the
    hsv_transform fixture the north rule names (the reference repo ships
    no HSV code; this supplies the canonical matplotlib.colors.rgb_to_hsv
    / Python colorsys hexcone model, Smith 1978, over raster bands).

    Composite: (b2, b4, b5) of the cell raster (mean text length, mean
    token count, mean url length — the continuous bands), each scaled to
    [0, 1] by its global max (one 1-row aggregate, broadcast back). The
    hue branch order replicates colorsys exactly (r-max, then g-max,
    else b-max; gray pixels → h = s = 0), and the final modulo-1 is
    rendered as x - floor(x) in BOTH dialects (Spark pmod and DuckDB %
    disagree on negatives; x - floor(x) is Python's % semantics, which
    is what colorsys applies). Every division is double/double on
    already-rounded band values, so both renderings feed IEEE-identical
    operands; h/s/v round to 6 in both.

    Scale shape: one corpus-sized aggregation (the raster build), one
    1-row max aggregate broadcast back, then per-row math inside
    whole-stage codegen. Golden: tests/test_layout.py pins every output
    row against Python colorsys.rgb_to_hsv."""
    mx = ("SELECT max(b2) AS m2, max(b4) AS m4, max(b5) AS m5 FROM cells")
    return f"""
    {_cells(d)},
    mx AS ({mx}),
    rgb AS (
      SELECT c.cell_id,
             c.b2 / m.m2 AS r, c.b4 / m.m4 AS g, c.b5 / m.m5 AS b
      FROM cells c CROSS JOIN mx m
    ),
    base AS (
      SELECT cell_id, r, g, b,
             greatest(r, g, b) AS maxc, least(r, g, b) AS minc
      FROM rgb
    ),
    huec AS (
      SELECT cell_id, maxc, minc,
             CASE WHEN maxc = minc THEN {D.dbl(0.0)}
                  WHEN r = maxc THEN ((maxc - b) / (maxc - minc))
                                   - ((maxc - g) / (maxc - minc))
                  WHEN g = maxc THEN {D.dbl(2.0)}
                                   + ((maxc - r) / (maxc - minc))
                                   - ((maxc - b) / (maxc - minc))
                  ELSE {D.dbl(4.0)}
                       + ((maxc - g) / (maxc - minc))
                       - ((maxc - r) / (maxc - minc))
             END / {D.dbl(6.0)} AS h6
      FROM base
    )
    SELECT cell_id,
           round(h6 - floor(h6), 6) AS h,
           round(CASE WHEN maxc = minc OR maxc = {D.dbl(0.0)}
                      THEN {D.dbl(0.0)}
                      ELSE (maxc - minc) / maxc END, 6) AS s,
           round(maxc, 6) AS v
    FROM huec
    """


sql_template("q_hsv_transform", _hsv_transform,
             "RGB->HSV hexcone transform over a false-color band composite "
             "(colorsys semantics; north-rule hsv_transform fixture)")


PYRAMID_LEVELS = 4   # overview levels 0..3 (factor-2 downsampling each)


def _tile_pyramid(d: str) -> str:
    """Raster overview pyramid — the COG-overview / map-tile z-stack:
    factor-2 downsampling per level, each level aggregated FROM THE
    PREVIOUS LEVEL (one lattice-sized pass per level, never a re-scan of
    the corpus — the overview build's real shape: level-L input is 4x
    smaller than level L-1, so the whole pyramid costs ~4/3 of one
    level-0 pass). Count-weighted band means travel as (sum, weight)
    pairs so downsampling is exact; b6 (latest day) takes max; b3
    (distinct langs) is deliberately absent — count-distinct is not
    resamplable from aggregates, which is exactly why real overview
    formats carry only resampleable statistics. Mass conservation is
    proven in-query: every row carries its level's total page count,
    which must equal level 0's (conservation = 1) or the value hash
    breaks.

    Scale shape: one corpus-sized aggregation (level 0 = the cell
    raster), then three lattice-sized (cell-count-bounded) aggregations;
    each GROUP BY key is the parent cell — contiguous under the level-0
    range partitioning, so the rollup exchanges shrink 4x per level."""
    from unmixing_spark.spatial.grid import WORLD_GRID
    grid = WORLD_GRID
    # integer micro-units: band means are already rounded to 6, so
    # round(b*1e6) is an exact integer and every level sum is bigint
    # arithmetic — no order-dependent float accumulation anywhere
    def mu(col: str) -> str:
        return (f"cast(round({col} * {D.dbl(1e6)}) as bigint)"
                f" * cast(b1 as bigint)")

    # the means round half-up in exact integer micro-units, then take one
    # IEEE division: a double round(x, 6) differs between the dialects
    # at the last digit
    def mean(col: str) -> str:
        q = D.idiv_i(f"2 * p.{col} + p.b1", "2 * p.b1", d)
        return f"cast({q} as double) / {D.dbl(1e6)}"

    ctes = [f"""l0 AS (
      SELECT {grid.cell_to_ix('cell_id')} AS px,
             {grid.cell_to_iy('cell_id')} AS py,
             cast(b1 as bigint) AS b1,
             {mu('b2')} AS s2, {mu('b4')} AS s4, {mu('b5')} AS s5,
             cast(b6 as bigint) AS b6
      FROM cells
    )"""]
    for lv in range(1, PYRAMID_LEVELS):
        ctes.append(f"""l{lv} AS (
      SELECT {D.idiv_i('px', '2', d)} AS px, {D.idiv_i('py', '2', d)} AS py,
             sum(b1) AS b1, sum(s2) AS s2, sum(s4) AS s4, sum(s5) AS s5,
             max(b6) AS b6
      FROM l{lv - 1} GROUP BY {D.idiv_i('px', '2', d)}, {D.idiv_i('py', '2', d)}
    )""")
    arms = "\n      UNION ALL\n      ".join(
        f"SELECT {lv} AS level, px, py, b1, s2, s4, s5, b6 FROM l{lv}"
        for lv in range(PYRAMID_LEVELS))
    joined = ",\n    ".join(ctes)
    return f"""
    {_cells(d)},
    {joined},
    pyramid AS (
      {arms}
    ),
    lvl_tot AS (
      SELECT level, cast(sum(b1) as bigint) AS level_pages
      FROM pyramid GROUP BY level
    ),
    base AS (SELECT level_pages AS total_pages FROM lvl_tot WHERE level = 0)
    SELECT p.level, p.px, p.py,
           p.b1 AS pages,
           {mean('s2')} AS mean_text_len,
           {mean('s4')} AS mean_tokens,
           {mean('s5')} AS mean_url_len,
           p.b6 AS latest_doy,
           t.level_pages AS level_pages,
           cast(CASE WHEN t.level_pages = b.total_pages THEN 1 ELSE 0 END
                as bigint) AS conservation
    FROM pyramid p
    JOIN lvl_tot t ON t.level = p.level
    CROSS JOIN base b
    ORDER BY p.level, p.px, p.py
    """


sql_template("q_tile_pyramid", _tile_pyramid,
             "raster overview pyramid: factor-2 level-from-level rollup "
             "with exact weighted means and an in-query mass-conservation "
             "proof per level")
