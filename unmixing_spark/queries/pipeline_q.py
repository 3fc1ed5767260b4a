"""Engine-pipeline queries: MNF, PPI, SASMA, sampling, set ops, windows.

MNF/PPI/SASMA run numpy stages over whole Arrow batches
(``boundary.map_matrix``; rows-only driver check, numeric verification in
tests/); the rest carry full DuckDB oracles.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unmixing_spark import dialect as D
from unmixing_spark import loops, pipeline
from unmixing_spark.pagegen import BAND_NAMES, cell_raster_sql, geo_pages_sql
from unmixing_spark.queries import QuerySpec, register, sql_template


# ---- MNF (L1): two-pass distributed --------------------------------------

def _mnf_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from unmixing_spark.functions.mnf import (mnf_fit_distributed,
                                              mnf_transform_distributed)
    # eager checkpoint: the fit's single action has two aggregate
    # branches over this chain and the transform re-reads it (round-6)
    cells = loops.checkpoint(pipeline.cell_raster(spark, sf_dir))
    R, mu, snr = mnf_fit_distributed(cells, list(BAND_NAMES))
    out = mnf_transform_distributed(cells, list(BAND_NAMES), R, mu)
    return out.select("cell_id",
                      *[F.round(f"mnf{i+1}", 5).alias(f"mnf{i+1}")
                        for i in range(len(BAND_NAMES))])


register("q_mnf_rotation", QuerySpec(
    spark_fn=_mnf_components, oracle=None,
    doc="two-pass distributed MNF rotation (Green 1988; transform.py:104-118)"))


# ---- PPI (L2) --------------------------------------------------------------

def _ppi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    from unmixing_spark.lsma.ppi import ppi_distributed
    cells = pipeline.cell_raster(spark, sf_dir)
    return ppi_distributed(cells, list(BAND_NAMES), n_skewers=500, top=20)


register("q_ppi_endmembers", QuerySpec(
    spark_fn=_ppi_top, oracle=None,
    doc="distributed Pixel Purity Index, seeded skewers (lsma.py:118-119)"))


# ---- SASMA end-to-end (CART -> focal -> MESMA) ------------------------------

def _sasma_unmix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CART-classified endmember classes per cell -> per-class mean spectra
    as per-pixel endmembers -> MESMA unmix (sasma.py pipeline §3.2)."""
    from unmixing_spark.lsma.mapper import unmix_cells_mesma
    from unmixing_spark.sasma.learn import fit_cart, predict_cart

    cells = pipeline.cell_raster(spark, sf_dir).cache()
    labeled = cells.withColumn(
        "em_label",
        F.when(F.col("b1") >= 2.0, 2.0)
        .when(F.col("b4") >= 50.0, 1.0).otherwise(0.0))
    model = fit_cart(labeled, "em_label", ["b2", "b4", "b6"], max_depth=5)
    classed = predict_cart(model, cells, ["b2", "b4", "b6"])
    # per-class mean spectra (the synthetic endmember maps, collapsed)
    means = (classed.groupBy("em_class")
             .agg(*[F.avg(b).alias(b) for b in BAND_NAMES])
             .collect())
    by_class = {int(r["em_class"]): [float(r[b]) for b in BAND_NAMES]
                for r in means}
    classes = sorted(by_class)
    q = 3
    # per-pixel endmember tensor: own class first, then the others
    def em_for(c):
        order = [c] + [k for k in classes if k != c]
        flat = []
        for k in order[:q]:
            flat += by_class[k]
        while len(flat) < q * len(BAND_NAMES):
            flat += by_class[classes[0]]
        return flat
    mapping = F.create_map(*[x for c in classes
                             for x in (F.lit(c), F.array(*[F.lit(v) for v in em_for(c)]))])
    with_em = classed.withColumn("endmembers", mapping[F.col("em_class")])
    out = unmix_cells_mesma(with_em, list(BAND_NAMES), q=q)
    return out.select("cell_id", *[F.round(f"a{i+1}", 5).alias(f"a{i+1}")
                                   for i in range(q)])


register("q_sasma_mesma", QuerySpec(
    spark_fn=_sasma_unmix, oracle=None,
    doc="SASMA: CART endmember classes -> per-pixel endmembers -> MESMA FCLS (sasma.py, lsma.py:159-177)"))


def _sasma_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed synthetic-endmember interpolation (W4): the reference's
    q*n-process fan-out (sasma.py:245-252) as one exploded-key
    applyInPandas over (tile, class, band) with halo exchange; parity with
    the single-node kernel pinned in tests/test_determinism.py."""
    from unmixing_spark.raster.rasterize import assemble_tiles
    from unmixing_spark.sasma.focal import interpolate_endmember_tiles
    from unmixing_spark.sasma.kernels import kernel_idw_l1

    cells = (pipeline.cell_raster(spark, sf_dir)
             .withColumn("cls", F.when(F.col("b1") >= 2.0, 2.0)
                         .when(F.col("b4") >= 50.0, 1.0).otherwise(0.0)))
    tiles = assemble_tiles(cells, ["b2", "b4", "cls"])
    out = interpolate_endmember_tiles(
        tiles, kernel_idw_l1(5), class_band=2, spectral_bands=[0, 1],
        labels=[0, 1, 2])
    return out.select(
        "tile_id", "em_class", "band",
        F.round(F.aggregate("interp", F.lit(0.0),
                            lambda a, v: a + F.coalesce(
                                F.nanvl(v, F.lit(0.0)), F.lit(0.0))), 4)
        .alias("interp_sum"))


register("q_sasma_interpolation", QuerySpec(
    spark_fn=_sasma_interpolation, oracle=None,
    doc="distributed per-(class x band) endmember interpolation fan-out (sasma.py:189-265, W4)"))


# ---- deterministic sampling (O3/O4) -----------------------------------------

def _sample(d: str) -> str:
    # md5-threshold sampling: deterministic, engine-independent (the
    # relational form of np.random.choice with a fixed seed, lsma.py:283)
    h = D.md5_slice("url", 25, d)
    return f"""
    SELECT url, lang
    FROM ({geo_pages_sql(d)})
    WHERE ({h}) % 100 < 10
    """


sql_template("q_sample_10pct", _sample,
             "deterministic 10% hash-sample (visualize.py:88-106, lsma.py:283)")


# ---- relational set ops (T: MISSING in ref — supplied) -----------------------

def _set_ops(d: str) -> str:
    return f"""
    WITH en AS (SELECT split_part(url, '/', 3) AS host FROM ({geo_pages_sql(d)}) WHERE lang = 'en'),
    de AS (SELECT split_part(url, '/', 3) AS host FROM ({geo_pages_sql(d)}) WHERE lang = 'de')
    SELECT 'intersect' AS op, cast(count(*) as bigint) AS n FROM (
      SELECT DISTINCT host FROM en INTERSECT SELECT DISTINCT host FROM de)
    UNION ALL
    SELECT 'except' AS op, cast(count(*) as bigint) AS n FROM (
      SELECT DISTINCT host FROM en EXCEPT SELECT DISTINCT host FROM de)
    UNION ALL
    SELECT 'union' AS op, cast(count(*) as bigint) AS n FROM (
      SELECT DISTINCT host FROM en UNION SELECT DISTINCT host FROM de)
    """


sql_template("q_set_operations", _set_ops,
             "UNION/INTERSECT/EXCEPT over host sets (SURVEY §2.7 MISSING row)")


# ---- events tumbling window (streaming semantics, batch check) ----------------

def _tumbling(d: str) -> str:
    ep = D.ts_to_epoch("ts", d)
    bucket = D.idiv(ep, "3600")
    return f"""
    SELECT {bucket} AS hour_bucket, event_type,
           cast(count(*) as bigint) AS events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY {bucket}, event_type
    """


sql_template("q_events_tumbling_window", _tumbling,
             "tumbling-window aggregation over the events stream table",
             tables=("events",))


# ---- per-row invariant through the full pipeline ------------------------------

def _invariant_roundtrip(d: str) -> str:
    # byte-identical text end-to-end (BASELINE input_hint): hash of text
    # must be unchanged after the geocode/cell-encode pipeline
    return f"""
    SELECT g.url, {D.sha256_('g.text', d)} AS sha_after,
           cast(g.cell_id as bigint) AS cell_id
    FROM ({geo_pages_sql(d)}) g
    """


sql_template("q_text_invariant", _invariant_roundtrip,
             "sha256(text) preserved through geocode+cell pipeline (input_hint per-row invariant)")


# ---- TPC-H-style relational joins over the star schema -------------------------

def _star_join(d: str) -> str:
    return f"""
    SELECT n.n_name AS nation, o.o_orderpriority AS priority,
           cast(count(*) as bigint) AS orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, o.o_orderpriority
    """


sql_template("q_star_join", _star_join,
             "multi-way broadcast star join + agg (relational completeness)",
             tables=("orders", "customer", "nation"))


def _semi_anti(d: str) -> str:
    return f"""
    SELECT 'with_orders' AS bucket, cast(count(*) as bigint) AS customers
    FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'without_orders', cast(count(*) as bigint)
    FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """


sql_template("q_semi_anti_join", _semi_anti,
             "semi/anti join (EXISTS / NOT EXISTS) — SURVEY §2.3 MISSING row",
             tables=("customer", "orders"))


def _pricing_summary(d: str) -> str:
    # TPC-H Q1 shape: the canonical map-side-combinable aggregation —
    # partial aggs per scan partition, one tiny shuffle on the 4-row key
    one = D.dbl(1.0)
    return f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * ({one} - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * ({one} - l_discount) * ({one} + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           cast(count(*) as bigint) AS count_order
    FROM lineitem
    WHERE {D.ts_to_epoch('l_shipdate', d)} <= {D.ts_to_epoch("timestamp '1998-09-02 00:00:00'", d)}
    GROUP BY l_returnflag, l_linestatus
    """


sql_template("q_pricing_summary", _pricing_summary,
             "TPC-H Q1-shape pricing summary: map-side-combined wide agg over lineitem",
             tables=("lineitem",))


def _shipping_priority(d: str) -> str:
    # TPC-H Q3 shape: selective dim filters -> 3-way join -> agg -> top-k.
    # customer/orders filters push to their scans; lineitem joins last.
    one = D.dbl(1.0)
    return f"""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * ({one} - l.l_discount)), 2) AS revenue,
           {D.ts_to_epoch('o.o_orderdate', d)} AS orderdate_epoch
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND {D.ts_to_epoch('o.o_orderdate', d)} < {D.ts_to_epoch('l.l_shipdate', d)}
    GROUP BY l.l_orderkey, {D.ts_to_epoch('o.o_orderdate', d)}
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """


sql_template("q_shipping_priority", _shipping_priority,
             "TPC-H Q3-shape: filtered 3-way join + agg + deterministic top-k",
             tables=("customer", "orders", "lineitem"))


def _local_supplier_volume(d: str) -> str:
    # TPC-H Q5 shape: 6-way snowflake join (region -> nation -> supplier /
    # customer -> orders -> lineitem). The dims (region/nation/supplier/
    # customer) all broadcast; only orders ⋈ lineitem shuffles, keyed on
    # orderkey. Covers the supplier + region sources.
    one = D.dbl(1.0)
    return f"""
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * ({one} - l.l_discount)), 2) AS revenue,
           cast(count(*) as bigint) AS line_items
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name IN ('AMERICA', 'ASIA')
    GROUP BY n.n_name
    """


sql_template("q_local_supplier_volume", _local_supplier_volume,
             "TPC-H Q5-shape: 6-way snowflake join, local-supplier predicate",
             tables=("region", "nation", "customer", "orders", "lineitem",
                     "supplier"))


def _promo_revenue(d: str) -> str:
    # TPC-H Q14 shape: conditional aggregate ratio over lineitem ⋈ part
    # (covers the part source); part is the broadcast side.
    one = D.dbl(1.0)
    hundred = D.dbl(100.0)
    rev = f"l.l_extendedprice * ({one} - l.l_discount)"
    return f"""
    SELECT round({hundred} * sum(CASE WHEN p.p_type = 'PROMO'
                                      THEN {rev} ELSE {D.dbl(0.0)} END)
                 / sum({rev}), 6) AS promo_pct,
           cast(count(*) as bigint) AS line_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    """


sql_template("q_promo_revenue", _promo_revenue,
             "TPC-H Q14-shape: conditional-aggregate promo revenue ratio over lineitem x part",
             tables=("lineitem", "part"))

# ---- classic LSMA end-to-end (SURVEY §3.1 entry point 1) ---------------------

def _lsma_classic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's canonical pipeline (tests.py:45-60 shape): mask ->
    MNF rotation -> PPI endmember candidates -> spectra gather -> FCLS in
    MNF space (q-1 component slice, lsma.py:190-197) -> forward-model RMSE.
    All distributed; the only driver-side objects are the (p,p) rotation,
    the candidate list, and the (q,p) endmember matrix."""
    from unmixing_spark.functions.mnf import (mnf_fit_distributed,
                                              mnf_transform_distributed)
    from unmixing_spark.lsma.mapper import unmix_cells
    from unmixing_spark.lsma.ppi import ppi_distributed

    # eager localCheckpoint, not lazy cache (round-6, guide §5): the MNF
    # fit's one action evaluates TWO aggregate branches over this table —
    # with a cold lazy cache both branches race to compute the
    # md5-geocode chain; the checkpoint pays it exactly once
    cells = loops.checkpoint(pipeline.cell_raster(spark, sf_dir))
    bands = list(BAND_NAMES)
    # mask: density-slice analogue — drop cells failing the QA predicate
    masked = cells.filter((F.col("b2") > 0.0) & (F.col("b1") >= 1.0))
    # MNF rotation (two-pass)
    R, mu, snr = mnf_fit_distributed(masked, bands)
    mnf = loops.checkpoint(mnf_transform_distributed(masked, bands, R, mu))
    mnf_cols = [f"mnf{i+1}" for i in range(len(bands))]
    # endmember induction: PPI top-3 in MNF space. The top-k ids and their
    # MNF spectra are gathered in ONE driver action: broadcast the 3-row
    # winner set back onto the cached mnf table instead of a second
    # collect-then-isin round trip (2 driver actions total for the whole
    # pipeline: the MNF fit aggregate and this gather).
    import numpy as np
    top = ppi_distributed(mnf, mnf_cols[:3], n_skewers=500, top=3)
    em_rows = (mnf.join(F.broadcast(top.select("cell_id")), "cell_id")
               .orderBy("cell_id").collect())
    em_ids = [r["cell_id"] for r in em_rows]
    E = np.array([[r[c] for c in mnf_cols] for r in em_rows])
    # FCLS on the q-1 leading MNF components (Settle & Drake constraint)
    q = len(em_ids)
    unmixed = unmix_cells(mnf, E[:, :q - 1], band_cols=mnf_cols[:q - 1])
    return unmixed.select(
        "cell_id",
        *[F.round(f"a{i+1}", 5).alias(f"a{i+1}") for i in range(q)],
        F.round("rmse", 4).alias("rmse"))


register("q_lsma_classic_pipeline", QuerySpec(
    spark_fn=_lsma_classic, oracle=None,
    doc="classic LSMA end-to-end: mask->MNF->PPI->FCLS->RMSE (SURVEY §3.1; tests.py:45-60 shape)"))


# ---- eigen spectrum / dimensionality (A10, visualize.py:265-277) --------------

def _eigen_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance partials -> driver eigendecomposition ->
    variance-explained spectrum (plot_eigenvalues data, visualize.py:265-277)."""
    import numpy as np
    from unmixing_spark.functions.mnf import mnf_fit_distributed

    cells = pipeline.cell_raster(spark, sf_dir)
    bands = list(BAND_NAMES)
    # reuse the partial-covariance pass; signal covariance eigvals
    from pyspark.sql import functions as F2
    aggs = []
    for i, a in enumerate(bands):
        for b in bands[i:]:
            aggs.append(F2.covar_samp(a, b).alias(f"c_{a}_{b}"))
    row = cells.agg(*aggs).collect()[0]
    S = np.zeros((len(bands), len(bands)))
    for i, a in enumerate(bands):
        for j in range(i, len(bands)):
            S[i, j] = S[j, i] = row[f"c_{a}_{bands[j]}"]
    w = np.linalg.eigvalsh(S)[::-1]
    expl = w / w.sum()
    return spark.createDataFrame(
        [(i + 1, float(round(w[i], 4)), float(round(expl[i], 6)))
         for i in range(len(w))],
        "component int, eigenvalue double, variance_explained double")


register("q_eigen_spectrum", QuerySpec(
    spark_fn=_eigen_spectrum, oracle=None,
    doc="covariance eigendecomposition / variance explained (A10; visualize.py:265-277)"))
