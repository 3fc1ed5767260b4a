"""Scale-path operators bridged to full SQL oracles.

Each engine implementation here (pandas-UDF PIP, ring-candidate kNN,
salted aggregation, LSH ANN) is registered with the DuckDB oracle of its
*relational twin* — the driver then verifies the optimized physical
strategy produces exactly the answer the declarative form defines. This is
the engine's strongest correctness argument: same logical function, very
different physical plan, bit-equal results.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unmixing_spark import dialect as D
from unmixing_spark import loops, pipeline
from unmixing_spark.pagegen import cell_raster_sql, geo_pages_sql
from unmixing_spark.queries import QuerySpec, register, sql_template
from unmixing_spark.queries.spatial_q import AOIS, QUERY_POINTS, _knn_join, _pip_join


# ---- ring-candidate kNN vs the cross-join SQL twin --------------------------

def _knn_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from unmixing_spark.spatial.joins import knn_join
    cells = pipeline.cell_raster(spark, sf_dir)
    out = knn_join(cells, QUERY_POINTS, k=5)
    return out.select("name", "cell_id", F.round("d2", 8).alias("d2"), "rn")


register("q_knn_ring_join", QuerySpec(
    spark_fn=_knn_ring, oracle=_knn_join(D.DUCKDB),
    doc="ring-candidate kNN (broadcast semi-join) vs cross-join oracle"))


# ---- winding-number PIP vs the rectangle-predicate SQL twin -------------------

def _pip_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from unmixing_spark.spatial.joins import point_in_polygon_join
    geo = pipeline.geo_pages(spark, sf_dir)
    polys = [(name, np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]]))
             for name, x0, x1, y0, y1 in AOIS]
    hit = point_in_polygon_join(geo, polys)
    return (hit.groupBy(F.col("aoi").alias("name"), "lang")
            .agg(F.count("*").alias("pages")))


register("q_pip_winding_udf", QuerySpec(
    spark_fn=_pip_udf, oracle=_pip_join(D.DUCKDB),
    doc="winding-number PIP pandas UDF vs rectangle-predicate oracle (north rule)"))


# ---- salted two-phase agg vs the plain groupBy twin ---------------------------

def _salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from unmixing_spark.spatial.skew import salted_agg
    geo = pipeline.geo_pages(spark, sf_dir)
    out = salted_agg(geo, "tile_id",
                     {"pages": ("count", "*"),
                      "mean_len": ("avg", F.length("text")),
                      "latest": ("max", "warc_epoch")},
                     n_salts=16, salt_source="url")
    return out.select("tile_id", F.col("pages").cast("long").alias("pages"),
                      F.round("mean_len", 6).alias("mean_len"), "latest")


def _salted_oracle(d: str) -> str:
    return f"""
    SELECT tile_id, cast(count(*) as bigint) AS pages,
           round(avg(length(text)), 6) AS mean_len,
           max(warc_epoch) AS latest
    FROM ({geo_pages_sql(d)})
    GROUP BY tile_id
    """


register("q_salted_hot_cells", QuerySpec(
    spark_fn=_salted, oracle=_salted_oracle(D.DUCKDB),
    doc="salted two-phase aggregation over skewed city tiles vs plain groupBy oracle"))


# ---- explicit skew detection (north rule: skew DETECTED, not just handled) ----

def _skew_report(d: str) -> str:
    """Relational form of spatial/skew.skew_report: per-key row share and
    skew factor (share / mean share) of the 10 hottest tiles. The city
    hotspots the synthetic geocode plants (80% of pages in 8 cities) must
    surface here — this is the detection side of the salting story."""
    return f"""
    WITH counts AS (
      SELECT tile_id, count(*) AS n FROM ({geo_pages_sql(d)}) GROUP BY tile_id
    ),
    stats AS (SELECT avg(n) AS mean_n, sum(n) AS total FROM counts)
    SELECT tile_id,
           cast(n as bigint) AS n_pages,
           round(cast(n as double) / total, 6) AS share,
           round(cast(n as double) / mean_n, 2) AS skew_factor
    FROM counts CROSS JOIN stats
    ORDER BY n DESC, tile_id
    LIMIT 10
    """


sql_template("q_skew_report", _skew_report,
             "explicit hot-key skew detection: top-10 tiles by share + skew factor (spatial/skew.py)")


# ---- session windows vs the lag-based relational twin --------------------------

SESSION_GAP_S = 1800


def _session_windows_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native session_window operator (the streaming operator run
    in batch mode) — verified against the lag/running-sum relational
    sessionization the oracle computes. Boundary rule: an event exactly
    ``gap`` after the previous one starts a NEW session (merge requires
    ts < last + gap). Timestamps are truncated to whole seconds FIRST:
    the oracle's gap rule runs on floored epochs, and event timestamps
    carry fractional seconds — a raw-precision session_window would split
    a 1799.5s-gap pair differently than the floored oracle (the ASOF-tie
    coin-flip class).

    Round-6 (guide §2.4 "two operations keyed the same way share one
    exchange"): the generic event_id scan-fanout scatter fed straight
    into the session aggregation's user_id exchange — two full moves of
    the events table where one suffices. Keying the fanout by user_id
    makes the single exchange BOTH the scan parallelizer and the
    aggregation layout (EnsureRequirements adds nothing on top)."""
    pipeline.register_tables(spark, sf_dir, ("events",),
                             repartition=False)
    ev = spark.read.table("events")
    target = loops.shuffle_partitions(spark)
    if ev.rdd.getNumPartitions() < max(target // 4, 2):
        ev = ev.repartition(target, "user_id")
    ev = ev.withColumn("ts", F.date_trunc("second", "ts"))
    return (ev.groupBy(F.session_window("ts", f"{SESSION_GAP_S} seconds")
                       .alias("w"), "user_id")
            .agg(F.count("*").cast("long").alias("events"),
                 F.round(F.sum("value"), 4).alias("total_value"))
            .select("user_id",
                    F.unix_timestamp(F.col("w.start")).alias("session_start"),
                    "events", "total_value"))


def _session_windows_oracle(d: str) -> str:
    ep = D.ts_to_epoch("ts", d)
    lag_ep = f"lag({ep}) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    return f"""
    WITH marked AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN {ep} - {lag_ep} >= {SESSION_GAP_S}
                    OR {lag_ep} IS NULL THEN 1 ELSE 0 END AS new_s
      FROM events),
    sess AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked)
    SELECT user_id,
           min({ep}) AS session_start,
           cast(count(*) as bigint) AS events,
           round(sum(value), 4) AS total_value
    FROM sess GROUP BY user_id, sid
    """


register("q_session_windows", QuerySpec(
    spark_fn=_session_windows_spark,
    oracle=_session_windows_oracle(D.DUCKDB),
    doc="native session_window (batch mode) vs lag-based relational sessionization oracle"))


# ---- closed-form 2-endmember FCLS (SQL-expressible unmixing) ------------------

E2 = ([450.0, 85.0, 350.0], [60.0, 12.0, 10.0])  # (b2, b4, b6) endmembers


def _fcls2(d: str) -> str:
    """Exact sum-to-one + non-negativity FCLS for q=2: the 1-D constrained
    least squares a1* = clip((x-e2)·(e1-e2)/||e1-e2||², 0, 1) — the
    closed form of the Heinz-Chang problem at q=2, relationally."""
    e1, e2 = E2
    dvec = [a - b for a, b in zip(e1, e2)]
    dd = sum(v * v for v in dvec)
    num = " + ".join(
        f"(b{bi} - {D.dbl(e2[i])}) * {D.dbl(dvec[i])}"
        for i, bi in enumerate((2, 4, 6)))
    a1 = f"least(greatest(({num}) / {D.dbl(dd)}, {D.dbl(0.0)}), {D.dbl(1.0)})"
    return f"""
    WITH cells AS ({cell_raster_sql(d)})
    SELECT cell_id,
           round({a1}, 6) AS a1,
           round({D.dbl(1.0)} - ({a1}), 6) AS a2
    FROM cells
    """


sql_template("q_fcls2_closed_form", _fcls2,
             "exact q=2 FCLS as closed-form SQL (Heinz & Chang 2001 at q=2)")


# ---- closed-form 3-endmember FCLS — the flagship's full-value oracle -----------

def _fcls3_select(E, src: str, where: str = "") -> str:
    """Closed-form q=3 FCLS as a SELECT over ``src`` (a table/CTE with
    cell_id + b1..b6): all 7 non-empty active sets enumerated, each
    restricted least squares affine in the endmember dot products
    v_i = e_i·x (Sherman-Morrison constants in exact rational arithmetic
    — fcls.py:fcls3_closed_form_constants); the optimum is the feasible
    candidate with max score. Shared by q_fcls3_closed_form and the
    per-class branches of q_mesma3_closed_form."""
    from unmixing_spark.lsma.fcls import fcls3_closed_form_constants
    from unmixing_spark.pagegen import BAND_NAMES

    consts = fcls3_closed_form_constants(E)
    order = [(0, 1, 2), (0, 1), (0, 2), (1, 2), (0,), (1,), (2,)]
    lab = {S: "".join(str(i + 1) for i in S) for S in order}

    dots = ", ".join(
        " + ".join(f"{D.dbl(float(E[r, c]))} * {b}"
                   for c, b in enumerate(BAND_NAMES)) + f" AS v{r+1}"
        for r in range(3))

    a_cols, sc_cols = [], []
    neg_inf = D.dbl(-1e308)
    for S in order:
        k, C, c0 = consts[S]
        for i in range(len(S)):
            expr = f"{D.dbl(k[i])}" + "".join(
                f" + {D.dbl(C[i][j])} * v{S[j]+1}" for j in range(len(S)))
            a_cols.append(f"({expr}) AS a{lab[S]}_{S[i]+1}")
        feas = " AND ".join(f"a{lab[S]}_{S[i]+1} >= {D.dbl(0.0)}"
                            for i in range(len(S)))
        score = " + ".join(
            f"v{S[i]+1} * (a{lab[S]}_{S[i]+1} + {D.dbl(k[i])})"
            for i in range(len(S)))
        sc_cols.append(
            f"CASE WHEN {feas} THEN ({score}) - {D.dbl(c0)} "
            f"ELSE {neg_inf} END AS sc{lab[S]}")

    picks = []
    for out_i in (1, 2, 3):
        arms = " ".join(
            f"WHEN sc{lab[S]} = best THEN " +
            (f"a{lab[S]}_{out_i}" if (out_i - 1) in S else D.dbl(0.0))
            for S in order)
        # all-infeasible guard: if every candidate hit the -inf sentinel the
        # NNLS/kernel answer is all-zero, not the full-set candidate's
        # negative abundances (unreachable with nonnegative band data, but
        # keeps the SQL == fcls3_closed_form_eval contract for any E).
        picks.append(
            f"round(CASE WHEN best = {neg_inf} THEN {D.dbl(0.0)} "
            f"{arms} END, 6) AS a{out_i}")

    return f"""
    SELECT cell_id, {", ".join(picks)}
    FROM (SELECT *, greatest({", ".join(f"sc{lab[S]}" for S in order)}) AS best
          FROM (SELECT *, {", ".join(sc_cols)}
                FROM (SELECT cell_id, v1, v2, v3, {", ".join(a_cols)}
                      FROM (SELECT cell_id, {dots} FROM {src}{where}))))
    """


def _fcls3(d: str) -> str:
    """The FLAGSHIP problem (q=3 Heinz-Chang FCLS over the canonical
    endmembers, same δ as lsma/fcls.py:fcls_abundance) as closed-form
    active-set SQL. Dual-rendered → full DuckDB value oracle for the same
    abundances the pandas-UDF kernel computes (parity pinned in
    tests/test_fcls3_closed_form.py).
    Reference: lsma.py:179-230 (FCLS mapper), tests.py:43-82."""
    from unmixing_spark.pipeline import CANONICAL_ENDMEMBERS as E
    return f"""
    WITH cells AS ({cell_raster_sql(d)})
    {_fcls3_select(E, "cells")}
    """


sql_template("q_fcls3_closed_form", _fcls3,
             "exact q=3 FCLS (the flagship problem) as closed-form active-set SQL — full driver oracle (Heinz & Chang 2001; lsma.py:179-230)")


# ---- closed-form MESMA: per-pixel endmember switching, fully oracled ----------

# fixed per-class endmember matrices for the oracled MESMA shape: the
# canonical triangle and two deterministic variants (row-rolled; scaled)
def _mesma_class_endmembers():
    from unmixing_spark.pipeline import CANONICAL_ENDMEMBERS as E
    return {0: E, 1: np.roll(E, 1, axis=0), 2: 0.8 * E}


def _mesma3(d: str) -> str:
    """MESMA semantics (lsma.py:159-177 __mesma2__; sasma.py §3.2) made
    driver-provable: each pixel is unmixed against ITS class's endmember
    matrix — class from the same QA rule q_sasma_mesma trains on
    (b1>=2 → 2, b4>=50 → 1, else 0), matrices fixed constants. One
    closed-form FCLS branch per class over the class's partition of the
    table, UNION ALL — relationally identical to the kernel's per-pixel
    endmember switching (parity with unmix_cells_mesma pinned in
    tests/test_fcls3_closed_form.py)."""
    ems = _mesma_class_endmembers()
    cls = (f"CASE WHEN b1 >= {D.dbl(2.0)} THEN 2 "
           f"WHEN b4 >= {D.dbl(50.0)} THEN 1 ELSE 0 END")
    branches = " UNION ALL ".join(
        "SELECT " + str(c) + " AS em_class, * FROM (" +
        _fcls3_select(ems[c], "classed", f" WHERE cls = {c}") + ")"
        for c in sorted(ems))
    return f"""
    WITH cells AS ({cell_raster_sql(d)}),
    classed AS (SELECT *, {cls} AS cls FROM cells)
    {branches}
    """


sql_template("q_mesma3_closed_form", _mesma3,
             "MESMA per-pixel endmember switching as per-class closed-form FCLS branches — full driver oracle (lsma.py:159-177)")


# ---- PPI relational twin: seeded skewers as an inline constants table ----------

PPI_SQL_SKEWERS = 200


def _ppi_sql(d: str) -> str:
    """Pixel Purity Index (Boardman 1993; the reference wraps
    pysptools.eea.PPI at lsma.py:118-119) as pure SQL: the seeded (p × k)
    skewer matrix becomes an inline VALUES table; every cell × skewer
    projection is scored, the per-(skewer, side) extreme wins (id
    tie-break, identical to ppi_distributed's window), and hit counts
    rank the purest cells. This is the SEMANTIC spec with a full DuckDB
    oracle — the scale path stays lsma/ppi.py's partial+final kernel
    (O(batches·k) shuffle instead of the |cells|·k product; parity
    pinned in tests/test_fcls3_closed_form.py)."""
    from unmixing_spark.lsma.ppi import skewers
    from unmixing_spark.pagegen import BAND_NAMES
    S = skewers(len(BAND_NAMES), PPI_SQL_SKEWERS, seed=42)  # (p, k)
    rows = ", ".join(
        "(" + str(k) + ", " + ", ".join(D.dbl(float(S[i, k]))
                                        for i in range(S.shape[0])) + ")"
        for k in range(S.shape[1]))
    cols = ", ".join(f"d{i+1}" for i in range(S.shape[0]))
    dot = " + ".join(f"c.{b} * s.d{i+1}" for i, b in enumerate(BAND_NAMES))
    return f"""
    WITH cells AS ({cell_raster_sql(d)}),
    sk AS (SELECT * FROM (VALUES {rows}) AS t(skewer, {cols})),
    proj AS (
      SELECT c.cell_id, s.skewer, ({dot}) AS val
      FROM cells c CROSS JOIN sk s
    ),
    sided AS (
      SELECT skewer, cell_id, val, 1 AS side FROM proj
      UNION ALL
      SELECT skewer, cell_id, val, -1 AS side FROM proj
    ),
    ranked AS (
      SELECT skewer, side, cell_id,
             row_number() OVER (
               PARTITION BY skewer, side
               ORDER BY CASE WHEN side = 1 THEN -val ELSE val END,
                        cell_id) AS rn
      FROM sided
    )
    SELECT cell_id, cast(count(*) as bigint) AS hits
    FROM ranked WHERE rn = 1
    GROUP BY cell_id
    ORDER BY hits DESC, cell_id
    LIMIT 20
    """


sql_template("q_ppi_sql_twin", _ppi_sql,
             "PPI as pure SQL (seeded skewer VALUES table, per-skewer extremes, hit counts) — the oracled semantic twin of the distributed kernel (lsma.py:118-119)")


# ---- focal normalized convolution as a relational stencil ----------------------

def _focal_idw(d: str) -> str:
    """The SASMA normalized convolution (sasma.py:268-293; W3) as a
    relational stencil with a full oracle: the 5×5 IDW-L1 kernel becomes
    a (dy, dx, w) VALUES table; each occupied cell joins its occupied
    neighbors by closed-form cell_id offset (row/column bounds guarded)
    and the weighted mean excludes missing (= masked-zero) pixels from
    the normalizer — exactly ``normalized_convolution``'s semantics on
    the sparse cell raster (parity pinned in
    tests/test_fcls3_closed_form.py). The equi-join on derived
    neighbor ids is the scale shape: co-located under cell_id
    bucketing, no Python, no dense materialization."""
    from unmixing_spark.sasma.kernels import kernel_idw_l1
    from unmixing_spark.spatial.grid import WORLD_GRID
    g = WORLD_GRID
    W = kernel_idw_l1(5)
    r = W.shape[0] // 2
    rows = ", ".join(
        f"({dy}, {dx}, {D.dbl(float(W[dy + r, dx + r]))})"
        for dy in range(-r, r + 1) for dx in range(-r, r + 1)
        if W[dy + r, dx + r] != 0.0)
    ix = g.cell_to_ix("c.cell_id")
    iy = g.cell_to_iy("c.cell_id")
    return f"""
    WITH cells AS ({cell_raster_sql(d)}),
    offs AS (SELECT * FROM (VALUES {rows}) AS t(dy, dx, w)),
    contrib AS (
      SELECT c.cell_id, o.w, n.b2 AS v
      FROM cells c
      JOIN offs o
        ON ({ix}) + o.dx >= 0 AND ({ix}) + o.dx < {g.nx}
       AND ({iy}) + o.dy >= 0 AND ({iy}) + o.dy < {g.ny}
      JOIN cells n
        ON n.cell_id = (({iy}) + o.dy) * {g.nx} + (({ix}) + o.dx)
    )
    SELECT cell_id,
           round(sum(w * v) / sum(w), 6) AS b2_interp,
           cast(count(*) as bigint) AS n_neighbors
    FROM contrib
    GROUP BY cell_id
    """


sql_template("q_focal_idw_twin", _focal_idw,
             "normalized-convolution focal interpolation as a relational stencil (offsets VALUES + neighbor equi-join) — oracled twin of sasma/focal.py (sasma.py:268-293)")


def _focal_class_idw(d: str) -> str:
    """The full SASMA interpolation semantic (q_sasma_interpolation /
    interpolate_endmember_tiles) as a relational stencil: per (cell,
    endmember class), the 5×5 IDW-L1 weighted mean of neighbors BELONGING
    TO THAT CLASS (binary_mask invert=True masking, sasma.py:242-244) —
    classes from the same QA rule the pipeline uses. Cells with no
    class-matched neighbor are absent for that class (the kernel's NaN).
    Full oracle for the class-masked interpolation the halo-exchange
    kernel computes; cross-implementation parity pinned in
    tests/test_fcls3_closed_form.py."""
    from unmixing_spark.sasma.kernels import kernel_idw_l1
    from unmixing_spark.spatial.grid import WORLD_GRID
    g = WORLD_GRID
    W = kernel_idw_l1(5)
    r = W.shape[0] // 2
    rows = ", ".join(
        f"({dy}, {dx}, {D.dbl(float(W[dy + r, dx + r]))})"
        for dy in range(-r, r + 1) for dx in range(-r, r + 1)
        if W[dy + r, dx + r] != 0.0)
    ix = g.cell_to_ix("c.cell_id")
    iy = g.cell_to_iy("c.cell_id")
    cls = (f"CASE WHEN b1 >= {D.dbl(2.0)} THEN 2 "
           f"WHEN b4 >= {D.dbl(50.0)} THEN 1 ELSE 0 END")
    return f"""
    WITH cells AS ({cell_raster_sql(d)}),
    classed AS (SELECT *, {cls} AS cls FROM cells),
    offs AS (SELECT * FROM (VALUES {rows}) AS t(dy, dx, w)),
    contrib AS (
      SELECT c.cell_id, n.cls AS em_class, o.w, n.b2 AS v
      FROM classed c
      JOIN offs o
        ON ({ix}) + o.dx >= 0 AND ({ix}) + o.dx < {g.nx}
       AND ({iy}) + o.dy >= 0 AND ({iy}) + o.dy < {g.ny}
      JOIN classed n
        ON n.cell_id = (({iy}) + o.dy) * {g.nx} + (({ix}) + o.dx)
    )
    SELECT cell_id, em_class,
           round(sum(w * v) / sum(w), 6) AS b2_interp,
           cast(count(*) as bigint) AS n_neighbors
    FROM contrib
    GROUP BY cell_id, em_class
    """


sql_template("q_focal_class_idw_twin", _focal_class_idw,
             "class-masked normalized convolution (the SASMA interpolation semantic) as a relational stencil — full oracle beside the halo-exchange kernel (sasma.py:189-265)")


# ---- LSH ANN (approximate — rows-only; recall pinned in tests) -----------------

def _ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from unmixing_spark.text.similarity import ann_lsh_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 4)
    out = ann_lsh_topk(emb, queries, dim=64, k=5, n_planes=4, n_tables=16)
    return out.select("query_id", "hit_id", F.round("cos", 6).alias("cos"), "rn")


register("q_ann_lsh_topk", QuerySpec(
    spark_fn=_ann_lsh, oracle=None,
    doc="LSH-bucketed approximate cosine top-k (scale path; recall vs brute force pinned in tests)"))


def _ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from unmixing_spark.text.similarity import ann_ivf_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 4)
    out = ann_ivf_topk(emb, queries, dim=64, k=5, n_centroids=16, n_probe=4)
    return out.select("query_id", "hit_id", F.round("cos", 6).alias("cos"), "rn")


register("q_ann_ivf_topk", QuerySpec(
    spark_fn=_ann_ivf, oracle=None,
    doc="IVF (spherical k-means inverted lists) approximate cosine top-k — the learned-quantizer scale path; recall pinned in tests"))


def _ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from unmixing_spark.text.similarity import ann_ivfpq_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 4)
    out = ann_ivfpq_topk(emb, queries, dim=64, k=5)
    return out.select("query_id", "hit_id", F.round("cos", 6).alias("cos"), "rn")


register("q_ann_pq_topk", QuerySpec(
    spark_fn=_ann_ivfpq, oracle=None,
    doc="IVF-PQ approximate cosine top-k (Jegou et al. 2011 + refine): "
        "coarse lists -> residual-PQ ADC shortlist -> exact re-rank; "
        "recall and IVF-ceiling parity pinned in tests"))


# ---- MinHash dedup keep-list ---------------------------------------------------

def _minhash_keep(d: str) -> str:
    from unmixing_spark.queries.text_q import _minhash_lsh
    return f"""
    WITH pairs AS ({_minhash_lsh(d)})
    SELECT d.doc_id,
           CASE WHEN dropped.doc_id IS NULL THEN 1 ELSE 0 END AS keep
    FROM documents d
    LEFT JOIN (SELECT DISTINCT doc_b AS doc_id FROM pairs WHERE shared_bands >= 2) dropped
      ON d.doc_id = dropped.doc_id
    """


sql_template("q_minhash_dedup_keep", _minhash_keep,
             "near-dup keep-list: drop docs sharing >=2 LSH bands with a smaller doc_id")

# ---- near-dup connected components ------------------------------------------

CC_ORACLE_ROUNDS = 7   # fixed unroll depth for the DuckDB oracle ONLY. The
                       # corpus candidate graph converges in 6 rounds at
                       # sf0.001/0.01/0.1 (giant component 4,749 nodes, min
                       # within 10 hops); 7 adds a margin round. The Spark
                       # side no longer unrolls a fixed count — it iterates
                       # to a PROVEN fixpoint (cc_labels below) — so this
                       # constant only needs to stay >= the observed
                       # convergence round count of the test corpora.

CC_MAX_ROUNDS = 40     # hard cap for the adaptive loop: 2^40 - 1 hop cover.
                       # Reaching it means the candidate graph is broken
                       # (or adversarial) — cc_labels raises rather than
                       # returning stale labels.


def _cc_core_ctes() -> tuple[str, str]:
    """The shared unrolled label-propagation chain (edge list + round
    CTEs) as DuckDB SQL; returns (joined CTE text, name of the final
    label CTE). Every CTE referenced more than once is MATERIALIZED —
    the default inlining would otherwise replicate the LSH subquery
    2^rounds times (the pointer-jump self-joins double references per
    round). Shared by _cc_oracle below and content_q's
    q_cluster_keep_best oracle."""
    from unmixing_spark.queries.text_q import _minhash_lsh

    ctes = [f"""pairs AS MATERIALIZED ({_minhash_lsh(D.DUCKDB)}),
    edges AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS lbl FROM edges)"""]
    for r in range(CC_ORACLE_ROUNDS):
        ctes.append(f"""n{r} AS MATERIALIZED (
      SELECT a.id, min(least(a.lbl, coalesce(nb.lbl, a.lbl))) AS lbl
      FROM l{r} a
      LEFT JOIN edges e ON e.u = a.id
      LEFT JOIN l{r} nb ON nb.id = e.v
      GROUP BY a.id
    ),
    l{r + 1} AS MATERIALIZED (
      SELECT a.id, least(a.lbl, coalesce(b.lbl, a.lbl)) AS lbl
      FROM n{r} a LEFT JOIN n{r} b ON b.id = a.lbl
    )""")
    return ",\n    ".join(ctes), f"l{CC_ORACLE_ROUNDS}"


def _cc_oracle() -> str:
    """Unrolled CC + min-doc_id keeper + convergence proof (DuckDB)."""
    core, last = _cc_core_ctes()
    ctes = [core]
    ctes.append(f"""chk AS MATERIALIZED (
      SELECT a.id, min(least(a.lbl, coalesce(nb.lbl, a.lbl))) AS lbl
      FROM {last} a
      LEFT JOIN edges e ON e.u = a.id
      LEFT JOIN {last} nb ON nb.id = e.v
      GROUP BY a.id
    ),
    conv AS (
      SELECT max(CASE WHEN c.lbl <> l.lbl THEN 1 ELSE 0 END) AS changed
      FROM chk c JOIN {last} l ON l.id = c.id
    ),
    final AS MATERIALIZED (
      SELECT dd.doc_id, coalesce(l.lbl, dd.doc_id) AS component
      FROM documents dd LEFT JOIN {last} l ON l.id = dd.doc_id
    ),
    sized AS (
      SELECT component, cast(count(*) as bigint) AS comp_size
      FROM final GROUP BY component
    )""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT f.doc_id, f.component, s.comp_size,
           CASE WHEN f.doc_id = f.component THEN 1 ELSE 0 END AS keep,
           cast((SELECT 1 - changed FROM conv) as int) AS converged
    FROM final f JOIN sized s ON s.component = f.component
    """


def cc_labels(edges: DataFrame, max_rounds: int = CC_MAX_ROUNDS,
              edges_checkpointed: bool = False):
    """Label-propagation connected components over a directed edge list
    (columns u, v; pass both directions for an undirected graph), iterated
    to a PROVEN fixpoint by loops.fixpoint. Each round is a neighbor-min
    label exchange (join keyed by node id) plus a pointer jump
    lbl <- lbl(lbl) (join keyed by label), so propagation distance
    doubles per round. The neighbor-min carries the previous label
    through the aggregate, and the round observes max(lbl < prev). The
    loop exits when a round proves no label changed (so fixpoint held at
    entry to that round) and RAISES past max_rounds rather than
    returning stale labels.

    Returns (n, rounds): `n` is the checkpointed final neighbor-min
    table with columns (id, lbl, prev) where lbl == prev row-wise —
    callers can re-derive the convergence proof in-query from it —
    and `rounds` is the number of full (exchange + jump) rounds run.

    Lineage truncation each round is load-bearing: without it the
    3-joins-per-round self-referencing plan grows past what Catalyst can
    re-optimize. A caller that already holds a checkpointed edge list
    passes ``edges_checkpointed=True`` to skip re-materializing a second
    copy of it."""
    if not edges_checkpointed:
        edges = loops.checkpoint(edges)
    lbl0 = edges.select(F.col("u").alias("id")).distinct() \
                .withColumn("lbl", F.col("id"))

    def propagate(n):
        if n is None:
            lbl = lbl0
        else:
            ptr = n.select(F.col("id").alias("p_id"),
                           F.col("lbl").alias("p_lbl"))
            # Measured at sf0.1: ~0.5 s/round is per-STAGE fixed cost —
            # the same wall with eager/lazy checkpoints and with shuffle
            # partitions scoped down to 2, so neither knob is worth its
            # complexity; at cluster scale the identical stages amortize
            # over arbitrarily large candidate graphs.
            lbl = loops.checkpoint(
                n.join(ptr, n["lbl"] == ptr["p_id"], "left")
                .select(n["id"],
                        F.least(n["lbl"], F.coalesce("p_lbl", n["lbl"]))
                        .alias("lbl")))
        nb = lbl.withColumnRenamed("id", "v").withColumnRenamed("lbl", "nlbl")
        return (lbl.join(edges, lbl["id"] == edges["u"], "left")
                .join(nb, "v", "left")
                .select(lbl["id"], lbl["lbl"].alias("prev"),
                        F.least(lbl["lbl"], F.coalesce("nlbl", lbl["lbl"]))
                        .alias("lbl"))
                .groupBy("id").agg(F.min("lbl").alias("lbl"),
                                   F.min("prev").alias("prev")))

    return loops.fixpoint(
        propagate, None,
        changed=F.coalesce(F.max((F.col("lbl") < F.col("prev"))
                                 .cast("int")), F.lit(0)).alias("changed"),
        max_rounds=max_rounds, what="component labels")


def _neardup_components_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH candidate graph — the
    transitive-closure dedup the greedy keep-list (q_minhash_dedup_keep)
    approximates: one keeper (min doc_id) PER COMPONENT, not per
    independent neighborhood (reference has no graph ops; this serves
    the dedup brief). The label iteration is cc_labels above: adaptive
    driver-checked convergence (exits at proven fixpoint, raises past
    CC_MAX_ROUNDS) instead of a fixed unroll, so a candidate graph of
    any diameter either finishes or fails loudly. The edge list is
    computed ONCE and cached; at 10^12 docs the per-round shuffles are
    the standard label-propagation pattern, with the label table orders
    of magnitude smaller than the corpus (only docs in candidate
    pairs). The `converged` output column is still an in-query proof:
    it aggregates the final neighbor-min table's (lbl, prev) comparison
    that the loop exit was decided on — recomputed lazily from
    checkpointed blocks when the result executes, not a literal."""
    from unmixing_spark.queries.text_q import minhash_lsh_views

    pipeline.register_tables(spark, sf_dir, ("documents",))
    _, capped = minhash_lsh_views(spark)
    # Round-6: the label loop runs over per-bucket STAR edges (every
    # member <-> the bucket's minimum member) instead of the enumerated
    # candidate pairs — the standard small-star contraction (Kiveris et
    # al. 2014, "Connected Components in MapReduce and Beyond"). Within
    # a bucket all members are pairwise candidates, so star connectivity
    # == pair connectivity and the component minima (the labels) are
    # IDENTICAL; docs alone in all their buckets self-loop to themselves
    # and keep their own label, exactly as the pairless docs did via the
    # final coalesce. What changes is cost: |capped| edges instead of
    # the quadratic-in-bucket-size pair list, and no pair-enumeration
    # self-join at all (q_minhash_lsh_pairs still declares/prices that
    # enumeration; this query only needs its transitive closure).
    cap = spark.table(capped)
    mins = cap.groupBy("bh").agg(F.min("doc_id").alias("m"))
    star = (cap.join(mins, "bh")
            .select(F.col("doc_id").alias("u"), F.col("m").alias("v")))
    edges = star.unionAll(star.select(F.col("v").alias("u"),
                                      F.col("u").alias("v")))
    n, _rounds = cc_labels(edges)
    converged = n.agg(
        (F.lit(1) - F.coalesce(
            F.max((F.col("lbl") < F.col("prev")).cast("int")), F.lit(0)))
        .alias("converged"))
    lbl = n.select("id", "lbl")
    final = (spark.table("documents")
             .join(lbl.withColumnRenamed("id", "doc_id"), "doc_id", "left")
             .select("doc_id",
                     F.coalesce("lbl", F.col("doc_id")).alias("component")))
    sized = final.groupBy("component").agg(
        F.count("*").cast("bigint").alias("comp_size"))
    return (final.join(sized, "component")
            .crossJoin(F.broadcast(converged))
            .select("doc_id", "component", "comp_size",
                    F.when(F.col("doc_id") == F.col("component"), 1)
                    .otherwise(0).alias("keep"),
                    F.col("converged").cast("int").alias("converged")))


register("q_neardup_components", QuerySpec(
    spark_fn=_neardup_components_spark, oracle=_cc_oracle(),
    doc="connected components over LSH candidate pairs: one keeper per "
        "component (transitive closure), pointer-jumped label propagation "
        "on cached DataFrames, in-query convergence proof"))
