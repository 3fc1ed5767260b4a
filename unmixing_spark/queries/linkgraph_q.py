"""Link-graph centrality for corpus quality weighting (task brief; the
reference engine has no graph surface).

Production crawl pipelines weight and filter sources by link centrality —
Common Crawl publishes harmonic-centrality host rankings, and quality-mix
recipes (CCNet, Gopher) consume such rankings as a source prior. PageRank
(Brin & Page 1998) is the standard power-iteration formulation;
q_link_pagerank computes it at PAGE level over a deterministic synthetic
link graph (pure function of doc_id — the corpus carries no link column),
so the operator shape is exactly what a 10^12-page web graph needs:
one edge-keyed join + one dst-keyed aggregation per round.

Bit-parity design: the whole iteration runs in FIXED-POINT INTEGER
arithmetic — rank mass scaled by PR_SCALE, exact native integer division
(D.idiv_i: Spark ``div`` / DuckDB ``//``), damping applied as a bigint
ratio — so the Spark loop and the unrolled DuckDB oracle agree BIT-FOR-BIT
at every round; no float summation-order effect can accumulate across
rounds. Iteration depth is FIXED at PR_ROUNDS in both renderings
(truncated power iteration, the standard practice): unlike connected
components (scale_q.cc_labels), rank values keep changing below any
tolerance, so an adaptive Spark loop would desynchronize from any
fixed-depth oracle — the in-query ``max_delta`` residual column makes the
truncation honest and auditable instead (residual contracts ~0.85x/round).

Scale shape (10^12 pages): the link table is edge-partitioned and
checkpointed once; each round shuffles contributions keyed by dst (map-side
partial sums) and left-joins back onto the page table keyed by doc_id —
the classic distributed PageRank plan. Rank state is one bigint per page.
On a cluster, pre-bucketing links and ranks by their join keys removes
the per-round re-shuffle of the static edge side entirely.
"""

from __future__ import annotations

import functools
import math
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unmixing_spark import dialect as D
from unmixing_spark import loops, pipeline
from unmixing_spark.queries import QuerySpec, register, sql_template

PR_SCALE = 10 ** 12   # fixed-point scale: total rank mass in integer units
PR_ROUNDS = 20        # truncated power iteration depth (both renderings):
                      # residual contracts ~0.85x/round; at 20 rounds
                      # max_delta is ~0.3% of the top rank on the synthetic
                      # graph (5.1e7 vs 1.6e10 at sf0.001)
PR_DAMP_NUM = 85      # damping factor 0.85 as an exact integer ratio
PR_DAMP_DEN = 100
PR_MAX_FAN = 4        # out-degree = 1 + doc_id % PR_MAX_FAN in [1, 4]
PR_CKPT_EVERY = 4     # Spark-side lineage truncation cadence (rounds).
                      # r6 re-sweep after the self-carried-state rework
                      # (warm, 10x replica): every=2 6.6s, every=4 6.1s,
                      # every=8 9.0s — shallower windows now win because
                      # each round is one exchange, so the job-count tax
                      # is smaller than the deep-plan analysis tax.
                      # Measured warm at sf0.001/sf0.1 (single action):
                      # no truncation ~9-20 s (the residual + output joins
                      # consume the rank chain 3x and Catalyst re-analyzes
                      # a 20-round plan per consumer), every-8 ~6 s;
                      # every-round pays a job per round (CC-style cadence
                      # is only worth it for ADAPTIVE loops)


def link_ctes(d: str, keep_k: bool = False) -> str:
    """CTE fragment ending in ``links``(src, outdeg, dst): each page emits
    1 + doc_id % PR_MAX_FAN out-links whose targets are md5-derived page
    ids in [0, N) — deterministic, dual-rendered, self-loops allowed
    (declared; PageRank stays well-defined). doc_ids are contiguous
    0..N-1 in the corpus, so every dst is a real page and every page has
    out-degree >= 1 (no dangling mass to redistribute).

    ``keep_k=True`` appends the fan index ``k`` (unique per src) — the
    SINGLE definition of the synthetic graph, shared with crawl_q's link
    extraction so the html-planted anchors and the centrality queries
    cannot silently run on different graphs."""
    fan_rows = ", ".join(f"({k})" for k in range(PR_MAX_FAN))
    key = f"{D.to_str('d.doc_id', d)} || '#' || {D.to_str('fan.k', d)}"
    kcol = ",\n             fan.k AS k" if keep_k else ""
    return f"""nd AS (SELECT cast(count(*) as bigint) AS n FROM documents),
    fan AS ({D.values_rel(fan_rows, "t(k)", d)}),
    links AS {D.mat(d)}(
      SELECT d.doc_id AS src,
             cast(1 + d.doc_id % {PR_MAX_FAN} as bigint) AS outdeg,
             ({D.md5_slice(key, 1, d)}) % nd.n AS dst{kcol}
      FROM documents d
      JOIN fan ON fan.k < 1 + d.doc_id % {PR_MAX_FAN}
      CROSS JOIN nd
    )"""


def _pagerank_oracle(seed_mod: int | None = None) -> str:
    """Unrolled PR_ROUNDS-deep power iteration as DuckDB SQL. Every round
    CTE is MATERIALIZED (each is referenced by the next round plus, for
    the last two, the residual) and uses the identical integer recurrence
    the Spark loop runs: pr' = (1-d)*SCALE/N + d * sum_in(pr/outdeg), all
    divisions exact bigint.

    ``seed_mod`` switches the teleport vector from uniform (PageRank) to
    uniform-over-the-trusted-seed-set {{doc_id % seed_mod = 0}}
    (TrustRank, Gyongyi et al. 2004): the initial vector and the
    (1-d) base mass land ONLY on seeds — the rest of the recurrence is
    unchanged, which is exactly the paper's formulation (personalized
    PageRank with the trust seed as the personalization vector)."""
    dd = D.DUCKDB
    if seed_mod is None:
        denom, extra_cte, extra_cross, seed_pred = "nd.n", "", "", None
    else:
        denom = "ns.n"
        extra_cte = (f""",
    ns AS (SELECT cast(count(*) as bigint) AS n FROM documents
           WHERE doc_id % {seed_mod} = 0)""")
        extra_cross = " CROSS JOIN ns"
        seed_pred = f"doc_id % {seed_mod} = 0"
    base = D.idiv_i(f"{(PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE}",
                    f"{PR_DAMP_DEN} * {denom}", dd)
    init = D.idiv_i(str(PR_SCALE), denom, dd)
    if seed_pred is not None:
        base = f"CASE WHEN d.{seed_pred} THEN {base} ELSE 0 END"
        init = f"CASE WHEN {seed_pred} THEN {init} ELSE 0 END"
    ctes = [link_ctes(dd) + extra_cte, f"""r0 AS MATERIALIZED (
      SELECT doc_id, cast({init} as bigint)
               AS pr
      FROM documents CROSS JOIN nd{extra_cross})"""]
    contrib = D.idiv_i("r.pr", "l.outdeg", dd)
    damped = D.idiv_i(f"{PR_DAMP_NUM} * coalesce(inc.s, 0)",
                      str(PR_DAMP_DEN), dd)
    for r in range(PR_ROUNDS):
        ctes.append(f"""r{r + 1} AS MATERIALIZED (
      SELECT d.doc_id, cast({base} + {damped} as bigint) AS pr
      FROM documents d
      CROSS JOIN nd{extra_cross}
      LEFT JOIN (
        SELECT l.dst, sum({contrib}) AS s
        FROM links l JOIN r{r} r ON r.doc_id = l.src
        GROUP BY l.dst) inc ON inc.dst = d.doc_id)""")
    last, prev = f"r{PR_ROUNDS}", f"r{PR_ROUNDS - 1}"
    ctes.append(f"""delta AS (
      SELECT max(abs(a.pr - b.pr)) AS max_delta
      FROM {last} a JOIN {prev} b ON b.doc_id = a.doc_id)""")
    joined = ",\n    ".join(ctes)
    if seed_mod is None:
        keycol = (f"cast(1 + d.doc_id % {PR_MAX_FAN} as bigint)    "
                  f"AS out_degree")
        rankcol = "rank_fp"
    else:
        keycol = (f"cast(CASE WHEN d.{seed_pred} THEN 1 ELSE 0 END "
                  f"as bigint) AS is_seed")
        rankcol = "trust_fp"
    return f"""
    WITH {joined}
    SELECT d.doc_id,
           {keycol},
           cast(r.pr as bigint)                           AS {rankcol},
           cast((SELECT max_delta FROM delta) as bigint)  AS max_delta,
           cast({PR_ROUNDS} as bigint)                    AS rounds
    FROM documents d JOIN {last} r ON r.doc_id = d.doc_id
    """


def _pagerank_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    pipeline.register_tables(spark, sf_dir, ("documents",))
    return pagerank_over_documents(spark)


def pagerank_over_documents(spark: SparkSession,
                            seed_mod: int | None = None,
                            docs: DataFrame | None = None) -> DataFrame:
    """Driver loop twin of the unrolled oracle: PR_ROUNDS exact-integer
    power-iteration rounds over DataFrames, reading whatever ``documents``
    view is registered (the scaling bench points it at a replicated
    corpus). The static edge list is checkpointed once; rank lineage is
    truncated every PR_CKPT_EVERY rounds so the self-referencing plan
    stays shallow. The N count() is a one-row parquet-footer action
    (SURVEY §3.4 class) feeding the integer base literal.

    ``seed_mod`` selects the TrustRank variant (see _pagerank_oracle):
    the teleport base and the initial vector land only on the trusted
    seeds {doc_id % seed_mod = 0}; the loop body is IDENTICAL — the
    seed count replaces N in the two integer bases, and the per-node
    base is masked by seed membership. An empty seed set raises
    ValueError: the teleport vector is undefined without a seed."""
    docs = (docs if docs is not None
            else spark.table("documents")).select("doc_id")
    if seed_mod is None:
        n_docs = docs.count()   # parquet-footer-only action
        n_seeds = None
    else:
        # round-6: one doc_id scan yields BOTH totals — the TrustRank
        # path previously paid a separate filter+count job for the
        # seed-set size on top of the corpus count
        row = docs.agg(
            F.count("*").alias("n"),
            F.sum((F.col("doc_id") % seed_mod == 0).cast("long"))
            .alias("ns")).collect()[0]
        n_docs, n_seeds = int(row["n"]), int(row["ns"] or 0)
        if n_seeds == 0:
            raise ValueError(
                f"TrustRank: seed set {{doc_id % {seed_mod} = 0}} is "
                "empty")
    if seed_mod is None:
        denom = n_docs
        is_seed = None
    else:
        denom = n_seeds
        is_seed = (F.col("doc_id") % seed_mod == 0)
    base = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // (PR_DAMP_DEN * denom)
    init = F.lit(PR_SCALE // denom)
    base_col = F.lit(base)
    if is_seed is not None:
        init = F.when(is_seed, init).otherwise(F.lit(0))
        base_col = F.when(is_seed, base_col).otherwise(F.lit(0))
    # Round-6 loop shape (guide §2.4): the rank vector carries the FULL
    # node set through the rounds (it is dense by construction — every
    # page holds at least the teleport base), so the per-round docs
    # re-scan + left join against a fresh parquet read is replaced by a
    # self-join of the rank state with the contribution sums. With the
    # state hash-partitioned by doc_id and links by src, each round is
    # ONE exchange (the dst-keyed contribution sum) — the rank side and
    # the merge join move nothing.
    # loop partitioning sized from the edge count (~2.5 N); inside the
    # loop scope links and the rank state keep their hash layouts
    k = loops.nparts(spark, 3 * n_docs, row_bytes=24)
    pr = (docs.select("doc_id", init.cast("bigint").alias("pr"))
          .repartition(k, "doc_id"))
    prev = pr
    with loops.scope(spark, k):
        links = loops.checkpoint(spark.sql(
            f"WITH {link_ctes(D.SPARK)} SELECT src, outdeg, dst "
            "FROM links").repartition(k, "src"))
        for r in range(PR_ROUNDS):
            prev = pr
            inc = (links.join(pr.withColumnRenamed("doc_id", "src")
                              .hint("SHUFFLE_HASH"), "src")
                   .select("dst", F.expr("pr div outdeg").alias("c"))
                   .groupBy("dst").agg(F.sum("c").alias("s")))
            pr = (pr.join(inc.hint("SHUFFLE_HASH"),
                          pr["doc_id"] == inc["dst"], "left")
                  .select(pr["doc_id"],
                          (base_col + F.expr(
                              f"({PR_DAMP_NUM} * coalesce(s, 0L)) "
                              f"div {PR_DAMP_DEN}"))
                          .cast("bigint").alias("pr")))
            if (r + 1) % PR_CKPT_EVERY == 0 and r + 1 < PR_ROUNDS:
                pr = loops.checkpoint(pr)
        # final ranks feed three consumers (output join, residual, and
        # the residual's broadcast) — materialize once so none re-runs
        # the chain
        pr = loops.checkpoint(pr)
    delta = (pr.withColumnRenamed("pr", "a")
             .join(prev.withColumnRenamed("pr", "b"), "doc_id")
             .agg(F.max(F.abs(F.col("a") - F.col("b"))).alias("max_delta")))
    if seed_mod is None:
        keycol = ((F.lit(1) + F.col("doc_id") % PR_MAX_FAN)
                  .cast("bigint").alias("out_degree"))
        keyname, rankname = "out_degree", "rank_fp"
    else:
        keycol = ((F.col("doc_id") % seed_mod == 0)
                  .cast("bigint").alias("is_seed"))
        keyname, rankname = "is_seed", "trust_fp"
    return (docs
            .select("doc_id", keycol)
            .join(pr, "doc_id")
            .crossJoin(F.broadcast(delta))
            .select("doc_id", keyname,
                    F.col("pr").cast("bigint").alias(rankname),
                    F.col("max_delta").cast("bigint").alias("max_delta"),
                    F.lit(PR_ROUNDS).cast("bigint").alias("rounds")))


register("q_link_pagerank", QuerySpec(
    spark_fn=_pagerank_spark, oracle=_pagerank_oracle(),
    doc="page-level PageRank over a deterministic synthetic link graph: "
        "fixed-point integer power iteration (bit-identical across "
        "engines), fixed depth with an in-query residual column"))


def _degree_dist(d: str) -> str:
    """Log-binned in/out-degree distribution — the first table in every
    web-graph structure report (Broder et al. 2000 §3 measure power-law
    exponents from exactly this histogram). Bucket = floor(log2(deg))
    computed EXACTLY from the bigint bit length (no float log), so both
    renderings bin identically.

    Scale shape: one dst-keyed count (indegree), one src-keyed count
    (outdegree is closed-form here but aggregated anyway — the operator
    must not assume the synthetic fan), then two tiny bucket
    aggregations UNION ALL'd. Nothing bigger than the edge list's
    natural exchanges."""
    # floor(log2(n)) for n>=1 via a 63-row bit-length lookup (covers the
    # full non-negative bigint degree range — a 2^32-row cap would
    # silently drop a mega-hub's bucket at 10^12 urls)
    bitlen_rows = ", ".join(
        f"({k}, {1 << k}, {(1 << (k + 1)) - 1})" for k in range(63))
    return f"""
    WITH {link_ctes(d)},
    bl AS ({D.values_rel(bitlen_rows, "t(k, lo, hi)", d)}),
    indeg AS (SELECT dst AS doc_id, cast(count(*) as bigint) AS deg
              FROM links GROUP BY dst),
    outdeg AS (SELECT src AS doc_id, cast(count(*) as bigint) AS deg
               FROM links GROUP BY src),
    binned AS (
      SELECT 'in' AS side, b.k AS log2_deg, count(*) AS n_nodes,
             sum(i.deg) AS n_edges
      FROM indeg i JOIN bl b ON i.deg BETWEEN b.lo AND b.hi
      GROUP BY b.k
      UNION ALL
      SELECT 'out', b.k, count(*), sum(o.deg)
      FROM outdeg o JOIN bl b ON o.deg BETWEEN b.lo AND b.hi
      GROUP BY b.k
    )
    SELECT side, cast(log2_deg as bigint) AS log2_deg,
           cast(n_nodes as bigint) AS n_nodes,
           cast(n_edges as bigint) AS n_edges
    FROM binned
    """


sql_template("q_degree_dist", _degree_dist,
             "log-binned in/out-degree histogram of the link graph "
             "(Broder et al. 2000 structure-report shape), exact "
             "bit-length binning")


def _link_spam_features(d: str) -> str:
    """Host-level link-spam feature table (Becchetti et al. 2008,
    "Link Analysis for Web Spam Detection"; Fetterly et al. 2004):
    per host — out-edge count, intra-host link fraction (link farms
    self-link heavily), reciprocity (fraction of this host's out-pairs
    whose reverse pair also exists — mutual-admiration rings), and
    distinct destination hosts. Pure features; a downstream classifier
    (q_quality_classifier shape) consumes them.

    Scale shape: two page-id-keyed joins map edges to host pairs (the
    q_host_graph rollup), one (src_host, dst_host) aggregation, then a
    self-join of the host-pair table on the REVERSED key for
    reciprocity — host-pair cardinality, orders below the page graph.
    Final per-host aggregation with map-side combine."""
    host = "source || '.example.com'"
    return f"""
    WITH {link_ctes(d)},
    hm AS (SELECT doc_id, {host} AS host FROM documents),
    hp AS {D.mat(d)}(
      SELECT s.host AS src_host, t.host AS dst_host,
             cast(count(*) as bigint) AS n
      FROM links l
      JOIN hm s ON s.doc_id = l.src
      JOIN hm t ON t.doc_id = l.dst
      GROUP BY s.host, t.host
    )
    SELECT a.src_host AS host,
           cast(sum(a.n) as bigint) AS n_out_links,
           cast(count(*) as bigint) AS n_dst_hosts,
           cast(sum(CASE WHEN a.dst_host = a.src_host THEN a.n ELSE 0 END)
                as bigint) AS n_intra,
           round(cast(sum(CASE WHEN a.dst_host = a.src_host
                               THEN a.n ELSE 0 END) as double)
                 / cast(sum(a.n) as double), 6) AS intra_frac,
           round(cast(sum(CASE WHEN b.src_host IS NOT NULL
                               AND a.dst_host <> a.src_host
                          THEN 1 ELSE 0 END) as double)
                 / cast(greatest(sum(CASE WHEN a.dst_host <> a.src_host
                                     THEN 1 ELSE 0 END), 1) as double), 6)
             AS reciprocity
    FROM hp a
    LEFT JOIN hp b ON b.src_host = a.dst_host AND b.dst_host = a.src_host
    GROUP BY a.src_host
    """


sql_template("q_link_spam_features", _link_spam_features,
             "host-level link-spam features: intra-host link fraction, "
             "host-pair reciprocity, fan-out — the Becchetti/Fetterly "
             "feature-table shape over the host-graph rollup")


TRUST_SEED_MOD = 50   # trusted seed set = doc_id % 50 == 0 (~2% of pages
                      # — the paper selects seeds by inverse PageRank +
                      # human review; a deterministic slice is the
                      # declared sandbox stand-in)


def _trustrank_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    pipeline.register_tables(spark, sf_dir, ("documents",))
    return pagerank_over_documents(spark, seed_mod=TRUST_SEED_MOD)


register("q_trustrank", QuerySpec(
    spark_fn=_trustrank_spark, oracle=_pagerank_oracle(TRUST_SEED_MOD),
    doc="TrustRank (Gyongyi et al. 2004): personalized PageRank whose "
        "teleport mass lands only on a trusted seed slice — the "
        "link-spam demotion signal; same exact-integer recurrence and "
        "residual column as q_link_pagerank"))


# ---------------------------------------------------------------------------
# Harmonic centrality via HyperBall (Boldi & Vigna, "In-Core Computation of
# Geometric Centralities with HyperBall", 2013). Common Crawl's published
# host rankings are harmonic-centrality rankings computed exactly this way;
# corpus quality mixes consume them as a source prior. Harmonic centrality
# of v = sum over u != v of 1/d(u, v) (incoming distances); HyperBall tracks
# each node's reverse ball B_r(v) = {u : d(u,v) <= r} as a HyperLogLog
# counter and iterates B_{r+1}(v) = {v} UNION B_r(w) over edges w -> v —
# one edge-keyed join + one register-max aggregation per round, the only
# known shape that fits a 10^12-node graph (exact balls are O(N^2)).
#
# Bit-parity design: an HLL counter is (bucket, rho) integer registers;
# here they live as exact-integer (node, b, rho) ROWS, so the whole
# recurrence is max()/GROUP BY over bigints — bit-identical across engines
# by construction, like the PageRank recurrence above. The two float
# estimator branches (Flajolet raw, linear counting) are evaluated from
# PRE-TABULATED literal constants: alpha*m^2*2^(W+1) is one Python-repr'd
# double literal and the 15 possible linear-counting estimates m*ln(m/V)
# are a 15-row VALUES lookup — NO transcendental function runs at query
# time in either engine, so Spark, DuckDB and the pure-Python pin evaluate
# the identical IEEE expression tree on exact-integer inputs. Ball
# estimates are monotone (registers only grow => S_int only shrinks); the
# lc->raw branch handoff can still dip, so per-round deltas are clamped at
# 0 (standard HyperBall practice). Depth is FIXED at HB_ROUNDS in both
# renderings; the `converged` audit column proves (exactly — register
# states are integers and grow monotonically, so equal count + equal
# sum(rho) <=> equal states) whether radius HB_ROUNDS already reached the
# graph's diameter, making the truncation honest rather than assumed.
#
# At 10^12 nodes the row-per-register form costs m rows/node; production
# HyperBall packs the m registers into a fixed-width byte array merged by
# a max-lane kernel — the plumbing change is local to the state schema
# (the join/groupBy shape is identical), and the row form is what keeps
# the recurrence oracle-checkable here.

HB_M = 16            # HLL buckets (b=4 index bits): rel. std err ~1.04/4
HB_W = 32            # hash bits feeding rho (md5_slice width)
HB_ROUNDS = 12       # fixed ball radius, both renderings (see docstring)
HB_CKPT_EVERY = 2    # Spark-side lineage truncation cadence (rounds):
                     # r6 sweep at the 10x replica — every=4 22.7/28.7 s,
                     # every=2 18.7/17.4 s, every=1 22.7/16.9 s; deeper
                     # fused windows compile larger codegen units per
                     # stage and lose more to a retry/noise hit
HB_ALPHA = 0.673     # published alpha_16 (Flajolet et al. 2007, Fig. 3)
HB_LC_CUT = 2.5 * HB_M          # linear-counting cutoff (= 40.0, exact)
# alpha * m^2 * 2^(W+1): the raw-estimator numerator as ONE double literal
# (m^2*2^33 = 2199023255552 is exact in double; repr() round-trips bits)
HB_NUM = HB_ALPHA * float(HB_M * HB_M * (1 << (HB_W + 1)))
# linear-counting estimates m*ln(m/V) for V = 1..m-1, tabulated once
HB_LC_EST = {v: HB_M * math.log(HB_M / v) for v in range(1, HB_M)}
_POW2_33 = 1 << (HB_W + 1)      # the "register absent" (rho=0) indicator


def _hb_base_ctes(d: str) -> str:
    """CTE fragment ending in ``s0``(node, b, rho): each page's singleton
    HLL counter. bucket = 32 md5 bits mod m; rho = leading zeros of an
    independent 32-bit md5 slice + 1, computed EXACTLY via a 32-row
    bit-length lookup relation (no float log2 anywhere). Also defines
    ``pow2`` (exact 2^n bigints for the estimator's register indicators)
    and ``lc`` (the tabulated linear-counting estimates)."""
    bitlen_rows = ", ".join(
        f"({k}, {1 << (k - 1)}, {(1 << k) - 1})" for k in range(1, HB_W + 1))
    pow2_rows = ", ".join(f"({n}, {1 << n})" for n in range(HB_W + 2))
    lc_rows = ", ".join(
        f"({v}, {D.dbl(HB_LC_EST[v])})" for v in range(1, HB_M))
    key_b = f"{D.to_str('doc_id', d)} || '!b'"
    key_r = f"{D.to_str('doc_id', d)} || '!r'"
    return f"""bitlen AS ({D.values_rel(bitlen_rows, "t(k, lo, hi)", d)}),
    pow2 AS ({D.values_rel(pow2_rows, "t(n, p)", d)}),
    lc AS ({D.values_rel(lc_rows, "t(v, e)", d)}),
    hashes AS (
      SELECT doc_id AS node,
             cast(({D.md5_slice(key_b, 1, d)}) % {HB_M} as int) AS b,
             ({D.md5_slice(key_r, 1, d)}) AS x
      FROM documents),
    s0 AS {D.mat(d)}(
      SELECT node, b,
             cast({HB_W + 1} - coalesce(bl.k, 0) as int) AS rho
      FROM hashes LEFT JOIN bitlen bl ON hashes.x BETWEEN bl.lo AND bl.hi
    )"""


def _hb_est_sql(a: str) -> str:
    """The estimator expression over an ``a``-aliased (cnt, s_int) row:
    raw = NUM / S; linear counting when raw <= 2.5m and empty registers
    exist. Identical text in both renderings (pure ANSI on doubles)."""
    raw = f"{D.dbl(HB_NUM)} / cast({a}.s_int as double)"
    return (f"CASE WHEN {raw} <= {D.dbl(HB_LC_CUT)} AND {a}.cnt < {HB_M} "
            f"THEN lc.e ELSE {raw} END")


def _hb_agg_sql(state: str) -> str:
    """Register sufficient statistics per node over a state CTE: cnt =
    occupied registers, s_int = sum over ALL m registers of 2^(W+1 -
    rho) as an EXACT bigint (absent registers contribute 2^(W+1))."""
    return f"""
      SELECT node, count(*) AS cnt,
             sum(p2.p) + ({HB_M} - count(*)) * {_POW2_33} AS s_int
      FROM {state} JOIN pow2 p2 ON p2.n = {HB_W + 1} - {state}.rho
      GROUP BY node"""


def _harmonic_oracle() -> str:
    """Unrolled HB_ROUNDS-deep HyperBall as DuckDB SQL: per round, the
    register-max propagation CTE, the per-node sufficient statistics, the
    estimator, and the fixed-order harmonic accumulation h += max(0,
    e_r - e_{r-1})/r — the same expression applications in the same order
    as the Spark loop, so the result agrees bit-for-bit before round()."""
    dd = D.DUCKDB
    ctes = [link_ctes(dd), _hb_base_ctes(dd),
            f"a0 AS MATERIALIZED ({_hb_agg_sql('s0')})",
            f"""h0 AS MATERIALIZED (
      SELECT a.node, {D.dbl(0.0)} AS h, {_hb_est_sql('a')} AS prev
      FROM a0 a LEFT JOIN lc ON lc.v = {HB_M} - a.cnt)"""]
    for r in range(1, HB_ROUNDS + 1):
        ctes.append(f"""s{r} AS MATERIALIZED (
      SELECT node, b, max(rho) AS rho FROM (
        SELECT l.dst AS node, s.b, s.rho
        FROM links l JOIN s{r - 1} s ON s.node = l.src
        UNION ALL
        SELECT node, b, rho FROM s{r - 1}) u
      GROUP BY node, b)""")
        ctes.append(f"a{r} AS MATERIALIZED ({_hb_agg_sql(f's{r}')})")
        ctes.append(f"""h{r} AS MATERIALIZED (
      SELECT h.node,
             h.h + greatest({D.dbl(0.0)}, est.e - h.prev)
                   / {D.dbl(float(r))} AS h,
             est.e AS prev
      FROM h{r - 1} h JOIN (
        SELECT a.node, {_hb_est_sql('a')} AS e
        FROM a{r} a LEFT JOIN lc ON lc.v = {HB_M} - a.cnt) est
        ON est.node = h.node)""")
    last, prev = HB_ROUNDS, HB_ROUNDS - 1
    ctes.append(f"""conv AS (
      SELECT CASE WHEN x.c = y.c AND x.sr = y.sr THEN 1 ELSE 0 END
               AS converged
      FROM (SELECT count(*) AS c, sum(rho) AS sr FROM s{last}) x,
           (SELECT count(*) AS c, sum(rho) AS sr FROM s{prev}) y)""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT h.node                                        AS doc_id,
           round(h.h, 6)                                 AS harmonic_c,
           cast(a.cnt as bigint)                         AS regs_set,
           cast(a.s_int as bigint)                       AS s_reg,
           cast((SELECT converged FROM conv) as bigint)  AS converged,
           cast({HB_ROUNDS} as bigint)                   AS rounds
    FROM h{last} h JOIN a{last} a ON a.node = h.node
    """


def _hb_setup(spark: SparkSession) -> tuple[DataFrame, DataFrame, int]:
    """Checkpointed edge list + initial WIDE register state from the SAME
    SQL templates the oracles render — the shared loop scaffolding of the
    HyperBall family (harmonic + neighborhood function).

    Round-6 state layout (guide §2.3 "shuffle fewer bytes" + §2.4): the
    (node, b, rho) register ROWS become ONE row per node with the HB_M
    registers as columns r0..r15 — s0 has exactly one register per node
    (one hash per doc), so the widening is a plain projection. Every
    per-round exchange then moves 16x fewer rows, the per-node
    sufficient statistics (cnt, s_int) become shuffle-free projections
    (absent registers hold 0, and 2^(W+1-0) is exactly the absent-
    register indicator _POW2_33, so one uniform formula covers both),
    and the harmonic accumulator rides in the same row instead of
    paying a node-keyed join per round. Register values and estimator
    doubles are bit-identical to the row form."""
    # out-degree is 1 + doc_id % PR_MAX_FAN, so |links| ~ 2.5 N — size
    # the loop's exchanges from that (guide §2.2) instead of the
    # session constant; the documents count is a parquet-footer action
    n_docs = spark.table("documents").count()
    k = loops.nparts(spark, 3 * n_docs)
    with loops.scope(spark, k):
        # the two checkpoint builds are independent eager jobs over the
        # same documents scan — submit them concurrently (guide §2.6)
        # so the second job's tasks back-fill the first one's tail; the
        # driver-side saving is one whole job's scheduling+tail latency.
        # Their layouts matter here: a round over checkpoints that lost
        # them re-exchanged links AND state and sorted both for a merge
        # join (measured: 4 Exchange + 2 SortMergeJoin per round).
        def _build_links() -> DataFrame:
            return loops.checkpoint(spark.sql(
                f"WITH {link_ctes(D.SPARK)} SELECT src, dst FROM links"
            ).repartition(k, "src"))

        def _build_state() -> DataFrame:
            # s0 has EXACTLY one register row per node (one md5 pair
            # per doc; the bit-length lookup ranges are disjoint), so
            # the widening is a plain projection — no aggregation, no
            # exchange beyond the node-keyed repartition the merge
            # join reuses.
            wide = [F.when(F.col("b") == b, F.col("rho")).otherwise(0)
                    .alias(f"r{b}") for b in range(HB_M)]
            return loops.checkpoint(spark.sql(
                f"WITH {_hb_base_ctes(D.SPARK)} "
                "SELECT node, b, rho FROM s0")
                .repartition(k, "node").select("node", *wide))

        # the helper threads inherit the caller's local properties (job
        # group, description, scheduler pool) and session tags, so their
        # jobs stay attributed to the query that runs them
        inherit = inheritable_thread_target(spark)
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_links = pool.submit(inherit(_build_links))
            f_state = pool.submit(inherit(_build_state))
            links, state = f_links.result(), f_state.result()
    return links, state, k


_HB_REGS = [f"r{b}" for b in range(HB_M)]

# Round-6: the per-round projections are PRE-RENDERED SQL strings fed
# to selectExpr — one py4j round-trip per select instead of ~200 Column
# constructor calls per round (measured ~0.45 s/round of driver-side
# build time at 12 rounds). Every expression is the exact SQL form of
# the Column tree it replaces (double literals via D.dbl — F.lit(x)
# and cast('repr(x)' as double) produce the identical IEEE double;
# bare decimals would parse as DECIMAL), so results are bit-identical.
_HB_MERGE_EXPRS = [f"greatest(r{b}, coalesce(c_r{b}, 0)) AS r{b}"
                   for b in range(HB_M)]
# per-node register statistics over the wide row, as bare SQL text
# (aliased where they are selected). Occupied-register count: present
# registers have rho >= 1 (the bit-length lookup never yields 0 for a
# present hash), so r_b > 0 <=> the (node, b) row existed in the long
# form. Exact-integer register sum: 2^(W+1-rho) per register, absent
# registers (rho=0) contributing 2^(W+1) — one uniform shift for both.
_HB_CNT = " + ".join(
    f"(CASE WHEN r{b} > 0 THEN 1 ELSE 0 END)" for b in range(HB_M))
_HB_SINT = " + ".join(
    f"shiftleft(cast(1 as bigint), {HB_W + 1} - r{b})" for b in range(HB_M))


def _hb_est_expr() -> str:
    """selectExpr twin of _hb_est_sql over (cnt, s_int) columns: same
    literals, same branch order (lc chain cnt = 15 .. 1)."""
    raw = f"{D.dbl(HB_NUM)} / cast(s_int as double)"
    chain = " ".join(f"WHEN cnt = {HB_M - v} THEN {D.dbl(HB_LC_EST[v])}"
                     for v in range(1, HB_M))
    return (f"CASE WHEN ({raw}) <= {D.dbl(HB_LC_CUT)} AND cnt < {HB_M} "
            f"THEN (CASE {chain} END) ELSE ({raw}) END AS e")


_HB_EST_EXPR = _hb_est_expr()


def _hb_propagate_wide(links: DataFrame, state: DataFrame,
                       extras: list) -> DataFrame:
    """One HyperBall round over the wide state: src-keyed edge join,
    node-keyed register-max aggregation of the CONTRIBUTIONS only, then
    a node-keyed left join merging them into the state row with
    greatest(own, coalesce(incoming, 0)) — set-wise identical to
    unioning the state into the aggregation (a register only grows),
    but the state rows themselves never cross an exchange: both sides
    of the merge join arrive hash-partitioned by node (the state from
    its checkpointed groupBy, the aggregate from its own exchange), and
    the links side is pre-partitioned by src once at setup. The
    accumulator columns in ``extras`` (h/prev or env/prev) stay on the
    state row."""
    # SHUFFLE_HASH on the state sides: both joins meet co-partitioned
    # inputs (see _hb_setup), so the hint only swaps the per-round
    # merge-join SORTS for hash tables over <= |nodes| rows — no new
    # exchange, no sort (guide §3.1: shuffled hash beats sort-merge
    # when the build side fits per-partition memory).
    contrib = (links
               .join(state.selectExpr("node AS src", *_HB_REGS)
                     .hint("SHUFFLE_HASH"), "src")
               .selectExpr("dst AS node", *_HB_REGS))
    cg = contrib.groupBy("node").agg(
        *[F.max(c).alias(f"c_{c}") for c in _HB_REGS])
    return (state.join(cg.hint("SHUFFLE_HASH"), "node", "left")
            .selectExpr("node", *_HB_MERGE_EXPRS,
                        *[f"{c} AS {c}0" for c in extras]))


def _hb_wide_round(links: DataFrame, state: DataFrame, acc_exprs: list,
                   extras: list) -> DataFrame:
    """Propagate + estimator + accumulator update, in layered selects so
    cnt/s_int/e each evaluate once per row (CollapseProject is excluded
    session-wide). ``acc_exprs`` are the new accumulator columns as SQL
    strings over the estimator column ``e`` and the carried ``{c}0``
    columns."""
    agg = _hb_propagate_wide(links, state, extras)
    extras0 = [f"{c}0" for c in extras]
    stats = agg.selectExpr("node", *_HB_REGS, *extras0,
                           f"{_HB_CNT} AS cnt", f"{_HB_SINT} AS s_int")
    est = stats.selectExpr("node", *_HB_REGS, *extras0, _HB_EST_EXPR)
    return est.selectExpr("node", *_HB_REGS, *acc_exprs)


def _hb_init_acc(state: DataFrame, acc_exprs: list) -> DataFrame:
    """Initial accumulator columns appended to the wide state: the
    radius-0 estimate via the same layered cnt/s_int/e projections."""
    stats = state.selectExpr("node", *_HB_REGS,
                             f"{_HB_CNT} AS cnt", f"{_HB_SINT} AS s_int")
    est = stats.selectExpr("node", *_HB_REGS, _HB_EST_EXPR)
    return est.selectExpr("node", *_HB_REGS, *acc_exprs)


def _hb_conv_col(state: DataFrame, prev_state: DataFrame):
    """The exact convergence proof over wide states: total occupied
    registers and total rho equal <=> register states equal (monotone
    growth), identical to the long-form reg_stats comparison."""
    rho_sum = F.expr(" + ".join(f"r{b}" for b in range(HB_M)))

    def reg_stats(st: DataFrame, c: str, sr: str) -> DataFrame:
        return st.agg(F.sum(F.expr(_HB_CNT)).alias(c),
                      F.sum(rho_sum).alias(sr))

    return (reg_stats(state, "c", "sr")
            .crossJoin(reg_stats(prev_state, "c2", "sr2"))
            .select(((F.col("c") == F.col("c2"))
                     & (F.col("sr") == F.col("sr2")))
                    .cast("bigint").alias("converged")))


def harmonic_over_documents(spark: SparkSession) -> DataFrame:
    """Driver loop twin of the unrolled oracle, reading the registered
    ``documents`` view. The edge list and initial registers come from the
    SAME SQL templates the oracle renders (hashing bit-identical by
    construction). Round-6 shape: each round is one src-keyed join + ONE
    node-keyed register-max aggregation over wide rows, with the
    harmonic accumulator riding in the same row (no per-round hc join);
    estimator doubles evaluate the identical _hb_est_sql expression
    text, so results are bit-identical to the row-form loop. Lineage
    truncates every HB_CKPT_EVERY rounds plus the last two rounds (the
    convergence proof reads both)."""
    links, state, k = _hb_setup(spark)
    state = _hb_init_acc(state, [f"{D.dbl(0.0)} AS h", "e AS prev"])
    prev_state = state
    with loops.scope(spark, k):
        for r in range(1, HB_ROUNDS + 1):
            prev_state = state
            upd = [f"(h0 + greatest({D.dbl(0.0)}, e - prev0) "
                   f"/ {D.dbl(float(r))}) AS h",
                   "e AS prev"]
            state = _hb_wide_round(links, state, upd, ["h", "prev"])
            if r % HB_CKPT_EVERY == 0 or r >= HB_ROUNDS - 1:
                state = loops.checkpoint(state)
    conv = _hb_conv_col(state, prev_state)
    stats = state.selectExpr("node", "h", f"{_HB_CNT} AS cnt",
                             f"{_HB_SINT} AS s_int")
    return (stats
            .crossJoin(F.broadcast(conv))
            .select(F.col("node").alias("doc_id"),
                    F.round("h", 6).alias("harmonic_c"),
                    F.col("cnt").cast("bigint").alias("regs_set"),
                    F.col("s_int").cast("bigint").alias("s_reg"),
                    "converged",
                    F.lit(HB_ROUNDS).cast("bigint").alias("rounds")))


def _harmonic_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    pipeline.register_tables(spark, sf_dir, ("documents",))
    return harmonic_over_documents(spark)


register("q_harmonic_hyperball", QuerySpec(
    spark_fn=_harmonic_spark, oracle=_harmonic_oracle(),
    doc="harmonic centrality of every page via HyperBall (HLL reverse-ball "
        "counters, register-max propagation): exact-integer register rows "
        "+ tabulated-literal estimator => bit parity across engines; fixed "
        "depth with an exact in-query convergence proof column"))


# ---------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg 1999, "Authoritative Sources in a
# Hyperlinked Environment"). The companion centrality to PageRank: hub
# score = how well a page points AT authorities, authority score = how
# well it is pointed at BY hubs — the pair a crawl scheduler uses to seed
# frontier expansion (good hubs) while a quality mix weights sources
# (good authorities). Same synthetic link graph as q_link_pagerank.
#
# Bit-parity design: the coupled recurrence a' = A^T h, h' = A a' runs in
# fixed-point INTEGER arithmetic with an exact integer L1 normalization
# each half-step (x -> x * HS_SCALE // sum(x), the sum as a 1-row
# broadcast) — without normalization the iterates grow like the principal
# eigenvalue^r and overflow; with it every value stays <= PR_MAX_FAN *
# HS_SCALE, so the products below never exceed 4e18 < 2^63. All divisions
# are exact native integer division (D.idiv_i), so Spark's loop and the
# unrolled DuckDB oracle agree BIT-FOR-BIT every round. Depth is FIXED at
# HS_ROUNDS in both renderings (the iteration converges to the principal
# eigenvectors of A^T A / A A^T; values keep moving below any tolerance)
# with in-query max-|delta| residual columns making the truncation
# honest, exactly like q_link_pagerank.
#
# Scale shape (10^12 pages): per round, one src-keyed join + dst-keyed
# sum (authorities) and one dst-keyed join + src-keyed sum (hubs), each
# join co-partitioned and each sum's total observed — one exchange per
# half-step, the one PageRank pays per round. Edge list checkpointed
# twice (by src and by dst); score state is two bigints per page.
# DuckDB's integer sum() widens to HUGEINT — the normalized quotient is
# cast back to bigint (values fit by the bound above), keeping both
# engines on int64 state.

HS_SCALE = 10 ** 9   # fixed-point L1 mass per score vector (see overflow
                     # bound above: products stay under 4e18 < 2^63; at
                     # 10^12 pages raise alongside a wider int or split
                     # normalization — floor loss is ~1 unit per page)
HS_ROUNDS = 12       # fixed truncation depth, both renderings


def _hits_oracle() -> str:
    """Unrolled HS_ROUNDS-deep HITS as DuckDB SQL: per round, raw
    authority sums, a 1-row total, the normalized authority vector, then
    the same three for hubs — every CTE MATERIALIZED (each feeds the
    next half-step plus the residuals)."""
    dd = D.DUCKDB
    ctes = [link_ctes(dd), f"""h0 AS MATERIALIZED (
      SELECT doc_id, cast({D.idiv_i(str(HS_SCALE), 'nd.n', dd)} as bigint)
               AS h
      FROM documents CROSS JOIN nd)"""]
    for r in range(1, HS_ROUNDS + 1):
        norm_a = D.idiv_i(f"coalesce(ar.s, 0) * {HS_SCALE}",
                          f"at{r}.t", dd)
        norm_h = D.idiv_i(f"coalesce(hr.s, 0) * {HS_SCALE}",
                          f"ht{r}.t", dd)
        ctes.append(f"""ar{r} AS MATERIALIZED (
      SELECT l.dst, sum(h.h) AS s
      FROM links l JOIN h{r - 1} h ON h.doc_id = l.src
      GROUP BY l.dst)""")
        ctes.append(f"at{r} AS MATERIALIZED (SELECT sum(s) AS t FROM ar{r})")
        ctes.append(f"""a{r} AS MATERIALIZED (
      SELECT d.doc_id, cast({norm_a} as bigint) AS a
      FROM documents d
      CROSS JOIN at{r}
      LEFT JOIN ar{r} ar ON ar.dst = d.doc_id)""")
        ctes.append(f"""hr{r} AS MATERIALIZED (
      SELECT l.src, sum(a.a) AS s
      FROM links l JOIN a{r} a ON a.doc_id = l.dst
      GROUP BY l.src)""")
        ctes.append(f"ht{r} AS MATERIALIZED (SELECT sum(s) AS t FROM hr{r})")
        ctes.append(f"""h{r} AS MATERIALIZED (
      SELECT d.doc_id, cast({norm_h} as bigint) AS h
      FROM documents d
      CROSS JOIN ht{r}
      LEFT JOIN hr{r} hr ON hr.src = d.doc_id)""")
    R, P = HS_ROUNDS, HS_ROUNDS - 1
    ctes.append(f"""dh AS (
      SELECT max(abs(x.h - y.h)) AS d
      FROM h{R} x JOIN h{P} y ON y.doc_id = x.doc_id)""")
    ctes.append(f"""da AS (
      SELECT max(abs(x.a - y.a)) AS d
      FROM a{R} x JOIN a{P} y ON y.doc_id = x.doc_id)""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT h.doc_id,
           cast(h.h as bigint)                    AS hub_fp,
           cast(a.a as bigint)                    AS auth_fp,
           cast((SELECT d FROM dh) as bigint)     AS delta_hub,
           cast((SELECT d FROM da) as bigint)     AS delta_auth,
           cast({HS_ROUNDS} as bigint)            AS rounds
    FROM h{R} h JOIN a{R} a ON a.doc_id = h.doc_id
    """


def _hits_half(links: DataFrame, vec: DataFrame, key: str,
               out: str) -> DataFrame:
    """One HITS half-step's raw sums: ``links`` laid out by ``key`` joins
    the score vector ``vec`` (doc_id, score) laid out by doc_id, and the
    scores sum by ``out``. Inside the loop scope both join sides keep
    their layout, so the sum's exchange is the half-step's only one."""
    return (links.join(vec.toDF(key, "x").hint("SHUFFLE_HASH"), key)
            .groupBy(out).agg(F.sum("x").alias("s")))


def hits_over_documents(spark: SparkSession) -> DataFrame:
    """Driver loop twin of the unrolled oracle, reading the registered
    ``documents`` view: HS_ROUNDS exact-integer HITS rounds inside the
    loop scope, over the edge list checkpointed twice, once laid out by
    src (authority half-steps) and once by dst (hub half-steps). Each
    raw-sum table (ar/hr, one row per linked page) is eagerly
    checkpointed EVERY half-step, with its L1 total observed in the same
    job: the next half-step's normalization needs that total, and
    computing it in-plan instead would re-evaluate the unmaterialized
    chain per consumer, which compounds quadratically across rounds
    (measured 113 s at sf0.01 vs ~9 s with per-half-step truncation;
    q_link_pagerank can defer checkpointing because its loop has no
    in-loop total, the HITS loop cannot). The normalized vectors a/h
    stay lazy — shallow projections over the checkpointed raw sums that
    keep their layout, so each half-step's join is co-partitioned."""
    docs = spark.table("documents").select("doc_id")
    n = docs.count()
    k = loops.nparts(spark, 3 * n, row_bytes=16)
    h = (docs.select("doc_id", F.lit(HS_SCALE // n).cast("bigint")
                     .alias("h"))
         .repartition(k, "doc_id"))

    def _dense(vec: DataFrame, col: str) -> DataFrame:
        # the dense form the residual/output contract expects: absent
        # pages hold the exact 0 the dense recurrence computed for them
        return (docs.join(vec, "doc_id", "left")
                .select(docs["doc_id"],
                        F.coalesce(F.col(col), F.lit(0).cast("bigint"))
                        .alias(col)))

    # Round-6 loop shape (guide §2.3 "shuffle fewer bytes" + §1.2): the
    # in-loop vectors stay SPARSE — only pages with a non-zero raw sum
    # carry a row. Pages absent from ar/hr held exactly
    # (0 * HS_SCALE) div t = 0 in the dense form, and zero-score pages
    # contribute nothing to the next half-step's sums (s and t are
    # unchanged when 0-rows drop out), so the fixed-point trajectory is
    # bit-identical; the docs left-join that densified every half-step
    # (24 extra scans + joins) happens ONCE at the end. The L1 total t
    # is observed on the raw-sum checkpoint — no per-half-step 1-row
    # aggregation job or broadcast; t embeds as an exact int literal.
    a = None
    with loops.scope(spark, k):
        by_src = loops.checkpoint(spark.sql(
            f"WITH {link_ctes(D.SPARK)} SELECT src, dst FROM links")
            .repartition(k, "src"))
        by_dst = loops.checkpoint(by_src.repartition(k, "dst"))
        for r in range(1, HS_ROUNDS + 1):
            prev_h, prev_a = h, a
            ar, ta = loops.checkpoint(_hits_half(by_src, h, "src", "dst"),
                                      observe=F.sum("s").alias("t"))
            a = ar.select(F.col("dst").alias("doc_id"),
                          F.expr(f"(s * {HS_SCALE}) div {int(ta)}")
                          .cast("bigint").alias("a"))
            hr, th = loops.checkpoint(_hits_half(by_dst, a, "dst", "src"),
                                      observe=F.sum("s").alias("t"))
            h = hr.select(F.col("src").alias("doc_id"),
                          F.expr(f"(s * {HS_SCALE}) div {int(th)}")
                          .cast("bigint").alias("h"))
        # final vectors feed the output join plus a residual each —
        # materialize once so neither consumer re-runs the chain
        h = loops.checkpoint(_dense(h, "h"))
        a = loops.checkpoint(_dense(a, "a"))
    prev_h = _dense(prev_h, "h")
    prev_a = _dense(prev_a, "a")
    dh = (h.withColumnRenamed("h", "x")
          .join(prev_h.withColumnRenamed("h", "y"), "doc_id")
          .agg(F.max(F.abs(F.col("x") - F.col("y"))).alias("dh")))
    da = (a.withColumnRenamed("a", "x")
          .join(prev_a.withColumnRenamed("a", "y"), "doc_id")
          .agg(F.max(F.abs(F.col("x") - F.col("y"))).alias("da")))
    return (h.join(a, "doc_id")
            .crossJoin(F.broadcast(dh))
            .crossJoin(F.broadcast(da))
            .select("doc_id",
                    F.col("h").cast("bigint").alias("hub_fp"),
                    F.col("a").cast("bigint").alias("auth_fp"),
                    F.col("dh").cast("bigint").alias("delta_hub"),
                    F.col("da").cast("bigint").alias("delta_auth"),
                    F.lit(HS_ROUNDS).cast("bigint").alias("rounds")))


def _hits_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    pipeline.register_tables(spark, sf_dir, ("documents",))
    return hits_over_documents(spark)


register("q_hits_scores", QuerySpec(
    spark_fn=_hits_spark, oracle=_hits_oracle(),
    doc="HITS hubs + authorities over the synthetic link graph: coupled "
        "fixed-point integer iteration with exact integer L1 "
        "normalization per half-step (bit-identical across engines), "
        "fixed depth with in-query residual columns"))


# ---------------------------------------------------------------------------
# Neighborhood function + effective diameter (Palmer/Gibbons/Faloutsos ANF
# 2002; Boldi/Rosa/Vigna "HyperANF" 2011; the stat Broder et al. 2000
# report for the web graph). NF(r) = sum over nodes v of |B_r(v)|; the
# effective diameter is the smallest r with NF(r) >= 0.9 * NF(r_max).
# Reuses the HyperBall machinery above verbatim (_hb_base_ctes /
# _hb_agg_sql / _hb_est_sql / _hb_est_expr): per node the ball estimate is
# forced monotone via the same clamped-increment envelope the harmonic
# accumulator uses (env += max(0, e_r - e_{r-1}) — HyperANF's standard
# monotonization), and NF(r) is the per-round global sum of envelopes.
# The per-round global float sum is the one order-dependent aggregation
# in the family — rounded to 6 in both renderings (values O(N * m), so
# double noise is ~1e5 ulps below the rounding grain).


def _nf_oracle() -> str:
    """Unrolled HB_ROUNDS-deep neighborhood function as DuckDB SQL: the
    harmonic unroll's register propagation with the envelope accumulator
    instead of the 1/r harmonic sum, then one row per radius with the
    cumulative fraction and the first-crossing effective-diameter flag."""
    dd = D.DUCKDB
    ctes = [link_ctes(dd), _hb_base_ctes(dd),
            f"a0 AS MATERIALIZED ({_hb_agg_sql('s0')})",
            f"""e0 AS MATERIALIZED (
      SELECT a.node, {_hb_est_sql('a')} AS env, {_hb_est_sql('a')} AS prev
      FROM a0 a LEFT JOIN lc ON lc.v = {HB_M} - a.cnt)"""]
    for r in range(1, HB_ROUNDS + 1):
        ctes.append(f"""s{r} AS MATERIALIZED (
      SELECT node, b, max(rho) AS rho FROM (
        SELECT l.dst AS node, s.b, s.rho
        FROM links l JOIN s{r - 1} s ON s.node = l.src
        UNION ALL
        SELECT node, b, rho FROM s{r - 1}) u
      GROUP BY node, b)""")
        ctes.append(f"a{r} AS MATERIALIZED ({_hb_agg_sql(f's{r}')})")
        ctes.append(f"""e{r} AS MATERIALIZED (
      SELECT e.node,
             e.env + greatest({D.dbl(0.0)}, est.e - e.prev) AS env,
             est.e AS prev
      FROM e{r - 1} e JOIN (
        SELECT a.node, {_hb_est_sql('a')} AS e
        FROM a{r} a LEFT JOIN lc ON lc.v = {HB_M} - a.cnt) est
        ON est.node = e.node)""")
    nf_rows = " UNION ALL ".join(
        f"SELECT {r} AS r, round(sum(env), 6) AS nf FROM e{r}"
        for r in range(HB_ROUNDS + 1))
    joined = ",\n    ".join(ctes)
    frac = "round(nf / nfl.nfl, 6)"
    return f"""
    WITH {joined},
    nf AS MATERIALIZED ({nf_rows}),
    nfl AS (SELECT nf AS nfl FROM nf WHERE r = {HB_ROUNDS})
    SELECT cast(r as bigint) AS r, nf,
           {frac} AS frac,
           cast(CASE WHEN {frac} >= {D.dbl(0.9)}
                      AND coalesce(lag({frac}) OVER (ORDER BY r),
                                   {D.dbl(0.0)}) < {D.dbl(0.9)}
                THEN 1 ELSE 0 END as bigint) AS is_effective_diameter
    FROM nf CROSS JOIN nfl
    """


def neighborhood_function_over_documents(spark: SparkSession) -> DataFrame:
    """Driver loop twin of the unrolled NF oracle: the harmonic loop's
    wide-state register propagation with the envelope accumulator. Each
    round's global NF sum is observed on the state checkpoint, and the
    13-row (r, nf) table is assembled from those Spark-computed
    doubles; the values round-trip bit-exactly through the driver
    (Python float IS an IEEE double), so the tail arithmetic matches
    the oracle as before. (A two-rounds-per-checkpoint fusion —
    carrying the odd radius' envelope as an extra column and observing
    both sums in one job — was measured and REJECTED: the odd round's
    state feeds the even round's two consumers, so its merge join +
    estimator projections re-execute per consumer path, costing more
    than the 6 saved job round-trips; 7.6 s vs 6.3 s at the 10x
    replica.)"""
    links, state, k = _hb_setup(spark)
    state = _hb_init_acc(state, ["e AS env", "e AS prev"])
    upd = [f"(env0 + greatest({D.dbl(0.0)}, e - prev0)) AS env",
           "e AS prev"]
    nf_vals = []
    with loops.scope(spark, k):
        for r in range(HB_ROUNDS + 1):
            if r:
                state = _hb_wide_round(links, state, upd, ["env", "prev"])
            state, nf = loops.checkpoint(
                state, observe=F.round(F.sum("env"), 6).alias("nf"))
            nf_vals.append((r, float(nf)))
    nf = spark.createDataFrame(
        [(int(r), v) for r, v in nf_vals], "r bigint, nf double")
    from pyspark.sql.window import Window
    nfl = (nf.filter(F.col("r") == HB_ROUNDS)
           .select(F.col("nf").alias("nfl")))
    frac = F.round(F.col("nf") / F.col("nfl"), 6)
    lagf = F.coalesce(F.lag(frac).over(Window.orderBy("r")), F.lit(0.0))
    return (nf.crossJoin(F.broadcast(nfl))
            .select("r", "nf", frac.alias("frac"),
                    ((frac >= F.lit(0.9)) & (lagf < F.lit(0.9)))
                    .cast("bigint").alias("is_effective_diameter")))


def _nf_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    pipeline.register_tables(spark, sf_dir, ("documents",))
    return neighborhood_function_over_documents(spark)


register("q_effective_diameter", QuerySpec(
    spark_fn=_nf_spark, oracle=_nf_oracle(),
    doc="neighborhood function NF(r) + 90% effective diameter via "
        "HyperANF (monotone-envelope HyperBall estimates, per-radius "
        "global sums) — the Broder et al. 2000 web-graph structure stat"))


def triangle_clustering_sql(d: str) -> str:
    """Per-node triangle counts + local clustering coefficient over the
    undirected simple graph underlying the synthetic link graph — the
    Watts-Strogatz local statistic every web-graph structure report
    carries next to the degree histogram, and a standard link-farm
    signal (spam rings are near-cliques: Becchetti et al. 2008 use
    exactly these per-host triangle densities as classifier features).

    Plan (the reference engine has no graph surface; this is the
    MapReduce-era degree-ordered scheme of Suri & Vassilvitskii 2011 /
    Latapy 2008 expressed relationally): undirect + dedup the edge list,
    orient every edge from its lower-(degree, id) endpoint to the higher
    — a total order computed by a plain lexicographic compare, NO global
    rank/sort — then build wedges by self-joining oriented edges on the
    shared tail and close them against the oriented edge list. Each
    triangle materializes exactly once (all three of its vertices are
    ordered), and per-node wedge fan-out is bounded by O(sqrt(m))
    because high-degree hubs sit at the HEAD of their edges: the
    classic skew-proofing that makes triangle counting survive a
    power-law graph at 10^12 edges. Three edge-keyed hash joins + two
    node-keyed aggregations; the 1-row global count broadcasts.

    Exactness: counts are bigint; the coefficient 2T/(deg*(deg-1)) is a
    single exact-integer division rounded to 6 in both renderings."""
    steps = ",\n    ".join(
        f"{name} AS {D.mat(d)}(\n      {body}\n    )"
        for name, body in _triangle_steps("edges", "deg", "o").items())
    return f"""
    WITH {link_ctes(d)},
    {steps},
    {_triangle_tail("deg", "tri")}"""


def _triangle_steps(edges: str, deg: str, o: str) -> dict[str, str]:
    """The four materialized steps in order — simple undirected edges,
    degrees, degree-oriented edges, triangles — each over the given
    names of the earlier steps' relations (``edges`` reads ``links``)."""
    lex = ("t.u_deg < t.v_deg OR (t.u_deg = t.v_deg AND t.u < t.v)")
    return {
        "edges": """SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM links WHERE src <> dst""",
        "deg": f"""SELECT node, cast(count(*) as bigint) AS deg
      FROM (SELECT u AS node FROM {edges}
            UNION ALL
            SELECT v AS node FROM {edges}) both_ends
      GROUP BY node""",
        "o": f"""SELECT CASE WHEN {lex} THEN t.u ELSE t.v END       AS a,
             CASE WHEN {lex} THEN t.v ELSE t.u END       AS b,
             CASE WHEN {lex} THEN t.v_deg ELSE t.u_deg END AS b_deg
      FROM (
        SELECT e.u, e.v, du.deg AS u_deg, dv.deg AS v_deg
        FROM {edges} e
        JOIN {deg} du ON du.node = e.u
        JOIN {deg} dv ON dv.node = e.v
      ) t""",
        "tri": f"""SELECT w.a AS x, w.b1 AS y, w.b2 AS z
      FROM (
        SELECT o1.a, o1.b AS b1, o2.b AS b2
        FROM {o} o1
        JOIN {o} o2 ON o2.a = o1.a
        WHERE o1.b_deg < o2.b_deg
           OR (o1.b_deg = o2.b_deg AND o1.b < o2.b)
      ) w
      JOIN {o} e ON e.a = w.b1 AND e.b = w.b2""",
    }


def _triangle_tail(deg: str, tri: str) -> str:
    """Per-node triangle counts, the global count and the clustering
    report over the degree and triangle relations."""
    return f"""nt AS (
      SELECT node, cast(count(*) as bigint) AS triangles
      FROM (SELECT x AS node FROM {tri}
            UNION ALL SELECT y AS node FROM {tri}
            UNION ALL SELECT z AS node FROM {tri}) corners
      GROUP BY node
    ),
    tot AS (SELECT cast(count(*) as bigint) AS n_tri FROM {tri})
    SELECT dg.node                                    AS doc_id,
           dg.deg                                     AS degree,
           cast(coalesce(nt.triangles, 0) as bigint)  AS triangles,
           round(CASE WHEN dg.deg >= 2
                      THEN cast(2 * coalesce(nt.triangles, 0) as double)
                           / cast(dg.deg * (dg.deg - 1) as double)
                      ELSE cast(0 as double) END, 6)  AS clustering,
           tot.n_tri                                  AS total_triangles
    FROM {deg} dg
    LEFT JOIN nt ON nt.node = dg.node
    CROSS JOIN tot
    """


def _triangle_clustering_spark(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """q_triangle_clustering's Spark side (round-6): the edge list,
    degree table, oriented-edge table and triangle list are each
    checkpointed once — as CTEs, ``o`` had three consumers and ``tri``
    four, and every reference re-ran the whole synthetic-link chain."""
    pipeline.register_tables(spark, sf_dir, ("documents",))
    steps = _triangle_steps("tc_edges", "tc_deg", "tc_o")
    steps["edges"] = f"WITH {link_ctes(D.SPARK)} {steps['edges']}"
    for name, body in steps.items():
        loops.checkpoint(spark.sql(body)).createOrReplaceTempView(
            f"tc_{name}")
    return spark.sql(f"WITH {_triangle_tail('tc_deg', 'tc_tri')}")


register("q_triangle_clustering", QuerySpec(
    spark_fn=_triangle_clustering_spark,
    oracle=triangle_clustering_sql(D.DUCKDB),
    doc="per-node triangle counts + local clustering coefficient "
        "via degree-ordered oriented wedges (Suri-Vassilvitskii / "
        "Latapy shape, skew-bounded) over the undirected simple "
        "link graph"))


def _degree_assortativity(d: str) -> str:
    """Degree-degree correlation structure of the undirected link graph:
    the knn(k) average-neighbor-degree curve (Pastor-Satorras et al.
    2001) per distinct degree, plus Newman's (2002) assortativity
    coefficient r as a broadcast scalar — the standard pair of statistics
    that distinguishes hub-attracting (disassortative, the measured web
    shape) from peer-linking graphs, and another near-clique link-farm
    signal alongside q_triangle_clustering.

    Exactness: the edge-end pair list carries both orientations of every
    edge, so sum(x) = sum(y) and sum(x^2) = sum(y^2) exactly, collapsing
    Newman's formula to r = (M*Sxy - Sx^2) / (M*Sxx - Sx^2) over bigint
    sums — ONE float division at the end, rounded identically in both
    renderings (DuckDB's int128 sums are cast back to bigint so both
    engines carry the same width; at 10^12 edges the standing report
    would promote these five moments to double accumulators).

    Scale shape: two node-keyed joins decorate the edge list with end
    degrees, one degree-keyed aggregation (map-side combined; distinct
    degrees ~ O(max_deg) rows), one 1-row global moment aggregate that
    cross-joins back — nothing exceeds the edge list's own exchanges."""
    return f"""
    WITH {link_ctes(d)},
    edges AS {D.mat(d)}(
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM links WHERE src <> dst
    ),
    deg AS {D.mat(d)}(
      SELECT node, cast(count(*) as bigint) AS deg
      FROM (SELECT u AS node FROM edges
            UNION ALL
            SELECT v AS node FROM edges) both_ends
      GROUP BY node
    ),
    j AS {D.mat(d)}(
      SELECT du.deg AS x, dv.deg AS y
      FROM edges e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ),
    pairs AS (SELECT x, y FROM j UNION ALL SELECT y AS x, x AS y FROM j),
    s AS (
      SELECT cast(count(*) as bigint)   AS m,
             cast(sum(x) as bigint)     AS sx,
             cast(sum(x * y) as bigint) AS sxy,
             cast(sum(x * x) as bigint) AS sxx
      FROM pairs
    ),
    knn AS (
      SELECT x AS degree,
             cast(count(*) as bigint) AS n_edge_ends,
             cast(sum(y) as bigint)   AS sum_nbr_deg
      FROM pairs GROUP BY x
    )
    SELECT k.degree,
           k.n_edge_ends,
           round(cast(k.sum_nbr_deg as double)
                 / cast(k.n_edge_ends as double), 6) AS avg_nbr_deg,
           round(CASE WHEN s.m * s.sxx = s.sx * s.sx THEN cast(0 as double)
                      ELSE cast(s.m * s.sxy - s.sx * s.sx as double)
                           / cast(s.m * s.sxx - s.sx * s.sx as double)
                 END, 6)                             AS assortativity
    FROM knn k CROSS JOIN s
    """


sql_template("q_degree_assortativity", _degree_assortativity,
             "knn(k) average-neighbor-degree curve + Newman "
             "assortativity coefficient from exact bigint edge-end "
             "moments over the undirected link graph")


# ---- k-core decomposition (fixed k, adaptive peel) ----------------------------

KC_K = 3              # the core order: avg degree of the synthetic graph is
                      # ~4.7, so k=3 peels a real shell (~12% of nodes over
                      # 4-5 rounds at sf0.001-0.1) without emptying the core
KC_ORACLE_ROUNDS = 6  # fixed unroll depth for the DuckDB oracle ONLY (the
                      # Spark loop is adaptive); must stay >= the observed
                      # peel rounds of the test corpora (4 at sf0.001/0.01,
                      # 5 at sf0.1) — the oracle re-checks convergence
                      # in-query, so an unroll shortfall fails the value
                      # hash instead of passing silently
KC_MAX_ROUNDS = 40    # hard cap for the adaptive loop (a simple graph peels
                      # at most n rounds; 40 covers any corpus this harness
                      # meets) — past it the loop RAISES, never stale output


def _kcore_edges_sql(d: str) -> str:
    """Directed pair list (both orientations) of the undirected simple
    graph — the same derivation q_triangle_clustering dedups from the
    synthetic links."""
    return f"""
    WITH {link_ctes(d)},
    und AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM links WHERE src <> dst
    )
    SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und
    """


def _kcore_oracle() -> str:
    """Unrolled peel + in-query convergence re-check (DuckDB). Round r:
    alive-degree of every alive node (head-filtered edge join), then
    drop nodes below KC_K. After KC_ORACLE_ROUNDS the final degree table
    is recomputed once more — `converged` proves the peel was already at
    fixpoint, so a too-shallow unroll cannot pass the value hash."""
    dd = D.DUCKDB
    ctes = [f"""edges AS MATERIALIZED ({_kcore_edges_sql(dd)}),
    a0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM edges)"""]
    for r in range(KC_ORACLE_ROUNDS):
        ctes.append(f"""d{r} AS MATERIALIZED (
      SELECT a.id, count(h.id) AS deg
      FROM a{r} a
      LEFT JOIN edges e ON e.u = a.id
      LEFT JOIN a{r} h ON h.id = e.v
      GROUP BY a.id
    ),
    a{r + 1} AS MATERIALIZED (
      SELECT id FROM d{r} WHERE deg >= {KC_K}
    )""")
    last = f"a{KC_ORACLE_ROUNDS}"
    ctes.append(f"""dfin AS MATERIALIZED (
      SELECT a.id, count(h.id) AS deg
      FROM {last} a
      LEFT JOIN edges e ON e.u = a.id
      LEFT JOIN {last} h ON h.id = e.v
      GROUP BY a.id
    ),
    conv AS (
      SELECT 1 - coalesce(max(CASE WHEN deg < {KC_K} THEN 1 ELSE 0 END), 0)
               AS converged
      FROM dfin
    )""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT dd2.doc_id,
           cast(CASE WHEN f.id IS NOT NULL THEN 1 ELSE 0 END as bigint)
             AS in_core,
           cast(coalesce(f.deg, 0) as bigint) AS core_deg,
           cast({KC_K} as bigint) AS k,
           cast((SELECT converged FROM conv) as int) AS converged
    FROM documents dd2 LEFT JOIN dfin f ON f.id = dd2.doc_id
    """


def kcore_alive(edges: DataFrame, k: int = KC_K,
                max_rounds: int = KC_MAX_ROUNDS):
    """Adaptive k-core peel over a directed pair list (both orientations
    of an undirected simple graph), iterated to a PROVEN fixpoint by
    loops.fixpoint: each round's alive-degree aggregate observes whether
    any node falls below k, the loop exits when a peel round removes
    nothing, and it RAISES past max_rounds rather than returning a stale
    shell.

    Returns (deg, rounds): `deg` is the checkpointed final alive-degree
    table (id, deg) — every row satisfies deg >= k, and callers
    re-derive the convergence proof in-query from it — and `rounds` is
    the number of peel rounds that removed at least one node.

    Scale shape (10^12 edges): per round one head-filtered edge join +
    one node-keyed count — the standard distributed peel; the alive set
    only shrinks, and rounds are bounded by the peel depth (typically
    O(log n) on web graphs), not by n."""
    edges = loops.checkpoint(edges)
    alive0 = edges.select(F.col("u").alias("id")).distinct()

    def peel(deg):
        # lazy: a trivial filter over the checkpointed degree table —
        # both references below re-run it from checkpoint blocks for
        # less than an eager checkpoint job would cost (round-6)
        alive = (alive0 if deg is None
                 else deg.filter(F.col("deg") >= k).select("id"))
        heads = alive.select(F.col("id").alias("head_id"))
        e_alive = (edges.join(heads, edges["v"] == heads["head_id"])
                        .select(edges["u"].alias("tail_id"), "head_id"))
        return (alive.join(e_alive, alive["id"] == e_alive["tail_id"], "left")
                .groupBy(alive["id"])
                .agg(F.count("head_id").alias("deg")))

    return loops.fixpoint(
        peel, None,
        changed=F.coalesce(F.max((F.col("deg") < k).cast("int")),
                           F.lit(0)).alias("changed"),
        max_rounds=max_rounds, what="k-core shell")


def _kcore_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core membership per document (Seidman 1983; the peel is the
    distributed variant of Batagelj-Zaversnik): the densely-linked
    subgraph filter link-spam and community pipelines run upstream of
    PageRank (spam rings concentrate in high cores — Becchetti et al.
    2008 use coreness as a classifier feature). The `converged` column
    is the same style of in-query proof as q_neardup_components:
    recomputed from the checkpointed final degree table when the result
    executes, not a literal."""
    pipeline.register_tables(spark, sf_dir, ("documents",))
    edges = spark.sql(_kcore_edges_sql(D.SPARK))
    deg, _rounds = kcore_alive(edges)
    converged = deg.agg(
        (F.lit(1) - F.coalesce(
            F.max((F.col("deg") < KC_K).cast("int")), F.lit(0)))
        .cast("int").alias("converged"))
    return (spark.table("documents")
            .join(deg.withColumnRenamed("id", "doc_id"), "doc_id", "left")
            .crossJoin(F.broadcast(converged))
            .select("doc_id",
                    F.when(F.col("deg").isNotNull(), 1).otherwise(0)
                    .cast("bigint").alias("in_core"),
                    F.coalesce("deg", F.lit(0)).cast("bigint")
                    .alias("core_deg"),
                    F.lit(KC_K).cast("bigint").alias("k"),
                    F.col("converged")))


register("q_kcore_membership", QuerySpec(
    spark_fn=_kcore_spark, oracle=_kcore_oracle(),
    doc="k-core decomposition (fixed k=3): adaptive driver-checked peel "
        "to a proven fixpoint vs an unrolled DuckDB oracle with in-query "
        "convergence re-check — the dense-subgraph filter upstream of "
        "link-spam scoring"))


# ---- label-propagation community detection ------------------------------------

LP_ORACLE_ROUNDS = 12  # fixed unroll depth for the DuckDB oracle ONLY: the
                       # self-vote update reaches fixpoint in 6 rounds at
                       # 500 nodes, 8 at 5,000 and at 20,000 (near-O(1)
                       # epidemic depth); extra rounds past fixpoint are
                       # exact no-ops, so 12 is pure headroom
LP_MAX_ROUNDS = 40     # hard cap for the adaptive Spark loop


def _lp_vote_sql(prev: str) -> str:
    """One synchronous LPA round as DuckDB SQL over label table ``prev``:
    each node takes the most frequent label among its neighbors PLUS one
    vote for its own current label, ties to the smallest label."""
    return f"""(
      SELECT id, lbl FROM (
        SELECT id, lbl,
               row_number() OVER (PARTITION BY id
                                  ORDER BY c DESC, lbl) AS rn
        FROM (
          SELECT id, lbl, cast(count(*) as bigint) AS c
          FROM (
            SELECT a.dst AS id, l.lbl FROM adj a
            JOIN {prev} l ON l.id = a.src
            UNION ALL
            SELECT id, lbl FROM {prev}
          ) votes
          GROUP BY id, lbl) cnt) ranked
      WHERE rn = 1)"""


def _label_prop_oracle() -> str:
    """Unrolled LP_ORACLE_ROUNDS-deep synchronous label propagation; every
    round CTE MATERIALIZED (each feeds the next plus the convergence
    re-check on the last two). Fixpoints of the self-vote update are
    stable — once no label changes, every later round recomputes the
    identical table — so any unroll depth >= the observed fixpoint depth
    yields the exact converged labels (the q_neardup_components oracle
    doctrine)."""
    dd = D.DUCKDB
    ctes = [link_ctes(dd) + f""",
    und AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM links WHERE src <> dst
    ),
    adj AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM und
      UNION ALL
      SELECT v AS src, u AS dst FROM und
    ),
    l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS lbl FROM documents)"""]
    for r in range(LP_ORACLE_ROUNDS):
        ctes.append(f"l{r + 1} AS MATERIALIZED {_lp_vote_sql(f'l{r}')}")
    last, prev = f"l{LP_ORACLE_ROUNDS}", f"l{LP_ORACLE_ROUNDS - 1}"
    ctes.append(f"""conv AS (
      SELECT cast(1 - max(CASE WHEN a.lbl <> b.lbl THEN 1 ELSE 0 END) as int)
               AS converged
      FROM {last} a JOIN {prev} b ON b.id = a.id)""")
    ctes.append(f"""sized AS (
      SELECT lbl, cast(count(*) as bigint) AS comm_size
      FROM {last} GROUP BY lbl)""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT l.id AS doc_id,
           l.lbl AS community,
           s.comm_size,
           cast(CASE WHEN l.lbl = l.id THEN 1 ELSE 0 END as int) AS is_exemplar,
           c.converged
    FROM {last} l
    JOIN sized s ON s.lbl = l.lbl
    CROSS JOIN conv c
    """


def _label_prop_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007) with two determinism amendments the paper
    resolves by randomization: updates are SYNCHRONOUS with ties broken
    to the smallest label, and each node casts one vote for its own
    current label — the self-vote damps the synchronous oscillation /
    epidemic collapse (LPA's known bipartite failure mode), giving a
    deterministic, engine-independent fixpoint (82 stable communities on
    the 500-node synthetic graph; min-tie-break WITHOUT the self-vote
    floods the whole giant component to one label). Communities are the
    corpus-curation complement to q_neardup_components: CC finds
    transitive near-dup clusters, LPA finds densely-linked regions
    (mirror farms, template networks) for source-level weighting.

    Spark shape: the undirected edge list is checkpointed once; each
    round is ONE src-keyed join + one (id, lbl)-keyed count whose argmax
    folds into a map-side-combinable max(struct(c, -lbl)) aggregate —
    no per-round window, no global sort. loops.fixpoint exits at the
    PROVEN fixpoint and raises past LP_MAX_ROUNDS rather than returning
    drifting labels. Oracle parity:
    fixpoints are stable, so the fixed LP_ORACLE_ROUNDS-deep DuckDB
    unroll lands on the identical labeling whenever its depth >= the
    observed rounds (6-8 across 500-20,000 nodes)."""
    pipeline.register_tables(spark, sf_dir, ("documents",))
    und = spark.sql(
        f"WITH {link_ctes(D.SPARK)} SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM links WHERE src <> dst")
    adj = loops.checkpoint(
        und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(und.select(F.col("v").alias("src"),
                             F.col("u").alias("dst"))))
    lbl0 = (spark.table("documents")
            .select(F.col("doc_id").alias("id"),
                    F.col("doc_id").alias("lbl")))

    def vote(nxt):
        lbl = lbl0 if nxt is None else nxt.select("id", "lbl")
        votes = (adj.join(lbl.withColumnRenamed("id", "src")
                          .withColumnRenamed("lbl", "nlbl"), "src")
                 .select(F.col("dst").alias("id"), F.col("nlbl").alias("lbl"))
                 .unionAll(lbl))
        prev = lbl.withColumnRenamed("lbl", "prev")
        return (votes.groupBy("id", "lbl")
                .agg(F.count("*").cast("long").alias("c"))
                .groupBy("id")
                .agg(F.max(F.struct(F.col("c"),
                                    (-F.col("lbl")).alias("nl"))).alias("m"))
                .select("id", (-F.col("m.nl")).cast("long").alias("lbl"))
                .join(prev, "id"))

    final, _rounds = loops.fixpoint(
        vote, None,
        changed=F.coalesce(F.max((F.col("lbl") != F.col("prev"))
                                 .cast("int")), F.lit(0)).alias("changed"),
        max_rounds=LP_MAX_ROUNDS, what="community labels")
    converged = final.agg(
        (F.lit(1) - F.coalesce(
            F.max((F.col("lbl") != F.col("prev")).cast("int")), F.lit(0)))
        .cast("int").alias("converged"))
    sized = final.groupBy("lbl").agg(
        F.count("*").cast("bigint").alias("comm_size"))
    return (final.select("id", "lbl")
            .join(sized, "lbl")
            .crossJoin(F.broadcast(converged))
            .select(F.col("id").alias("doc_id"),
                    F.col("lbl").alias("community"),
                    "comm_size",
                    F.when(F.col("lbl") == F.col("id"), 1).otherwise(0)
                    .cast("int").alias("is_exemplar"),
                    "converged"))


register("q_label_prop", QuerySpec(
    spark_fn=_label_prop_spark, oracle=_label_prop_oracle(),
    doc="label-propagation community detection (Raghavan et al. 2007, "
        "deterministic synchronous self-vote variant): adaptive "
        "driver-checked loop to a proven fixpoint vs an unrolled DuckDB "
        "oracle, with in-query convergence proof and community sizes"))


# ---- modularity audit of the source partition ----------------------------------


def _modularity(d: str) -> str:
    """Newman modularity (Newman & Girvan 2004, eq. 5) of the SOURCE
    partition over the undirected link graph: per community c,
    Q_c = L_c/m - (D_c/2m)^2 where L_c = intra-community edges, D_c = sum
    of member degrees, m = total edges; Q = sum_c Q_c. The standard audit
    of whether a node attribute explains the link structure — run it on
    crawl `source` (as here) or on q_label_prop's communities to decide
    whether source-level weighting and community-level weighting differ.
    On the md5-synthetic graph sources are unrelated to link targets, so
    Q ~ 0 (the null-model reading) — the honest expected value, asserted
    in tests/test_linkgraph.py against an independent Python replay.

    Bit-parity: every float derives from exact bigint aggregates (edge
    counts, degree sums, sum of squared degree sums) through ONE
    identically-written IEEE expression per column, then round(9) — no
    cross-engine float summation anywhere. Scale shape (10^12 pages):
    und/deg/intra are single keyed exchanges over the edge list; the
    community tables are host-cardinality (orders below pages); the
    final join is community-keyed. degree_sum^2 is summed as bigint —
    exact until a single community's degree sum passes 3e9, the honest
    overflow edge a 10^12-page run would pre-aggregate in double."""
    return f"""
    WITH {link_ctes(d)},
    und AS {D.mat(d)}(
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM links WHERE src <> dst
    ),
    mm AS (SELECT cast(count(*) as double) AS m FROM und),
    com AS (SELECT doc_id, source AS community FROM documents),
    deg AS (
      SELECT id, cast(count(*) as bigint) AS deg FROM (
        SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und) e
      GROUP BY id
    ),
    intra AS {D.mat(d)}(
      SELECT cu.community, cast(count(*) as bigint) AS intra_edges
      FROM und
      JOIN com cu ON cu.doc_id = und.u
      JOIN com cv ON cv.doc_id = und.v
      WHERE cu.community = cv.community
      GROUP BY cu.community
    ),
    dsum AS {D.mat(d)}(
      SELECT c.community, cast(count(*) as bigint) AS n_nodes,
             cast(sum(coalesce(dg.deg, 0)) as bigint) AS degree_sum
      FROM com c LEFT JOIN deg dg ON dg.id = c.doc_id
      GROUP BY c.community
    ),
    tot AS (
      SELECT cast(sum(coalesce(i.intra_edges, 0)) as double) AS si,
             cast(sum(ds.degree_sum * ds.degree_sum) as double) AS sq
      FROM dsum ds LEFT JOIN intra i ON i.community = ds.community
    )
    SELECT ds.community,
           ds.n_nodes,
           cast(coalesce(i.intra_edges, 0) as bigint) AS intra_edges,
           ds.degree_sum,
           round(cast(coalesce(i.intra_edges, 0) as double) / mm.m
                 - cast(ds.degree_sum * ds.degree_sum as double)
                   / ({D.dbl(4.0)} * mm.m * mm.m), 9) AS q_contrib,
           round(t.si / mm.m - t.sq / ({D.dbl(4.0)} * mm.m * mm.m), 9)
             AS q_total
    FROM dsum ds
    LEFT JOIN intra i ON i.community = ds.community
    CROSS JOIN mm
    CROSS JOIN tot t
    """


sql_template("q_modularity", _modularity,
             "Newman modularity audit of the source partition over the "
             "link graph: per-community L_c/m - (D_c/2m)^2 from exact "
             "integer aggregates, plus the global Q")


# ---- Broder bowtie decomposition ------------------------------------------------

BT_ORACLE_ROUNDS = 18  # fixed unroll depth for the DuckDB oracle ONLY:
                       # BFS depth on the md5-synthetic graph is ~9-12
                       # across 500-20,000 nodes (random-graph diameter
                       # ~ ln n / ln avg_deg); reachability sets are
                       # monotone, so rounds past the fixpoint are exact
                       # no-ops and 18 is pure headroom — the oracle
                       # re-checks convergence in-query
BT_MAX_ROUNDS = 64     # hard cap for the adaptive Spark frontier loops


def _bt_reach_ctes(tag: str, edges: str) -> list[str]:
    """Unrolled monotone reachability from ``pivot`` over ``edges``
    (src, dst) as DuckDB CTEs ``{tag}0..{tag}N``: each round unions the
    out-neighbors of the current set. Monotone and bounded, so any
    depth >= the true BFS eccentricity lands on the exact closure."""
    ctes = [f"{tag}0 AS MATERIALIZED (SELECT id FROM pv)"]
    for r in range(BT_ORACLE_ROUNDS):
        ctes.append(f"""{tag}{r + 1} AS MATERIALIZED (
      SELECT DISTINCT id FROM (
        SELECT id FROM {tag}{r}
        UNION ALL
        SELECT e.dst AS id FROM {edges} e
        JOIN {tag}{r} p ON p.id = e.src) u)""")
    return ctes


def _bowtie_oracle() -> str:
    """Bowtie regions as the set algebra over three exact reachability
    closures from the max-degree pivot: SCC = fwd ∩ bwd, IN = bwd \\ SCC,
    OUT = fwd \\ SCC, TENDRIL = (weakly connected) \\ (SCC ∪ IN ∪ OUT)
    — Broder's tendrils+tubes lumped, as in the paper's Table 1 —
    DISCONNECTED = outside the pivot's weak component. Convergence is
    re-checked in-query: monotone set sizes equal across the last two
    rounds prove all three closures are fixpoints."""
    dd = D.DUCKDB
    ctes = [link_ctes(dd), """degs AS (
      SELECT id, cast(count(*) as bigint) AS dg FROM (
        SELECT src AS id FROM links
        UNION ALL
        SELECT dst AS id FROM links) x
      GROUP BY id)""", """pv AS MATERIALIZED (
      SELECT id FROM degs ORDER BY dg DESC, id LIMIT 1)""", """rev AS MATERIALIZED (
      SELECT dst AS src, src AS dst FROM links)""", """sym AS MATERIALIZED (
      SELECT src, dst FROM links
      UNION ALL
      SELECT dst AS src, src AS dst FROM links)"""]
    ctes += _bt_reach_ctes("fw", "links")
    ctes += _bt_reach_ctes("bw", "rev")
    ctes += _bt_reach_ctes("wc", "sym")
    R, P = BT_ORACLE_ROUNDS, BT_ORACLE_ROUNDS - 1
    ctes.append(f"""conv AS (
      SELECT cast(CASE WHEN (SELECT count(*) FROM fw{R})
                          = (SELECT count(*) FROM fw{P})
                   AND (SELECT count(*) FROM bw{R})
                          = (SELECT count(*) FROM bw{P})
                   AND (SELECT count(*) FROM wc{R})
                          = (SELECT count(*) FROM wc{P})
                  THEN 1 ELSE 0 END as int) AS converged)""")
    ctes.append(f"""tagged AS MATERIALIZED (
      SELECT d.doc_id,
             CASE WHEN f.id IS NOT NULL AND b.id IS NOT NULL THEN 'SCC'
                  WHEN b.id IS NOT NULL THEN 'IN'
                  WHEN f.id IS NOT NULL THEN 'OUT'
                  WHEN w.id IS NOT NULL THEN 'TENDRIL'
                  ELSE 'DISCONNECTED' END AS region
      FROM documents d
      LEFT JOIN fw{R} f ON f.id = d.doc_id
      LEFT JOIN bw{R} b ON b.id = d.doc_id
      LEFT JOIN wc{R} w ON w.id = d.doc_id)""")
    ctes.append("""sized AS (
      SELECT region, cast(count(*) as bigint) AS region_size
      FROM tagged GROUP BY region)""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT t.doc_id,
           t.region,
           s.region_size,
           cast((SELECT id FROM pv) as bigint) AS pivot_id,
           c.converged
    FROM tagged t
    JOIN sized s ON s.region = t.region
    CROSS JOIN conv c
    """


def _bt_reach_spark(edges: DataFrame, pivot_df: DataFrame) -> DataFrame:
    """Adaptive frontier BFS to the exact reachability closure: per
    round one src-keyed join (frontier is tiny and broadcastable most
    rounds — AQE decides) + one anti-join against the closure so far;
    loops.fixpoint observes the new frontier's size and exits at the
    PROVEN empty frontier, raising past BT_MAX_ROUNDS rather than
    returning a truncated closure. The closure is APPEND-ONLY in deed as
    well as word: only each round's new frontier is ever materialized;
    the closure the anti-join (and the caller) sees is the lazy union of
    the already-checkpointed per-round frontiers, so per-round
    checkpoint I/O is frontier-sized, never O(|closure|). Scale shape
    (10^12 pages): per-round traffic is frontier-sized, and on a
    cluster the edge side is bucketed by src so rounds reuse one
    partitioning."""
    frontiers = []

    def expand(frontier):
        frontiers.append(frontier)
        reached = functools.reduce(DataFrame.unionAll, frontiers)
        return (edges.join(frontier.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id")).distinct()
                .join(reached, "id", "left_anti"))

    loops.fixpoint(expand, loops.checkpoint(pivot_df),
                   changed=F.count(F.lit(1)).alias("n"),
                   max_rounds=BT_MAX_ROUNDS, what="reachability closure")
    return functools.reduce(DataFrame.unionAll, frontiers)


def _bowtie_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowtie decomposition of the web graph (Broder et al. 2000,
    "Graph structure in the Web"): classify every page relative to the
    strongly connected component of a deterministic pivot (max total
    degree, ties to the smallest id — the paper anchors on the giant
    SCC; the max-degree page sits inside it on any graph where the
    giant SCC exists) into SCC / IN / OUT / TENDRIL (tendrils+tubes
    lumped, per the paper's Table 1) / DISCONNECTED. The crawl-policy
    instrument: recrawl budgets concentrate on SCC+IN, OUT-heavy hosts
    are sinks, DISCONNECTED mass measures frontier leakage.

    Three adaptive frontier-BFS closures (forward, reverse, undirected)
    over the checkpointed edge list, then one classification join —
    exact, not the HyperBall estimate (q_effective_diameter /
    q_harmonic_hyperball remain the approximate O(n log n) scale path
    for distance DISTRIBUTIONS; the bowtie needs only set membership,
    which is exactly computable at web scale this way — Broder ran it
    on 200M pages in 2000)."""
    pipeline.register_tables(spark, sf_dir, ("documents",))
    links = loops.checkpoint(spark.sql(
        f"WITH {link_ctes(D.SPARK)} SELECT src, dst FROM links"))
    degs = (links.select(F.col("src").alias("id"))
            .unionAll(links.select(F.col("dst").alias("id")))
            .groupBy("id").agg(F.count(F.lit(1)).alias("dg")))
    piv = degs.agg(F.max(F.struct(F.col("dg"), (-F.col("id")).alias("ni")))
                   .alias("m")).select((-F.col("m.ni")).alias("id"))
    piv_row = piv.collect()[0]  # 1-row sanctioned aggregate
    if piv_row["id"] is None:   # edgeless corpus: max(struct) is NULL
        raise ValueError(
            "q_bowtie: link graph has no edges — bow-tie decomposition "
            "is undefined without a pivot (every page would be "
            "DISCONNECTED)")
    pivot_id = int(piv_row["id"])
    pivot_df = spark.createDataFrame([(pivot_id,)], "id bigint")
    rev = links.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    sym = loops.checkpoint(links.unionAll(rev))
    fw = _bt_reach_spark(links, pivot_df)
    bw = _bt_reach_spark(loops.checkpoint(rev), pivot_df)
    wc = _bt_reach_spark(sym, pivot_df)
    docs = spark.table("documents").select("doc_id")
    tagged = loops.checkpoint(
        docs
        .join(fw.withColumnRenamed("id", "doc_id")
              .withColumn("f", F.lit(1)), "doc_id", "left")
        .join(bw.withColumnRenamed("id", "doc_id")
              .withColumn("b", F.lit(1)), "doc_id", "left")
        .join(wc.withColumnRenamed("id", "doc_id")
              .withColumn("w", F.lit(1)), "doc_id", "left")
        .select("doc_id",
                F.when(F.col("f").isNotNull()
                       & F.col("b").isNotNull(), "SCC")
                .when(F.col("b").isNotNull(), "IN")
                .when(F.col("f").isNotNull(), "OUT")
                .when(F.col("w").isNotNull(), "TENDRIL")
                .otherwise("DISCONNECTED").alias("region")))
    sized = tagged.groupBy("region").agg(
        F.count(F.lit(1)).cast("bigint").alias("region_size"))
    return (tagged.join(F.broadcast(sized), "region")
            .select("doc_id", "region", "region_size",
                    F.lit(pivot_id).cast("bigint").alias("pivot_id"),
                    F.lit(1).cast("int").alias("converged")))


register("q_bowtie", QuerySpec(
    spark_fn=_bowtie_spark, oracle=_bowtie_oracle(),
    doc="Broder bowtie decomposition (SCC/IN/OUT/TENDRIL/DISCONNECTED "
        "relative to the max-degree pivot's SCC): three adaptive "
        "frontier-BFS closures to proven fixpoint vs an unrolled DuckDB "
        "oracle with in-query convergence re-check"))
