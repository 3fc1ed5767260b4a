"""Distributed Lloyd's k-means over the embeddings table — the coarse
quantizer a production IVF similarity index trains before bucketing
(Jegou et al., "Product Quantization for Nearest Neighbor Search", §IV;
the engine's q_ann_ivf_topk consumes exactly such a partition of the
vector space). The reference engine has no vector surface; this is part
of the training-data-pipeline brief.

Bit-parity design (same doctrine as linkgraph_q): the WHOLE iteration is
exact integer arithmetic. Embeddings quantize once as q = round(v * 2^20)
+ 2^21 — the 2^20 multiply is a float exponent shift (IEEE-exact, so the
round() tie cases are deterministic and identical in both engines'
half-away-from-zero semantics) and the 2^21 offset keeps every operand
non-negative so Spark's truncating ``div`` and DuckDB's flooring ``//``
agree (dialect.idiv_i contract). Distances are exact bigint sums of
squared diffs (<= 64 * 2^42 < 2^63); centroid updates are exact integer
means; argmin ties break on centroid id. Spark loop and unrolled DuckDB
oracle therefore agree BIT-FOR-BIT at every round. Rounds are FIXED at
KM_ROUNDS in both renderings; the ``n_changed`` audit column (how many
vectors switched cluster in the final round — an exact integer) makes
the truncation honest: 0 proves Lloyd converged, the standard k-means
stopping criterion.

Scale shape (10^9+ vectors): vectors live in long form (vec_id, dim, q)
— one row per coordinate — so assignment is a broadcast join against the
K*64-row centroid table, a (vec_id, cid)-keyed partial-aggregated sum,
and one vec_id-keyed window argmin; the update is a (cid, dim)-keyed
aggregation whose output is again K*64 rows. Nothing ever shuffles more
than the quantized coordinate stream; centroids stay broadcast-size by
construction. (Production kernels pack the 64 coordinates back into an
array and assign via one vectorized pandas UDF pass — the plumbing swap
is local to the assignment stage; the long form is what keeps the whole
recurrence oracle-checkable. Seeding is first-K here — deterministic;
production uses k-means|| — the per-round recurrence is identical.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from unmixing_spark import dialect as D
from unmixing_spark import loops, pipeline
from unmixing_spark.queries import QuerySpec, register

KM_K = 8           # coarse-quantizer cells (IVF nlist at toy scale)
KM_ROUNDS = 10     # fixed Lloyd depth, both renderings (see module doc)
KM_SCALE = 1 << 20   # quantization step: multiply is an exponent shift
KM_SHIFT = 1 << 21   # offset making every quantized coordinate positive


def _qemb_ctes(d: str) -> str:
    """CTE fragment ending in ``emb``(vec_id, dim, q): the embeddings
    array exploded to long form and quantized to exact positive bigints.
    Spark: LATERAL VIEW posexplode; DuckDB: zipped double-unnest (the
    repo's established pattern, text_q.py)."""
    if d == D.SPARK:
        body = f"""
      SELECT vec_id, pos0 + 1 AS dim,
             cast(round(cast(val as double) * {D.dbl(float(KM_SCALE))})
                  as bigint) + {KM_SHIFT} AS q
      FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos0, val"""
    else:
        body = f"""
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS dim,
             cast(round(cast(unnest(embedding) as double)
                        * {D.dbl(float(KM_SCALE))}) as bigint)
               + {KM_SHIFT} AS q
      FROM embeddings"""
    return f"emb AS {D.mat(d)}({body})"


def _lloyd_ctes() -> tuple[list[str], str]:
    """DuckDB CTE chain for the unrolled KM_ROUNDS-deep Lloyd iteration:
    per round an assignment CTE (exact integer distances, argmin window
    with cid tie-break) and a centroid-update CTE (exact integer means,
    empty clusters keep their previous centroid via the self-coalescing
    LEFT join). Returns (ctes, final_assignment_cte_name) so consumers
    (q_kmeans_quantizer, q_semdedup) can build on the fitted
    assignment."""
    dd = D.DUCKDB
    mean = D.idiv_i("u.s", "u.cnt", dd)
    ctes = [_qemb_ctes(dd), f"""c0 AS MATERIALIZED (
      SELECT cast(vec_id as bigint) AS cid, dim, q AS c
      FROM emb WHERE vec_id < {KM_K})"""]
    for r in range(1, KM_ROUNDS + 1):
        ctes.append(f"""a{r} AS MATERIALIZED (
      SELECT vec_id, cid, d2 FROM (
        SELECT e.vec_id, c.cid,
               sum((e.q - c.c) * (e.q - c.c)) AS d2,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY sum((e.q - c.c) * (e.q - c.c)), c.cid) AS rn
        FROM emb e JOIN c{r - 1} c ON c.dim = e.dim
        GROUP BY e.vec_id, c.cid) z
      WHERE rn = 1)""")
        ctes.append(f"""c{r} AS MATERIALIZED (
      SELECT p.cid, p.dim, cast(coalesce({mean}, p.c) as bigint) AS c
      FROM c{r - 1} p LEFT JOIN (
        SELECT a.cid, e.dim, sum(e.q) AS s, count(*) AS cnt
        FROM a{r} a JOIN emb e ON e.vec_id = a.vec_id
        GROUP BY a.cid, e.dim) u
        ON u.cid = p.cid AND u.dim = p.dim)""")
    return ctes, f"a{KM_ROUNDS}"


def _kmeans_oracle() -> str:
    """q_kmeans_quantizer's DuckDB rendering: the Lloyd chain plus the
    moved-count convergence audit."""
    ctes, last_name = _lloyd_ctes()
    last, prev = KM_ROUNDS, KM_ROUNDS - 1
    ctes.append(f"""moved AS (
      SELECT count(*) AS n_changed
      FROM a{last} x JOIN a{prev} y
        ON y.vec_id = x.vec_id AND y.cid <> x.cid)""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT a.vec_id,
           cast(a.cid as bigint)                          AS cluster,
           cast(a.d2 as bigint)                           AS dist_sq,
           cast(count(*) OVER (PARTITION BY a.cid) as bigint)
                                                          AS cluster_size,
           cast((SELECT n_changed FROM moved) as bigint)  AS n_changed,
           cast({KM_ROUNDS} as bigint)                    AS rounds
    FROM a{last} a
    """


EMB_DIM = 64   # embedding width (the embeddings table's fixed dimension)

# Quantization as an array transform — the SAME per-element expression
# the long-form _qemb_ctes posexplode applies (IEEE-exact multiply +
# HALF_UP round + offset), so the array path is bit-identical.
_QS_EXPR = (f"transform(embedding, v -> "
            f"cast(round(cast(v as double) * {D.dbl(float(KM_SCALE))}) "
            f"as bigint) + {KM_SHIFT})")


def _batch_qmatrix(batch, dims: int):
    """(vec_ids int64[n], Q int64[n, dims]) from a RecordBatch of
    (vec_id, qs array<bigint>) — flat view over the Arrow list column,
    validated against the fixed embedding width."""
    import numpy as np

    vec_ids = batch.column(0).to_numpy(zero_copy_only=False)
    qs = batch.column(1)
    offs = qs.offsets.to_numpy(zero_copy_only=False)
    widths = np.diff(offs)
    if len(widths) and not (widths == dims).all():
        raise ValueError(f"ragged embedding widths: {set(widths)}")
    Q = (qs.flatten().to_numpy(zero_copy_only=False)
         .astype("int64", copy=False).reshape(-1, dims))
    return vec_ids.astype("int64", copy=False), Q


def _assign_np(Q, cb_np: dict):
    """Vectorized exact-int64 Lloyd assignment of the quantized rows
    ``Q`` against the codebook {sub: (cids, C)}: d2 = sum of squared
    bigint diffs (|diff| <= 2^22, 64 dims → < 2^50, exact in int64);
    np.argmin returns the FIRST minimum and the cids axis is sorted
    ascending, so ties break to the smaller cid — the identical
    ORDER BY d2, cid rule of the unrolled oracle. Returns per sub
    (cids_chosen int64[n], d2 int64[n])."""
    import numpy as np

    out = {}
    for s, (cids, C) in cb_np.items():
        lo = 0 if s is None else s * C.shape[1]
        Qs = Q[:, lo:lo + C.shape[1]]
        diff = Qs[:, None, :] - C[None, :, :]
        d2 = np.einsum("nkd,nkd->nk", diff, diff)
        best = d2.argmin(axis=1)
        out[s] = (cids[best], d2[np.arange(len(best)), best])
    return out


def _lloyd_loop(emb_arr, cb: dict, rounds: int, dims: int):
    """The ONE Spark Lloyd recurrence, shared by the single quantizer
    (cb={None: ...}) and PQ (cb keyed by subspace), as a vectorized
    Arrow kernel (round-6 optimization; guide §4.2 and this module's
    own scale note — "production kernels pack the 64 coordinates back
    into an array and assign via one vectorized pandas UDF pass"):
    ``emb_arr`` is the checkpointed (vec_id, qs array<bigint>) table;
    the codebook lives as driver-side integers {sub_or_None: [(cid,
    [ints])]} — K x dims values, broadcast-scale metadata, the same
    per-iteration driver aggregate pyspark.ml's KMeans collects. Per
    round ONE mapInArrow job computes assignments AND per-cluster
    partial sums inside the task (no shuffle at all; K rows per task
    reach the driver), and the integer means s // cnt (non-negative →
    Python floor-div == Spark div) build the next codebook; empty
    clusters carry their centroid. All arithmetic is the identical
    exact-bigint recurrence, so results stay bit-identical to the
    unrolled DuckDB oracle (snapshot-pinned + tests). Replaces the old
    per-round broadcast-join + argmin-window + centroid-join +
    checkpoint (4+ stages and two wide exchanges per round). Returns
    the final assignment DataFrame (vec_id[, sub], cid, d2, prev_cid)
    where ``prev_cid`` is the round-(rounds-1) assignment — the
    moved-count audit needs exactly that pair, join-free."""
    import numpy as np

    def np_cb(codebook: dict) -> dict:
        return {s: (np.array([c for c, _ in cands], dtype="int64"),
                    np.array([v for _, v in cands], dtype="int64"))
                for s, cands in codebook.items()}

    sub_keyed = None not in cb
    subdims = dims if not sub_keyed else dims // len(cb)
    part_schema = ("sub long, cid long, cnt long, "
                   + ", ".join(f"s{i} long" for i in range(subdims)))

    def update_fn(codebook: dict):
        cbn = np_cb(codebook)

        def fn(it):
            import pyarrow as pa

            acc: dict = {}
            for batch in it:
                _, Q = _batch_qmatrix(batch, dims)
                chosen = _assign_np(Q, cbn)
                for s, (cids, _) in chosen.items():
                    lo = 0 if s is None else s * subdims
                    Qs = Q[:, lo:lo + subdims]
                    for cid in np.unique(cids):
                        m = cids == cid
                        key = (-1 if s is None else s, int(cid))
                        ssum, cnt = acc.get(key, (0, 0))
                        acc[key] = (ssum + Qs[m].sum(axis=0,
                                                     dtype="int64"),
                                    cnt + int(m.sum()))
            if acc:
                rows = sorted(acc.items())
                cols = ([pa.array([s for (s, _), _ in rows], pa.int64()),
                         pa.array([c for (_, c), _ in rows], pa.int64()),
                         pa.array([cnt for _, (_, cnt) in rows],
                                  pa.int64())]
                        + [pa.array([int(ssum[i])
                                     for _, (ssum, _) in rows],
                                    pa.int64())
                           for i in range(subdims)])
                yield pa.RecordBatch.from_arrays(
                    cols, ["sub", "cid", "cnt"]
                    + [f"s{i}" for i in range(subdims)])
        return fn

    def assign_fn(codebook: dict, prev_codebook: dict):
        cbn, pcbn = np_cb(codebook), np_cb(prev_codebook)

        def fn(it):
            import pyarrow as pa

            for batch in it:
                vec_ids, Q = _batch_qmatrix(batch, dims)
                cur = _assign_np(Q, cbn)
                prv = _assign_np(Q, pcbn)
                for s in sorted(cur, key=lambda x: -1 if x is None else x):
                    cids, d2 = cur[s]
                    arrays = [pa.array(vec_ids, pa.int64())]
                    names = ["vec_id"]
                    if s is not None:
                        arrays.append(pa.array(
                            np.full(len(vec_ids), s, dtype="int64"),
                            pa.int64()))
                        names.append("sub")
                    arrays += [pa.array(cids, pa.int64()),
                               pa.array(d2, pa.int64()),
                               pa.array(prv[s][0], pa.int64())]
                    names += ["cid", "d2", "prev_cid"]
                    yield pa.RecordBatch.from_arrays(arrays, names)
        return fn

    # round r's assignment a_r scores against codebook c_{r-1} and its
    # aggregate builds c_r; the outputs score against c_{rounds-1}
    # (final) and c_{rounds-2} (prev) — exactly the unrolled oracle's
    cbs = [cb]
    for _ in range(rounds):
        partials = (emb_arr.mapInArrow(update_fn(cbs[-1]), part_schema)
                    .collect())
        agg: dict = {}
        for row in partials:
            key = (None if row["sub"] == -1 else int(row["sub"]),
                   int(row["cid"]))
            ssum, cnt = agg.get(key, ([0] * subdims, 0))
            agg[key] = ([a + int(row[f"s{i}"])
                         for i, a in enumerate(ssum)],
                        cnt + int(row["cnt"]))
        new_cb = {s: dict(cands) for s, cands in cbs[-1].items()}
        for (s, cid), (ssum, cnt) in agg.items():
            new_cb[s][cid] = [v // cnt for v in ssum]
        cbs.append({s: sorted(cands.items())
                    for s, cands in new_cb.items()})
    keys = "vec_id long, " + ("sub long, " if sub_keyed else "")
    out_schema = keys + "cid long, d2 long, prev_cid long"
    return emb_arr.mapInArrow(assign_fn(cbs[-2], cbs[-3]), out_schema)


def _lloyd_assign(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """Driver-loop twin of ``_lloyd_ctes``: runs the KM_ROUNDS Lloyd
    iteration (Arrow-kernel form) and returns (emb, assign) where
    ``assign`` carries (vec_id, cid, d2, prev_cid). The returned ``emb``
    is the LONG-form (vec_id, dim, q) coordinate view the dual-rendered
    SemDeDup tail consumes — derived lazily from the checkpointed array
    table by one posexplode (cheap, no window), so the coordinates are
    the same checkpointed bigints the loop used."""
    emb_tbl = spark.table("embeddings")
    # loop partitioning sized from the table (guide §2.2 — ~520 B per
    # (vec_id, qs) row): each Lloyd round is one mapInArrow job whose
    # task count otherwise inherits the session constant, paying ~32
    # Python task dispatches per round for sub-ms of kernel work; at
    # cluster scale the formula saturates the configured parallelism
    k = loops.nparts(spark, emb_tbl.count(), row_bytes=520)
    emb_arr = loops.checkpoint(
        emb_tbl.select("vec_id", F.expr(_QS_EXPR).alias("qs"))
        .repartition(k, "vec_id"))
    cb0 = {None: sorted(
        (int(r["vec_id"]), [int(v) for v in r["qs"]])
        for r in emb_arr.filter(F.col("vec_id") < KM_K).collect())}

    # the final assignment pass crosses the Python boundary — landed
    # once (eager localCheckpoint): its consumers (moved-count audit +
    # output in the quantizer; the SemDeDup/PQ tails) each re-executed
    # the Arrow kernel otherwise
    assign = loops.checkpoint(_lloyd_loop(emb_arr, cb0, KM_ROUNDS, EMB_DIM))
    emb_long = (emb_arr
                .select("vec_id", F.posexplode("qs").alias("pos0", "q"))
                .select("vec_id", (F.col("pos0") + 1).alias("dim"), "q"))
    return emb_long, assign


def kmeans_over_embeddings(spark: SparkSession) -> DataFrame:
    """q_kmeans_quantizer's Spark side: the Lloyd loop plus the
    moved-count convergence audit, mirroring ``_kmeans_oracle`` (the
    kernel emits final and previous assignments side by side, so the
    audit is a join-free filter+count)."""
    emb, assign = _lloyd_assign(spark)

    moved = (assign.filter(F.col("cid") != F.col("prev_cid"))
             .agg(F.count("*").alias("n_changed")))
    size = Window.partitionBy("cid")
    return (assign
            .select("vec_id",
                    F.col("cid").cast("bigint").alias("cluster"),
                    F.col("d2").cast("bigint").alias("dist_sq"),
                    F.count("*").over(size).cast("bigint")
                    .alias("cluster_size"))
            .crossJoin(F.broadcast(
                moved.select(F.col("n_changed").cast("bigint")
                             .alias("n_changed"))))
            .withColumn("rounds", F.lit(KM_ROUNDS).cast("bigint")))


def _kmeans_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    pipeline.register_tables(spark, sf_dir, ("embeddings",))
    return kmeans_over_embeddings(spark)


register("q_kmeans_quantizer", QuerySpec(
    spark_fn=_kmeans_spark, oracle=_kmeans_oracle(),
    doc="IVF coarse-quantizer training: Lloyd's k-means over exact-"
        "integer quantized embeddings (bit-identical across engines), "
        "fixed depth with an exact moved-count convergence audit column"))


# ---- SemDeDup: cluster-bucketed semantic deduplication -----------------------

SEM_TAU = 0.3   # within-cluster cosine threshold. SemDeDup runs ~1-eps
                # (≈0.95+) on real embeddings; the synthetic table has no
                # planted >0.95 pairs (max pairwise cos ≈ 0.51 — same
                # tuning note as q_embedding_neardup's 0.35), so 0.3
                # keeps the operator non-vacuous: ~350 within-cluster
                # pairs at sf0.01, keep-majority preserved.


def _semdedup_tail(d: str, emb: str, asg: str) -> str:
    """The post-clustering SemDeDup pass (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): within each k-means cluster, compute pairwise
    cosines and drop every member that has an above-SEM_TAU neighbor
    closer to the centroid — i.e. per duplicate neighborhood the point
    FARTHEST from the centroid survives (the paper's keep-low-
    centroid-similarity rule, maximizing retained diversity). ``keep``
    is the local-maximum rule over exact integer centroid distances
    (ties break toward the smaller vec_id), so every above-threshold
    neighborhood keeps exactly its extreme member(s) and the decision
    is deterministic in both engines.

    Shared CTE text rendered for both dialects over ``emb`` (quantized
    long-form coordinates) and ``asg`` (the fitted Lloyd assignment):
    dots/norms are EXACT bigint sums of centered quantized values
    (|v| <= 2^21, 64 dims → |dot| <= 2^48 < 2^53, so the double casts
    are exact and sqrt/division are identical IEEE ops in both
    engines); the only float is the final cosine, rounded to 6 in both
    renderings before thresholding.

    Scale shape: every stage is keyed by cluster id — the all-pairs
    stage is O(sum c_i^2), which is exactly what SemDeDup's cluster
    count controls (the paper uses 50k clusters for LAION; c_i ~ n/K
    makes the pass O(n^2/K) spread across K independent buckets, and
    K scales with n). The long form multiplies by the 64 dims so the
    recurrence stays oracle-checkable; a production kernel packs the
    dims into arrays and runs the same join as one vectorized pandas
    UDF per cluster partition (the swap is local to the dots stage)."""
    return f"""cen AS {D.mat(d)}(
      SELECT e.vec_id, a.cid, a.d2, e.dim, e.q - {KM_SHIFT} AS v
      FROM {emb} e JOIN {asg} a ON a.vec_id = e.vec_id),
    nrm AS {D.mat(d)}(
      SELECT vec_id, cid, d2, sum(v * v) AS n2
      FROM cen GROUP BY vec_id, cid, d2),
    dots AS (
      SELECT x.cid, x.vec_id AS a, y.vec_id AS b, sum(x.v * y.v) AS dp
      FROM cen x JOIN cen y
        ON y.cid = x.cid AND y.dim = x.dim AND y.vec_id <> x.vec_id
      GROUP BY x.cid, x.vec_id, y.vec_id),
    sim AS (
      SELECT d.a, d.b, na.d2 AS da, nb.d2 AS db,
             round(cast(d.dp as double)
                   / nullif(sqrt(cast(na.n2 as double))
                            * sqrt(cast(nb.n2 as double)), 0), 6) AS cos_ab
      FROM dots d
      JOIN nrm na ON na.vec_id = d.a
      JOIN nrm nb ON nb.vec_id = d.b),
    hits AS (
      SELECT a AS vec_id,
             cast(count(*) as bigint) AS n_dup_neighbors,
             max(cos_ab) AS max_cos,
             max(CASE WHEN db > da OR (db = da AND b < a)
                      THEN 1 ELSE 0 END) AS dominated
      FROM sim WHERE cos_ab >= {D.dbl(SEM_TAU)}
      GROUP BY a)
    SELECT n.vec_id,
           cast(n.cid as bigint) AS cluster,
           cast(n.d2 as bigint)  AS dist_sq,
           cast(count(*) OVER (PARTITION BY n.cid) as bigint)
             AS cluster_size,
           cast(coalesce(h.n_dup_neighbors, 0) as bigint)
             AS n_dup_neighbors,
           coalesce(h.max_cos, {D.dbl(-2.0)}) AS max_cos,
           cast(CASE WHEN coalesce(h.dominated, 0) = 1
                     THEN 0 ELSE 1 END as bigint) AS keep
    FROM nrm n LEFT JOIN hits h ON h.vec_id = n.vec_id
    """


def _semdedup_oracle() -> str:
    ctes, last = _lloyd_ctes()
    ctes.append(f"asg AS MATERIALIZED (SELECT vec_id, cid, d2 FROM {last})")
    return ("WITH " + ",\n    ".join(ctes) + ",\n    "
            + _semdedup_tail(D.DUCKDB, "emb", "asg"))


def semdedup_over_embeddings(spark: SparkSession) -> DataFrame:
    """q_semdedup's Spark side: the Lloyd loop feeds the shared tail via
    temp views, so the pair pass itself is one Catalyst-optimized SQL
    (cluster-keyed joins, no driver-side work beyond the k-means
    actions)."""
    emb, assign = _lloyd_assign(spark)
    emb.createOrReplaceTempView("sd_emb")
    assign.createOrReplaceTempView("sd_asg")
    return spark.sql("WITH " + _semdedup_tail(D.SPARK, "sd_emb", "sd_asg"))


def _semdedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    pipeline.register_tables(spark, sf_dir, ("embeddings",))
    return semdedup_over_embeddings(spark)


register("q_semdedup", QuerySpec(
    spark_fn=_semdedup_spark, oracle=_semdedup_oracle(),
    doc="SemDeDup (Abbas et al. 2023): k-means-bucketed embedding "
        "dedup — within-cluster exact-integer cosine pairs, keep the "
        "member farthest from the centroid per duplicate neighborhood"))


# ---- product quantization (PQ codes) ----------------------------------------

PQ_M = 4        # subspaces (code bytes per vector)
PQ_K = 8        # codewords per subspace
PQ_ROUNDS = 8   # fixed per-subspace Lloyd depth, both renderings
PQ_SUBDIM = 64 // PQ_M   # dims per subspace


def _pq_ctes() -> tuple[list[str], str]:
    """DuckDB chain for the unrolled per-subspace Lloyd iteration — the
    k-means recurrence of ``_lloyd_ctes`` with a subspace key: the
    64-dim vector splits into {PQ_M} x {PQ_SUBDIM}-dim sub-vectors,
    each quantized independently against its own {PQ_K}-codeword book
    (Jegou, Douze & Schmid 2011, "Product Quantization for Nearest
    Neighbor Search", §II.A). Same exact-integer doctrine: bigint
    distances, integer centroid means, cid tie-break — bit parity with
    the Spark loop at every round. The codebook table stays (cid, dim)
    keyed — a dim's subspace is implied — so the update join is
    LITERALLY the single-quantizer one; only the assignment's argmin
    partition gains the sub key."""
    dd = D.DUCKDB
    sub_e = D.idiv_i("(e.dim - 1)", str(PQ_SUBDIM), dd)
    mean = D.idiv_i("u.s", "u.cnt", dd)
    ctes = [_qemb_ctes(dd), f"""p0 AS MATERIALIZED (
      SELECT cast(vec_id as bigint) AS cid, dim, q AS c
      FROM emb WHERE vec_id < {PQ_K})"""]
    for r in range(1, PQ_ROUNDS + 1):
        ctes.append(f"""pa{r} AS MATERIALIZED (
      SELECT vec_id, sub, cid, d2 FROM (
        SELECT e.vec_id, {sub_e} AS sub, c.cid,
               sum((e.q - c.c) * (e.q - c.c)) AS d2,
               row_number() OVER (
                 PARTITION BY e.vec_id, {sub_e}
                 ORDER BY sum((e.q - c.c) * (e.q - c.c)), c.cid) AS rn
        FROM emb e JOIN p{r - 1} c ON c.dim = e.dim
        GROUP BY e.vec_id, {sub_e}, c.cid) z
      WHERE rn = 1)""")
        ctes.append(f"""p{r} AS MATERIALIZED (
      SELECT p.cid, p.dim, cast(coalesce({mean}, p.c) as bigint) AS c
      FROM p{r - 1} p LEFT JOIN (
        SELECT a.cid, e.dim, sum(e.q) AS s, count(*) AS cnt
        FROM pa{r} a
        JOIN emb e ON e.vec_id = a.vec_id AND {sub_e} = a.sub
        GROUP BY a.cid, e.dim) u
        ON u.cid = p.cid AND u.dim = p.dim)""")
    return ctes, f"pa{PQ_ROUNDS}"


def _pq_oracle() -> str:
    ctes, last = _pq_ctes()
    prev = f"pa{PQ_ROUNDS - 1}"
    code = " + ".join(
        f"max(CASE WHEN sub = {m} THEN cid END) * {PQ_K ** m}"
        for m in range(PQ_M))
    cols = ", ".join(
        f"cast(max(CASE WHEN sub = {m} THEN cid END) as bigint) AS c{m}"
        for m in range(PQ_M))
    ctes.append(f"""moved AS (
      SELECT count(*) AS n_changed
      FROM {last} x JOIN {prev} y
        ON y.vec_id = x.vec_id AND y.sub = x.sub AND y.cid <> x.cid)""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT vec_id, {cols},
           cast({code} as bigint) AS code,
           cast(sum(d2) as bigint) AS distortion,
           cast((SELECT n_changed FROM moved) as bigint) AS n_changed,
           cast({PQ_ROUNDS} as bigint) AS rounds
    FROM {last}
    GROUP BY vec_id
    """


def pq_codes_over_embeddings(spark: SparkSession) -> DataFrame:
    """q_pq_codes' Spark side — the driver-loop twin of ``_pq_ctes``:
    {PQ_M} independent {PQ_K}-codeword books trained simultaneously in
    one keyed recurrence (the sub key rides the argmin partition; the
    codebook table is still {PQ_K}x64 rows, broadcast every round), then
    per-vector code packing + total distortion. PQ is the compression
    leg of the ANN scale path: q_ann_ivf_topk's coarse quantizer routes
    a query to a cell, PQ codes re-rank inside it from {PQ_M} bytes per
    vector instead of 64 floats — at 10^9 vectors the re-rank working
    set drops 64x. Round shape: the SAME Arrow-kernel recurrence as
    q_kmeans_quantizer, with the codebook dict keyed by subspace (each
    sub's distances score the matching 16-dim slice of the row)."""
    emb_arr = loops.checkpoint(spark.table("embeddings")
                               .select("vec_id", F.expr(_QS_EXPR).alias("qs")))
    first = emb_arr.filter(F.col("vec_id") < PQ_K).collect()
    cb0 = {s: sorted(
        (int(r["vec_id"]),
         [int(v) for v in r["qs"]][s * PQ_SUBDIM:(s + 1) * PQ_SUBDIM])
        for r in first) for s in range(PQ_M)}

    assign = _lloyd_loop(emb_arr, cb0, PQ_ROUNDS, EMB_DIM)

    moved = (assign.filter(F.col("cid") != F.col("prev_cid"))
             .agg(F.count("*").alias("n_changed")))
    aggs = [F.max(F.when(F.col("sub") == m, F.col("cid")))
            .cast("bigint").alias(f"c{m}") for m in range(PQ_M)]
    aggs.append(F.sum("d2").cast("bigint").alias("distortion"))
    out = assign.groupBy("vec_id").agg(*aggs)
    code = sum(F.col(f"c{m}") * (PQ_K ** m) for m in range(PQ_M))
    return (out
            .select("vec_id", *[f"c{m}" for m in range(PQ_M)],
                    code.cast("bigint").alias("code"), "distortion")
            .crossJoin(F.broadcast(
                moved.select(F.col("n_changed").cast("bigint")
                             .alias("n_changed"))))
            .withColumn("rounds", F.lit(PQ_ROUNDS).cast("bigint")))


def _pq_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    pipeline.register_tables(spark, sf_dir, ("embeddings",))
    return pq_codes_over_embeddings(spark)


register("q_pq_codes", QuerySpec(
    spark_fn=_pq_spark, oracle=_pq_oracle(),
    doc="product quantization (Jegou et al. 2011): per-subspace exact-"
        "integer Lloyd codebooks, packed PQ code + total distortion per "
        "vector, moved-count convergence audit"))


# ---- prototype-based data pruning --------------------------------------------

PRUNE_KEEP_NUM, PRUNE_KEEP_DEN = 7, 10  # keep the hardest 70% per cluster


def _prototypes_tail(d: str, asg: str) -> str:
    """Prototype-distance data pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws: beating power law scaling via data pruning"):
    per k-means cluster, rank members by distance to their centroid
    (prototypicality = closeness; the paper's SSL-prototype metric) and,
    in the data-abundant regime, KEEP the hardest (farthest) fraction —
    the easy prototypical examples are the redundant ones. Exact-integer
    ranks over the fitted Lloyd assignment's d2 with vec_id tie-break;
    the per-cluster quota is the exact ceiling ceil(7n/10). Both
    row_number windows and the count share ONE cluster-keyed exchange.

    Scale shape: the assignment table is (vec_id, cid, d2) — the ranking
    is one cid-keyed window over it, nothing touches the coordinate
    stream again. At 10^9 vectors per cluster the exact window becomes a
    per-cluster top-quota selection (the q_stratified_sample escalation
    note applies verbatim)."""
    quota = D.idiv_i(f"{PRUNE_KEEP_NUM} * n + {PRUNE_KEEP_DEN - 1}",
                     str(PRUNE_KEEP_DEN), d)
    return f"""r AS (
      SELECT vec_id, cid, d2,
             row_number() OVER (PARTITION BY cid
                                ORDER BY d2 DESC, vec_id) AS hard_rank,
             row_number() OVER (PARTITION BY cid
                                ORDER BY d2 ASC, vec_id) AS proto_rank,
             count(*) OVER (PARTITION BY cid) AS n
      FROM {asg})
    SELECT vec_id,
           cast(cid as bigint)        AS cluster,
           cast(d2 as bigint)         AS dist_sq,
           cast(proto_rank as bigint) AS proto_rank,
           cast(n as bigint)          AS cluster_size,
           cast(CASE WHEN hard_rank <= {quota} THEN 1 ELSE 0 END
                as bigint)            AS keep
    FROM r"""


def _prototypes_oracle() -> str:
    ctes, last = _lloyd_ctes()
    ctes.append(f"asg AS MATERIALIZED (SELECT vec_id, cid, d2 FROM {last})")
    return ("WITH " + ",\n    ".join(ctes) + ",\n    "
            + _prototypes_tail(D.DUCKDB, "asg"))


def _prototypes_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    pipeline.register_tables(spark, sf_dir, ("embeddings",))
    _, assign = _lloyd_assign(spark)
    assign.createOrReplaceTempView("pr_asg")
    return spark.sql("WITH " + _prototypes_tail(D.SPARK, "pr_asg"))


register("q_prototypes", QuerySpec(
    spark_fn=_prototypes_spark, oracle=_prototypes_oracle(),
    doc="prototype-distance data pruning (Sorscher et al. 2022): keep "
        "the hardest ceil(7n/10) per cluster by exact-integer centroid "
        "distance, deterministic tie-break"))
