"""Embedding similarity search: brute-force baseline + LSH-bucketed scale path.

Brute force (the oracle-checked baseline, queries/text_q.q_ann_cosine_topk)
is O(Q·N) — fine for small Q, impossible at 10^12 corpus vectors. The scale
path is random-hyperplane LSH (Charikar 2002): vectors bucket by the sign
pattern of k seeded projections; queries probe only their own bucket (and
optionally neighboring buckets by Hamming distance). The bucket join is a
shuffle on the bucket key — candidates per query ≈ N / 2^k, tunable.

Two scale paths are implemented: multi-table sign-LSH (``ann_lsh_topk``)
and an IVF coarse quantizer (``ann_ivf_topk`` — spherical k-means inverted
lists, nearest-centroid assignment). Both reduce search to a bucket
equi-join; they differ in how buckets are built (data-independent
hyperplanes vs learned centroids) and therefore in recall/cost tuning.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    rng = np.random.default_rng(42)
    return rng.standard_normal((dim, n_planes))


def with_lsh_buckets(df: DataFrame, dim: int, n_planes: int = 4,
                     n_tables: int = 8) -> DataFrame:
    """Explode each row into the per-table LSH bucket keys of its
    ``embedding``.

    OR-construction over ``n_tables`` independent sign-pattern hashes
    (Charikar 2002 + Indyk-Motwani multi-table amplification): a candidate
    pair is generated if ANY table buckets them together — recall
    1-(1-p^k)^L where p = 1 - θ/π. Output rows: n_tables per input row,
    keyed by (table, bucket)."""
    H = hyperplanes(dim, n_planes * n_tables)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64)
        signs = (X @ H) > 0                              # (N, k*L)
        per_table = signs.reshape(len(X), -1, len(weights))  # (N, L, k)
        codes = (per_table * weights).sum(axis=2)        # (N, L)
        # disambiguate tables: bucket key = table * 2^k + code
        keys = codes + (np.arange(codes.shape[1]) << len(weights))
        return pd.Series(list(keys.astype(np.int64)))

    return df.withColumn("lsh_bucket", F.explode(buckets(F.col("embedding"))))


def _cosine_rerank(cand: DataFrame, k: int) -> DataFrame:
    """Shared exact-cosine scorer + deterministic top-k window over a
    candidate table (query_id, hit_id, q_emb, c_emb) — the final stage of
    every ANN path (brute force / LSH / IVF)."""
    dot = F.aggregate(
        F.zip_with(F.col("q_emb"), F.col("c_emb"),
                   lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0).cast("double"), lambda acc, v: acc + v)

    def norm2(col: str):
        return F.sqrt(F.aggregate(
            F.expr(f"transform({col}, x -> cast(x as double) * cast(x as double))"),
            F.lit(0.0).cast("double"), lambda acc, v: acc + v))

    scored = cand.select("query_id", "hit_id",
                         (dot / (norm2("q_emb") * norm2("c_emb"))).alias("cos"))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("hit_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k))


def _cand_shape(q: DataFrame, c: DataFrame) -> list:
    return [F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("hit_id"),
            F.col("q.embedding").alias("q_emb"),
            F.col("c.embedding").alias("c_emb")]


def ann_lsh_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
                 n_planes: int = 4, n_tables: int = 16) -> DataFrame:
    """Approximate top-k by cosine within shared LSH buckets.

    Both sides hash with the same seeded hyperplanes; the join is a bucket
    equi-join (shuffle on the bucket key — candidates only, never all
    pairs); multi-table duplicate pairs are dropped BEFORE scoring so the
    cosine is computed once per unique (query, hit) pair."""
    c = with_lsh_buckets(corpus, dim, n_planes, n_tables).alias("c")
    q = with_lsh_buckets(queries, dim, n_planes, n_tables).alias("q")
    cand = (q.join(c, F.col("q.lsh_bucket") == F.col("c.lsh_bucket"))
            .filter(F.col("q.vec_id") != F.col("c.vec_id"))
            .select(*_cand_shape(q, c))
            .dropDuplicates(["query_id", "hit_id"]))
    return _cosine_rerank(cand, k)


def ann_bruteforce_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact baseline: broadcast the query side, scan the corpus once."""
    c = corpus.alias("c")
    q = F.broadcast(queries).alias("q")
    cand = (c.crossJoin(q)
            .filter(F.col("q.vec_id") != F.col("c.vec_id"))
            .select(*_cand_shape(q, c)))
    return _cosine_rerank(cand, k)


def _l2_normed(df: DataFrame, out: str) -> DataFrame:
    """L2-normalize the ``embedding`` column into ``out``; DROP zero-norm
    vectors (cosine is undefined for them and a null-element unit vector
    would kill KMeans.fit). Shared by the IVF and IVF-PQ paths."""
    norm = F.sqrt(F.aggregate(
        F.expr("transform(embedding, x -> cast(x as double) * cast(x as double))"),
        F.lit(0.0).cast("double"), lambda a, v: a + v))
    unit = F.transform("embedding",
                       lambda x: x.cast("double") / F.nullif(norm, F.lit(0.0)))
    return (df.withColumn("__n2", norm).filter(F.col("__n2") > 0.0)
            .drop("__n2").withColumn(out, unit))


def _centroid_udfs(centroids: np.ndarray, n_probe: int):
    """(assign_list, probe_lists) pandas UDFs over a broadcast centroid
    array — nearest-centroid assignment and the n_probe nearest lists.
    One definition for the IVF and IVF-PQ paths."""

    @F.pandas_udf(T.IntegerType())
    def assign_list(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64)
        d2 = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_lists(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64)
        d2 = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d2, axis=1)[:, :n_probe]
        return pd.Series(list(order.astype(np.int32)))

    return assign_list, probe_lists


def _coarse_centroids(c_n: DataFrame, n_centroids: int) -> np.ndarray:
    """(n_centroids, dim) coarse-quantizer centers: seeded pyspark.ml
    KMeans over the ``unit`` column. One fit for the IVF and IVF-PQ
    paths."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    km = KMeans(k=n_centroids, seed=42, maxIter=20,
                featuresCol="features", predictionCol="ivf_list")
    model = km.fit(c_n.withColumn("features", array_to_vector("unit"))
                   .select("features"))
    return np.stack([np.asarray(c) for c in model.clusterCenters()])


def ann_ivf_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
                 n_centroids: int = 16, n_probe: int = 4) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer scale
    path the task brief names alongside LSH.

    Train: distributed k-means (pyspark.ml, seeded) over L2-normalized
    vectors (spherical k-means, so euclidean cells align with cosine
    neighborhoods). Index: every corpus vector lands in exactly ONE
    inverted list (its nearest centroid — a bucket column, the same join
    shape as the LSH path). Search: each query probes its ``n_probe``
    nearest lists; candidates come from a bucket equi-join — never a
    cross join — then exact cosine re-ranks. At 10^12 vectors the lists
    are the table's partition keys and n_probe/n_centroids tunes the
    recall/cost point; lists are disjoint so no candidate dedup is
    needed (unlike multi-table LSH)."""
    c_n = _l2_normed(corpus, "unit")
    assign_list, probe_lists = _centroid_udfs(
        _coarse_centroids(c_n, n_centroids), n_probe)

    c = (c_n.withColumn("ivf_list", assign_list("unit"))
         .select("vec_id", "embedding", "ivf_list").alias("c"))
    q = (_l2_normed(queries, "unit")
         .withColumn("ivf_list", F.explode(probe_lists("unit")))
         .select("vec_id", "embedding", "ivf_list").alias("q"))
    # inverted lists are disjoint → no candidate dedup needed
    cand = (q.join(c, "ivf_list")
            .filter(F.col("q.vec_id") != F.col("c.vec_id"))
            .select(*_cand_shape(q, c)))
    return _cosine_rerank(cand, k)


def ann_ivfpq_topk(corpus: DataFrame, queries: DataFrame, dim: int,
                   k: int = 5) -> DataFrame:
    """IVF-PQ approximate top-k (Jegou et al. 2011 §V, the FAISS
    IVFPQ+refine pattern) — the composed scale path: the IVF coarse
    quantizer (16 lists) prunes the corpus to the 4 nearest inverted
    lists, ASYMMETRIC DISTANCE (ADC) over 8-byte RESIDUAL codes (32
    centroids per subspace) ranks the candidates, and only the top-64
    survivors are re-ranked with exact cosine. Why it matters at 10^12
    vectors: the exact re-rank tier reads 64 floats for only 64 rows
    per query, while the ADC tier reads 8 bytes + table lookups per
    candidate — the bulk tier's working set drops ~64x, which is what
    keeps it in memory. Residual encoding (x − coarse centroid, §V) is
    what makes the codes discriminative inside a list: the shared coarse
    offset is removed before quantization.

    Training: one pyspark.ml KMeans for the coarse book and one per PQ
    subspace over the coarse RESIDUALS of the L2-normalized corpus
    (seeded). Output shape matches the other ANN paths (query_id,
    hit_id, cos, rn); rows-only by design, recall vs the exact baseline
    pinned in tests."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    n_centroids, n_probe, pq_m, pq_ks, shortlist = 16, 4, 8, 32, 64
    sd = dim // pq_m

    c_n = _l2_normed(corpus, "unit").cache()
    coarse = _coarse_centroids(c_n, n_centroids)
    assign_list, probe_lists = _centroid_udfs(coarse, n_probe)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def residual(v: pd.Series, lst: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64)
        R = X - coarse[lst.to_numpy().astype(np.int64)]
        return pd.Series(list(R))

    c_r = (c_n.withColumn("ivf_list", assign_list("unit"))
           .withColumn("resid", residual("unit", "ivf_list")).cache())

    # one PQ codebook per subspace, trained on the coarse residuals
    books = []
    for m in range(pq_m):
        sub = F.slice("resid", m * sd + 1, sd)
        bm = KMeans(k=pq_ks, seed=42 + m + 1, maxIter=20,
                    featuresCol="features", predictionCol="pq_code")
        bmod = bm.fit(c_r.withColumn("features",
                                     array_to_vector(sub)).select("features"))
        books.append(np.stack([np.asarray(c) for c in bmod.clusterCenters()]))
    books_np = np.stack(books)                        # (m, ks, sd)
    # training is done: c_r (the residual table the search plan reads)
    # stays cached; the normalization cache underneath it can go
    c_n.unpersist()

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def pq_codes(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64)  # residuals
        codes = np.empty((len(X), pq_m), dtype=np.int32)
        for m in range(pq_m):
            S = X[:, m * sd:(m + 1) * sd]
            d2 = ((S[:, None, :] - books_np[m][None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    @F.pandas_udf(T.DoubleType())
    def adc(q: pd.Series, lst: pd.Series, codes: pd.Series) -> pd.Series:
        Q = np.stack(q.to_numpy()).astype(np.float64)      # (N, dim)
        R = Q - coarse[lst.to_numpy().astype(np.int64)]    # query residual
        C = np.stack(codes.to_numpy()).astype(np.int64)    # (N, m)
        out = np.zeros(len(Q))
        for m in range(pq_m):
            S = R[:, m * sd:(m + 1) * sd]
            out += ((S - books_np[m][C[:, m]]) ** 2).sum(axis=1)
        return pd.Series(out)

    c = (c_r.withColumn("pq", pq_codes("resid"))
         .select("vec_id", F.col("embedding").alias("c_embedding"),
                 "ivf_list", "pq").alias("c"))
    q = (_l2_normed(queries, "unit")
         .withColumn("ivf_list", F.explode(probe_lists("unit")))
         .select("vec_id", "embedding", "unit", "ivf_list").alias("q"))
    scored = (q.join(c, "ivf_list")
              .filter(F.col("q.vec_id") != F.col("c.vec_id"))
              .select(F.col("q.vec_id").alias("query_id"),
                      F.col("c.vec_id").alias("hit_id"),
                      F.col("q.embedding").alias("q_emb"),
                      F.col("c.c_embedding").alias("c_emb"),
                      adc(F.col("q.unit"), F.col("ivf_list"),
                          F.col("c.pq")).alias("adist")))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy("adist", "hit_id")
    short = (scored.withColumn("srn", F.row_number().over(w))
             .filter(F.col("srn") <= shortlist)
             .select("query_id", "hit_id", "q_emb", "c_emb"))
    return _cosine_rerank(short, k)
