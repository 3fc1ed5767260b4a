"""Quality-classifier filtering (task brief; the reference has no text
surface): the "train a fast classifier on expensive labels" stage every
frontier-scale pipeline runs — GPT-3 trained an LR classifier to
distinguish curated reference text from raw crawl (Brown et al. 2020
§A), CCNet/LLaMA filter on a fastText classifier, FineWeb-Edu distills
LLM quality labels into a small scorer. Here the expensive label is the
engine's own Gopher rule conjunction (q_gopher_quality.keep) and the
fast model is pyspark.ml LogisticRegression over hashed-bigram count
features (the same DSIR_B-bucket feature space q_dsir_weights uses) —
classifier distillation of the rule set, so the learned scorer can
replace the multi-pass rule evaluation in the hot path.

Scale shape (10^12 docs): features are one doc_id-keyed aggregation of
the bigram stream (map-side combine); the sparse-vector assembly is one
row per document (a scalar UDF at the pyspark.ml boundary — ml's
VectorUDT has no codegen path; the per-doc payload is <= DSIR_B (idx,
count) pairs, and at scale the same assembly rides an Arrow-batched
pandas UDF). LogisticRegression's L-BFGS is a tree-aggregated gradient
per iteration — the standard distributed fit. Scoring is a broadcast of
the coefficient vector. rows-only driver check by design (iterative ML
is not SQL-expressible); numeric verification in tests/test_quality_ml.py
(held-out accuracy/AUC floors + score separation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unmixing_spark import dialect as D
from unmixing_spark import loops, pipeline

QC_REG = 1e-3     # L2 regularization (keeps the fit deterministic-ish
                  # and the coefficients bounded on the small corpus)
QC_MAX_ITER = 50


def _hashed_bigram_counts_sql() -> str:
    """(doc_id, b, c): per-doc counts of md5-hashed bigram buckets —
    the q_dsir_weights feature space (hygiene_q.DSIR_B buckets)."""
    from unmixing_spark.queries.hygiene_q import DSIR_B
    from unmixing_spark.queries.text_q import _pos_tokens

    d = D.SPARK
    h = D.md5_slice("w1 || ' ' || w2", 1, d)
    return f"""
    WITH pos AS (SELECT doc_id, pos, tok FROM {_pos_tokens(d)}),
    big AS (
      SELECT doc_id, w1, w2 FROM (
        SELECT doc_id, tok AS w1, lead(tok, 1) OVER w AS w2
        FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
      WHERE w2 IS NOT NULL
    )
    SELECT doc_id, cast(({h}) % {DSIR_B} as int) AS b,
           cast(count(*) as double) AS c
    FROM big GROUP BY doc_id, ({h}) % {DSIR_B}
    """


def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train LR on the even-doc_id half to predict the Gopher keep flag
    from hashed-bigram counts; score every document. Returns (doc_id,
    label, is_train, p_keep, predicted)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import vector_to_array
    from pyspark.ml.linalg import SparseVector, VectorUDT

    from unmixing_spark.queries.hygiene_q import DSIR_B
    from unmixing_spark.queries.lines_q import _gopher_quality

    pipeline.register_tables(spark, sf_dir, ("documents",))
    labels = (spark.sql(_gopher_quality(D.SPARK))
              .select("doc_id", F.col("keep").alias("label")))
    feats = spark.sql(_hashed_bigram_counts_sql())

    # round-6 (guide §4.3): Arrow serialization for the one remaining
    # scalar UDF — pyspark.ml's VectorUDT has no SQL constructor and
    # HashingTF would change the feature hash (results are frozen), so
    # the assembly stays Python, but batches now cross the boundary as
    # Arrow (ArrowEvalPython) instead of pickled rows. Construction is
    # exact integer/double copying; the declared type matches the
    # returned value, so Arrow's stricter coercion changes nothing.
    @F.udf(VectorUDT(), useArrow=True)
    def to_vec(pairs):  # pairs: sorted array<struct<b:int, c:double>>
        return SparseVector(DSIR_B, [p["b"] for p in pairs],
                            [p["c"] for p in pairs])

    vecs = (feats
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list(F.struct("b", "c")))
                 .alias("pairs"))
            .select("doc_id", to_vec("pairs").alias("features")))
    # one materialization: the fit iterates over the train split and
    # scoring reads it again
    data = loops.checkpoint(vecs.join(labels, "doc_id").withColumn(
        "is_train", (F.col("doc_id") % 2 == 0).cast("bigint")))
    lr = LogisticRegression(featuresCol="features", labelCol="label",
                            maxIter=QC_MAX_ITER, regParam=QC_REG)
    model = lr.fit(data.filter("is_train = 1"))
    # strip the training summary before scoring: the fitted model's
    # summary holds the SparkSession, and model.transform's UDF closure
    # then fails serialization in long-lived sessions ("Task not
    # serializable: ObservationManager"). A save/load roundtrip yields
    # the pure (coefficients, intercept) scoring model — the same
    # artifact a production pipeline ships to its scoring cluster.
    import tempfile

    from pyspark.ml.classification import LogisticRegressionModel
    with tempfile.TemporaryDirectory() as tmp:
        model.write().overwrite().save(f"{tmp}/lr")
        model = LogisticRegressionModel.load(f"{tmp}/lr")
    return (model.transform(data)
            .select("doc_id",
                    F.col("label").cast("bigint").alias("label"),
                    "is_train",
                    F.round(vector_to_array("probability")[1], 6)
                    .alias("p_keep"),
                    F.col("prediction").cast("bigint").alias("predicted")))
