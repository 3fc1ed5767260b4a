"""SASMA endmember learning: CART classification + endmember tensor build.

The reference fits a single sklearn DecisionTreeClassifier on labeled PIF
pixels and predicts endmember class for every pixel (sasma.CARTLearner,
sasma.py:37-93). Spark-first replacement: pyspark.ml.DecisionTreeClassifier
trained on the (small) labeled cell set, model.transform over the full
cell table — both stages distributed, no sklearn.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unmixing_spark.raster import NODATA


def concat_endmember_arrays(*em_rast_arrays: np.ndarray) -> np.ndarray:
    """q rasters (p, m, n) → (c, q, p) per-pixel endmember tensor, c = m·n
    (sasma.concat_endmember_arrays, sasma.py:96-111; shape golden
    tests.py:88-101)."""
    p, m, n = em_rast_arrays[0].shape
    return np.stack([e.reshape(p, m * n).T for e in em_rast_arrays], axis=1)


def fit_cart(cells: DataFrame, label_col: str, feature_cols: list[str],
             max_depth: int = 8):
    """Fit a decision tree on labeled cells (NoData-joint-masked rows
    excluded — the reference's combined X/y mask, sasma.py:53-67, becomes
    a WHERE clause). Returns the fitted pyspark.ml model."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.feature import VectorAssembler

    cond = (F.col(label_col) != NODATA)
    for c in feature_cols:
        cond = cond & (F.col(c) != NODATA) & F.col(c).isNotNull()
    train = cells.filter(cond)
    assembled = VectorAssembler(inputCols=feature_cols, outputCol="features")\
        .transform(train).withColumn("label", F.col(label_col).cast("double"))
    dt = DecisionTreeClassifier(maxDepth=max_depth, seed=42)
    return dt.fit(assembled)


def predict_cart(model, cells: DataFrame,
                 feature_cols: list[str]) -> DataFrame:
    """Label every cell with its endmember class ``em_class``
    (sasma.py:78-93)."""
    from pyspark.ml.feature import VectorAssembler

    assembled = VectorAssembler(inputCols=feature_cols, outputCol="features",
                                handleInvalid="keep").transform(cells)
    return (model.transform(assembled)
            .withColumn("em_class", F.col("prediction").cast("int"))
            .drop("features", "rawPrediction", "probability", "prediction"))
