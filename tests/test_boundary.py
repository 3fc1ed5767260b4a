"""``boundary.map_rows`` and ``boundary.map_matrix``, the Python
boundaries of the per-payload decoder stages and of the whole-batch numpy
stages: their rules on Spark (the package scan that keeps hand-written
``mapInPandas``/``mapInArrow`` bodies from bypassing them is in
test_loops.py)."""

from __future__ import annotations

import numpy as np

from unmixing_spark.boundary import map_matrix, map_rows
from unmixing_spark.text.multimodal import encode_png, image_features


def test_map_rows_rules(spark):
    """A NaN result comes out as NULL (a gray image has no green or blue
    mean); one input row yields 0, 1 or m output rows; empty batches,
    and batches whose rows all yield nothing, produce no output."""
    gray = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
    df = spark.createDataFrame([(7, bytearray(encode_png(gray)))],
                               "id long, image binary")
    (row,) = image_features(df).collect()
    assert (row["id"], row["height"], row["width"], row["channels"]) == \
        (7, 3, 4, 1)
    assert row["mean_r"] == float(gray.mean())
    assert row["mean_g"] is None and row["mean_b"] is None

    def _expand(n):
        for j in range(n):
            yield n, j

    df = spark.createDataFrame([(0,), (1,), (3,), (0,)], "n long")
    out = map_rows(df.repartition(3), _expand, "n long, j int")
    assert sorted(map(tuple, out.collect())) == \
        [(1, 0), (3, 0), (3, 1), (3, 2)]

    zeros = spark.createDataFrame([(0,), (0,)], "n long").repartition(2)
    assert map_rows(zeros, _expand, "n long, j int").count() == 0
    empty = spark.createDataFrame([], "n long").repartition(2)
    assert map_rows(empty, _expand, "n long, j int").count() == 0


def test_map_matrix_rules(spark):
    """A NaN result comes out as NULL; a NULL band is read as NaN and an
    int band as float64; a keep column comes out as its schema type;
    empty batches emit nothing; ``fn`` may return more or fewer rows
    than it got."""
    df = spark.createDataFrame([(1, 0.5, 2), (2, None, 3), (3, 1.5, None)],
                               "id int, x double, n int").coalesce(1)

    def _sum(X, batch):
        assert X.dtype == np.float64 and X.shape == (batch.num_rows, 2)
        assert len(X) > 0
        return [batch.column("id"), X.sum(axis=1), X[:, 1]]

    out = map_matrix(df, ["x", "n"], _sum, "id long, s double, n double")
    assert dict(out.dtypes) == {"id": "bigint", "s": "double", "n": "double"}
    assert sorted(map(tuple, out.collect())) == \
        [(1, 2.5, 2.0), (2, None, 3.0), (3, None, None)]

    def _extremes(X, batch):
        return [np.arange(2), np.array([np.nanmin(X), np.nanmax(X)])]

    out = map_matrix(df, ["x", "n"], _extremes, "k int, v double")
    assert sorted(map(tuple, out.collect())) == [(0, 0.5), (1, 3.0)]

    def _twice(X, batch):
        ids = batch.column("id").to_numpy()
        return [np.repeat(ids, 2), np.tile([0, 1], len(ids))]

    out = map_matrix(df, ["x"], _twice, "id long, j int")
    assert sorted(map(tuple, out.collect())) == \
        [(i, j) for i in (1, 2, 3) for j in (0, 1)]

    empty = spark.createDataFrame([], "id int, x double, n int").repartition(2)
    assert map_matrix(empty, ["x", "n"], _sum,
                      "id long, s double, n double").count() == 0
