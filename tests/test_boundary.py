"""``boundary.map_rows``, the one Python boundary of the per-payload
decoder stages: its row rules on Spark (the package scan that keeps per-row
``mapInPandas`` bodies from bypassing it is in test_loops.py)."""

from __future__ import annotations

import numpy as np

from unmixing_spark.boundary import map_rows
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
