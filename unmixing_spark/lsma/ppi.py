"""Pixel Purity Index (Boardman 1993) — distributed partial+final.

The reference wraps pysptools.eea.PPI (lsma.py:118-119): project all pixels
onto k random unit "skewers"; pixels that are the extreme (min or max) of
any projection get a purity hit; top-count pixels are endmember candidates.

Distributed shape (SURVEY.md §2.8 L2): the (p x k) skewer matrix is a
seeded broadcast constant; each Arrow batch computes its own per-skewer
extremes (a (2k)-row partial) — the final reduce picks global extremes per
skewer, then counts hits per pixel. Shuffle volume is O(batches * k),
independent of pixel count.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unmixing_spark.boundary import map_matrix


def skewers(p: int, n_skewers: int, seed: int = 42) -> np.ndarray:
    """Seeded random unit projection directions, (p, k)."""
    rng = np.random.default_rng(seed)
    S = rng.standard_normal((p, n_skewers))
    return S / np.linalg.norm(S, axis=0)


def ppi_local(X: np.ndarray, n_skewers: int = 10000, seed: int = 42) -> np.ndarray:
    """Single-node kernel: hit counts per pixel, X (N, p)."""
    S = skewers(X.shape[1], n_skewers, seed)
    proj = X @ S
    counts = np.zeros(len(X), dtype=np.int64)
    np.add.at(counts, proj.argmax(axis=0), 1)
    np.add.at(counts, proj.argmin(axis=0), 1)
    return counts


def ppi_distributed(cells: DataFrame, band_cols: list[str],
                    n_skewers: int = 1000, top: int = 20) -> DataFrame:
    """→ DataFrame (cell_id, hits) of the ``top`` purest pixels, over
    the seeded ``skewers``.

    Per-batch partial extremes → groupBy(skewer) global extreme → hit
    count per pixel. Deterministic under repartitioning: global extremes
    use (value, id) lexicographic tie-break."""
    S = skewers(len(band_cols), n_skewers)
    sk = np.tile(np.arange(n_skewers), 2)

    def _partial(X: np.ndarray, batch: pa.RecordBatch) -> list:
        proj = X @ S                     # (N, k)
        # each skewer's max then min row: 2k rows out of every batch
        ext = np.r_[proj.argmax(axis=0), proj.argmin(axis=0)]
        return [sk, np.repeat([1, -1], n_skewers), proj[ext, sk],
                batch.column("cell_id").to_numpy()[ext]]

    partials = map_matrix(cells, band_cols, _partial,
                          "skewer int, side int, val double, id long")
    # global extreme per (skewer, side): max side uses max(val), min side min(val);
    # ties broken by smallest id for determinism
    from pyspark.sql import Window
    w = Window.partitionBy("skewer", "side").orderBy(
        F.when(F.col("side") == 1, F.col("val") * -1).otherwise(F.col("val")),
        F.col("id"))
    winners = (partials.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1))
    return (winners.groupBy(F.col("id").alias("cell_id"))
            .agg(F.count("*").alias("hits"))
            .orderBy(F.desc("hits"), "cell_id")
            .limit(top))
