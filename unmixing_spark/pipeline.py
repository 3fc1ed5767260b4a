"""End-to-end pipeline stages (SURVEY.md §3.5 lifecycle).

pages → geo_pages → cell_raster → tiles → abundance. Each stage is a
lazy DataFrame except the tile abundances: ``flagship_abundance_tiles``
is the one materialization point, an eager ``loops.checkpoint``, so the
commit batches of io/checkpoint.py (filters on ``tile_id``) read it
instead of re-running the chain per batch.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from unmixing_spark import dialect as D
from unmixing_spark import loops
from unmixing_spark import pagegen
from unmixing_spark.lsma.mapper import unmix_cells, unmix_tiles
from unmixing_spark.raster.rasterize import assemble_tiles

# Canonical endmember spectra in band space (b1 pages, b2 text-len, b3
# langs, b4 tokens, b5 url-len, b6 crawl-day) — the "dense hub / average /
# sparse outpost" mixing triangle. Plays the role of the reference's
# (q x p) endmember matrix (lsma.py:182-186).
CANONICAL_ENDMEMBERS = np.array([
    [4.0, 450.0, 3.0, 85.0, 31.0, 350.0],   # dense multilingual hub
    [2.0, 300.0, 1.0, 55.0, 30.0, 180.0],   # average page cluster
    [1.0, 60.0, 1.0, 12.0, 29.0, 10.0],     # sparse outpost
])


# The local corpus tables are single-split parquet files, so a bare scan
# runs every downstream map stage in one task.
_FAN_OUT_KEYS = {"documents": "doc_id", "embeddings": "vec_id",
                 "events": "event_id"}


def register_tables(spark: SparkSession, sf_dir: str,
                    tables: tuple[str, ...] = ("documents",),
                    fan_out: bool = False) -> None:
    """Register ``{sf_dir}/{t}.parquet`` as the temp view ``t`` for each
    table. ``fan_out=True`` hash-repartitions a scan with fewer than
    ``max(target // 4, 2)`` splits by the table's key to the session's
    shuffle width ``target``; a many-file table keeps its own splits.
    Declare it only with a measured gain: 10 interleaved pairs at sf0.1
    (``count()`` timing, ``q_posting_lists`` as the noise canary) where
    the fan-out side wins at least 9 and its median by more than the
    other side's IQR, and no loss on the 10x replica
    (``scripts/make_sf_bench_replica.py``)."""
    target = loops.shuffle_partitions(spark)
    for t in tables:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        if fan_out and df.rdd.getNumPartitions() < max(target // 4, 2):
            df = df.repartition(target, _FAN_OUT_KEYS[t])
        df.createOrReplaceTempView(t)


def geo_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(pagegen.geo_pages_sql(D.SPARK))


def cell_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(pagegen.cell_raster_sql(D.SPARK))


def tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return assemble_tiles(cell_raster(spark, sf_dir), pagegen.BAND_NAMES)


def flagship_abundance_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-rowed FCLS (narrow plan, no shuffle after the cell agg)."""
    return unmix_cells(cell_raster(spark, sf_dir), CANONICAL_ENDMEMBERS,
                       band_cols=list(pagegen.BAND_NAMES))


def flagship_abundance_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-rowed FCLS — the unit the BASELINE throughput metric counts.

    Returned through an eager ``loops.checkpoint``: the whole chain (scan,
    cell aggregate, tile assembly, FCLS) runs once, in this call, and
    every consumer plans as ``Scan ExistingRDD``. A commit batch
    ``filter(tile_id % n == i)`` therefore plans as a Filter over the
    checkpoint with no ``MapInPandas`` and no ``Exchange``, and each
    manifest's ``wall_s`` times its own batch only. Eager, not lazy: the
    cost is one pipeline pass even when a resume finds every batch
    already committed. A kill loses the in-memory blocks, so a resume
    recomputes the frame once, not once per batch. q_fcls_tiles and
    ``entry()`` read the same checkpoint."""
    return loops.checkpoint(unmix_tiles(tiles(spark, sf_dir), CANONICAL_ENDMEMBERS))
