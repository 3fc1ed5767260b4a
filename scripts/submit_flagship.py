#!/usr/bin/env python
"""spark-submit entry point for the flagship pipeline.

Run on a cluster (north rule):

    zip -r unmixing_spark.zip unmixing_spark
    spark-submit --py-files unmixing_spark.zip \
        scripts/submit_flagship.py <sf_dir> <out_dir> [n_batches]

or locally via scripts/run_spark_submit.sh. The session comes from
spark-submit's own master/executor config (get_spark only adds engine
defaults when no master is set by the submitter).

The job is the checkpointed version of entry(): pages → geocode →
cell raster → tiles → FCLS abundance, written as per-batch commits with
lineage + metrics so a killed run resumes (io/checkpoint.py). The one
materialization point is ``pipeline.flagship_abundance_tiles``, an eager
checkpoint of the abundance tiles: the chain runs once per run, and each
``tile_id % n_batches`` batch is a filter over the checkpoint.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/unmixing_flagship_out"
    n_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 4

    spark = SparkSession.builder.appName("unmixing-flagship").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from unmixing_spark import pipeline
    from unmixing_spark.io.checkpoint import BatchCheckpointer, run_batched

    ab = pipeline.flagship_abundance_tiles(spark, sf_dir)
    batches = {i: ab.filter(F.col("tile_id") % n_batches == i)
               for i in range(n_batches)}
    done = run_batched(spark, batches, out_dir)
    result = BatchCheckpointer(out_dir).read(spark)
    print(json.dumps({
        "committed_batches": sorted(done),
        "tiles": result.count(),
        "pixels": result.agg(F.sum("n_pixels")).collect()[0][0],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
