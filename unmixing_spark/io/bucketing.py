"""Write-time bucketing: the 100 TB answer to the flagship's repeated
shuffles (docs/PLANS.md; reference has no storage layer — its single-node
arrays are 'pre-bucketed' by being in memory).

Every per-round or per-stage exchange in this engine keys on a stable
column (cell_id for the raster pipeline, doc_id for the text operators,
src/dst for the graph loops). On a cluster, paying that shuffle once at
WRITE time — ``df.write.bucketBy(n, key).sortBy(key)`` — lets every
subsequent join/aggregation on the same key run exchange-free: Spark's
bucketed scan reports a HashPartitioning output that Catalyst recognizes,
so SortMergeJoin/HashAggregate consume the files directly (zero Exchange
operators in the physical plan — asserted, not assumed, in
tests/test_bucketing.py).

Bucket-count sizing at 100 TB: buckets are the unit of read parallelism
for bucketed scans (one task per bucket per table), so pick
``n_buckets ≈ table_bytes / target_partition_bytes`` (128-256 MB) and
keep it a multiple of the cluster's executor-core count; both sides of a
co-located join must agree on count AND keys. Skewed keys stay skewed
inside their bucket — salt before bucketing when a key exceeds a bucket's
memory budget (spatial/skew.py's report identifies them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, keys: list[str],
                   n_buckets: int, path: str) -> None:
    """Persist ``df`` as a bucketed parquet table registered as
    ``table`` (external, data at ``path``), sorted by ``keys`` within
    each bucket: it costs one in-task sort at write time and removes the
    per-join Sort under SortMergeJoin."""
    (df.write.format("parquet").mode("overwrite")
     .bucketBy(n_buckets, *keys)
     .sortBy(*keys)
     .option("path", path)
     .saveAsTable(table))


def exchange_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle) operators in the EXECUTED physical
    plan — the quantity bucketing is supposed to drive to zero. Counts
    'Exchange hashpartitioning'/'Exchange rangepartitioning' nodes;
    broadcast exchanges don't move data through the shuffle service and
    are not counted."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines()
               if "Exchange hashpartitioning" in line
               or "Exchange rangepartitioning" in line)


def drop_bucketed(spark: SparkSession, table: str) -> None:
    """Unregister ``table`` (external: the files at ``path`` survive)."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
