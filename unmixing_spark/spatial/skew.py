"""Skew detection + salted two-phase aggregation.

Web pages cluster in cities → a handful of grid cells/tiles carry most of
the rows (our synthetic geocode deliberately reproduces this: 80% of pages
in 8 hotspots, pagegen.py). The north rule requires skew to be DETECTED
and HANDLED explicitly:

- detection: `skew_report` measures per-key share of rows against a p99
  threshold — run on a sample at scale (`df.sample`), exact below 10^8.
- handling: AQE splits skewed JOIN partitions (spark.sql.adaptive.skewJoin,
  on in session.py) but does NOT split skewed groupBy keys, so hot-key
  aggregations use `salted_agg`: phase 1 groups by (key, salt) — map-side
  combine shreds the hot key across `n_salts` reducers — phase 2 merges
  the partials. Only algebraic aggregates (sum/count/min/max + avg via
  sum/count) can be salted this way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def skew_report(df: DataFrame, key: str, top: int = 10) -> DataFrame:
    """Per-key row share + skew factor (share / mean share) of the `top`
    hottest keys — the explicit skew detection the north rule requires."""
    counts = df.groupBy(key).count()
    stats = counts.agg(F.avg("count").alias("mean_n"),
                       F.count("*").alias("n_keys"),
                       F.sum("count").alias("total"))
    return (counts.crossJoin(F.broadcast(stats))
            .select(key,
                    F.col("count").alias("rows"),
                    F.round(F.col("count") / F.col("total"), 6).alias("share"),
                    F.round(F.col("count") / F.col("mean_n"), 2).alias("skew_factor"))
            .orderBy(F.desc("rows"))
            .limit(top))


def salted_agg(df: DataFrame, key: str, aggs: dict[str, tuple[str, str]],
               n_salts: int = 32, *, salt_source: str) -> DataFrame:
    """Two-phase aggregation with a salt column shredding hot keys.

    aggs: {out_name: (agg, col)} with agg in {sum, count, min, max, avg}.
    salt_source: REQUIRED column whose hash spreads rows (e.g. url). A
    row-content-independent salt (monotonically_increasing_id) would break
    the engine's determinism-under-repartitioning invariant for avg/count
    paths, so there is deliberately no default."""
    salt = F.abs(F.hash(F.col(salt_source))) % n_salts
    phase1_aggs = []
    for out, (how, col) in aggs.items():
        if how == "avg":
            phase1_aggs += [F.sum(col).alias(f"__s_{out}"),
                            F.count(col).alias(f"__c_{out}")]
        elif how == "count":
            phase1_aggs.append(F.count(col if col != "*" else F.lit(1)).alias(f"__p_{out}"))
        else:
            phase1_aggs.append(getattr(F, how)(col).alias(f"__p_{out}"))
    phase1 = df.withColumn("__salt", salt).groupBy(key, "__salt").agg(*phase1_aggs)

    phase2_aggs = []
    for out, (how, col) in aggs.items():
        if how == "avg":
            phase2_aggs.append((F.sum(f"__s_{out}") / F.sum(f"__c_{out}")).alias(out))
        elif how in ("sum", "count"):
            phase2_aggs.append(F.sum(f"__p_{out}").alias(out))
        else:
            phase2_aggs.append(getattr(F, how)(f"__p_{out}").alias(out))
    return phase1.groupBy(key).agg(*phase2_aggs)
