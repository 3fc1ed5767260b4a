#!/usr/bin/env python
"""Capture the PageRank per-round plan at scaling-harness size
(VERDICT r5 item 2's evidence): replicate documents repl-x exactly the
way scripts/scaling_bench.py's graph worker does, run the loop, and
write the final-state formatted plan — it embeds the last
PR_CKPT_EVERY rounds, so the per-round shape (static edge side, one
contribution exchange) is visible at repl>=1024 scale, not just at the
bench replica's.

  python scripts/capture_graph_plan_repl.py SF_DIR REPL OUT_PATH
"""
from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir, repl, out_path = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    from pyspark.sql import functions as F

    from unmixing_spark.queries import linkgraph_q as L
    from unmixing_spark.session import get_spark

    spark = get_spark(app_name="graph-plan-repl")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cores = spark.sparkContext.defaultParallelism
    replicated = (docs.repartition(cores * 3)
                  .crossJoin(F.broadcast(
                      spark.range(repl).withColumnRenamed("id", "rep")))
                  .withColumn("doc_id",
                              F.col("doc_id") * repl + F.col("rep"))
                  .drop("rep"))
    replicated.createOrReplaceTempView("documents")
    pr = L.pagerank_over_documents(spark)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pr.explain("formatted")
    with open(out_path, "w") as fh:
        fh.write(f"-- pagerank final state at repl={repl}, sf={sf_dir}\n")
        fh.write(buf.getvalue())
    print(f"wrote {out_path}")
    spark.stop()


if __name__ == "__main__":
    main()
