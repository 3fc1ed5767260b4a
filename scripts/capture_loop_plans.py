#!/usr/bin/env python
"""Capture the PER-ROUND physical plans of the iterative graph loops
(the returned DataFrame's explain only shows the output tail — the
round bodies execute eagerly inside the query functions).

  python scripts/capture_loop_plans.py TREE_DIR SF_DIR OUT_DIR SUFFIX

Writes hyperball_round_{suffix}.txt, hits_halfstep_{suffix}.txt and
pagerank_final_{suffix}.txt: the plan of one representative round /
half-step, built exactly the way the loop builds it. TREE_DIR is a
checkout of this repository (one with unmixing_spark/loops.py).
"""
from __future__ import annotations

import contextlib
import io
import os
import sys


def main() -> None:
    tree, sf_dir, out_dir, suffix = sys.argv[1:5]
    sys.path.insert(0, tree)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import functions as F

    from unmixing_spark import dialect as D
    from unmixing_spark import loops, pipeline
    from unmixing_spark.queries import linkgraph_q as L
    from unmixing_spark.session import get_spark

    spark = get_spark(app_name=f"loopplans-{suffix}")
    spark.sparkContext.setLogLevel("ERROR")
    pipeline.register_tables(spark, sf_dir, ("documents",))
    os.makedirs(out_dir, exist_ok=True)

    def write(name, df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {name} ({suffix}: tree={tree}, sf={sf_dir})\n")
            fh.write(buf.getvalue())
        print(f"wrote {path}")

    # HyperBall: one register-propagation round over the wide state,
    # planned inside the loop scope as the loop plans it
    links, state, k = L._hb_setup(spark)
    state = L._hb_init_acc(state, [f"{D.dbl(0.0)} AS h", "e AS prev"])
    upd = [f"(h0 + greatest({D.dbl(0.0)}, e - prev0) / {D.dbl(1.0)}) AS h",
           "e AS prev"]
    with loops.scope(spark, k):
        write("hyperball_round",
              L._hb_wide_round(links, state, upd, ["h", "prev"]))

    # HITS: one authority half-step past the first round — links and the
    # score vector both checkpointed laid out by src inside the scope
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    k = loops.nparts(spark, 3 * n, row_bytes=16)
    with loops.scope(spark, k):
        by_src = loops.checkpoint(spark.sql(
            f"WITH {L.link_ctes(D.SPARK)} SELECT src, dst FROM links")
            .repartition(k, "src"))
        h = loops.checkpoint(docs.select(
            "doc_id", F.lit(L.HS_SCALE // n).cast("bigint").alias("h"))
            .repartition(k, "doc_id"))
        write("hits_halfstep", L._hits_half(by_src, h, "src", "dst"))

    # PageRank: the final-state plan embeds the last PR_CKPT_EVERY
    # rounds of the recurrence (join + contribution sum per round)
    write("pagerank_final", L.pagerank_over_documents(spark, docs=docs))


if __name__ == "__main__":
    main()
