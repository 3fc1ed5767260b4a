#!/usr/bin/env python
"""Round-6 optimization harness (bench.py is FROZEN — this file carries
the extra measurements the optimization round needs):

  python bench_extra.py SF_DIR q_a,q_b,...   [--mode count|noop] [--runs N]
  python bench_extra.py SF_DIR q_a,q_b,... --explain OUT_DIR

- ``count`` replicates the frozen bench's timing (fn(spark, sf) +
  df.count()) so numbers are comparable with BENCH_r0x.json.
- ``noop`` writes through the no-op sink (guide §1.4): every column of
  every row computed, nothing optimized away by count()'s pruning.
- ``--explain`` writes .explain("formatted") of every named query to
  ``OUT_DIR/{name}.txt`` (no timing). A "before" tree captures its plans
  with its own copy of this file.

Each query is labeled via setJobDescription (guide §1.5).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("queries", help="comma-separated names, or HEADLINE")
    ap.add_argument("--mode", default="count", choices=["count", "noop"])
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--explain", default=None,
                    help="write .explain('formatted') of every query to "
                         "DIR/{name}.txt (no timing)")
    args = ap.parse_args()

    from unmixing_spark.session import get_spark
    import __spark_entry__ as ent

    spark = get_spark(app_name="unmixing-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    qs = ent.queries()

    if args.queries == "HEADLINE":
        import bench
        names = list(bench.HEADLINE)
    else:
        names = [n.strip() for n in args.queries.split(",") if n.strip()]

    # same warmup as the frozen bench: JVM, parquet footers, Python workers
    spark.read.parquet(f"{args.sf_dir}/documents.parquet").count()
    import pandas as pd  # noqa: F401

    def _noop_py(it):
        for pdf in it:
            yield pdf

    (spark.range(1000)
     .repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
     .mapInPandas(_noop_py, "id long").count())

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        for name in names:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                qs[name](spark, args.sf_dir).explain("formatted")
            path = os.path.join(args.explain, f"{name}.txt")
            with open(path, "w") as fh:
                fh.write(f"-- {name} ({args.sf_dir})\n{buf.getvalue()}")
            print(f"wrote {path}")
        return

    timings: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(args.runs):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf_dir)
            if args.mode == "count":
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            timings[name].append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    out = {
        "sf_dir": args.sf_dir,
        "mode": args.mode,
        "queries": {n: {"min": min(t), "samples": t}
                    for n, t in timings.items()},
        "total_min": round(sum(min(t) for t in timings.values()), 3),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
