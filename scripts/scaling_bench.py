#!/usr/bin/env python
"""N-vs-4N scaling evidence (BASELINE.json north rule).

Runs one job at two local parallelism levels (default local[8] vs
local[32]) on the same input, reports throughput at both plus scaling
efficiency, and checks that the output is identical across parallelism
(the reference's 1-vs-2-process determinism test, tests.py:62-82,
generalized).

Five jobs are registered queries, run as ``__spark_entry__.queries()``
hands them out (see ``JOBS``); ``media`` is
q_video_sig_pairs' pipeline at REPL x its N_DOCS cap (``media_pairs``).

The input is the sf dir's documents table copied REPL times, each copy
re-keyed ``doc_id * REPL + rep`` (ids stay contiguous, so the synthetic
link graph regenerates at full size) — same data, bigger N, zero RNG.
``write_replica`` writes it once per invocation to ``REPLICA_DIR``, in
its own process, before any level and outside every timed section.

Each level runs in a fresh process (own JVM): one warm-up run of the job
on the un-replicated sf dir, then the timed run over the replica — the
job plus one action reading the output's row count and the sum of
xxhash64 over all its columns (``level``). Levels alternate and each
keeps its best wall over SCALING_REPEATS (default 2) runs; the outputs
are identical when every run of both levels gives the same rows and hash.

Usage: python scripts/scaling_bench.py [sf_dir] [repl] [cores_small] [cores_big] [job]
Prints one JSON line. The fcls job also writes its result as a markdown
table to ``TABLE_PATH``, next to the replica, and names that path in the
line's ``table`` field; nothing in the checkout is written.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import sys
import tempfile
import time
from concurrent.futures import ProcessPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REPLICA_DIR = os.path.join(tempfile.gettempdir(), "scaling_bench_replica")
TABLE_PATH = os.path.join(tempfile.gettempdir(), "scaling_bench_fcls.md")
JOBS = {"fcls": "q_fcls_tiles", "sasma": "q_sasma_interpolation",
        "dedup": "q_neardup_components", "graph": "q_link_pagerank",
        "joins": "q_triangle_clustering", "media": "q_video_sig_pairs"}


def write_replica(spark, sf: str, repl: int, out: str) -> None:
    """``{out}/documents.parquet``: every document of ``sf`` copied
    ``repl`` times, re-keyed ``doc_id * repl + rep``. One task (and one
    file) per copy, so the file count does not depend on the level."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    reps = spark.range(0, repl, 1, repl).withColumnRenamed("id", "rep")
    cols = [(F.col("doc_id") * repl + F.col("rep")).alias("doc_id")
            if c == "doc_id" else F.col(c) for c in docs.columns]
    (reps.crossJoin(F.broadcast(docs)).select(*cols)
     .write.mode("overwrite").parquet(f"{out}/documents.parquet"))


def media_pairs(spark, d: str, repl: int):
    """q_video_sig_pairs' pipeline (``media_q.twin_pairs``) over
    ``N_DOCS * repl`` documents: the registered query caps its input at
    N_DOCS by design, so this is the one job that hands the pipeline its
    own base. Doc ids below the cap each seed a distinct video plus its
    planted drop+noise twin; ``planted`` marks the twin pairs."""
    from pyspark.sql import functions as F

    from unmixing_spark.queries.media_q import N_DOCS, twin_pairs

    base = (spark.read.parquet(f"{d}/documents.parquet").select("doc_id")
            .where(F.col("doc_id") < N_DOCS * repl)
            .repartition(3 * spark.sparkContext.defaultParallelism, "doc_id"))
    return twin_pairs(base, "video")


def level(spark, job: str, d: str, repl: int) -> dict:
    """One timed run of ``job`` over the sf dir ``d`` (``repl`` copies of
    the source): build the job's DataFrame, then one action reading its
    row count and ``sum(xxhash64(all columns))`` as a decimal."""
    import __spark_entry__ as ent
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    df = (media_pairs(spark, d, repl) if job == "media"
          else ent.queries()[JOBS[job]](spark, d))
    extra = [F.sum("planted").alias("planted")] if job == "media" else []
    row = df.agg(F.count("*").alias("rows"),
                 F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
                 .alias("hash"), *extra).first()
    wall = time.perf_counter() - t0
    if job == "media":
        from unmixing_spark.queries.media_q import N_DOCS
        assert row["planted"] == N_DOCS * repl, row
    return {"wall_s": round(wall, 2), "rows": row["rows"],
            "hash": str(row["hash"]),
            "rows_per_sec": round(row["rows"] / wall, 2)}


def timed_level(spark, sf: str, replica: str, repl: int, job: str) -> dict:
    level(spark, job, sf, 1)    # warm-up: JIT, codegen, Python workers
    return {"cores": spark.sparkContext.defaultParallelism,
            **level(spark, job, replica, repl)}


def _with_session(cores: int, fn, *args):
    from unmixing_spark.session import get_spark

    spark = get_spark(app_name="scaling-bench", master=f"local[{cores}]",
                      shuffle_partitions=max(cores * 2, 8))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return fn(spark, *args)
    finally:
        spark.stop()


def in_fresh_process(cores: int, fn, *args):
    """``fn(spark, *args)`` in a new interpreter with its own JVM (a
    worker that dies raises BrokenProcessPool instead of hanging)."""
    spawn = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(1, mp_context=spawn) as pool:
        return pool.submit(_with_session, cores, fn, *args).result()


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    repl = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    small = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    big = int(sys.argv[4]) if len(sys.argv) > 4 else 32
    job = sys.argv[5] if len(sys.argv) > 5 else "fcls"
    if job not in JOBS:
        raise SystemExit(f"job must be one of {sorted(JOBS)}")

    in_fresh_process(big, write_replica, sf, repl, REPLICA_DIR)
    # The host shows variable external load, so single runs are noisy:
    # alternate the two levels and keep the best wall per level.
    repeats = int(os.environ.get("SCALING_REPEATS", "2"))
    runs_small, runs_big = [], []
    for _ in range(repeats):
        for runs, cores in ((runs_small, small), (runs_big, big)):
            runs.append(in_fresh_process(cores, timed_level, sf,
                                         REPLICA_DIR, repl, job))
    r_small = min(runs_small, key=lambda r: r["wall_s"])
    r_big = min(runs_big, key=lambda r: r["wall_s"])

    factor = big / small
    eff = r_small["wall_s"] / r_big["wall_s"] / factor
    same = len({(r["rows"], r["hash"]) for r in runs_small + runs_big}) == 1
    table = write_table(sf, repl, small, big, r_small, r_big, eff, same) \
        if job == "fcls" else None
    result = {
        "metric": f"{job} ({JOBS[job]}) rows/sec scaling "
                  f"local[{small}] -> local[{big}]",
        "sf_dir": sf, "replication": repl, "replica_dir": REPLICA_DIR,
        "small": r_small, "big": r_big,
        "scaling_efficiency": round(eff, 3),
        "outputs_identical_across_parallelism": same,
        "table": table,
    }
    print(json.dumps(result))


def write_table(sf: str, repl: int, small: int, big: int, r_small: dict,
                r_big: dict, eff: float, same: bool) -> str:
    """The fcls result as a markdown table in TABLE_PATH, next to the
    replica; folding it into BENCH/BASELINE.md is a manual step."""
    with open(TABLE_PATH, "w") as f:
        f.write(f"""# BENCH — measured numbers ({os.cpu_count()}-CPU host)

Flagship job: q_fcls_tiles (pages → md5 geocode → grid cell aggregation
→ tile assembly → FCLS abundance, q=3, p=6), on {sf} documents
replicated {repl}x deterministically ({r_small['rows']:,} tiles).

| parallelism | wall (s) | tiles/sec |
|---|---|---|
| local[{small}] | {r_small['wall_s']} | {r_small['rows_per_sec']} |
| local[{big}] | {r_big['wall_s']} | {r_big['rows_per_sec']} |

**Scaling efficiency ({small} → {big} cores, {big / small:.0f}x): {eff:.3f}**
(BASELINE.json target ≥ 0.8 from N to 4N)

**Correctness under parallelism**: row count and the sum of xxhash64
over every output column identical across all runs of both levels:
**{same}** (generalizes reference test tests.py:62-82).

Method: the replica is written once, in its own process, before any
level; each level runs in a fresh JVM subprocess, warms up on the
un-replicated sf dir, then times the query plus one checksum action;
shuffle partitions = max(2x cores, 8); AQE on.
""")
    return TABLE_PATH


if __name__ == "__main__":
    main()
