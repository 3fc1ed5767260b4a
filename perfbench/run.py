#!/usr/bin/env python3
"""unmixing_spark benchmark: one closed-loop client on local[nproc].

    python3 perfbench/run.py --workload {flagship_commit,corpus_queries}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from the seed and
cached under ``.perfbench_cache/``; scratch output, Spark's local dirs and
the trace JSON go to ``.perfbench_work/``.

``--trace 0`` sets up ``workloads.SETUPS`` times, each in a fresh process
(JVM launch, session start and a warm-up job that starts the Python
workers; the last set-up is this process's own), warms the workload up
once, then repeats the workload's operation until ``--seconds`` have
passed, always finishing at least one. It prints end-to-end metrics:
``setup_s`` (median set-up) and ``tiles_per_s`` (median tiles unmixed per
second of an operation). The peak resident memory of the driver, its JVM
and the Python workers over the timed section is printed as text only:
the JVM grows its heap by run-to-run chance, so the figure spreads too
much between runs to be bounded.

``--trace 1`` runs each layer once on a materialised input inside a span
and prints the per-layer metrics in ``workloads.LAYERS``, ``peak_rss_mb``
(over the whole traced run) among them.

Both modes check the outputs outside the timed code; a failed or wrong
operation counts in ``failed``. The last stdout line is the JSON result.

Seed 9001 is held out: do not use it while developing a change, so that a
claimed gain can be confirmed on a seed the change was not tuned on.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from tracing import RssSampler, Tracer, summary

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SYS_PATH = [ROOT, os.path.join(ROOT, "tests")]


def environment(cores: int) -> dict[str, str]:
    """Variables that keep Spark, its JVM and its Python workers inside the
    checkout. The engine's own settings (driver memory included) are kept."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Both the launcher JVM and the driver JVM: temp files in the checkout,
    # and no /tmp/hsperfdata_* files.
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "SPARK_SUBMIT_OPTS": jvm_opts,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "SPARK_GRAFT_CPUS": str(cores),
    }


def session(cores: int):
    from unmixing_spark.session import get_spark
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf={
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_session(spark, cores: int) -> None:
    """Start the Python workers: one Arrow round trip per core."""
    (spark.range(0, 4096, numPartitions=cores)
     .mapInPandas(lambda it: it, "id long")
     .write.format("noop").mode("overwrite").save())


def set_up(cores: int):
    """One set-up: session start plus the warm-up job. Returns (spark, s)."""
    t0 = time.perf_counter()
    spark = session(cores)
    warm_session(spark, cores)
    return spark, time.perf_counter() - t0


def set_up_in_child() -> float:
    """Time a set-up in a fresh process, so that every sample launches its
    own JVM as a caller of the engine does."""
    proc = subprocess.run([sys.executable, os.path.abspath(__file__), "--setup-only"],
                          capture_output=True, text=True, timeout=170)
    if proc.returncode != 0:
        raise RuntimeError(f"set-up failed:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])["setup_s"]


def stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit. PySpark
    exposes the JVM's process only through the private ``_gateway``."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def measure(w, cores: int, seconds: float, setups: int):
    setup_s = [set_up_in_child() for _ in range(setups - 1)]
    spark, own_s = set_up(cores)
    setup_s.append(own_s)
    w.warm_up(spark)
    samples, errors = [], 0
    with RssSampler() as rss:
        deadline = time.perf_counter() + seconds
        k = 0
        while True:
            try:
                samples.append(w.run_once(spark, k))
            except Exception:  # an operation that fails is counted, not fatal
                traceback.print_exc()
                errors += 1
            k += 1
            if time.perf_counter() >= deadline:
                break
    failed = errors
    for s in samples:
        try:
            failed += w.check(spark, s)
        except Exception:  # a check that cannot read the output fails it
            traceback.print_exc()
            failed += s["ops"]
    attempted = errors + sum(s["ops"] for s in samples)
    stop(spark)
    if not samples:
        return None
    rates = [s["tiles"] / s["wall"] for s in samples]
    print(f"setup_s {summary(setup_s)}")
    print(f"tiles_per_s {summary(rates)}")
    if "times" in samples[0]:
        from workloads import CORPUS_MIX
        for fam, qs in CORPUS_MIX.items():
            print(f"{fam}_s {summary([sum(s['times'][q] for q in qs) for s in samples])}")
            for q in qs:
                print(f"  {q}_s {summary([s['times'][q] for s in samples])}")
    print(f"peak_rss_mb {rss.peak_mb:.1f}")
    print(f"error_rate {failed / attempted:.4g} ({failed}/{attempted})")
    metrics = {
        "setup_s": (statistics.median(setup_s), "s"),
        "tiles_per_s": (statistics.median(rates), "1/s"),
    }
    return metrics, attempted, failed


def traced(w, cores: int, tag: str):
    """Per-layer metrics. ``trace.overhead`` is the share of the traced
    run's wall time spent in the tracer's own bookkeeping."""
    from workloads import LAYERS, SPANS

    tracer = Tracer(tag)
    t0 = time.perf_counter()
    with RssSampler() as rss:
        with tracer.span("session"):
            spark = session(cores)
            tracer.attach(spark.sparkContext)
            warm_session(spark, cores)
        w.warm_up(spark)
        values = {m: 0 for m in LAYERS}
        layer_values, problems = w.trace(spark, tracer, cores)
    values.update(layer_values)
    values["peak_rss_mb"] = rss.peak_mb
    values["session.start_s"] = tracer.seconds("session")
    for span in tracer.spans:
        if span["name"] in SPANS:
            for c in ("jobs", "stages", "tasks", "failed_tasks"):
                values[f"{span['name']}.{c}"] = span[c]
    values["trace.overhead"] = tracer.overhead_s / (time.perf_counter() - t0)
    tracer.dump(os.path.join(WORK, f"trace-{tag}.json"))
    stop(spark)
    for p in problems:
        print(f"CHECK FAILED {p}", file=sys.stderr)
    attempted = len(tracer.spans)
    metrics = {m: (values[m], LAYERS[m][0]) for m in LAYERS}
    return metrics, attempted, min(len(problems), attempted)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs for the benchmark's own tests")
    ap.add_argument("--setup-only", action="store_true",
                    help="time one set-up and print it as JSON")
    args = ap.parse_args(argv)
    if not args.setup_only and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    cores = len(os.sched_getaffinity(0))
    os.environ.update(environment(cores))
    sys.path[:0] = SYS_PATH
    if args.setup_only:
        spark, s = set_up(cores)
        stop(spark)
        print(json.dumps({"setup_s": s}))
        return 0
    try:
        import workloads
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout ({e})", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    w = workloads.WORKLOADS[args.workload]()
    props = w.prepare(args.size, args.seed)
    print(f"workload {args.workload} seed {args.seed} size {args.size} "
          f"cores {cores} inputs {json.dumps(props)}")
    if args.trace:
        result = traced(w, cores, f"{args.workload}-{args.seed}")
    else:
        result = measure(w, cores, args.seconds, workloads.SETUPS)
    for d in os.listdir(WORK):
        if d.startswith(("commit-", "trace-commit-", "trace-resume-")):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    if result is None:
        print("perfbench: every operation failed", file=sys.stderr)
        return 1
    metrics, attempted, failed = result
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
