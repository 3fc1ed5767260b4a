"""The benchmark's workloads.

Each workload has seeded inputs (``prepare``), a warm-up that runs once
after set-up, one timed operation (``run_once``), output checks made outside
the timed section (``check``), and a traced variant (``trace``) that times
each layer on a materialised input.

Why these two:

- ``flagship_commit``: the job BASELINE.json scores, the only one that runs
  scan -> geocode -> cell aggregate -> tiles -> FCLS -> batch commit. The
  commit runs as scripts/submit_flagship.py does, into a fresh directory
  per operation (a reused directory would resume and skip every batch).
  The page table is several files, so the scan fan-out does not fire.
- ``corpus_queries``: registry queries on a single-file sf0.1-shaped
  corpus, where the scan fan-out fires; covers a fixpoint loop, the text
  family the fan-out helps and the light spatial leaves it costs. Nothing
  is committed, so it is the bypass workload for io changes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np

import inputs
from tracing import Tracer

ROOT = inputs.ROOT
WORK = os.path.join(ROOT, ".perfbench_work")
N_BATCHES = 4          # tile_id % 4 batches, as scripts/submit_flagship.py
# Set-ups per run, each in a fresh process; setup_s is their median. A
# cold set-up costs 12-16 s on 4 cores, so a third would not fit the
# run's time budget.
SETUPS = 2
ABUNDANCE_SUM_TOL = 1e-6

# Query mix of corpus_queries, by family: a subset of each family, sized so
# that one cold pass takes about 25 s on 4 cores and a whole run, JVM launch
# included, about a minute.
CORPUS_MIX = {
    "loop": ["q_hits_scores"],
    "text": ["q_minhash_lsh_pairs", "q_bm25_topk"],
    "spatial": ["q_point_in_polygon", "q_cell_raster", "q_fcls_tiles"],
}
QUERIES = [q for qs in CORPUS_MIX.values() for q in qs]
WARM_QUERIES = ["q_cell_raster", "q_bm25_topk"]

SPANS = (["session", "pipeline.scan", "pagegen.cell_agg", "raster.assemble",
          "lsma.unmix", "io.onepass", "io.commit", "io.resume"]
         + [f"queries.{q}" for q in QUERIES])

# Per-layer metrics of a traced run: name -> (unit, better). A workload
# reports 0 for a layer it does not run.
LAYERS = {
    "session.start_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "pipeline.scan_s": ("s", "lower"),
    "pipeline.scan_partitions": ("count", "higher"),
    "pagegen.cell_agg_s": ("s", "lower"),
    "pagegen.pages": ("count", "higher"),
    "pagegen.cells": ("count", "higher"),
    "raster.assemble_s": ("s", "lower"),
    "raster.tiles": ("count", "higher"),
    "raster.pixels": ("count", "higher"),
    "lsma.unmix_s": ("s", "lower"),
    "lsma.kernel_s": ("s", "lower"),
    "lsma.kernel_share": ("ratio", "higher"),
    "io.commit_s": ("s", "lower"),
    "io.batch_s.max": ("s", "lower"),
    "io.recompute_ratio": ("ratio", "lower"),
    "io.resume_s": ("s", "lower"),
    **{f"queries.{q}_s": ("s", "lower") for q in QUERIES},
    **{f"queries.{f}_s": ("s", "lower") for f in CORPUS_MIX},
    **{f"{s}.{c}": ("count", "lower") for s in SPANS
       for c in ("jobs", "stages", "tasks", "failed_tasks")},
    "trace.overhead": ("ratio", "lower"),
}


def _fresh_dir(name: str) -> str:
    path = os.path.join(WORK, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _batches(ab):
    from pyspark.sql import functions as F
    return {i: ab.filter(F.col("tile_id") % N_BATCHES == i)
            for i in range(N_BATCHES)}


def _materialise(df):
    return df.localCheckpoint(eager=True)


def _duck(docs_glob: str, emb_path: str | None = None):
    import duckdb
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{docs_glob}'")
    if emb_path:
        con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{emb_path}'")
    return con


def _tile_pixels(pdf, col: str, q: int) -> np.ndarray:
    """Stack the band-major (q, n_occ) arrays of tile rows into (N, q)."""
    parts = [np.asarray(a, dtype=np.float64).reshape(q, -1).T for a in pdf[col]]
    return np.concatenate(parts) if parts else np.zeros((0, q))


def _manifests(out: str) -> list[dict]:
    from unmixing_spark.io.checkpoint import BatchCheckpointer
    ck = BatchCheckpointer(out)
    manifests = []
    for b in sorted(ck.committed_batches()):
        with open(os.path.join(ck.manifest_dir, f"batch-{b}.json")) as f:
            manifests.append(json.load(f))
    return manifests


def check_commit(spark, out: str, expect_tiles: int, expect_pixels: int) -> list[str]:
    """Problems with a committed flagship output: the manifests are exactly
    batches 0..3; manifest rows, committed rows and the expected tile count
    agree; abundances are >= 0 and sum to 1."""
    from unmixing_spark.io.checkpoint import BatchCheckpointer

    manifests = _manifests(out)
    if [m["batch_id"] for m in manifests] != list(range(N_BATCHES)):
        return [f"committed batches {[m['batch_id'] for m in manifests]}"]
    rows = sum(m["rows"] for m in manifests)
    pdf = BatchCheckpointer(out).read(spark).select("tile_id", "q", "abundances", "n_pixels").toPandas()
    problems = []
    if not rows == len(pdf) == expect_tiles:
        problems.append(f"tiles: manifests {rows}, committed {len(pdf)}, "
                        f"expected {expect_tiles}")
    if pdf["tile_id"].nunique() != len(pdf):
        problems.append("a tile was committed twice")
    if int(pdf["n_pixels"].sum()) != expect_pixels:
        problems.append(f"pixels {int(pdf['n_pixels'].sum())} != {expect_pixels}")
    A = _tile_pixels(pdf, "abundances", int(pdf["q"].iloc[0]) if len(pdf) else 3)
    if (A < 0).any():
        problems.append(f"{int((A < 0).any(axis=1).sum())} pixels with negative abundance")
    worst = float(np.abs(A.sum(axis=1) - 1).max()) if len(A) else 0.0
    if worst > ABUNDANCE_SUM_TOL:
        problems.append(f"abundance sums off by up to {worst:.3g}")
    return problems


def io_layer(spark, tracer: Tracer, plan, tag: str, expect) -> tuple[dict, list[str]]:
    """io spans over the workload's final plan: one pass, a batched
    commit, and a resume after a simulated kill after two batches."""
    from unmixing_spark.io.checkpoint import run_batched

    with tracer.span("io.onepass"):
        _noop(plan())
    out = _fresh_dir(f"trace-commit-{tag}")
    with tracer.span("io.commit"):
        run_batched(spark, _batches(plan()), out)
    batch_s = [m["wall_s"] for m in _manifests(out)]
    problems = expect(out)
    out = _fresh_dir(f"trace-resume-{tag}")
    try:
        run_batched(spark, _batches(plan()), out, fail_after=2)
        problems.append("simulated kill did not fire")
    except RuntimeError:
        pass
    with tracer.span("io.resume"):
        run_batched(spark, _batches(plan()), out)
    problems += expect(out)
    commit_s = tracer.seconds("io.commit")
    return {"io.commit_s": commit_s, "io.batch_s.max": max(batch_s, default=0.0),
            "io.recompute_ratio": commit_s / tracer.seconds("io.onepass"),
            "io.resume_s": tracer.seconds("io.resume")}, problems


def tile_layers(spark, tracer: Tracer, cells, cores: int) -> dict:
    """raster and lsma spans on a materialised cell raster."""
    from unmixing_spark import pagegen
    from unmixing_spark.lsma.fcls import fcls_abundance
    from unmixing_spark.lsma.mapper import unmix_tiles
    from unmixing_spark.pipeline import CANONICAL_ENDMEMBERS
    from unmixing_spark.raster.rasterize import assemble_tiles

    with tracer.span("raster.assemble"):
        tiles = _materialise(assemble_tiles(cells, pagegen.BAND_NAMES))
    with tracer.span("lsma.unmix"):
        _noop(unmix_tiles(tiles, CANONICAL_ENDMEMBERS))
    pdf = tiles.select("p", "bands").toPandas()
    p = int(pdf["p"].iloc[0])
    X = _tile_pixels(pdf, "bands", p)
    t0 = time.perf_counter()
    fcls_abundance(X, CANONICAL_ENDMEMBERS)
    kernel_s = time.perf_counter() - t0
    unmix_s = tracer.seconds("lsma.unmix")
    return {"raster.assemble_s": tracer.seconds("raster.assemble"),
            "raster.tiles": len(pdf), "raster.pixels": len(X),
            "lsma.unmix_s": unmix_s, "lsma.kernel_s": kernel_s,
            "lsma.kernel_share": kernel_s / (unmix_s * cores)}


def page_layers(spark, tracer: Tracer, sf_dir: str, tables: tuple[str, ...]):
    """pipeline and pagegen spans; returns (metrics, materialised cells)."""
    from unmixing_spark import dialect as D
    from unmixing_spark import pagegen, pipeline

    with tracer.span("pipeline.scan"):
        pipeline.register_tables(spark, sf_dir, tables)
        for t in tables:
            _noop(spark.table(t))
    docs = spark.table("documents")
    parts = docs.rdd.getNumPartitions()
    docs = _materialise(docs)
    docs.createOrReplaceTempView("documents")
    with tracer.span("pagegen.cell_agg"):
        cells = _materialise(spark.sql(pagegen.cell_raster_sql(D.SPARK)))
    return {"pipeline.scan_s": tracer.seconds("pipeline.scan"),
            "pipeline.scan_partitions": parts,
            "pagegen.cell_agg_s": tracer.seconds("pagegen.cell_agg"),
            "pagegen.pages": docs.count(), "pagegen.cells": cells.count()}, cells


class FlagshipCommit:
    name = "flagship_commit"
    why = ("the BASELINE job and the only one that runs scan, geocode, cell "
           "aggregate, tiles, FCLS and a 4-batch commit, so pagegen and io lead")

    def prepare(self, size: str, seed: int) -> dict:
        from unmixing_spark import dialect as D
        from unmixing_spark import pagegen
        self.dir = inputs.pages(size, seed)
        self.warm_dir = inputs.warm_pages()
        docs = os.path.join(self.dir, "documents.parquet")
        con = _duck(os.path.join(docs, "*.parquet"))
        cells = con.sql(pagegen.cell_raster_sql(D.DUCKDB)).df()
        self.tiles, self.pixels = cells["tile_id"].nunique(), len(cells)
        X = cells[pagegen.BAND_NAMES].to_numpy(dtype=np.float64)
        pages = con.sql("SELECT count(*) FROM documents").fetchone()[0]
        return {"pages": pages, "files": len(os.listdir(docs)),
                "cells": self.pixels, "tiles": self.tiles,
                "pixels_per_tile": self.pixels / self.tiles,
                "outside_simplex": inputs.outside_simplex_share(X)}

    def warm_up(self, spark) -> None:
        from unmixing_spark import pipeline
        _noop(pipeline.flagship_abundance_tiles(spark, self.warm_dir))

    def run_once(self, spark, k: int) -> dict:
        from unmixing_spark import pipeline
        from unmixing_spark.io.checkpoint import run_batched
        out = _fresh_dir(f"commit-{k}")
        t0 = time.perf_counter()
        ab = pipeline.flagship_abundance_tiles(spark, self.dir)
        run_batched(spark, _batches(ab), out)
        wall = time.perf_counter() - t0
        return {"wall": wall, "tiles": self.tiles, "out": out, "ops": N_BATCHES}

    def check(self, spark, sample: dict) -> int:
        problems = check_commit(spark, sample["out"], self.tiles, self.pixels)
        _report(self.name, problems)
        return N_BATCHES if problems else 0

    def trace(self, spark, tracer: Tracer, cores: int) -> tuple[dict, list[str]]:
        from unmixing_spark import pipeline
        m, cells = page_layers(spark, tracer, self.dir, ("documents",))
        m.update(tile_layers(spark, tracer, cells, cores))
        io, problems = io_layer(
            spark, tracer, lambda: pipeline.flagship_abundance_tiles(spark, self.dir),
            self.name, lambda out: check_commit(spark, out, self.tiles, self.pixels))
        m.update(io)
        return m, problems


class CorpusQueries:
    name = "corpus_queries"
    why = ("registry queries on a single-file sf0.1 corpus where the scan "
           "fan-out fires: fixpoint loops, text and light spatial leaves")

    def prepare(self, size: str, seed: int) -> dict:
        import __spark_entry__ as ent
        self.dir = inputs.corpus(size, seed)
        self.fns = ent.queries()
        oracles = ent.oracle_sql()
        con = _duck(os.path.join(self.dir, "documents.parquet"),
                    os.path.join(self.dir, "embeddings.parquet"))
        self.oracle = {q: con.sql(oracles[q]).df() for q in QUERIES if q in oracles}
        docs = con.sql("SELECT count(*) FROM documents").fetchone()[0]
        emb = con.sql("SELECT count(*) FROM embeddings").fetchone()[0]
        cells = self.oracle["q_cell_raster"]
        X = cells[[f"b{i}" for i in range(1, 7)]].to_numpy(dtype=np.float64)
        return {"pages": docs, "embeddings": emb, "files": 2,
                "cells": len(cells), "tiles": cells["tile_id"].nunique(),
                "pixels_per_tile": len(cells) / cells["tile_id"].nunique(),
                "outside_simplex": inputs.outside_simplex_share(X),
                "queries": len(QUERIES)}

    def warm_up(self, spark) -> None:
        """Two light queries of the mix on the measured corpus: they warm
        the JVM's SQL, codegen and Arrow paths (a whole warm-up pass would
        cost as much as the measured one)."""
        for q in WARM_QUERIES:
            self.fns[q](spark, self.dir).toPandas()

    def run_once(self, spark, k: int) -> dict:
        times, outputs = {}, {}
        for q in QUERIES:
            t0 = time.perf_counter()
            outputs[q] = self.fns[q](spark, self.dir).toPandas()
            times[q] = time.perf_counter() - t0
        wall = sum(times.values())
        return {"wall": wall, "tiles": len(outputs["q_fcls_tiles"]),
                "times": times, "outputs": outputs, "ops": len(QUERIES)}

    def check_query(self, q: str, pdf, outputs) -> list[str]:
        if q in self.oracle:
            from oracle_harness import compare
            return compare(pdf, self.oracle[q])
        return check_fcls_tiles(pdf, outputs["q_cell_raster"])

    def check(self, spark, sample: dict) -> int:
        failed = 0
        for q, pdf in sample["outputs"].items():
            problems = self.check_query(q, pdf, sample["outputs"])
            _report(q, problems)
            failed += bool(problems)
        return failed

    def trace(self, spark, tracer: Tracer, cores: int) -> tuple[dict, list[str]]:
        from unmixing_spark import pipeline
        m, cells = page_layers(spark, tracer, self.dir, ("documents", "embeddings"))
        m.update(tile_layers(spark, tracer, cells, cores))
        outputs, problems = {}, []
        for q in QUERIES:
            with tracer.span(f"queries.{q}"):
                outputs[q] = self.fns[q](spark, self.dir).toPandas()
            m[f"queries.{q}_s"] = tracer.seconds(f"queries.{q}")
        for fam, qs in CORPUS_MIX.items():
            m[f"queries.{fam}_s"] = sum(m[f"queries.{q}_s"] for q in qs)
        for q, pdf in outputs.items():
            problems += [f"{q}: {p}" for p in self.check_query(q, pdf, outputs)]

        def expect(out):
            from unmixing_spark.io.checkpoint import BatchCheckpointer
            got = BatchCheckpointer(out).read(spark).toPandas()
            return check_fcls_tiles(got.assign(mean_rmse=got["mean_rmse"].round(4)),
                                    outputs["q_cell_raster"])

        io, io_problems = io_layer(
            spark, tracer, lambda: pipeline.flagship_abundance_tiles(spark, self.dir),
            self.name, expect)
        m.update(io)
        return m, problems + io_problems


def check_fcls_tiles(pdf, cell_raster) -> list[str]:
    """q_fcls_tiles has no DuckDB oracle: recompute it on the driver from
    q_cell_raster's output (which has one) with the same FCLS kernel."""
    from unmixing_spark.lsma.fcls import fcls_abundance, predict_spectra_from_abundance
    from unmixing_spark.pipeline import CANONICAL_ENDMEMBERS as E

    cr = cell_raster.sort_values(["tile_id", "cell_id"])
    X = cr[[f"b{i}" for i in range(1, 7)]].to_numpy(dtype=np.float64)
    A = fcls_abundance(X, E)
    rmse = np.sqrt(np.mean((predict_spectra_from_abundance(A, E) - X) ** 2, axis=1))
    exp = (cr.assign(rmse=rmse).groupby("tile_id")
           .agg(n_pixels=("rmse", "size"), mean_rmse=("rmse", "mean")))
    got = pdf.set_index("tile_id").sort_index()
    if list(got.index) != list(exp.index):
        return [f"tiles {len(got)} != {len(exp)} expected"]
    problems = []
    if (got["n_pixels"].to_numpy() != exp["n_pixels"].to_numpy()).any():
        problems.append("n_pixels differ")
    worst = float(np.abs(got["mean_rmse"].to_numpy()
                         - exp["mean_rmse"].round(4).to_numpy()).max()) if len(exp) else 0.0
    if worst > 1.5e-4:  # one unit in the 4th decimal, plus rounding slack
        problems.append(f"mean_rmse off by {worst:.3g}")
    return problems


def _report(what: str, problems: list[str]) -> None:
    for p in problems:
        print(f"CHECK FAILED {what}: {p}", file=sys.stderr)


WORKLOADS = {w.name: w for w in (FlagshipCommit, CorpusQueries)}
