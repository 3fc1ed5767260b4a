"""The shared loop mechanics (unmixing_spark/loops.py) and the operators
built on them: fixpoint convergence and its round cap, the one-job
observed checkpoint, the loop scope (checkpoint layouts, restored confs),
the pinned job counts of the fixed-depth loop queries, job attribution of
concurrent checkpoint builds, the TrustRank empty-seed guard, that no
eager checkpoint bypasses ``loops.checkpoint``, and that no hand-written
``mapInPandas`` or ``mapInArrow`` body bypasses
``boundary.map_rows``/``boundary.map_matrix``."""

from __future__ import annotations

import contextlib
import io
import json
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from unmixing_spark import loops


def _path_edges(spark, n_nodes):
    path = spark.range(n_nodes - 1).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v"))
    return path.unionAll(path.select(F.col("v").alias("u"),
                                     F.col("u").alias("v")))


def _min_label_step(edges):
    """One neighbor-min round over (id, lbl[, prev]) — no pointer jump,
    so the minimum label travels exactly one hop per round."""
    def step(state):
        lbl = state.select("id", "lbl")
        nb = lbl.select(F.col("id").alias("v"), F.col("lbl").alias("nlbl"))
        return (lbl.join(edges, lbl["id"] == edges["u"], "left")
                .join(nb, "v", "left")
                .groupBy(lbl["id"])
                .agg(F.least(F.min("nlbl"), F.first(lbl["lbl"]))
                     .alias("lbl"),
                     F.first(lbl["lbl"]).alias("prev")))
    return step


def _changed():
    return F.coalesce(F.max((F.col("lbl") < F.col("prev")).cast("int")),
                      F.lit(0)).alias("changed")


def test_fixpoint_converges_on_path(spark):
    n_nodes = 6
    edges = _path_edges(spark, n_nodes)
    state = spark.range(n_nodes).select("id", F.col("id").alias("lbl"))
    out, rounds = loops.fixpoint(_min_label_step(edges), state,
                                 changed=_changed(), max_rounds=20,
                                 what="path labels")
    rows = out.toPandas()
    assert len(rows) == n_nodes
    assert (rows["lbl"] == 0).all() and (rows["prev"] == 0).all()
    assert rounds == n_nodes - 1   # one hop per round along the path


def test_fixpoint_raises_past_max_rounds(spark):
    edges = _path_edges(spark, 6)
    state = spark.range(6).select("id", F.col("id").alias("lbl"))
    with pytest.raises(RuntimeError, match="stale path labels"):
        loops.fixpoint(_min_label_step(edges), state, changed=_changed(),
                       max_rounds=2, what="path labels")


def test_observed_checkpoint_is_one_job(spark):
    sc = spark.sparkContext
    group = "loops-observed-checkpoint"
    sc.setJobGroup(group, group)
    try:
        out, total = loops.checkpoint(
            spark.range(100), observe=F.sum("id").alias("s"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert total == 4950
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert out.count() == 100


def _physical_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_scope_checkpoint_keeps_layout(spark):
    """Inside ``loops.scope`` a checkpoint of ``df.repartition(k, key)``
    keeps its hash layout: ``groupBy(key)`` over it and a join with a
    side laid out the same way both plan with no Exchange."""
    k = 3

    def keyed(n, col):
        return (spark.range(n)
                .select((F.col("id") % 7).alias("key"), F.col("id").alias(col))
                .repartition(k, "key"))

    with loops.scope(spark, k):
        left = loops.checkpoint(keyed(100, "a"))
        right = loops.checkpoint(keyed(50, "b"))
        grouped = left.groupBy("key").agg(F.sum("a").alias("s"))
        joined = left.join(right.hint("SHUFFLE_HASH"), "key")
        plans = {"groupBy": _physical_plan(grouped),
                 "join": _physical_plan(joined)}
        sums = {r["key"]: r["s"] for r in grouped.collect()}
        n_joined = joined.count()
    assert "ShuffledHashJoin" in plans["join"], plans["join"]
    for what, plan in plans.items():
        assert "Exchange" not in plan, f"{what}:\n{plan}"
    assert sums == {m: sum(range(m, 100, 7)) for m in range(7)}
    assert n_joined == sum(len(range(m, 100, 7)) * len(range(m, 50, 7))
                           for m in range(7))


def test_scope_restores_confs_after_error(spark):
    """The scope sets AQE off, ``k`` shuffle partitions and (below the
    session width) codegen off, and restores all three when its body
    raises."""
    confs = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
             "spark.sql.codegen.wholeStage")
    before = {c: spark.conf.get(c) for c in confs}
    with pytest.raises(ZeroDivisionError):
        with loops.scope(spark, 2):
            assert {c: spark.conf.get(c) for c in confs} == dict(
                zip(confs, ("false", "2", "false")))
            1 / 0
    assert {c: spark.conf.get(c) for c in confs} == before


LOOP_JOBS_PIN = os.path.join(os.path.dirname(__file__), "fixtures",
                             "loop_query_jobs.json")


@pytest.mark.parametrize("name", [
    "q_hits_scores", "q_link_pagerank", "q_trustrank",
    "q_harmonic_hyperball", "q_effective_diameter"])
def test_loop_query_jobs_within_pin(spark, name):
    """Each fixed-depth loop query, run to ``toPandas`` under its own job
    group at SF_SMALL, runs at most the jobs pinned for it in
    ``tests/fixtures/loop_query_jobs.json`` (jobs only: stage counts
    move with AQE's runtime choices). The pins are the counts measured
    under ``SPARK_GRAFT_CPUS=4`` and ``=8``, equal under both. A change
    that moves a count writes the new count into the pin in the same
    change and lists it in CHANGES.md."""
    import __spark_entry__ as ent

    with open(LOOP_JOBS_PIN) as fh:
        ceiling = json.load(fh)[name]
    sc = spark.sparkContext
    group = f"loop-jobs-{name}"
    sc.setJobGroup(group, group)
    try:
        ent.queries()[name](spark, SF_SMALL).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= ceiling, f"{name}: {jobs} jobs, pinned at {ceiling}"


def _run_cc(spark):
    from unmixing_spark.queries.scale_q import cc_labels
    cc_labels(_path_edges(spark, 40), max_rounds=2)


def _run_kcore(spark):
    from unmixing_spark.queries.linkgraph_q import kcore_alive
    kcore_alive(_path_edges(spark, 40), k=2, max_rounds=2)


def _run_label_prop(spark):
    from unmixing_spark.queries.linkgraph_q import _label_prop_spark
    _label_prop_spark(spark, SF_SMALL)


def _run_bowtie(spark):
    from unmixing_spark.queries.linkgraph_q import _bowtie_spark
    _bowtie_spark(spark, SF_SMALL)


@pytest.mark.parametrize("run, cap_name, what", [
    (_run_cc, None, "component labels"),
    (_run_kcore, None, "k-core shell"),
    (_run_label_prop, "LP_MAX_ROUNDS", "community labels"),
    (_run_bowtie, "BT_MAX_ROUNDS", "reachability closure"),
], ids=["cc_labels", "kcore", "label_prop", "bowtie"])
def test_adaptive_loop_round_cap_raises(spark, monkeypatch, run, cap_name,
                                        what):
    """Every adaptive loop fails loudly past its cap instead of handing
    back an unconverged result (each needs more than one round on its
    input)."""
    from unmixing_spark.queries import linkgraph_q

    if cap_name is not None:
        monkeypatch.setattr(linkgraph_q, cap_name, 1)
    with pytest.raises(RuntimeError, match=f"stale {what}"):
        run(spark)


def test_hb_setup_jobs_stay_in_callers_job_group(spark):
    """_hb_setup builds its two checkpoints on helper threads; their
    jobs must carry the caller's job group like the rest of the query."""
    from unmixing_spark import pipeline
    from unmixing_spark.queries.linkgraph_q import _hb_setup

    pipeline.register_tables(spark, SF_SMALL, ("documents",))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "loops-hb-setup"
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        _hb_setup(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    stray = set(tracker.getJobIdsForGroup(None)) - ungrouped_before
    assert stray == set()
    # the documents count plus the two checkpoint builds
    assert len(tracker.getJobIdsForGroup(group)) >= 3


def test_trustrank_empty_seed_set_raises(spark):
    from unmixing_spark.queries.linkgraph_q import pagerank_over_documents

    # doc_id 0 is a seed under every seed_mod, so drop it; a seed_mod
    # above every remaining doc_id then leaves the seed set empty
    docs = (spark.read.parquet(f"{SF_SMALL}/documents.parquet")
            .filter(F.col("doc_id") > 0))
    seed_mod = int(docs.agg(F.max("doc_id")).first()[0]) + 1
    with pytest.raises(ValueError, match="seed set .* is empty"):
        pagerank_over_documents(spark, seed_mod=seed_mod, docs=docs)


def test_every_eager_checkpoint_goes_through_loops():
    """``loops.checkpoint`` is the engine's one eager checkpoint, so a
    checkpoint mode (e.g. a reliable ``checkpoint()`` for lossy
    clusters) needs to touch only loops.py. The scan covers the engine,
    ``scripts/`` and ``bench_extra.py`` (not the frozen ``perfbench/``).
    The only other ``localCheckpoint(`` calls allowed are the BPE
    trainer's two LAZY ones (``text_q._bpe_train``): each round already
    runs a collect over the new table, and an eager checkpoint would add
    a job per round."""
    import ast
    import pathlib

    root = pathlib.Path(loops.__file__).parent
    repo = root.parent
    text_q = root / "queries" / "text_q.py"
    bpe = next(n for n in ast.walk(ast.parse(text_q.read_text()))
               if isinstance(n, ast.FunctionDef) and n.name == "_bpe_train")
    allowed, stray = [], []
    paths = [*root.rglob("*.py"), *(repo / "scripts").rglob("*.py"),
             repo / "bench_extra.py"]
    for path in sorted(paths):
        if path == root / "loops.py":
            continue
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if "localCheckpoint(" not in line:
                continue
            site = f"{path.relative_to(repo)}:{no}: {line.strip()}"
            if (path == text_q and bpe.lineno <= no <= bpe.end_lineno
                    and line.strip() == ".localCheckpoint())"):
                allowed.append(site)
            else:
                stray.append(site)
    assert not stray, "eager checkpoints outside loops.checkpoint:\n" + \
        "\n".join(stray)
    assert len(allowed) == 2, allowed


# Every Python-boundary call in the package, one entry per call:
# (module, innermost enclosing function, reason). A per-payload decoder
# goes through ``boundary.map_rows`` and a whole-batch numpy stage
# through ``boundary.map_matrix``; a new site here needs a stated reason
# it cannot. A ``pandas_udf`` decorator counts in the function that
# defines the decorated one.
MAP_IN_PANDAS_SITES = [
    ("boundary.py", "map_rows", "the row map itself"),
    ("io/warc.py", "write_records", "a per-partition file sink: one file "
                                    "per task, one count row out"),
]
MAP_IN_ARROW_SITES = [
    ("boundary.py", "map_matrix", "the matrix map itself"),
    ("raster/rasterize.py", "assemble_tiles",
     "sort-based tile grouping over the Arrow buffers: list columns out"),
    ("lsma/mapper.py", "unmix_tiles",
     "FCLS over the Arrow list buffers of sparse tiles: list columns out"),
    ("queries/kmeans_q.py", "_lloyd_loop",
     "Lloyd update: exact-integer per-cluster partial sums of a list "
     "column, accumulated across the task's batches"),
    ("queries/kmeans_q.py", "_lloyd_loop",
     "Lloyd assign: one output batch per subspace of each input batch"),
]
APPLY_IN_PANDAS_SITES = [
    ("sasma/focal.py", "interpolate_endmember_tiles",
     "grouped map: one normalized convolution per destination tile's "
     "halo group, which neither row-wise map can see"),
]
_COLUMN_UDF = ("a column expression: one value per row, used inside a "
               "select next to JVM columns")
PANDAS_UDF_SITES = [
    ("text/similarity.py", "with_lsh_buckets",
     f"SimHash bucket ids per vector; {_COLUMN_UDF}"),
    ("text/similarity.py", "_centroid_udfs",
     f"IVF nearest coarse list per vector; {_COLUMN_UDF}"),
    ("text/similarity.py", "_centroid_udfs",
     f"IVF n_probe nearest lists per query; {_COLUMN_UDF}"),
    ("text/similarity.py", "ann_ivfpq_topk",
     f"IVF-PQ residual to the assigned centroid; {_COLUMN_UDF}"),
    ("text/similarity.py", "ann_ivfpq_topk",
     f"PQ sub-quantizer codes per residual; {_COLUMN_UDF}"),
    ("text/similarity.py", "ann_ivfpq_topk",
     f"asymmetric query-to-code distance; {_COLUMN_UDF}"),
    ("spatial/joins.py", "point_in_polygon_join",
     f"winding-number polygon match per point; {_COLUMN_UDF}"),
    ("queries/text_q.py", "_bpe_token_count",
     f"BPE token count per text, one cached tokenizer per executor; "
     f"{_COLUMN_UDF}"),
]


def test_every_row_map_goes_through_boundary():
    """A per-payload Python decoder crosses the Arrow boundary only
    through ``boundary.map_rows`` and a whole-batch numpy stage only
    through ``boundary.map_matrix``, so each batch loop exists once. The
    scan pins every Python-boundary call in the package to its module
    and innermost enclosing function, one pin per call: every
    ``mapIn*(`` and ``applyIn*(`` method, and ``pandas_udf(`` called as
    an attribute or a bare name. A method with no pin list has no
    allowed site: the stateful grouped map has none, because the engine
    has no Structured Streaming surface (incremental work goes through
    io/checkpoint.py batch commits)."""
    import ast
    import pathlib
    from collections import Counter

    root = pathlib.Path(loops.__file__).parent
    pinned = {"mapInPandas": MAP_IN_PANDAS_SITES,
              "mapInArrow": MAP_IN_ARROW_SITES,
              "applyInPandas": APPLY_IN_PANDAS_SITES,
              "pandas_udf": PANDAS_UDF_SITES}
    sites = Counter()

    def visit(node, module, fn):
        inner = fn
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            inner = node.name
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else \
                getattr(f, "id", None)
            if name and (name == "pandas_udf"
                         or name.startswith(("mapIn", "applyIn"))):
                sites[(name, module, fn)] += 1
        decorators = getattr(node, "decorator_list", ())
        for child in ast.iter_child_nodes(node):
            visit(child, module, fn if child in decorators else inner)

    for path in sorted(root.rglob("*.py")):
        visit(ast.parse(path.read_text()), path.relative_to(root).as_posix(),
              None)
    want = Counter((method, module, fn) for method, pins in pinned.items()
                   for module, fn, _ in pins)
    assert sites == want, (
        f"unpinned: {sorted(set(sites) - set(want))}, "
        f"gone: {sorted(set(want) - set(sites))}, "
        f"counts: {dict(sites)}")
