"""The shared loop mechanics (unmixing_spark/loops.py) and the adaptive
operators built on them: fixpoint convergence and its round cap, the
one-job observed checkpoint, job attribution of concurrent checkpoint
builds, and the TrustRank empty-seed guard."""

from __future__ import annotations

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

    pipeline.register_tables(spark, SF_SMALL, ("documents",),
                             repartition=False)
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
