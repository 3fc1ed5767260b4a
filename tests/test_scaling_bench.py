"""The scaling harness (scripts/scaling_bench.py) times the registry's own
queries over its replica: a 2x replica of sf0.001 written by the
harness's replica writer doubles the documents, and the graph job's level
body reports the row count and xxhash64 sum of a direct q_link_pagerank
run over the same replica. The media job runs q_video_sig_pairs'
pipeline on its own base, which at one copy is the query's own input."""

from __future__ import annotations

import importlib.util
import os

from pyspark.sql import functions as F

import __spark_entry__ as ent
from tests.conftest import SF_SMALL

SCRIPT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts", "scaling_bench.py")


def _harness():
    spec = importlib.util.spec_from_file_location("scaling_bench", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_graph_level_runs_the_registered_query_over_the_replica(
        spark, tmp_path):
    sb = _harness()
    replica = str(tmp_path / "replica")
    sb.write_replica(spark, SF_SMALL, 2, replica)
    n_docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()

    r = sb.level(spark, "graph", replica, 2)

    assert r["rows"] == 2 * n_docs
    direct = ent.queries()["q_link_pagerank"](spark, replica)
    hashes = direct.select(F.xxhash64(*direct.columns).alias("h")).collect()
    assert r["hash"] == str(sum(row["h"] for row in hashes))


def test_media_level_equals_the_registered_video_query(spark):
    from unmixing_spark.queries.media_q import N_DOCS

    sb = _harness()
    r = sb.level(spark, "media", SF_SMALL, 1)

    direct = ent.queries()["q_video_sig_pairs"](spark, SF_SMALL)
    rows = direct.select(F.xxhash64(*direct.columns).alias("h"),
                         "planted").collect()
    assert r["rows"] == len(rows)
    assert r["hash"] == str(sum(row["h"] for row in rows))
    assert sum(row["planted"] for row in rows) == N_DOCS
