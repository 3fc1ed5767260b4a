"""Kill/resume: a job killed mid-run resumes from the last committed batch
and the final table equals the uninterrupted run (north-rule requirement)."""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from unmixing_spark import pipeline
from unmixing_spark.io.checkpoint import BatchCheckpointer, run_batched


@pytest.fixture()
def batches(spark):
    cells = pipeline.cell_raster(spark, SF_SMALL)
    # partition the tile space into 4 batches by tile_id ranges
    return {i: cells.filter(F.col("tile_id") % 4 == i) for i in range(4)}


def _collect_sorted(df):
    return df.orderBy("cell_id").toPandas()


def _flagship_batches(spark):
    """The commit batches of scripts/submit_flagship.py, over a freshly
    computed abundance frame (as a new process would build it)."""
    ab = pipeline.flagship_abundance_tiles(spark, SF_SMALL)
    return {i: ab.filter(F.col("tile_id") % 4 == i) for i in range(4)}


def _tiles_sorted(spark, out):
    pdf = BatchCheckpointer(out).read(spark).orderBy("tile_id").toPandas()
    for c in ("idx", "abundances"):
        pdf[c] = pdf[c].map(tuple)
    return pdf


def test_kill_and_resume_equals_uninterrupted(spark, batches, tmp_path):
    out_killed = str(tmp_path / "killed")
    out_clean = str(tmp_path / "clean")

    # uninterrupted run
    run_batched(spark, batches, out_clean)

    # killed after 2 batches
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_batched(spark, batches, out_killed, fail_after=2)
    ck = BatchCheckpointer(out_killed)
    assert len(ck.committed_batches()) == 2

    # resume: completes remaining batches only
    done = run_batched(spark, batches, out_killed)
    assert done == {0, 1, 2, 3}

    a = _collect_sorted(ck.read(spark))
    b = _collect_sorted(BatchCheckpointer(out_clean).read(spark))
    assert a.equals(b), "resumed result must equal uninterrupted run"


def test_uncommitted_partial_invisible(spark, batches, tmp_path):
    out = str(tmp_path / "partial")
    ck = BatchCheckpointer(out)
    ck.write_batch(0, batches[0])
    # simulate a crash mid-batch-1: data lands, manifest never written
    batches[1].write.mode("overwrite").parquet(os.path.join(out, "batch=1"))
    assert ck.committed_batches() == {0}
    n = ck.read(spark).count()
    assert n == batches[0].count(), "uncommitted partial batch must be invisible"


def test_manifest_lineage_recorded(spark, batches, tmp_path):
    ck = BatchCheckpointer(str(tmp_path / "lin"))
    m = ck.write_batch(0, batches[0], lineage={"stage": "tiles", "sf": "0.001"})
    assert m["rows"] == batches[0].count()
    assert m["lineage"]["stage"] == "tiles"
    # column stats come from df.observe() during the write — spot-check
    assert m["column_stats"]["b1"]["min"] >= 1.0
    assert m["column_stats"]["b2"]["mean"] > 0.0


def test_write_batch_adds_no_jobs_over_bare_write(spark, batches, tmp_path):
    """Stats are observed during the write — write_batch runs exactly as
    many Spark jobs as the bare parquet write of the same DataFrame (AQE
    splits a multi-stage plan into several jobs, so compare, don't pin;
    the old read-back implementation added 2 extra jobs: count + agg)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    sc.setJobGroup("ckpt-bare", "bare write probe")
    try:
        batches[0].write.mode("overwrite").parquet(str(tmp_path / "bare"))
    finally:
        sc.setJobGroup("", "")
    n_bare = len(tracker.getJobIdsForGroup("ckpt-bare"))

    ck = BatchCheckpointer(str(tmp_path / "onejob"))
    sc.setJobGroup("ckpt-observed", "write_batch job count probe")
    try:
        ck.write_batch(0, batches[0])
    finally:
        sc.setJobGroup("", "")
    n_ckpt = len(tracker.getJobIdsForGroup("ckpt-observed"))
    assert n_ckpt == n_bare, f"write_batch ran {n_ckpt} jobs vs bare {n_bare}"


def test_flagship_batch_plans_without_recompute(spark):
    """A commit batch is a Filter over the checkpointed abundance frame:
    no MapInPandas (tile assembly, FCLS) and no Exchange (cell
    aggregate, tile grouping) re-run per batch."""
    batch = pipeline.flagship_abundance_tiles(spark, SF_SMALL).filter(
        F.col("tile_id") % 4 == 1)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        batch.explain("formatted")
    plan = buf.getvalue()
    assert "Scan ExistingRDD" in plan, plan
    assert "MapInPandas" not in plan, plan
    assert "MapInArrow" not in plan, plan
    assert "Exchange" not in plan, plan


def test_concurrent_batch_writes_keep_the_callers_job_group(spark, tmp_path):
    """run_batched writes its batches on helper threads: every job the
    commit runs is in the caller's job group, and there is at least one
    write job per batch."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    batches = _flagship_batches(spark)

    def marker(group: str) -> int:
        sc.setJobGroup(group, "job id marker")
        try:
            spark.range(1).collect()
        finally:
            sc.setJobGroup("", "")
        return max(tracker.getJobIdsForGroup(group))

    first = marker("commit-before")
    sc.setJobGroup("commit-probe", "concurrent batch writes")
    try:
        assert run_batched(spark, batches, str(tmp_path / "out")) == {0, 1, 2, 3}
    finally:
        sc.setJobGroup("", "")
    last = marker("commit-after")
    jobs = set(tracker.getJobIdsForGroup("commit-probe"))
    assert jobs == set(range(first + 1, last)), (first, last, sorted(jobs))
    assert len(jobs) >= 4


def test_flagship_kill_and_resume_equals_uninterrupted(spark, tmp_path):
    """Kill/resume on the frame the flagship job commits: the resumed
    table equals the uninterrupted one, every tile is committed exactly
    once and the manifest rows add up to the tile count."""
    out_killed = str(tmp_path / "killed")
    out_clean = str(tmp_path / "clean")
    n_tiles = pipeline.cell_raster(spark, SF_SMALL) \
        .select("tile_id").distinct().count()

    run_batched(spark, _flagship_batches(spark), out_clean)

    with pytest.raises(RuntimeError, match="simulated kill"):
        run_batched(spark, _flagship_batches(spark), out_killed, fail_after=2)
    ck = BatchCheckpointer(out_killed)
    assert len(ck.committed_batches()) == 2
    assert run_batched(spark, _flagship_batches(spark), out_killed) == {0, 1, 2, 3}

    a = _tiles_sorted(spark, out_killed)
    b = _tiles_sorted(spark, out_clean)
    assert a.equals(b), "resumed result must equal uninterrupted run"
    assert len(a) == a["tile_id"].nunique() == n_tiles
    rows = 0
    for bid in ck.committed_batches():
        with open(os.path.join(ck.manifest_dir, f"batch-{bid}.json")) as f:
            rows += json.load(f)["rows"]
    assert rows == n_tiles
