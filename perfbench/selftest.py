"""Tests of the benchmark itself: ``python3 -m pytest perfbench/selftest.py -q``.

The file name keeps it out of the repo's default test collection: it takes
minutes and starts Spark sessions of its own.

Every workload runs once at tiny size in both modes and must print every
metric BENCHMARK.json names, with its unit; a corrupted output must be
counted as failed; q_fcls_tiles, which has no DuckDB oracle, must match a
digest pinned for a fixed tiny input.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# sha256 of q_fcls_tiles at tiny size, seed 0 (see fcls_tiles_digest).
FCLS_TILES_DIGEST = "06b1e6d75aa79ee12a654b1f94b08b3fa87cbe88ebf5127a8f499e4c13a480db"


def fcls_tiles_digest(pdf) -> str:
    rows = pdf.sort_values("tile_id")[["tile_id", "q", "m", "n", "n_pixels", "mean_rmse"]]
    return hashlib.sha256(rows.to_csv(index=False).encode()).hexdigest()


def test_benchmark_json_matches_the_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == \
        {k: unit for k, (unit, _) in workloads.LAYERS.items()}
    assert {m["name"]: m["better"] for m in SPEC["per_layer"]} == \
        {k: better for k, (_, better) in workloads.LAYERS.items()}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_tiny_run_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "0",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    expected = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        {m["name"]: m["unit"] for m in expected}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_a_checkout_without_the_program(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            with open(os.path.join(HERE, name)) as src:
                (tmp_path / "perfbench" / name).write_text(src.read())
    with open(os.path.join(ROOT, "BENCHMARK.json")) as src:
        (tmp_path / "BENCHMARK.json").write_text(src.read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "flagship_commit",
         "--seed", "0", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.fixture(scope="module")
def bench_env():
    """The benchmark's environment for the tests that run in this process,
    undone at the end of the module."""
    with pytest.MonkeyPatch.context() as mp:
        for k, v in run.environment(2).items():
            mp.setenv(k, v)
        for p in reversed(run.SYS_PATH):
            mp.syspath_prepend(p)
        yield


@pytest.fixture(scope="module")
def spark(bench_env):
    s = run.session(2)
    yield s
    s.stop()


def test_corrupted_query_output_counts_as_failed(bench_env):
    w = workloads.CorpusQueries()
    w.prepare("tiny", 0)
    outputs = {q: df.copy() for q, df in w.oracle.items()}
    assert w.check(None, {"outputs": outputs}) == 0
    col = next(c for c in outputs["q_bm25_topk"].columns
               if outputs["q_bm25_topk"][c].dtype.kind == "f")
    outputs["q_bm25_topk"].loc[0, col] += 1.0
    assert w.check(None, {"outputs": outputs}) == 1


def test_corrupted_commit_counts_as_failed(spark):
    w = workloads.FlagshipCommit()
    w.prepare("tiny", 0)
    sample = w.run_once(spark, 0)
    assert w.check(spark, sample) == 0
    os.remove(os.path.join(sample["out"], "_manifests", "batch-3.json"))
    assert w.check(spark, sample) == workloads.N_BATCHES


def test_fcls_tiles_matches_pinned_digest_and_driver_fcls(spark):
    w = workloads.CorpusQueries()
    w.prepare("tiny", 0)
    d = inputs.corpus("tiny", 0)
    tiles = w.fns["q_fcls_tiles"](spark, d).toPandas()
    assert workloads.check_fcls_tiles(tiles, w.oracle["q_cell_raster"]) == []
    assert fcls_tiles_digest(tiles) == FCLS_TILES_DIGEST
