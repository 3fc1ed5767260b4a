"""Batch-checkpointed pipeline writes with per-partition lineage + resume.

North-rule requirement: every stage checkpoints per-partition lineage and
metrics so a killed job resumes from the last committed tile batch.

On a production cluster this is Iceberg: one snapshot commit per tile
batch (idempotent `overwriteByFilter(batch_id = N)`), lineage and metrics
in snapshot summary properties, resume = read committed batch ids from the
table's snapshot log. This container has no Iceberg runtime jar, so the
same protocol is implemented over a parquet directory with an atomic
manifest per batch — behaviorally identical for the kill/resume test:

    out/
      batch=<id>/part-*.parquet     (the data, partitioned by batch)
      _manifests/batch-<id>.json    (commit marker: lineage + metrics)

A batch is COMMITTED iff its manifest exists; manifests are written via
tmpfile + atomic rename AFTER the data lands, so a kill at any point
leaves either a committed batch or an invisible partial one. Re-running a
batch first deletes its data dir (idempotent overwrite), so resume is
exactly-once per batch. ``run_batched`` writes the uncommitted batches
concurrently; each one still commits on its own: data first, then the
manifest's rename.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class BatchCheckpointer:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.manifest_dir = os.path.join(out_dir, "_manifests")
        os.makedirs(self.manifest_dir, exist_ok=True)

    def committed_batches(self) -> set[int]:
        return {int(f.split("-")[1].split(".")[0])
                for f in os.listdir(self.manifest_dir)
                if f.startswith("batch-") and f.endswith(".json")}

    def _batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.out_dir, f"batch={batch_id}")

    def write_batch(self, batch_id: int, df: DataFrame,
                    lineage: dict | None = None) -> dict:
        """Idempotent write: overwrite the batch partition, then commit the
        manifest atomically (the Iceberg overwriteByFilter + snapshot-
        commit pattern). The manifest's ``wall_s`` is a monotonic
        (``perf_counter``) duration of this write — over a materialized
        frame that is the batch, not the upstream pipeline. ``run_batched``
        writes its batches concurrently, so ``wall_s`` also includes the
        time the batch waited on the others for cores. ``committed_at`` is
        wall-clock epoch seconds."""
        bdir = self._batch_dir(batch_id)
        if os.path.exists(bdir):
            shutil.rmtree(bdir)  # re-run of an uncommitted/failed batch
        t0 = time.perf_counter()
        # per-batch metrics: row count + per-numeric-column min/max/mean/std
        # (the reference stamps these on every raster write — dump_raster,
        # utils.py:582-614; Iceberg keeps them as column metrics). Collected
        # via df.observe() DURING the write — one Spark job per batch, no
        # read-back second pass.
        from pyspark.sql import Observation
        num_cols = [f.name for f in df.schema.fields
                    if f.dataType.typeName() in
                    ("double", "float", "long", "integer", "short")]
        metrics = [F.count(F.lit(1)).alias("rows")]
        metrics += [x for c in num_cols for x in (
            F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}"),
            F.avg(c).alias(f"avg_{c}"), F.stddev(c).alias(f"std_{c}"),
        )]
        obs = Observation(f"batch-{batch_id}")
        df.observe(obs, *metrics).write.mode("overwrite").parquet(bdir)
        row = obs.get  # available once the write action finished
        n_rows = row["rows"]
        stats: dict[str, dict] = {}
        if num_cols and n_rows:
            stats = {c: {"min": row[f"min_{c}"], "max": row[f"max_{c}"],
                         "mean": row[f"avg_{c}"], "std": row[f"std_{c}"]}
                     for c in num_cols}
        manifest = {
            "batch_id": batch_id,
            "rows": n_rows,
            "column_stats": stats,
            "wall_s": round(time.perf_counter() - t0, 3),
            "committed_at": time.time(),
            "lineage": lineage or {},
        }
        tmp = os.path.join(self.manifest_dir, f".batch-{batch_id}.json.tmp")
        final = os.path.join(self.manifest_dir, f"batch-{batch_id}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, final)  # atomic commit point
        return manifest

    def read(self, spark: SparkSession) -> DataFrame:
        """Read only COMMITTED batches (uncommitted partials invisible)."""
        committed = sorted(self.committed_batches())
        paths = [self._batch_dir(b) for b in committed]
        if not paths:
            raise FileNotFoundError("no committed batches")
        return spark.read.parquet(*paths)


def run_batched(spark: SparkSession, batches: dict[int, DataFrame],
                out_dir: str, fail_after: int | None = None) -> set[int]:
    """Run a batch plan, skipping already-committed batches (resume).

    The uncommitted batches are written concurrently, one thread each, so
    their one-task write jobs share the cores instead of queueing; every
    batch still commits on its own (data first, then its manifest's
    atomic rename). The threads inherit the caller's local properties
    (job group, description) and session tags, so the write jobs stay
    attributed to the caller. `fail_after=n` simulates a mid-job kill for
    the resume test: only the first n uncommitted batches are written,
    then it raises."""
    ck = BatchCheckpointer(out_dir)
    done = ck.committed_batches()
    todo = [bid for bid in sorted(batches) if bid not in done]
    if fail_after is not None:
        todo = todo[:fail_after]
    if todo:
        with ThreadPoolExecutor(max_workers=len(todo)) as pool:
            # one wrapper per batch: each copies the caller's properties,
            # so the concurrent writes never share one properties object
            futures = [pool.submit(inheritable_thread_target(spark)(ck.write_batch),
                                   bid, batches[bid], lineage={"stage": "tile_batch"})
                       for bid in todo]
            for f in futures:
                f.result()
    if fail_after is not None and len(todo) == fail_after:
        raise RuntimeError(f"simulated kill after {len(todo)} batches")
    return ck.committed_batches()
