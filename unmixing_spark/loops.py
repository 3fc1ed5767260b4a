"""The engine's one eager checkpoint, plus the mechanics shared by every
iterative operator (connected components, k-core, label propagation,
bow-tie BFS, PageRank/TrustRank, HITS, HyperBall/NF, Lloyd/PQ).

``checkpoint`` is the only place the package materializes a DataFrame
eagerly: loop rounds, multi-consumer CTEs that the Spark-side forks
compute once, and the flagship abundance tiles all call it, so a
different checkpoint mode changes this module alone. The loop
mechanics are its observed scalar, the adaptive fixpoint loop with its
round cap, the size-derived loop partition count, and the scope a
fixed-depth loop runs in. Each loop module keeps only its round body.

Checkpoint and observe. A driver loop truncates lineage with an eager
``localCheckpoint``: each round references the previous one (often
twice), so an untruncated plan grows until Catalyst's analysis dominates.
The scalar a loop needs between rounds (a ``changed`` flag, a frontier
size, an L1 total, a global sum) is read through an ``Observation``
attached to the checkpointed DataFrame, which Spark evaluates during the
SAME job the checkpoint runs, so reading it costs no extra job.
``localCheckpoint`` trades fault tolerance for speed (severed lineage,
executor-local blocks): right for a single-JVM run; on a lossy
multi-executor cluster a reliable ``checkpoint()`` or a table write per
round has the same semantics.

Layout. Under AQE a checkpointed DataFrame plans as ``Scan ExistingRDD``
with ``UnknownPartitioning``: its hash layout survives physically but the
planner forgets it, so every consumer re-exchanges it. With AQE off the
checkpoint keeps the ``HashPartitioning(key, k)`` it was built with, and
a ``groupBy(key)`` or a join with a side laid out the same way plans with
no Exchange. The fixed-depth loops (PageRank/TrustRank, HITS,
HyperBall/NF) therefore run inside ``scope``, which turns AQE off and
sets the loop's width; checkpoints outside a scope (the fixpoint loops,
the multi-consumer CTEs, the flagship tiles) run with AQE on and forget
their layout.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation, SparkSession


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's shuffle parallelism — the cluster-scale partition
    count the loop sizes are capped at."""
    return int(spark.conf.get("spark.sql.shuffle.partitions", "32"))


def nparts(spark: SparkSession, n_rows: int, row_bytes: int = 160) -> int:
    """Scale-adaptive partition count for a loop's exchanges: size the
    per-round shuffles by BYTES (~64 MB targets), capped at the session's
    shuffle parallelism. A fixed 32-way exchange over a 50k-row state is
    pure task-scheduling tax (32 sub-ms tasks per stage, ~12 stages per
    checkpoint job); at 10^12 pages the same formula saturates the
    configured parallelism. Floor 2, not 1: ``repartition(1, key)``
    plans as SinglePartition, which does NOT satisfy the hash clustering
    the loop joins/aggregations require, so EnsureRequirements stacks a
    full-width hash exchange on top of it — hashpartitioning(key, 2) is
    the smallest layout every downstream operator can reuse."""
    return max(2, min(shuffle_partitions(spark),
                      (n_rows * row_bytes + (64 << 20) - 1) >> 26))


@contextmanager
def scope(spark: SparkSession, k: int):
    """The session settings a fixed-depth loop runs under, for as long as
    the ``with`` block is open: AQE off, ``k`` shuffle partitions, and
    whole-stage codegen off when ``k`` is below the session's shuffle
    parallelism. All three are restored on exit, also when the body
    raises, so the lazy output tail is planned with the session's own
    settings. Yields nothing.

    AQE off keeps checkpoint layouts (see the module docstring), and
    ``k`` shuffle partitions size every loop exchange by ``nparts``
    without a per-call ``repartition``. The conditions: the loop's
    exchanges are meant to run at ``nparts`` width, not at a width AQE
    would coalesce them to; skew in the loop aggregations is absorbed by
    their partial (map-side) aggregation, not by AQE's skew handling;
    and no other query of the session runs concurrently inside the
    scope, because the confs are session-wide.

    Codegen: in the small-data regime each round's wide expressions
    compile fresh generated classes per stage (per-round literals defeat
    the source-text cache), and at ~50k state rows janino compilation
    dominates execution; interpreted evaluation of the identical
    expression trees measured 1.5-2x faster end-to-end (HyperBall
    15-20 s -> 9-10 s at a 10x replica of the test corpus). At cluster
    scale (``k`` at the cap) compilation amortizes over billions of rows
    and codegen stays on. Evaluation mode does not change expression
    semantics."""
    confs = {"spark.sql.adaptive.enabled": "false",
             "spark.sql.shuffle.partitions": str(k)}
    if k < shuffle_partitions(spark):
        confs["spark.sql.codegen.wholeStage"] = "false"
    prev = {key: spark.conf.get(key) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in prev.items():
            spark.conf.set(key, value)


def checkpoint(df: DataFrame, *, observe: Column | None = None):
    """Eagerly ``localCheckpoint`` ``df`` (one Spark job).

    ``observe`` is one aliased aggregate Column evaluated by that same
    job; when given, returns ``(df, value)`` instead of ``df``."""
    obs = None
    if observe is not None:
        obs = Observation()
        df = df.observe(obs, observe)
    df = df.localCheckpoint(eager=True)
    if obs is None:
        return df
    (value,) = obs.get.values()
    return df, value


def fixpoint(step, state, *, changed: Column, max_rounds: int, what: str):
    """Iterate a round to a PROVEN fixpoint.

    Each round checkpoints ``step(state)`` with ``changed`` observed in
    the same job and makes the checkpointed result the next ``state``;
    ``state`` as passed in feeds only the first round. The loop exits
    at the first round whose observed ``changed`` is 0 (or NULL) and
    returns ``(state, rounds)``: the checkpointed output of that round
    and the number of rounds before it that did change something. Past
    ``max_rounds`` such rounds it raises rather than return a stale
    ``what``."""
    rounds = 0
    while True:
        state, delta = checkpoint(step(state), observe=changed)
        if not delta:
            return state, rounds
        rounds += 1
        if rounds >= max_rounds:
            raise RuntimeError(
                f"no fixpoint after {max_rounds} rounds — refusing to "
                f"return stale {what}")
