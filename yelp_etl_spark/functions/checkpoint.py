"""Lineage cuts for loop-carried DataFrames.

A DataFrame carried across loop rounds doubles its plan every round
(analysis cost grows, and a lost partition recomputes the whole chain),
so every round ends by cutting the lineage. Two ways to cut it:

- ``DataFrame.localCheckpoint``: materializes blocks on the executors.
  Free of any FS round-trip, but the blocks are NOT fault-tolerant —
  on a multi-executor cluster, losing one executor past iteration 1
  kills the job because the checkpointed partitions are gone.
- ``DataFrame.checkpoint``: writes to the SparkContext checkpoint
  directory (HDFS / object storage on a real cluster) — survives
  executor loss, costs one write+read of the (small, per-iteration)
  loop-carried table.

``truncate_lineage`` picks reliable checkpointing whenever a
checkpoint dir is configured and falls back to localCheckpoint
otherwise (local[N]: a single JVM, where executor loss is app loss
anyway, so durability buys nothing and the FS round-trip is pure
overhead). Cluster deployments should call ``set_checkpoint_dir``
(or ``sc.setCheckpointDir``) once at startup.

On top of it sit the two loop primitives every iterative operator uses:

- ``cut(df, metric)``: an eager ``truncate_lineage`` that also observes
  one aggregate (a row count, a label sum) on that same job, so a round
  that needs a convergence value or a size still costs one action. This
  is the only place in the package that builds an ``Observation``.
- ``iterate(state, step, rounds, until=...)``: at most ``rounds``
  rounds of ``step``, each ending in one ``cut``; with ``until`` it
  stops at the first round whose observed value repeats the previous
  round's (the fixpoint of a monotone loop). Users: connected
  components (functions/dedup.py), label propagation, temporal
  reachability and k-core (functions/graph.py).

Loops that need each round's value inside the next step call ``cut``
directly: the BFS frontier loop and weighted SSSP (the broadcast
choice reads the last state size; BFS also stops on an empty
frontier), boosted stumps (an empty best split is an error) and
k-truss support peeling. BPE training cuts every ``checkpoint_every``
merges through ``truncate_lineage``. Borůvka's ``_cut`` additionally
persists each frame as a statistics barrier, and pagerank cuts every
third round without observing anything; both keep their own loops.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession


def set_checkpoint_dir(spark: SparkSession, path: str) -> None:
    """Configure reliable checkpointing (point at durable shared
    storage — s3://... / hdfs://... — on a real cluster).

    Storage note: each ``truncate_lineage`` call writes one checkpoint
    directory under ``path`` and Spark only deletes them when
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is true (set by
    session.get_spark; default false upstream). Deployments building
    their own session must either set that conf or garbage-collect
    ``path`` externally — at 100 TB the per-iteration loop tables are
    small but the count is unbounded over a long-lived session.
    """
    spark.sparkContext.setCheckpointDir(path)


def checkpoint_dir(spark: SparkSession) -> str | None:
    return spark.sparkContext.getCheckpointDir()


def truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut the plan/lineage of a loop-carried DataFrame.

    Reliable ``checkpoint`` when the session has a checkpoint dir
    (executor-loss-safe — required at 100 TB); ``localCheckpoint``
    otherwise. Note reliable checkpoint is always materialized on
    write; ``eager=False`` only defers the local variant.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def cut(df: DataFrame, metric: Column | None = None) -> tuple[DataFrame, Any]:
    """Eagerly truncate ``df``'s lineage; returns ``(cut_df, value)``.

    ``metric`` is an aggregate ``Column`` (``F.count(F.lit(1))``,
    ``F.sum(...)``) evaluated as an observed metric on the same job that
    materializes the cut, so reading it costs no second Spark job.
    ``value`` is that aggregate's result (NULL aggregates come back as
    ``None``), or ``None`` when no metric is given.
    """
    if metric is None:
        return truncate_lineage(df, eager=True), None
    obs = Observation()
    out = truncate_lineage(df.observe(obs, metric.alias("value")), eager=True)
    return out, obs.get["value"]


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    *,
    until: Column | None = None,
) -> tuple[DataFrame, bool]:
    """Run ``state = step(state)`` for at most ``rounds`` rounds, each
    ending in one ``cut``; returns ``(state, converged)``.

    Without ``until`` exactly ``rounds`` rounds run (the fixed-round
    loops an unrolled SQL oracle replays) and ``converged`` is False.
    With ``until`` (an aggregate ``Column`` observed on each round's
    cut) the loop stops at the first round whose value equals the
    previous round's and returns ``converged=True``; the first round
    has no previous value, so it never converges. For a monotone loop
    an unchanged value means an unchanged state, so stopping there
    returns what the remaining rounds would have.
    """
    # "no previous round" must differ from every observed value, NULL
    # included (the sum of an empty state), so an empty state converges
    # on its second round
    prev: Any = object()
    for _ in range(rounds):
        state, value = cut(step(state), until)
        if until is not None and value == prev:
            return state, True
        prev = value
    return state, False
