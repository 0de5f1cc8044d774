"""CheckpointJanitor: superstep loops must not accrete localCheckpoint
RDD blocks (DataFrame.unpersist cannot free them; the janitor tracks and
unpersists the previous generation explicitly)."""

from pyspark.sql import functions as F

from graphchi_cpp_spark.checkpoints import CheckpointJanitor


def _n_persistent(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def test_janitor_frees_previous_generation(spark):
    spark.catalog.clearCache()
    base = _n_persistent(spark)
    jan = CheckpointJanitor(spark)
    v = spark.range(1000).select(F.col("id"), F.lit(0.0).alias("x"))
    for _ in range(6):
        v = jan.checkpoint(v.select("id", (F.col("x") + 1).alias("x")))
    # only the LIVE generation's blocks remain pinned; without the
    # janitor this loop leaves 6 persistent checkpoint RDDs
    assert _n_persistent(spark) - base <= 1
    # the surviving frame still computes (its own generation was kept)
    assert v.agg(F.sum("x")).collect()[0][0] == 6000.0


def test_janitor_keeps_current_generation_readable(spark):
    jan = CheckpointJanitor(spark)
    a = jan.checkpoint(spark.range(100).select((F.col("id") * 2).alias("y")))
    b = jan.checkpoint(a.select((F.col("y") + 1).alias("y")))
    # a's blocks were freed when b landed; b must stay fully readable
    assert b.count() == 100
    assert b.agg(F.min("y")).collect()[0][0] == 1


def test_janitor_probe_returns_observed_count(spark):
    jan = CheckpointJanitor(spark)
    df = spark.range(100).select("id", (F.col("id") % 3 == 0).alias("act"))
    out, n = jan.checkpoint(df, probe=F.count_if("act"))
    assert n == 34
    # several values ride one probe as a struct of aggregates
    out, vals = jan.checkpoint(out, probe=F.struct(F.count("*"), F.max("id")))
    assert tuple(vals) == (100, 99)
    assert out.count() == 100


def test_janitor_frees_previous_generation_with_probe(spark):
    spark.catalog.clearCache()
    base = _n_persistent(spark)
    jan = CheckpointJanitor(spark)
    v = spark.range(1000).select(F.col("id"), F.lit(0).alias("x"))
    for step in range(6):
        v, n = jan.checkpoint(
            v.select("id", (F.col("x") + 1).alias("x")),
            probe=F.count_if(F.col("id") < F.col("x") * 100),
        )
        assert n == 100 * (step + 1)
    # the probe rides the checkpoint's own job; it pins nothing extra
    assert _n_persistent(spark) - base <= 1
    assert v.agg(F.sum("x")).collect()[0][0] == 6000


def test_wcc_chain_job_budget_per_superstep(spark):
    """One Spark action per superstep: the probed checkpoint, plus the
    gather shuffle and the broadcast frontier that action runs. On a
    31-vertex chain the label of vertex 0 moves one hop per superstep,
    so WCC runs n + 1 supersteps (the last one sees no change)."""
    from graphchi_cpp_spark.algos.connected_components import (
        connected_components,
    )
    from graphchi_cpp_spark.graph import PropertyGraph

    n = 30
    g = PropertyGraph.from_edges(
        spark.createDataFrame([(i, i + 1) for i in range(n)], ["src", "dst"])
    )
    sc = spark.sparkContext
    sc.setJobGroup("wcc-chain-budget", "wcc-chain-budget")
    try:
        cc = connected_components(g, max_iter=n + 5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("wcc-chain-budget"))
    assert cc.filter("component != 0").count() == 0
    # a second action per superstep (a separate count probe, or a
    # cache() chain re-checkpointed every few steps) exceeds this
    assert jobs / (n + 1) < 3.5, jobs
