"""PageRank vs hand-computed + DuckDB-unrolled oracle (SURVEY §5 strategy)."""

import pytest
from pyspark.sql import functions as F

from graphchi_cpp_spark.algos.pagerank import pagerank, pagerank_sql
from graphchi_cpp_spark.datasets import BIPARTITE_EDGES_SQL, bipartite_edges
from graphchi_cpp_spark.graph import PropertyGraph
from tests.conftest import assert_df_matches_oracle


def test_pagerank_tiny_chain(spark):
    # 0 -> 1 -> 2 ; hand-computed two iterations
    edges = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])
    g = PropertyGraph.from_edges(edges)
    ranks = {r["id"]: r["rank"] for r in pagerank(g, max_iter=2).collect()}
    # iter1: r0=0.15, r1=0.15+0.85*1=1.0, r2=1.0
    # iter2: r0=0.15, r1=0.15+0.85*0.15=0.2775, r2=0.15+0.85*1.0=1.0
    assert ranks[0] == pytest.approx(0.15)
    assert ranks[1] == pytest.approx(0.2775)
    assert ranks[2] == pytest.approx(1.0)


def test_pagerank_bipartite_vs_duckdb(spark, sf_dir, duck):
    g = PropertyGraph.from_edges(bipartite_edges(spark, sf_dir))
    result = pagerank(g, max_iter=3).select(
        "id", F.round("rank", 4).alias("rank")
    )
    assert_df_matches_oracle(
        result, duck, pagerank_sql(BIPARTITE_EDGES_SQL, iterations=3), float_ndigits=4
    )


def test_pagerank_deterministic(spark, sf_dir):
    # double-run diff contract (unittest.sh:25-28). Equality up to ULP:
    # parallel partial-sum combine order varies run to run; all oracle
    # comparisons round to 4 digits, far above this noise floor.
    g = PropertyGraph.from_edges(bipartite_edges(spark, sf_dir))
    a = sorted(map(tuple, pagerank(g, max_iter=2).collect()))
    b = sorted(map(tuple, pagerank(g, max_iter=2).collect()))
    assert len(a) == len(b)
    for (ida, ra), (idb, rb) in zip(a, b):
        assert ida == idb
        assert ra == pytest.approx(rb, rel=1e-12)


@pytest.fixture
def checkpoints(monkeypatch):
    """Records every checkpoint the PageRank loop takes: the initial
    state, then each superstep it materializes."""
    import graphchi_cpp_spark.algos.pagerank as pr

    calls = []

    class Recording(pr.CheckpointJanitor):
        def checkpoint(self, df, probe=None, blocking=False):
            calls.append(probe is not None)
            return super().checkpoint(df, probe, blocking)

    monkeypatch.setattr(pr, "CheckpointJanitor", Recording)
    return calls


def test_pagerank_join_plan_bipartite_vs_duckdb(
    spark, sf_dir, duck, monkeypatch, checkpoints
):
    """Above the broadcast row cap (forced here with a cap of 0) the
    layout is re-cached by src and the supersteps chain lazily, cut
    every 3 and after the last."""
    import graphchi_cpp_spark.algos.pagerank as pr

    monkeypatch.setattr(pr, "broadcast_row_cap", lambda spark, bytes_per_row: 0)
    g = PropertyGraph.from_edges(bipartite_edges(spark, sf_dir))
    result = pagerank(g, max_iter=4).select("id", F.round("rank", 4).alias("rank"))
    # the initial state, then supersteps 3 and 4
    assert len(checkpoints) == 3
    assert_df_matches_oracle(
        result, duck, pagerank_sql(BIPARTITE_EDGES_SQL, iterations=4), float_ndigits=4
    )


def test_pagerank_tol_stops_early_and_matches_fixed_iterations(spark, checkpoints):
    # strongly connected with a tail: the summed rank change falls below
    # 1e-4 after 13 supersteps (0.85 damping, contraction ~0.43/step)
    edges = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0), (2, 3)]
    g = PropertyGraph.from_edges(spark.createDataFrame(edges, ["src", "dst"]))
    tol, max_iter = 1e-4, 30
    early = {r["id"]: r["rank"] for r in pagerank(g, max_iter, tol=tol).collect()}
    supersteps = len(checkpoints) - 1
    assert all(checkpoints), "every tol superstep probes its delta"
    assert supersteps < max_iter
    fixed = {r["id"]: r["rank"] for r in pagerank(g, max_iter).collect()}
    assert early.keys() == fixed.keys()
    for k in fixed:
        assert early[k] == pytest.approx(fixed[k], abs=tol)
