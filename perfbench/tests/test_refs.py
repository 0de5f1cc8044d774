"""Each numpy/networkx reference agrees with the program's DuckDB oracle
SQL on a tiny seeded input."""

import duckdb
import numpy as np
import pandas as pd

import gen
import refs
from graphchi_cpp_spark.algos.connected_components import wcc_sql
from graphchi_cpp_spark.algos.pagerank import pagerank_sql
from graphchi_cpp_spark.algos.scc import scc_sql
from graphchi_cpp_spark.cf.als import als_sql
from graphchi_cpp_spark.streaming.ingest import streaming_pagerank_sql


def _con(**tables):
    con = duckdb.connect()
    for name, arr in tables.items():
        cols = ["src", "dst"] if arr.shape[1] == 2 else ["user", "item", "rating"]
        con.register(name, pd.DataFrame(arr, columns=cols))
    return con



def test_pagerank_matches_oracle():
    edges = refs.loopless(gen.rmat(np.random.default_rng(11), 7, 600))
    con = _con(e=edges)
    got = dict(con.execute(pagerank_sql("SELECT src, dst FROM e", iterations=10,
                                        ndigits=12)).fetchall())
    want = refs.pagerank(edges, 10)
    assert got.keys() == want.keys()
    assert max(abs(got[k] - want[k]) for k in want) < 1e-9


def test_components_match_oracle():
    edges = gen.grid_edges(np.random.default_rng(5), 2, 4, 0.3, 2)
    con = _con(e=edges)
    wcc = dict(con.execute(wcc_sql("SELECT src, dst FROM e")).fetchall())
    scc = dict(con.execute(scc_sql("SELECT src, dst FROM e")).fetchall())
    assert wcc == refs.wcc(edges)
    assert scc == refs.scc(edges)


def test_als_matches_oracle_at_d2():
    ratings = gen.zipf_ratings(np.random.default_rng(2), 40, 15, 300)
    con = _con(ratings=ratings)
    sql = als_sql('SELECT "user", item, CAST(rating AS DOUBLE) AS rating FROM ratings',
                  iterations=3, ndigits=12)
    got = [v for _, v in sorted(con.execute(sql).fetchall())]
    _, _, rmse = refs.als(ratings, d=2, iterations=3)
    assert np.allclose(got, rmse, atol=1e-9)


def test_streaming_replay_matches_oracle():
    rng = np.random.default_rng(9)
    base = gen.distinct_edges(gen.rmat(rng, 7, 500))
    batches = gen.stream_batches(rng, base, 7, 4, len(base) * 6 // 100,
                                 len(base) * 2 // 100)
    stages, compactions = refs.streaming_stages(base, batches)
    assert compactions == [2]  # 3 x 8% of the base passes the 20% threshold
    con = _con(**{f"s{k}": s for k, s in enumerate(stages)})
    sql = streaming_pagerank_sql([f"SELECT src, dst FROM s{k}" for k in range(len(stages))],
                                 supersteps_per_batch=3, ndigits=12)
    got = dict(con.execute(sql).fetchall())
    want = refs.streaming_pagerank(stages, 3)
    assert got.keys() == want.keys()
    assert max(abs(got[k] - want[k]) for k in want) < 1e-9
