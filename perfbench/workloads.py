"""The benchmark's workloads.

A workload generates its inputs from a seed (:meth:`Workload.generate`),
computes its reference answer (:meth:`Workload.reference`), runs the
program once per call of :meth:`Workload.run` with every call into a
program module wrapped in a tracer layer, and checks a run's answer
(:meth:`Workload.check`). ``work`` counts the units the throughput metric
divides by the algorithm's wall time.
"""

from __future__ import annotations

import contextlib
import os
import time

import numpy as np
from pyspark.sql import functions as F

import gen
import refs


class Run:
    """One run's layer calls and algorithm timer."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.algo_s = 0.0
        self.keep: list = []  # frames to unpersist once the run is over

    @contextlib.contextmanager
    def layer(self, name: str, algorithm: bool = False):
        t0 = time.perf_counter()
        with self.tracer.layer(name):
            yield
        if algorithm:
            self.algo_s += time.perf_counter() - t0

    def load(self, df):
        """Materialize an input frame (cache + count) so loading is timed
        in the sources layer, not inside the first algorithm."""
        df = df.cache()
        self.keep.append(df)
        df.count()
        return df

    def release(self) -> None:
        for df in self.keep:
            df.unpersist()
        self.keep.clear()


def _pairs(rows, key: str, value: str) -> dict:
    return {int(r[key]): r[value] for r in rows}


class Workload:
    name = ""
    why = ""
    work_unit = ""

    def generate(self, rng: np.random.Generator, workdir: str) -> dict:
        """Write the inputs under ``workdir``; return them with their paths."""
        raise NotImplementedError

    def reference(self, inp: dict):
        raise NotImplementedError

    def run(self, r: Run, inp: dict):
        raise NotImplementedError

    def check(self, got, want, tol: dict) -> bool:
        raise NotImplementedError

    def work(self, inp: dict) -> float:
        raise NotImplementedError


class PagerankStreamRmat(Workload):
    name = "pagerank-stream-rmat"
    why = ("PageRank on a skewed R-MAT graph (broadcast plan), then streaming "
           "PageRank as add/delete batches force a compaction (lazy join plan)")
    work_unit = ("edge-traversals/s: loop-free edges x PageRank supersteps + visible edges of "
                 "each streaming stage x its supersteps, over the PageRank and streaming time")
    top_k, stream_supersteps = 100, 3
    # two batches of 12% of the base each: the buffer passes the 20%
    # compaction threshold on the second
    size = {"scale": 15, "n_edges": 100_000, "iterations": 10, "n_batches": 2,
            "adds": 0.09, "deletes": 0.03}

    def generate(self, rng, workdir):
        size = self.size
        edges = gen.rmat(rng, size["scale"], size["n_edges"])
        distinct = gen.distinct_edges(edges)
        batches = gen.stream_batches(rng, distinct, size["scale"], size["n_batches"],
                                     int(len(distinct) * size["adds"]),
                                     int(len(distinct) * size["deletes"]))
        paths = [os.path.join(workdir, "rmat.tsv")]
        gen.write_edge_list(paths[0], edges)
        for k, b in enumerate(batches):
            paths.append(os.path.join(workdir, f"batch{k}.tsv"))
            gen.write_edge_list(paths[-1], b)
        return {"edges": edges, "batches": batches, "paths": paths}

    def reference(self, inp):
        edges = refs.loopless(inp["edges"])
        stages, _ = refs.streaming_stages(edges, inp["batches"])
        inp["stage_edges"] = [len(s) for s in stages]  # counted by work()
        return {"ranks": refs.pagerank(edges, self.size["iterations"]),
                "stream": refs.streaming_pagerank(stages, self.stream_supersteps)}

    def run(self, r, inp):
        from graphchi_cpp_spark.algos.pagerank import pagerank
        from graphchi_cpp_spark.graph import PropertyGraph
        from graphchi_cpp_spark.operators.toplist import top_k_vertices
        from graphchi_cpp_spark.sources.readers import read_edge_list
        from graphchi_cpp_spark.streaming.ingest import DynamicGraph, run_streaming_pagerank

        with r.layer("sources"):
            edges = r.load(read_edge_list(r.spark, inp["paths"][0]))
            batches = [
                read_edge_list(r.spark, p, has_value=True).select(
                    "src", "dst",
                    F.when(F.col("weight") < 0, "delete").otherwise("add").alias("op"))
                for p in inp["paths"][1:]
            ]
        with r.layer("algos.pagerank", algorithm=True):
            ranks = pagerank(PropertyGraph(edges), max_iter=self.size["iterations"])
            all_ranks = ranks.collect()
        with r.layer("operators.toplist"):
            top = top_k_vertices(ranks, "rank", self.top_k).collect()
        with r.layer("streaming.ingest", algorithm=True):
            stream = run_streaming_pagerank(DynamicGraph(edges), batches,
                                            supersteps_per_batch=self.stream_supersteps)
            stream_ranks = stream.collect()
        return {"ranks": _pairs(all_ranks, "id", "rank"),
                "top": [(int(x["id"]), x["rank"]) for x in top],
                "stream": _pairs(stream_ranks, "id", "rank")}

    def check(self, got, want, tol):
        return (refs.same_floats(got["ranks"], want["ranks"], tol["rank"])
                and refs.valid_top_k(got["top"], want["ranks"], self.top_k, tol["rank"])
                and refs.same_floats(got["stream"], want["stream"], tol["rank"]))

    def work(self, inp):
        batch = len(refs.loopless(inp["edges"])) * self.size["iterations"]
        return batch + sum(inp["stage_edges"]) * self.stream_supersteps


class ComponentsAls(Workload):
    name = "components-als"
    why = ("job-bound loops over tiny data: WCC and SCC on percolated grids, "
           "then ALS d=5 on Zipf ratings through the Arrow/pandas batched solve")
    work_unit = ("edge-reads + rating-updates per second: edges x 2 (WCC and SCC each read "
                 "them) + ratings x ALS iterations, over the WCC, SCC and ALS time")
    d = 5
    size = {"grid": {"n_grids": 4, "side": 5, "drop": 0.3, "pendants": 5},
            "ratings": {"n_users": 6_000, "n_items": 2_000, "n_ratings": 60_000},
            "iterations": 2}

    def generate(self, rng, workdir):
        size = self.size
        edges = gen.grid_edges(rng, **size["grid"])
        ratings = gen.zipf_ratings(rng, **size["ratings"])
        paths = [os.path.join(workdir, "grid.tsv"), os.path.join(workdir, "ratings.mm")]
        gen.write_edge_list(paths[0], edges)
        gen.write_matrix_market(paths[1], ratings, size["ratings"]["n_users"],
                                size["ratings"]["n_items"])
        return {"edges": edges, "ratings": ratings, "paths": paths}

    def reference(self, inp):
        return {"wcc": refs.wcc(inp["edges"]), "scc": refs.scc(inp["edges"]),
                "als": refs.als(inp["ratings"], self.d, self.size["iterations"])}

    def run(self, r, inp):
        from graphchi_cpp_spark.algos.connected_components import connected_components
        from graphchi_cpp_spark.algos.scc import strongly_connected_components
        from graphchi_cpp_spark.cf.als import als
        from graphchi_cpp_spark.graph import PropertyGraph
        from graphchi_cpp_spark.sources.matrix_market import read_matrix_market
        from graphchi_cpp_spark.sources.readers import read_edge_list

        with r.layer("sources"):
            g = PropertyGraph(r.load(read_edge_list(r.spark, inp["paths"][0])))
            ratings = r.load(read_matrix_market(r.spark, inp["paths"][1]))
        # label propagation needs 2 * (side - 1) supersteps plus one to settle
        with r.layer("algos.connected_components", algorithm=True):
            wcc = connected_components(g, max_iter=4 * self.size["grid"]["side"]).collect()
        with r.layer("algos.scc", algorithm=True):
            scc = strongly_connected_components(g, max_rounds=len(inp["edges"])).collect()
        with r.layer("cf.als", algorithm=True):
            user_f, item_f, history = als(ratings, d=self.d,
                                         iterations=self.size["iterations"])
            users, items = user_f.collect(), item_f.collect()
        return {"wcc": _pairs(wcc, "id", "component"), "scc": _pairs(scc, "id", "component"),
                "users": _pairs(users, "user", "factors"),
                "items": _pairs(items, "item", "factors"),
                "rmse": [h["train_rmse"] for h in history]}

    def check(self, got, want, tol):
        want_u, want_i, want_rmse = want["als"]

        def close(a, b):
            return a.keys() == b.keys() and all(
                np.max(np.abs(np.asarray(a[k]) - b[k])) <= tol["factor"] for k in b)

        return (got["wcc"] == want["wcc"] and got["scc"] == want["scc"]
                and close(got["users"], want_u) and close(got["items"], want_i)
                and len(got["rmse"]) == len(want_rmse)
                and bool(np.all(np.abs(np.array(got["rmse"]) - want_rmse) <= tol["rmse"])))

    def work(self, inp):
        # WCC and SCC each read every edge; ALS updates every rating per iteration
        return 2 * len(inp["edges"]) + len(inp["ratings"]) * self.size["iterations"]


WORKLOADS = {w.name: w for w in (PagerankStreamRmat(), ComponentsAls())}
