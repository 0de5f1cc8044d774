"""PageRank (G1/G2) — power iteration, damping 0.85.

Reference: ``example_apps/pagerank.cpp:73-113`` (update function), functional
variants ``example_apps/pagerank_functional.cpp:48-103``. Semantics of the
reference update:

    rank(v) = RANDOMRESETPROB + (1 - RANDOMRESETPROB) * sum_{u->v} rank(u)/outdeg(u)

with RANDOMRESETPROB = 0.15. Dangling mass is NOT redistributed (the
reference broadcasts ``rank/outc`` only when outc > 0, pagerank.cpp:100) —
we match that exactly so results are oracle-comparable.

One loop, :func:`pagerank_supersteps`, runs batch PageRank and every
batch of streaming PageRank (``streaming.ingest.run_streaming_pagerank``
warm-starts it from the previous ranks, as
``example_apps/streaming_pagerank.cpp:231-298`` re-runs the same update).
It caches the edge layout once, derives the (id, outdeg, rank) state in
one probed checkpoint that also counts |V|, and runs one superstep body

    contrib = v → (src, rank/outdeg)
    msgs    = edges ⋈ contrib → groupBy(dst).sum
    v'      = v ⟕ msgs → RESET + DAMPING * sum

under a shuffle conf scoped to the layout's partition count (a cache
with fewer partitions than the conf is re-shuffled every superstep).

One plan rule, |V| ≤ ``broadcast_row_cap(spark, 64)`` (≈33M vertices on a
16 GiB heap):

- **broadcast**: edges hash-partitioned by ``dst``; contrib is broadcast,
  so the gather join and the ``groupBy(dst)`` need no exchange of edge
  rows — one |V|-row exchange per superstep at the write-back join.
  Measured at 100M edges/10M vertices on local[32]: 3.2× less task-CPU
  than the shuffle plan. The broadcast re-executes v's lineage, so each
  superstep is one eager janitor checkpoint.
- **join** (above the cap, where broadcasting |V| rows to every executor
  costs more than one shuffle of them — the GraphX lesson): edges
  hash-partitioned by ``src`` so the gather join only moves contrib.
  Supersteps chain lazily and share shuffle map stages, cut every 3
  (v appears twice per step, so an uncut chain doubles the plan each
  step) and at the end.

With ``tol`` every superstep is a checkpoint whose own job also sums
|rank - old| (the C3 convergence delta) via ``DataFrame.observe``.

Streaming used to take the join plan below 5M edges, from a measurement
of broadcast supersteps 2.3× slower at 40k edges; that branch left the
shuffle conf unscoped, so its p = 1 edge cache was re-shuffled to the
session's partition count every superstep. Scoped, streaming runs the
batch plan, and on a 100k-edge R-MAT stream it takes fewer jobs and less
task-CPU than the join plan it replaced. Float caveat: per-dst
summation order differs between the plans, so ranks can differ at the
1e-15 level (the oracle contract rounds to 4 digits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphchi_cpp_spark.checkpoints import CheckpointJanitor
from graphchi_cpp_spark.graph import PropertyGraph
from graphchi_cpp_spark.partitioning import (
    adaptive_partitions,
    broadcast_row_cap,
    scoped_shuffle_partitions,
)

RESET = 0.15
DAMPING = 0.85
# join-plan supersteps chained lazily between lineage cuts
CHAIN = 3


def pagerank(
    graph: PropertyGraph, max_iter: int = 3, tol: float | None = None
) -> DataFrame:
    """Returns (id, rank). Fixed-iteration when tol is None (matches the
    reference's ``niters`` mode); stops early once the summed rank change
    of a superstep falls below ``tol`` (C3) otherwise."""
    return pagerank_supersteps(graph.edges, graph.edges.count(), max_iter, tol)


def pagerank_supersteps(
    edges: DataFrame,
    n_edges: int,
    max_iter: int,
    tol: float | None = None,
    ranks: DataFrame | None = None,
) -> DataFrame:
    """Up to ``max_iter`` supersteps over ``edges`` (src, dst), whose row
    count the caller passes; vertices start at ``ranks`` (id, rank) where
    given, else at 1. Returns (id, rank) as a checkpointed frame."""
    spark = edges.sparkSession
    p = adaptive_partitions(spark, n_edges)
    jan = CheckpointJanitor(spark)
    layout = edges.select("src", "dst").repartition(p, "dst").cache()
    try:
        with scoped_shuffle_partitions(spark, p):
            # vertex set and out-degrees in one aggregation: every edge
            # counts 1 for its src and 0 for its dst
            v = (
                layout.select(F.col("src").alias("id"), F.lit(1.0).alias("o"))
                .unionByName(
                    layout.select(F.col("dst").alias("id"), F.lit(0.0).alias("o"))
                )
                .groupBy("id")
                .agg(F.sum("o").alias("outdeg"))
            )
            if ranks is None:
                v = v.withColumn("rank", F.lit(1.0))
            else:  # warm start: carry previous ranks, new vertices start at 1
                v = v.join(ranks.select("id", "rank"), "id", "left").select(
                    "id", "outdeg", F.coalesce("rank", F.lit(1.0)).alias("rank")
                )
            v, n_verts = jan.checkpoint(v, probe=F.count("*"))
            bcast = n_verts <= broadcast_row_cap(spark, 64)
            if not bcast:
                layout.unpersist()
                layout = edges.select("src", "dst").repartition(p, "src").cache()

            for step in range(max_iter):
                contrib = v.select(
                    F.col("id").alias("src"),
                    F.try_divide(F.col("rank"), F.col("outdeg")).alias("w"),
                )
                msgs = (
                    layout.join(F.broadcast(contrib) if bcast else contrib, "src")
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.sum("w").alias("s"))
                )
                # with tol, the old rank rides along for the delta probe
                old = [] if tol is None else [F.col("rank").alias("old")]
                nv = v.join(msgs, "id", "left").select(
                    "id",
                    "outdeg",
                    (F.lit(RESET) + F.lit(DAMPING) * F.coalesce("s", F.lit(0.0)))
                    .alias("rank"),
                    *old,
                )
                if tol is not None:
                    v, delta = jan.checkpoint(
                        nv, probe=F.sum(F.abs(F.col("rank") - F.col("old")))
                    )
                    if delta is not None and delta < tol:
                        break
                elif bcast or (step + 1) % CHAIN == 0 or step + 1 == max_iter:
                    v = jan.checkpoint(nv)
                else:
                    v = nv
    finally:
        layout.unpersist()
    return v.select("id", "rank")


def pagerank_sql(edges_sql: str, iterations: int = 3, ndigits: int = 4) -> str:
    """DuckDB oracle: the same power iteration unrolled as chained CTEs.

    ``edges_sql`` must yield columns (src, dst); duplicate (src,dst) pairs
    are allowed and counted as parallel edges, matching the Spark side.
    """
    ctes = [
        f"edges AS ({edges_sql})",
        "verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        "outdeg AS (SELECT src AS id, CAST(count(*) AS DOUBLE) AS od FROM edges GROUP BY 1)",
        "r0 AS (SELECT id, 1.0::DOUBLE AS rank FROM verts)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""r{i} AS (
              SELECT v.id, 0.15 + 0.85 * coalesce(m.s, 0.0) AS rank
              FROM verts v LEFT JOIN (
                SELECT e.dst AS id, sum(r.rank / o.od) AS s
                FROM edges e
                JOIN r{i - 1} r ON r.id = e.src
                JOIN outdeg o ON o.id = e.src
                GROUP BY e.dst
              ) m ON m.id = v.id
            )"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, round(rank, {ndigits}) AS rank FROM r{iterations}"
    )
