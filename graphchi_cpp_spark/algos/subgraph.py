"""K-hop subgraph extraction from seed vertices (G12).

Reference: ``toolkits/graph_analytics/subgraph.cpp:23-26,107-171,213`` —
run ``hops`` iterations from a seed list, emitting every edge touching the
active set; also a degree-distribution mode (A7, covered by
operators.aggregates.degree_distribution).

Spark recipe: BFS frontier loop. Per hop, reached ∪= neighbors(frontier)
following both directions (the reference follows in- and out-edges);
the result is every edge with at least one endpoint reached within
``hops`` (matching the reference's emit-on-touch semantics).

Scale note: frontier semi-joins only — the full edge table is never
rewritten; with edges pre-partitioned on src the expansion join is
shuffle-free on one side. Frontier dedup per hop caps re-expansion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphchi_cpp_spark.graph import PropertyGraph


def khop_vertices(graph: PropertyGraph, seeds: DataFrame, hops: int) -> DataFrame:
    """(id, hop) — hop = BFS distance from the seed set (0 for seeds),
    following edges in both directions, capped at ``hops``."""
    edges = graph.edges.select("src", "dst")
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)

    from graphchi_cpp_spark.partitioning import broadcast_row_cap

    # byte-derived cap: an (id, hop) row hashes at ~56 B
    cap = broadcast_row_cap(sym.sparkSession, 56)
    # lazy: the count below materializes the checkpoint in the same job
    reached = seeds.select("id", F.lit(0).alias("hop")).localCheckpoint(eager=False)
    frontier = reached.select("id")
    n_frontier = reached.count()
    for h in range(1, hops + 1):
        # frontier and visited sets broadcast under the row cap: the
        # expansion semi-join and the dedup anti-join then scan the
        # (stats-less, checkpointed) edge table map-side instead of
        # shuffling it every hop; ``reached`` accumulates as a LAZY
        # union of the checkpointed per-hop frontiers (the former
        # re-checkpoint re-materialized the whole set each hop)
        f_side = frontier.withColumnRenamed("id", "src")
        r_side = reached.select("id")
        if n_frontier <= cap:
            f_side = F.broadcast(f_side)
            r_side = F.broadcast(r_side)
        # job folding: the count materializes the lazy checkpoint in the
        # same job (was an eager-checkpoint job + a count job per hop)
        nxt = (
            sym.join(f_side, "src", "left_semi")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(r_side, "id", "left_anti")
            .localCheckpoint(eager=False)
        )
        n = nxt.count()
        if n == 0:
            break
        reached = reached.unionByName(nxt.select("id", F.lit(h).alias("hop")))
        n_frontier += n
        frontier = nxt
    return reached


def khop_subgraph(graph: PropertyGraph, seeds: DataFrame, hops: int) -> DataFrame:
    """Edges with at least one endpoint within ``hops`` of the seeds
    (the reference's emitted edge list)."""
    reached = khop_vertices(graph, seeds, hops).select("id")
    e = graph.edges
    touch_src = e.join(reached.withColumnRenamed("id", "src"), "src", "left_semi")
    touch_dst = e.join(reached.withColumnRenamed("id", "dst"), "dst", "left_semi")
    return touch_src.unionByName(touch_dst).dropDuplicates(["src", "dst"])


def khop_vertices_sql(edges_sql: str, seeds_sql: str, hops: int) -> str:
    """DuckDB oracle: hop distances via unrolled frontier CTEs."""
    ctes = [
        f"base_edges AS ({edges_sql})",
        "sym AS (SELECT src, dst FROM base_edges UNION "
        "SELECT dst, src FROM base_edges)",
        f"h0 AS (SELECT id, 0 AS hop FROM ({seeds_sql}))",
        "r0 AS (SELECT * FROM h0)",
    ]
    for h in range(1, hops + 1):
        ctes.append(
            f"""h{h} AS (
              SELECT DISTINCT s.dst AS id, {h} AS hop
              FROM sym s JOIN h{h - 1} f ON f.id = s.src
              WHERE s.dst NOT IN (SELECT id FROM r{h - 1})
            )"""
        )
        ctes.append(
            f"r{h} AS (SELECT * FROM r{h - 1} UNION ALL SELECT * FROM h{h})"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, hop FROM r{hops}"
