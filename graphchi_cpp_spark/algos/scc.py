"""Strongly connected components (G5) — forward-backward coloring.

Reference: ``example_apps/stronglyconnectedcomponents.cpp`` — the
Salihoglu-Widom FW-BW algorithm: repeat {forward min-color propagation
along out-edges; backward propagation of the same colors along in-edges;
vertices whose forward color == their own id and backward-confirmed form
the SCC of that root; remove them} (bidirectional_label struct at ``:94``,
forward phase ``:154-``, backward ``:227-267``, loop ``:344-357``,
edge deletions via ``SUPPORT_DELETIONS`` ``:34``).

Spark recipe per round (classic distributed FW-BW-coloring):
0. trim: vertices with no in- or no out-edge in the remaining graph are
   singleton SCCs; drop them until none is left (FW-BW-Trim).
1. color(v) = min vertex id reachable *backward*: propagate min id along
   out-edges to fixpoint — ``connected_components.min_label_supersteps``,
   the same loop that runs WCC, on the directed edges.
2. Within each color class, compute B = vertices that can reach the
   color's root going backward (propagate a 'confirmed' flag from the
   root along REVERSED edges, but only across same-color vertices).
3. color ∩ B is an SCC (the root's SCC). Assign, remove those vertices
   (anti-join — the relational analog of the reference's tombstone
   deletions, C8), repeat until no vertices remain.

Every materialization is one eager ``localCheckpoint`` whose job also
counts its rows through ``DataFrame.observe`` (``checkpoints``): the
trim, wave and remaining-set probes cost no job of their own. The
remaining vertex set and edge table go through janitors, which free
each superseded generation. Vertices that are never part of a colored
SCC (trimmed ones included) are singletons: component = id.

Scale note: worst case O(rounds · E); real graphs finish in few rounds
(giant SCC + periphery).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from graphchi_cpp_spark.algos.connected_components import (
    BCAST_FRONTIER_MAX,
    min_label_supersteps,
)
from graphchi_cpp_spark.checkpoints import CheckpointJanitor, materialize
from graphchi_cpp_spark.graph import PropertyGraph


def strongly_connected_components(
    graph: PropertyGraph, max_rounds: int = 20
) -> DataFrame:
    """Returns (id, component) — component = min vertex id in the SCC."""
    from graphchi_cpp_spark.partitioning import (
        adaptive_partitions,
        scoped_shuffle_partitions,
    )

    spark = graph.edges.sparkSession
    # data-derived partition count for every per-round exchange and
    # checkpoint layout (guide §2); the conf cap binds at cluster scale
    p = adaptive_partitions(spark, graph.edges.count())
    with scoped_shuffle_partitions(spark, p):
        return _scc_rounds(graph, max_rounds)


def _b(df, small):
    # |V|-bounded vertex sets broadcast into joins against the edge
    # table under the shared frontier cap (stats-less checkpointed
    # inputs would otherwise shuffle the edge table each rewrite)
    return F.broadcast(df) if small else df


def _within(edges, ids, small):
    """Edges with both endpoints in ``ids``."""
    return (
        edges.join(_b(ids.withColumnRenamed("id", "src"), small), "src", "left_semi")
        .join(_b(ids.withColumnRenamed("id", "dst"), small), "dst", "left_semi")
    )


def _scc_rounds(graph: PropertyGraph, max_rounds: int) -> DataFrame:
    spark = graph.edges.sparkSession
    jan_v, jan_e = CheckpointJanitor(spark), CheckpointJanitor(spark)
    vertices, n_remaining = materialize(graph.vertices.select("id"), probe=F.count("*"))
    small_v = n_remaining <= BCAST_FRONTIER_MAX
    remaining = vertices
    edges = jan_e.checkpoint(graph.edges.select("src", "dst").distinct())
    parts: list[DataFrame] = []

    for _ in range(max_rounds):
        if n_remaining == 0:
            break
        small = n_remaining <= BCAST_FRONTIER_MAX
        # 0. trim: keep the vertices with both an in- and an out-edge
        while True:
            dsts = edges.select(F.col("dst").alias("id")).distinct()
            nontrivial = (
                edges.select(F.col("src").alias("id"))
                .distinct()
                .join(_b(dsts, small), "id", "left_semi")
            )
            remaining, n_left = jan_v.checkpoint(
                remaining.join(_b(nontrivial, small), "id", "left_semi"),
                probe=F.count("*"),
            )
            if n_left == n_remaining:
                break
            n_remaining = n_left
            edges = jan_e.checkpoint(_within(edges, remaining, small))
        if n_remaining == 0:
            break
        # 1. forward coloring from min ids
        colors = min_label_supersteps(edges, remaining, max_iter=100)
        # 2. backward confirmation within color classes: root reaches v
        #    along reversed edges staying inside the color class
        c_src = colors.select(F.col("id").alias("src"), F.col("label").alias("c_src"))
        c_dst = colors.select(F.col("id").alias("dst"), F.col("label").alias("c_dst"))
        ec = materialize(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            .join(_b(c_src, small), "src")
            .join(_b(c_dst, small), "dst")
            .filter(F.col("c_src") == F.col("c_dst"))
            .select("src", "dst")
        )
        # confirmed accumulates as a lazy union of the checkpointed
        # waves: the anti-/semi-join readers scan the same blocks as a
        # re-checkpointed copy would, without one extra job per wave
        confirmed, n_confirmed = materialize(
            colors.filter(F.col("id") == F.col("label")).select("id"),
            probe=F.count("*"),
        )
        frontier = confirmed
        while True:
            f_side = frontier.withColumnRenamed("id", "src")
            c_side = confirmed
            if n_confirmed <= BCAST_FRONTIER_MAX:
                # frontier ⊆ confirmed, so one cap covers both sides
                f_side, c_side = F.broadcast(f_side), F.broadcast(c_side)
            frontier, n = materialize(
                ec.join(f_side, "src", "left_semi")
                .select(F.col("dst").alias("id"))
                .distinct()
                .join(c_side, "id", "left_anti"),
                probe=F.count("*"),
            )
            if n == 0:
                break
            confirmed = confirmed.unionByName(frontier)
            n_confirmed += n
        # 3. assign the colored SCCs; drop their vertices and edges
        scc = materialize(
            colors.join(_b(confirmed, small), "id", "left_semi").select(
                "id", F.col("label").alias("component")
            )
        )
        parts.append(scc)
        remaining, n_remaining = jan_v.checkpoint(
            remaining.join(_b(scc.select("id"), small), "id", "left_anti"),
            probe=F.count("*"),
        )
        edges = jan_e.checkpoint(_within(edges, remaining, small))

    # assigned = every vertex not left over after max_rounds
    done = (
        vertices
        if n_remaining == 0
        else vertices.join(_b(remaining, small_v), "id", "left_anti")
    )
    if not parts:
        return done.select("id", F.col("id").alias("component"))
    return done.join(
        _b(reduce(DataFrame.unionByName, parts), small_v), "id", "left"
    ).select("id", F.coalesce("component", "id").alias("component"))


def scc_sql(edges_sql: str, vertices_sql: str | None = None) -> str:
    """DuckDB oracle: v,w in same SCC iff v→*w and w→*v; component = min
    id of mutually-reachable set (recursive CTE transitive closure —
    fine at oracle scale, quadratic in the worst case)."""
    verts = (
        f"({vertices_sql})"
        if vertices_sql
        else "(SELECT src AS id FROM base_edges UNION SELECT dst FROM base_edges)"
    )
    return f"""
        WITH RECURSIVE
        base_edges AS ({edges_sql}),
        verts AS (SELECT id FROM {verts}),
        reach(a, b) AS (
            SELECT src AS a, dst AS b FROM base_edges
            UNION
            SELECT r.a, e.dst AS b
            FROM reach r JOIN base_edges e ON e.src = r.b
        ),
        mutual AS (
            SELECT r1.a AS v, r1.b AS w
            FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
        )
        SELECT v.id, least(v.id, coalesce(min(m.w), v.id)) AS component
        FROM verts v LEFT JOIN mutual m ON m.v = v.id
        GROUP BY v.id
    """
