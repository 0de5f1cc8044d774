"""Weakly connected components (G3/G4/G14) — min-label propagation.

Reference: ``example_apps/connectedcomponents.cpp:79-121`` (label = min
neighbor label, iterate to fixpoint), toolkit twin
``toolkits/graph_analytics/connectedcomponents.cpp:79``, in-memory variants
``example_apps/inmemconncomps.cpp:80``. The union-find variant
(``example_apps/unionfind_connectedcomps.cpp:121``) is inherently
sequential; its distributed replacement here is the same min-label
fixpoint (identical output contract: (vertex, component=min id)).

``min_label_supersteps`` is the one superstep loop behind WCC (over the
symmetrized edges) and SCC's forward colouring (``algos.scc``, over the
directed edges). Per superstep:

    msgs  = edges ⋈ frontier(src) → (dst, label)
    state = (own rows ∪ msgs) → groupBy(id).agg(min(label))

The new label and the "changed" flag come out of ONE grouped min over
each vertex's own row and its messages — no apply join against the old
state. Only vertices whose label changed last superstep send messages
(FRONTIER filtering, C4: the reference's bitset scheduler,
``src/engine/bitset_scheduler.hpp:38-110``, as a join). Each superstep
is ONE Spark action: an eager ``localCheckpoint`` (which cuts the
lineage) whose job also counts the changed vertices through
``DataFrame.observe`` (``checkpoints.CheckpointJanitor``), so the
convergence probe costs no job of its own.

Scale notes: min is commutative → map-side partial aggregation bounds
the shuffle to O(|V| + distinct message targets); the static edge table
is cached once. Once the change count drops under
``BCAST_FRONTIER_MAX`` rows the frontier is broadcast into the gather
join, so the tail supersteps (most of them on high-diameter graphs)
scan the edge table and probe a small shared map instead of shuffling
it. For graphs with giant diameter, use ``connected_components_star``
below — label propagation is O(diameter) supersteps, the star
contractions O(log² V).

Measured dead end (r4): per-round pointer jumping (label ← label(label)
via a V-row self-join on the label column) was 5× SLOWER at 10M edges
(94s vs 18s) — once the giant component forms, nearly every row carries
the same label, so the self-join has one massive hot key that AQE can't
split usefully (unique-keyed build side). Don't retry without a
skew-aware design (e.g. jump only the frontier's labels).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphchi_cpp_spark.checkpoints import CheckpointJanitor
from graphchi_cpp_spark.graph import PropertyGraph

# Frontier size under which the gather join broadcasts the frontier
# instead of shuffling it against the edge table. 2M (id,label) rows ≈
# a ~120MB hashed relation per executor — cheap against a full shuffle
# round-trip; at 1000 executors the broadcast fan-out is the cost, so
# this is rows-based, not |E|-based.
import os as _os

BCAST_FRONTIER_MAX = int(
    _os.environ.get("SPARK_GRAFT_WCC_BCAST_MAX_FRONTIER", 2_000_000)
)


def min_label_supersteps(
    edges: DataFrame, vertices: DataFrame, max_iter: int
) -> DataFrame:
    """(id, label) with label(v) = min id over every u with a path
    u →* v along ``edges`` (src → dst), v included, for each id in
    ``vertices``; messages to ids outside ``vertices`` are dropped.

    Superstep 0 needs no frontier join: every vertex is active with
    label == id, so its messages are the edges themselves. The final
    state stays pinned by the janitor, so the caller can keep reading
    the returned frame."""
    jan = CheckpointJanitor(edges.sparkSession)
    v = vertices.select("id", F.col("id").alias("label"))
    msgs = edges.select(F.col("dst").alias("id"), F.col("src").alias("label"))
    for _ in range(max_iter):
        # own rows carry their label twice; max("own") recovers the old
        # label (null only for message targets outside the vertex set)
        v, n_active = jan.checkpoint(
            v.select("id", "label", F.col("label").alias("own"))
            .unionByName(msgs.select("id", "label", F.lit(None).alias("own")))
            .groupBy("id")
            .agg(F.min("label").alias("label"), F.max("own").alias("own"))
            .where(F.col("own").isNotNull())
            .select("id", "label", (F.col("label") < F.col("own")).alias("act")),
            probe=F.count_if("act"),
        )
        if n_active == 0:
            break
        frontier = v.filter("act").select(F.col("id").alias("src"), "label")
        if n_active <= BCAST_FRONTIER_MAX:
            frontier = F.broadcast(frontier)
        msgs = edges.join(frontier, "src").select(F.col("dst").alias("id"), "label")
    return v.select("id", "label")


def connected_components(graph: PropertyGraph, max_iter: int = 50) -> DataFrame:
    """Returns (id, component) where component = min vertex id in the WCC:
    ``min_label_supersteps`` over the symmetrized edges."""
    from graphchi_cpp_spark.partitioning import (
        adaptive_partitions,
        scoped_shuffle_partitions,
    )

    spark = graph.edges.sparkSession
    # partition count derived from the data (guide §2): |E| is one cheap
    # job against the (memoized/checkpointed) edge table; at cluster
    # scale the conf cap binds and p is unchanged
    p = adaptive_partitions(spark, 2 * graph.edges.count())
    with scoped_shuffle_partitions(spark, p):
        e = graph.edges.select("src", "dst")
        # dedup AFTER the src-repartition: hashpartitioning(src)
        # satisfies the (src, dst) clustering the dedup aggregate needs,
        # so the symmetrized table pays ONE exchange, and the cache
        # carries the src partitioning every gather join reuses
        edges = (
            e.unionByName(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .repartition(p, "src")
            .dropDuplicates(["src", "dst"])
            .cache()
        )
        labels = min_label_supersteps(edges, graph.vertices, max_iter)
        edges.unpersist()
    return labels.select("id", F.col("label").alias("component"))


def connected_components_star(
    graph: PropertyGraph,
    max_iter: int = 50,
) -> DataFrame:
    """Large-star/small-star WCC (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC'14) — the skew-aware O(log² V)-round
    alternative to min-label propagation for HIGH-DIAMETER graphs, and
    the true logarithmic path for the union-find contract
    (``example_apps/unionfind_connectedcomps.cpp:121``): label
    propagation needs O(diameter) supersteps, these star contractions
    double the reach of every hop.

    Per round, on the current edge set E (invariant: src > dst after
    the first half-round):
      large-star: m(u) = min({u} ∪ N(u)); every neighbor v > u
                  re-links to m(u) — emit (v, m(u))
      small-star: m(u) = min of u's (all-smaller) neighbors; u and
                  each neighbor link to m — emit (u, m) ∪ (v, m)
    Fixpoint = rooted stars: every node's single out-edge points at its
    component minimum. Same output contract as ``connected_components``.

    Scale: both halves are ONE partial-aggregated groupBy(min) + one
    equi-join each; the giant-component hot key sits on the singleton
    build side of the join, which AQE's skew split handles (unlike the
    measured pointer-jumping dead end above, where the hot key carried
    the full V-row probe AND build fan-in)."""
    from graphchi_cpp_spark.partitioning import (
        adaptive_partitions,
        scoped_shuffle_partitions,
    )

    spark = graph.edges.sparkSession
    # data-derived partition count (guide §2); conf cap binds at scale
    p = adaptive_partitions(spark, 2 * graph.edges.count())
    with scoped_shuffle_partitions(spark, p):
        E = _star_rounds(graph, p, max_iter)
        # build AND materialize the final comp aggregation inside the
        # scope: the conf is read at execution time, so a merely-defined
        # plan would run its (often largest) exchanges at the session
        # conf once the caller materializes it — eager checkpoint here
        # pins them to the adaptive p like every round before them
        comp = (
            graph.vertices.select("id")
            .join(
                E.groupBy(F.col("src").alias("id")).agg(
                    F.min("dst").alias("_c")
                ),
                "id",
                "left",
            )
            .select("id", F.coalesce("_c", F.col("id")).alias("component"))
            .localCheckpoint(eager=True)
        )
    return comp


def _star_rounds(graph: PropertyGraph, p: int, max_iter: int) -> DataFrame:
    # lineage is cut EVERY round: E is referenced twice per round (self
    # + swap), so anything short of a checkpoint doubles the logical
    # plan per iteration (cache() bounds recomputation, not plan size)
    # janitor (r11): each round's checkpoint supersedes the previous
    # round's edge checkpoint — free those blocks deterministically
    # instead of letting them pile up until the driver's periodic GC
    # (observed: back-to-back 30M-edge runs degrading 49 -> 107s as dead
    # generations accumulate in the block manager)
    jan = CheckpointJanitor(graph.edges.sparkSession)
    E = jan.checkpoint(
        graph.edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(p, "src")
    )
    prev_sig = None
    for it in range(max_iter):
        sym = E.unionByName(
            E.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # large-star: m = min over {u} ∪ N(u)
        mins = sym.groupBy("src").agg(
            F.least(F.col("src"), F.min("dst")).alias("m")
        )
        ls = (
            sym.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        # small-star on (src > dst)-oriented edges: m = min neighbor
        mins2 = ls.groupBy("src").agg(F.min("dst").alias("m"))
        nE = (
            ls.join(mins2, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(
                mins2.select("src", F.col("m").alias("dst"))
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .repartition(p, "src")
        )
        # the round's checkpoint job also computes its fixpoint signature:
        # count + modular hash sums (pmod keeps the ANSI-mode sum far
        # from long overflow at any edge count); the janitor frees the
        # previous round's E once nE has landed
        E, sig = jan.checkpoint(
            nE,
            probe=F.struct(
                F.count(F.lit(1)),
                F.sum(F.pmod(F.col("src"), F.lit(1_000_000_007))),
                F.sum(F.pmod(F.col("dst"), F.lit(1_000_000_007))),
                F.sum(F.pmod(F.xxhash64("src", "dst"), F.lit(1_000_000_007))),
            ),
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    return E


def component_sizes(components: DataFrame) -> DataFrame:
    """Label histogram C12/A5 (``src/util/labelanalysis.hpp:67-189``):
    component → size, descending."""
    return (
        components.groupBy("component")
        .agg(F.count("*").alias("size"))
        .orderBy(F.desc("size"), "component")
    )


def wcc_sql(edges_sql: str, vertices_sql: str | None = None) -> str:
    """DuckDB oracle: min-reachable-id via recursive CTE over the
    symmetrized graph. Component of v = min id reachable from v
    (undirected), identical to the label-propagation fixpoint.

    ``vertices_sql`` (yielding an ``id`` column) overrides the derived
    vertex set — needed when isolated vertices must appear as singleton
    components (e.g. after bond percolation)."""
    verts = (
        f"({vertices_sql})"
        if vertices_sql is not None
        else "(SELECT DISTINCT src AS id FROM sym UNION SELECT DISTINCT dst FROM sym)"
    )
    return f"""
        WITH RECURSIVE
        base_edges AS ({edges_sql}),
        sym AS (
            SELECT src, dst FROM base_edges
            UNION
            SELECT dst AS src, src AS dst FROM base_edges
        ),
        verts AS (SELECT id FROM {verts}),
        reach(id, r) AS (
            SELECT id, id AS r FROM verts
            UNION
            SELECT s.dst AS id, reach.r
            FROM reach JOIN sym s ON s.src = reach.id
        )
        SELECT id, min(r) AS component FROM reach GROUP BY id
    """
