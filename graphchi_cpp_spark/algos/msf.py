"""Minimum spanning forest (G10) — Borůvka star contraction.

Reference: ``example_apps/minimumspanningforest.cpp`` — per round each
vertex/component picks its minimum-weight incident edge (``:151``), the
chosen edges join the forest, components contract (min-label propagation),
and a second program writes the contracted graph as a NEW sharded edge
table per round (``:305``, sink wiring ``:379-416`` — the C13
sharded_graph_output). Tie-breaking: the reference orders by weight with
deterministic comparison; we break ties on (weight, src, dst).

Spark recipe per Borůvka round over component-labeled edges:
1. cross-component edges only; per component, min_by((w, src, dst)) edge.
2. chosen edges → forest (dedup both orientations).
3. contract: WCC on (component-graph of chosen edges) relabels components
   (min-label loop on the tiny chosen-edge graph).
4. re-label edge endpoints; emit the contracted edge table (the per-round
   parquet-able snapshot ↔ reference's per-round shard write).
Rounds are O(log V) since components at least halve.

Scale note: each round's heavy ops are one groupBy(component).min_by and
two relabel joins; the chosen-edge graph is ≤ one edge per component, so
the contraction loop runs on a vanishing fraction of the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphchi_cpp_spark.graph import PropertyGraph


def minimum_spanning_forest(
    graph: PropertyGraph,
    weight_col: str = "weight",
    max_rounds: int = 30,
    contraction_collect_threshold: int = 1_000_000,
) -> DataFrame:
    """Returns forest edges (src, dst, weight) — an MSF of the undirected
    graph (edges interpreted bidirectionally, weight from ``weight_col``)."""
    from graphchi_cpp_spark.partitioning import (
        adaptive_partitions,
        scoped_shuffle_partitions,
    )

    spark0 = graph.edges.sparkSession
    # data-derived partition count for the whole contraction loop
    # (guide §2): every per-round exchange (min_by aggregate, dedup,
    # checkpoint layout) follows the data size; the conf cap binds at
    # cluster scale so large graphs are unchanged
    p = adaptive_partitions(spark0, 2 * graph.edges.count())
    with scoped_shuffle_partitions(spark0, p):
        return _msf_loop(
            graph, weight_col, max_rounds, contraction_collect_threshold
        )


def _msf_loop(
    graph: PropertyGraph,
    weight_col: str,
    max_rounds: int,
    contraction_collect_threshold: int,
) -> DataFrame:
    e = graph.edges.select(
        "src", "dst", F.col(weight_col).cast("double").alias("w")
    )
    # canonical undirected form, min weight per pair — with the CURRENT
    # component labels carried ON the edge row (ca, cb; initially the
    # endpoints themselves). Carrying labels on edges removes the former
    # per-round two-join labeling against the |V|-row vertex→component
    # map entirely: candidate selection reads the labeled table as-is,
    # and contraction relabels it with a broadcast of only the
    # merged-parent map (≤ one row per live component, halving every
    # round) instead of the full |V|-row map. Two extra longs per edge
    # row buy zero |E|⋈|V| joins per round.
    und = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
        .select(
            "src", "dst", "w", F.col("src").alias("ca"), F.col("dst").alias("cb")
        )
        # lazy: round 1's per_comp count references und once and
        # materializes it inside its own job
        .localCheckpoint(eager=False)
    )
    forest_parts: list[DataFrame] = []

    import os as _os

    from graphchi_cpp_spark.checkpoints import CheckpointJanitor

    spark0 = graph.edges.sparkSession
    jan_und = CheckpointJanitor(spark0)
    # the merged-parent map is ≤ one row per live component: broadcast
    # it into the relabeling join under the row cap so the edge table
    # is scanned, never shuffled, per round (the checkpointed inputs
    # carry no stats, so Catalyst alone would shuffle-join both sides).
    # Shuffle fallback above the cap.
    from graphchi_cpp_spark.partitioning import broadcast_row_cap

    # byte-derived cap: a (comp, p) map row hashes at ~64 B
    bcast_parent_max = broadcast_row_cap(spark0, 64)
    for rnd in range(max_rounds):
        # per component, pick the cheapest outgoing edge straight off the
        # labeled table (cross-component by invariant: relabeling drops
        # intra-component rows). The empty-check runs on the already-
        # checkpointed aggregate (≤ one row per component) instead of a
        # separate limit(1) probe over a labeling join.
        cand = und.select(
            F.explode(F.array("ca", "cb")).alias("comp"),
            F.struct("w", "src", "dst", "ca", "cb").alias("e"),
        )
        # per_comp checkpoints are NOT janitored: every round's forest
        # part reads from its round's blocks until the final union.
        # Lazy: the count below references it once and materializes the
        # checkpoint in the same job (was a materialization job + a
        # count job over the same blocks, ~1 job saved per round)
        per_comp = (
            cand.groupBy("comp")
            .agg(F.min("e").alias("e"))
            .select(
                "comp",
                F.col("e.src").alias("src"),
                F.col("e.dst").alias("dst"),
                F.col("e.w").alias("w"),
                F.when(F.col("comp") == F.col("e.ca"), F.col("e.cb"))
                .otherwise(F.col("e.ca"))
                .alias("other"),
            )
            .localCheckpoint(eager=False)
        )
        n_comp = per_comp.count()
        if n_comp == 0:
            break
        forest_parts.append(
            per_comp.select("src", "dst", F.col("w").alias("weight")).dropDuplicates(
                ["src", "dst"]
            )
        )
        # contract the chosen-edge component graph. The table has ONE row
        # per live component and halves every round, so it is orders of
        # magnitude smaller than the data: collect + driver union-find +
        # broadcast mapping is the fast path (one job instead of an
        # O(log n) pointer-jumping loop of jobs). Falls back to
        # distributed pointer jumping above the threshold.
        pairs = per_comp.select("comp", "other")
        if n_comp <= contraction_collect_threshold:
            rows = pairs.collect()
            uf: dict = {}

            def find(x):
                r = x
                while uf.setdefault(r, r) != r:
                    r = uf[r]
                while uf[x] != r:
                    uf[x], x = r, uf[x]
                return r

            for row in rows:
                ra, rb = find(row["comp"]), find(row["other"])
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    uf[rb] = ra
            mapping = [(c, find(c)) for c in list(uf)]
            spark = graph.edges.sparkSession
            parent = spark.createDataFrame(mapping, "comp long, p long")
            bcast_parent = len(mapping) <= bcast_parent_max
        else:
            # distributed pointer jumping: chosen edges form pseudo-trees
            # with one 2-cycle each; root at the smaller id, square the
            # parent pointer until fixpoint (O(log depth) rounds).
            o2 = per_comp.select(
                F.col("comp").alias("other"), F.col("other").alias("other2")
            )
            parent = (
                per_comp.select("comp", "other")
                .join(o2, "other", "left")
                .select(
                    "comp",
                    F.when(
                        (F.col("other2") == F.col("comp"))
                        & (F.col("comp") < F.col("other")),
                        F.col("comp"),
                    )
                    .otherwise(F.col("other"))
                    .alias("p"),
                )
                .localCheckpoint(eager=True)
            )
            while True:
                pp = parent.select(F.col("comp").alias("p"), F.col("p").alias("gp"))
                # lazy + full chg count: one job per jump (the filter
                # sits above the checkpointed RDD, so the count computes
                # and persists every partition in the same job)
                np_ = (
                    parent.join(pp, "p", "left")
                    .select(
                        "comp",
                        F.coalesce("gp", F.col("p")).alias("p"),
                        (F.coalesce("gp", F.col("p")) != F.col("p")).alias("chg"),
                    )
                    .localCheckpoint(eager=False)
                )
                changed = np_.filter("chg").count() > 0
                parent = np_.drop("chg")
                if not changed:
                    break
            bcast_parent = n_comp <= bcast_parent_max
        # contract: compose the parent map onto the edge labels in ONE
        # pass over the labeled table (two small joins against the
        # merged-parent map), dropping now-intra-component rows; the
        # janitor frees the superseded generation (plain unpersist
        # cannot release checkpointed RDDs — checkpoints.py). This is
        # the per-round contracted snapshot (reference: per-round
        # sharded sink — callers can persist it).
        pa = parent.select(F.col("comp").alias("ca"), F.col("p").alias("pa"))
        pb = parent.select(F.col("comp").alias("cb"), F.col("p").alias("pb"))
        if bcast_parent:
            pa, pb = F.broadcast(pa), F.broadcast(pb)
        # contract: compose the parent map onto the edge labels in ONE
        # pass over the labeled table, dropping now-intra-component rows.
        # (A lazy-cache variant that fused this materialization into the
        # next round's aggregation measured SLOWER — 10.7s vs 6.6s at
        # sf0.1 — the chained InMemoryRelation plans cost more than the
        # eager checkpoint they saved; keep the per-round checkpoint.)
        und = jan_und.checkpoint(
            und.join(pa, "ca", "left")
            .join(pb, "cb", "left")
            .select(
                "src",
                "dst",
                "w",
                F.coalesce("pa", F.col("ca")).alias("ca"),
                F.coalesce("pb", F.col("cb")).alias("cb"),
            )
            .filter(F.col("ca") != F.col("cb"))
        )

    if not forest_parts:
        return graph.edges.sparkSession.createDataFrame(
            [], "src long, dst long, weight double"
        )
    out = forest_parts[0]
    for p in forest_parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["src", "dst"])


def msf_sql(weighted_edges_sql: str, rounds: int = 12, jumps: int = 12) -> str:
    """DuckDB oracle: Borůvka unrolled. Under the strict total edge order
    (w, src, dst) the minimum spanning forest is UNIQUE, so the oracle only
    needs the same order, not the same execution schedule as the Spark
    side. ``weighted_edges_sql`` yields (src, dst, weight).

    Per round: per-component minimum cross edge by global edge rank
    (row_number over (w, src, dst) — arg_min needs a scalar key), then the
    chosen-edge pointer graph (one 2-cycle per merge group, broken at the
    smaller id) is contracted by ``jumps`` pointer-halving steps
    (p ← p∘p), covering merge-chain depth 2^jumps. Rounds at least halve
    the component count, so rounds=12 covers 4096 components; extra
    rounds/jumps are identity.
    """
    ctes = [
        f"we AS MATERIALIZED ({weighted_edges_sql})",
        # canonical undirected form, min weight per pair (matches the
        # Spark side's symmetrize+min)
        """und AS MATERIALIZED (
          SELECT least(src, dst) AS src, greatest(src, dst) AS dst,
                 min(weight) AS w
          FROM we WHERE src <> dst GROUP BY 1, 2
        )""",
        """er AS MATERIALIZED (
          SELECT src, dst, w,
                 row_number() OVER (ORDER BY w, src, dst) AS rk
          FROM und
        )""",
        """comp0 AS MATERIALIZED (
          SELECT id, id AS comp FROM (
            SELECT DISTINCT src AS id FROM und UNION SELECT dst FROM und
          )
        )""",
    ]
    for r in range(1, rounds + 1):
        p = f"comp{r - 1}"
        ctes.append(
            f"""lab{r} AS MATERIALIZED (
              SELECT e.rk, e.src, e.dst, e.w, cs.comp AS ca, cd.comp AS cb
              FROM er e
              JOIN {p} cs ON cs.id = e.src
              JOIN {p} cd ON cd.id = e.dst
              WHERE cs.comp <> cd.comp
            )"""
        )
        ctes.append(
            f"""ch{r} AS MATERIALIZED (
              SELECT comp, arg_min(src, rk) AS src, arg_min(dst, rk) AS dst,
                     arg_min(w, rk) AS w,
                     arg_min(ea, rk) AS ea, arg_min(eb, rk) AS eb
              FROM (
                SELECT ca AS comp, rk, src, dst, w, ca AS ea, cb AS eb
                FROM lab{r}
                UNION ALL
                SELECT cb, rk, src, dst, w, ca, cb FROM lab{r}
              ) GROUP BY comp
            )"""
        )
        ctes.append(
            f"""po{r} AS MATERIALIZED (
              SELECT comp,
                     CASE WHEN comp = ea THEN eb ELSE ea END AS other
              FROM ch{r}
            )"""
        )
        # root the one 2-cycle per merge group at its smaller endpoint
        ctes.append(
            f"""p{r}_0 AS MATERIALIZED (
              SELECT a.comp,
                     CASE WHEN b.other = a.comp AND a.comp < a.other
                          THEN a.comp ELSE a.other END AS p
              FROM po{r} a LEFT JOIN po{r} b ON b.comp = a.other
            )"""
        )
        for j in range(1, jumps + 1):
            ctes.append(
                f"""p{r}_{j} AS MATERIALIZED (
                  SELECT a.comp, coalesce(b.p, a.p) AS p
                  FROM p{r}_{j - 1} a LEFT JOIN p{r}_{j - 1} b ON b.comp = a.p
                )"""
            )
        ctes.append(
            f"""comp{r} AS MATERIALIZED (
              SELECT c.id, coalesce(p.p, c.comp) AS comp
              FROM {p} c LEFT JOIN p{r}_{jumps} p ON p.comp = c.comp
            )"""
        )
    forest_union = "\nUNION ALL\n".join(
        f"SELECT src, dst, w FROM ch{r}" for r in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT DISTINCT src, dst, w AS weight FROM ({forest_union})"""
    )
