"""Random walks (G11) — parallel personalized walks with visit counts.

Reference: ``example_apps/randomwalks.cpp:70-110`` — launches 100 walks
from every 50th vertex; walk ids ride in per-edge chivectors; each step
every walk moves to a random out-neighbor; output = visit counts.

Spark-first: the walk state is a DataFrame (walk_id, cur) — NOT per-edge
dynamic vectors (SURVEY §7 'what is hard': explode-based walk table
instead of chivector columns). One step =
    walks ⋈ out-edges on cur → per walk pick one neighbor
The random pick is a deterministic hash of (walk_id, step, dst): the
minimum-hash neighbor wins — reproducible across runs/engines (the
reference uses process RNG; determinism is our strengthened contract).
Walks at sinks (no out-edges) halt in place, matching the reference's
behavior of dying walks.

Scale: each step is one join + min_by groupBy, shuffle bounded by
#walks; visit counts accumulate via unionByName of per-step positions
(cheap: k small) then one groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphchi_cpp_spark.graph import PropertyGraph
from graphchi_cpp_spark.operators.text import HASH_PRIME, md5_long


def random_walks(
    graph: PropertyGraph,
    sources: DataFrame,
    walks_per_source: int = 10,
    steps: int = 5,
) -> DataFrame:
    """(vertex, visits) — visit counts over all walk positions after each
    of ``steps`` steps (initial positions excluded, matching the
    reference's update-time counting)."""
    import os as _os

    edges = graph.edges.select("src", "dst").localCheckpoint(eager=True)
    walks = (
        sources.select(F.col("id").alias("cur"))
        .crossJoin(
            F.broadcast(
                sources.sparkSession.range(walks_per_source).select(
                    F.col("id").alias("w")
                )
            )
        )
        .select(
            (F.col("cur") * walks_per_source + F.col("w")).alias("walk_id"), "cur"
        )
        # lazy: the cap-decision count below materializes the checkpoint
        # in the same job, before the step loop's dual references
        .localCheckpoint(eager=False)
    )
    # the walk state is tiny next to the edge table (one row per walk):
    # broadcast it into the per-step gather join so the edges are only
    # SCANNED each step, never shuffled — the shuffle is then bounded by
    # the matched frontier rows in the min_by aggregation. Row-capped
    # with the shuffle join as fallback (checkpointed inputs lose stats,
    # so Catalyst alone would sort-merge both sides every step).
    from graphchi_cpp_spark.partitioning import broadcast_row_cap

    # byte-derived cap: a (walk_id, cur) state row hashes at ~64 B
    bcast_walks = walks.count() <= broadcast_row_cap(walks.sparkSession, 64)
    visit_parts: list[DataFrame] = []
    for step in range(steps):
        w_side = F.broadcast(walks) if bcast_walks else walks
        stepped = (
            w_side.join(edges.withColumnRenamed("src", "cur"), "cur")
            .select(
                "walk_id",
                "cur",
                "dst",
                F.pmod(
                    md5_long(
                        F.concat_ws(
                            ":",
                            F.col("walk_id"),
                            F.lit(step),
                            F.col("dst"),
                        )
                    ),
                    F.lit(HASH_PRIME),
                ).alias("r"),
            )
            .groupBy("walk_id")
            .agg(F.min_by("dst", F.struct("r", "dst")).alias("nxt"))
        )
        # stepped (≤ one row per walk) broadcasts into the update join.
        # Per-step walk-state checkpoints are deliberately RETAINED (no
        # janitor here): every step's state also feeds a visit part that
        # the final aggregation reads, so nothing is superseded until the
        # function returns — the ContextCleaner / periodic GC reclaims
        # them afterwards.
        walks = (
            walks.join(
                F.broadcast(stepped) if bcast_walks else stepped,
                "walk_id",
                "left",
            )
            .select("walk_id", F.coalesce("nxt", F.col("cur")).alias("cur"))
            .localCheckpoint(eager=True)
        )
        visit_parts.append(walks.select("cur"))
    visits = visit_parts[0]
    for p in visit_parts[1:]:
        visits = visits.unionByName(p)
    return visits.groupBy(F.col("cur").alias("vertex")).agg(
        F.count("*").cast("long").alias("visits")
    )


def random_walks_sql(
    edges_sql: str,
    sources_sql: str,
    walks_per_source: int = 10,
    steps: int = 5,
) -> str:
    """DuckDB oracle: the deterministic-hash walk unrolled step by step.
    The per-step neighbor pick arg_min(dst, r*P + dst) equals Spark's
    min_by(dst, struct(r, dst)) because r,dst < P."""
    P = HASH_PRIME
    ctes = [
        f"edges AS ({edges_sql})",
        f"""w0 AS (
            SELECT id * {walks_per_source} + w.w AS walk_id, id AS cur
            FROM ({sources_sql})
            CROSS JOIN (SELECT unnest(range({walks_per_source})) AS w) w
        )""",
    ]
    for i in range(1, steps + 1):
        prev = f"w{i - 1}"
        ctes.append(
            f"""w{i} AS (
              SELECT p.walk_id, coalesce(m.nxt, p.cur) AS cur
              FROM {prev} p LEFT JOIN (
                SELECT walk_id,
                       arg_min(dst, r * {P}::BIGINT + dst) AS nxt
                FROM (
                  SELECT p2.walk_id, e.dst,
                         ('0x' || substr(md5(concat_ws(':', p2.walk_id,
                             {i - 1}, e.dst)), 1, 15))::BIGINT % {P} AS r
                  FROM {prev} p2 JOIN edges e ON e.src = p2.cur
                ) GROUP BY walk_id
              ) m ON m.walk_id = p.walk_id
            )"""
        )
    unions = " UNION ALL ".join(
        f"SELECT cur FROM w{i}" for i in range(1, steps + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT cur AS vertex, count(*)::BIGINT AS visits
        FROM ({unions}) GROUP BY cur
        """
    )
