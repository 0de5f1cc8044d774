"""K-core decomposition (G9).

Reference: ``toolkits/graph_analytics/kcores.cpp:86`` — iteration k keeps
a vertex active iff its degree among active vertices exceeds k; a vertex's
core number is the k at which it is peeled.

Two implementations with the same output contract (id, core):

- ``method='hindex'`` (default, the scale path): the Montresor et al.
  h-index fixpoint — c_0(v) = deg(v); c_{t+1}(v) = min(c_t(v),
  H({c_t(u) : u ∈ N(v)})) where H is the h-index (largest h such that at
  least h neighbors have value ≥ h). Converges to the coreness for every
  vertex. ONE bounded loop of joins/windows — no per-k inner fixpoint, no
  driver-side collects; iteration count is small in practice (bounded by
  the longest "degeneracy chain", typically ≲ 20 even on web graphs).
- ``method='peel'``: literal peeling matching the reference's per-k
  semantics — kept as the small-scale cross-check (it runs a *sequential*
  job per peel level: thousands of jobs on graphs with large degeneracy,
  the r1-flagged scale-killer).

``kcores_sql`` unrolls the h-index fixpoint as chained CTEs — the DuckDB
oracle (extra iterations past the fixpoint are no-ops, so the unroll count
only needs to cover convergence at the oracle's scale factor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from graphchi_cpp_spark.graph import PropertyGraph


def kcores(
    graph: PropertyGraph,
    max_k: int = 1_000_000,
    method: str = "hindex",
    max_iter: int = 100,
    stats: dict | None = None,
) -> DataFrame:
    """Returns (id, core) for every vertex; isolated vertices → core 0.

    ``stats``: optional dict the hindex path fills with
    ``{"iterations": n}`` (supersteps run until the fixpoint, INCLUDING
    the final no-change confirmation pass) — lets callers assert the
    convergence depth, e.g. that a CTE-unrolled oracle's iteration
    budget covers it (tests/test_graph_algos.py pins the sf0.01 gate
    margin)."""
    if method == "hindex":
        return _kcores_hindex(graph, max_iter=max_iter, stats=stats)
    if method == "peel":
        return _kcores_peel(graph, max_k=max_k)
    raise ValueError(f"unknown kcores method {method!r}")


def _kcores_hindex(
    graph: PropertyGraph, max_iter: int = 100, stats: dict | None = None
) -> DataFrame:
    """Montresor h-index fixpoint: one loop, two shuffles per iteration
    (neighbor join + value histogram), edge table cached once with
    partition reuse. Monotone non-increasing per vertex, so convergence
    is checked with a cheap changed-count."""
    from graphchi_cpp_spark.checkpoints import CheckpointJanitor
    from graphchi_cpp_spark.partitioning import (
        adaptive_partitions,
        scoped_shuffle_partitions,
    )

    spark = graph.edges.sparkSession
    jan = CheckpointJanitor(spark)
    # data-derived partition count (guide §2); conf cap binds at scale
    p = adaptive_partitions(spark, 2 * graph.edges.count())
    with scoped_shuffle_partitions(spark, p):
        return _hindex_loop(graph, spark, jan, p, max_iter, stats)


def _hindex_loop(graph, spark, jan, p, max_iter, stats):
    # symmetrize inline with dedup folded into the dst-repartition:
    # hashpartitioning(dst) satisfies the (src, dst) clustering the
    # dedup aggregate needs — one exchange instead of symmetrize()'s
    # (src,dst)-distinct shuffle plus the dst repartition
    base = graph.edges.select("src", "dst")
    e = (
        base.unionByName(
            base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition(p, "dst")
        .dropDuplicates(["src", "dst"])
        .cache()
    )
    all_vertices = graph.vertices.select("id").localCheckpoint(eager=True)

    c = (
        e.groupBy(F.col("src").alias("id"))
        .agg(F.count("*").cast("int").alias("c"))
        .repartition(p, "id")
        .cache()
    )
    c.count()

    iterations = 0
    for _ in range(max_iter):
        iterations += 1
        # Aggregate-only h-index (no per-edge sort): histogram the
        # neighbor values per vertex (hash agg, map-side combinable —
        # the shuffle carries |distinct (src, value)| rows, not |E|),
        # then a descending running count over the tiny histogram gives
        # #{neighbors ≥ v}, and H = max over distinct v of
        # min(v, #{≥ v}) — the standard h-index identity. A power-law
        # hub's million edges collapse to ≤ its distinct neighbor
        # values before the window sort ever runs.
        nbr = e.join(
            c.select(F.col("id").alias("dst"), F.col("c").alias("cn")), "dst"
        ).select("src", "cn")
        hist = nbr.groupBy("src", "cn").agg(F.count("*").alias("n"))
        wv = (
            Window.partitionBy("src")
            .orderBy(F.col("cn").desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        h = (
            hist.withColumn("ge", F.sum("n").over(wv))
            .select("src", F.least(F.col("cn").cast("long"), F.col("ge")).alias("m"))
            .groupBy(F.col("src").alias("id"))
            .agg(F.max("m").cast("int").alias("h"))
        )
        # ONE job per iteration: the eager checkpoint's job also counts
        # the changed vertices (observe probe on the 1-byte chg column)
        nc, n_changed = jan.checkpoint(
            c.join(h, "id", "left").select(
                "id",
                F.least(F.col("c"), F.coalesce("h", F.lit(0))).alias("c"),
                (F.least(F.col("c"), F.coalesce("h", F.lit(0))) != F.col("c")).alias(
                    "chg"
                ),
            ),
            probe=F.count_if("chg"),
        )
        c.unpersist()
        c = nc.drop("chg")
        if n_changed == 0:
            break

    e.unpersist()
    if stats is not None:
        stats["iterations"] = iterations
    return all_vertices.join(c, "id", "left").select(
        "id", F.coalesce("c", F.lit(0)).cast("int").alias("core")
    )


def kcores_sql(edges_sql: str, iterations: int = 20) -> str:
    """DuckDB oracle: the h-index fixpoint unrolled ``iterations`` times.

    ``edges_sql`` yields directed (src, dst); symmetrized+deduped here to
    match ``PropertyGraph.symmetrize``. Iterations past the fixpoint are
    identity, so choose a count comfortably above observed convergence.
    """
    ctes = [
        # MATERIALIZED: the unrolled iterations reference sym dozens of
        # times — without it DuckDB inlines the CTE and re-opens the
        # underlying parquet per reference (fd exhaustion)
        f"base_e AS MATERIALIZED ({edges_sql})",
        "sym AS MATERIALIZED (SELECT src, dst FROM base_e "
        "UNION SELECT dst, src FROM base_e)",
        "verts AS (SELECT DISTINCT src AS id FROM base_e "
        "UNION SELECT dst FROM base_e)",
        "c0 AS (SELECT src AS id, CAST(count(*) AS INT) AS c "
        "FROM sym GROUP BY src)",
    ]
    for i in range(1, iterations + 1):
        prev = f"c{i - 1}"
        # MATERIALIZED: c{i} references c{i-1} twice — inlining would grow
        # the plan 2^iterations (the SQL analog of the Spark lineage gotcha)
        ctes.append(
            f"""c{i} AS MATERIALIZED (
              SELECT p.id, CAST(least(p.c, coalesce(h.h, 0)) AS INT) AS c
              FROM {prev} p LEFT JOIN (
                SELECT src AS id, max(least(rn, cn)) AS h FROM (
                  SELECT e.src, q.c AS cn,
                         row_number() OVER (
                           PARTITION BY e.src ORDER BY q.c DESC
                         ) AS rn
                  FROM sym e JOIN {prev} q ON q.id = e.dst
                ) GROUP BY src
              ) h ON h.id = p.id
            )"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT v.id, CAST(coalesce(c.c, 0) AS INT) AS core
        FROM verts v LEFT JOIN c{iterations} c ON c.id = v.id"""
    )


def _kcores_peel(graph: PropertyGraph, max_k: int = 1_000_000) -> DataFrame:
    """Literal peeling (reference per-k semantics). Sequential job storm —
    cross-check path only; use method='hindex' at scale."""
    spark = graph.edges.sparkSession
    e = graph.symmetrize().edges.select("src", "dst").localCheckpoint(eager=True)
    all_vertices = graph.vertices.select("id").localCheckpoint(eager=True)

    # vertices that start with no edges at all → core 0
    active = (
        all_vertices.join(
            e.select(F.col("src").alias("id")).distinct(), "id", "left_semi"
        )
        .localCheckpoint(eager=True)
    )
    peeled_parts: list[DataFrame] = []

    k = 0
    while k < max_k and active.limit(1).count() > 0:
        # jump k straight to the smallest remaining degree: on dense
        # graphs (e.g. a near-complete graph, min degree ~n) stepping
        # k by 1 would run hundreds of empty peel levels; the peel order
        # and core numbers are identical because no vertex has degree
        # between k and the minimum (standard degeneracy-order shortcut)
        mind = (
            e.groupBy("src").agg(F.count("*").alias("d")).agg(F.min("d")).collect()
        )[0][0]
        k = max(k + 1, int(mind) if mind is not None else k + 1)
        if k > max_k:
            break
        while True:
            deg = e.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("d"))
            doomed = (
                active.join(deg, "id", "left")
                .filter(F.coalesce("d", F.lit(0)) <= k)
                .select("id")
                .localCheckpoint(eager=True)
            )
            if doomed.limit(1).count() == 0:
                break
            peeled_parts.append(doomed.withColumn("core", F.lit(k)))
            active = active.join(doomed, "id", "left_anti").localCheckpoint(eager=True)
            e = (
                e.join(doomed.withColumnRenamed("id", "src"), "src", "left_anti")
                .join(doomed.withColumnRenamed("id", "dst"), "dst", "left_anti")
                .select("src", "dst")
                .localCheckpoint(eager=True)
            )

    if peeled_parts:
        peeled = peeled_parts[0]
        for p in peeled_parts[1:]:
            peeled = peeled.unionByName(p)
    else:
        peeled = spark.createDataFrame([], "id long, core int")

    return all_vertices.join(peeled, "id", "left").select(
        "id", F.coalesce("core", F.lit(0)).cast("int").alias("core")
    )
