"""ALS matrix factorization (M1) — alternating grouped least-squares.

Reference: ``toolkits/collaborative_filtering/als.cpp:123-151`` — per-vertex
update solves the D×D normal equations (A^T A + λI)x = A^T b with Cholesky
(Eigen ``ldlt``), alternating user/item sides per iteration; D=5 default
(``example_apps/matrix_factorization/als.hpp:68``), training RMSE per
iteration (``als.cpp:164``), validation engine ``rmse_engine.hpp:44``,
early stop on validation-RMSE increase (``--halt_on_rmse_increase``).

Spark-first mapping: one ALS half-step =
    ratings ⋈ other-side factors (broadcast when D·N small, shuffle join
    otherwise) → groupBy(this side) → applyInPandas(numpy solve)
The grouped-map pandas UDF is the sanctioned escape hatch (SURVEY §2.8):
the D×D solve is genuinely non-relational. Everything around it —
joins, RMSE, recommendations — stays JVM-side.

Determinism: factors are initialized from a hash of the id (no RNG), so
double runs are bit-identical (determinism contract, unittest.sh:25-28).

Scale notes: the shuffle is bounded by |ratings|; groups are per-user /
per-item so power users make skewed groups — AQE handles moderate skew,
and the D×D solve is O(deg·D² + D³) per group, linear overall. Factor
tables are O((M+N)·D) — broadcastable for D≤16 up to ~10M ids; beyond
that the join switches to shuffle hash automatically.

``pyspark.ml.recommendation.ALS`` is the library-native alternative
(blocked, more scalable); this implementation keeps the reference's exact
alternating least-squares semantics and determinism.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, DoubleType

D_DEFAULT = 5  # als.hpp:68 NLATENT
LAMBDA_DEFAULT = 0.065  # als.cpp lambda default


def _init_factors(df: DataFrame, id_col: str, d: int) -> DataFrame:
    """Deterministic pseudo-random init in [0, 0.1) from the id hash
    (reference inits uniform random 0..1 scaled; we fix the seed story)."""
    comps = [
        (
            F.pmod(F.col(id_col) * F.lit(2654435761 + 97 * j) + F.lit(12289 * j), F.lit(100003))
            / F.lit(1000030.0)
        ).cast("double")
        for j in range(d)
    ]
    return df.select(F.col(id_col), F.array(*comps).alias("factors"))


NUM_SOLVE_BLOCKS = 64  # legacy fallback; see solve_blocks()


# --------------------------------------------------------------------- #
# d=2 expression-only fast path: the 2×2 normal equations
# (AᵀA + λ·n·I)x = Aᵀb have a closed-form inverse, so one ALS half-step
# is a join + groupBy-agg + arithmetic — zero Python, zero Arrow. This is
# exactly the math the DuckDB oracle below (``_als2_solve_sql``) runs;
# the UDF path remains for d>2. At 100 TB this also removes the
# per-half-step Arrow serialization of every rating.
# --------------------------------------------------------------------- #
def _join_factors_d2(
    ratings: DataFrame, fixed: DataFrame, other_col: str, bcast: bool = False
) -> DataFrame:
    f = fixed.select(
        F.col(other_col),
        F.col("factors")[0].alias("_f0"),
        F.col("factors")[1].alias("_f1"),
    )
    if bcast:
        f = F.broadcast(f)
    return ratings.join(f, other_col)


def _sums_d2(joined: DataFrame, group_col: str, reg: float, w=None):
    """Grouped sufficient statistics of the (weighted) 2×2 normal
    equations: [a b; b c] x = [rhs0; rhs1], λ scaled by #obs like the
    reference (``als.cpp:123-151``) and the numpy path above."""
    w = F.lit(1.0) if w is None else w
    n = F.count(F.lit(1))
    f0, f1 = F.col("_f0"), F.col("_f1")
    return joined.groupBy(group_col).agg(
        (F.sum(w * f0 * f0) + F.lit(reg) * n).alias("a"),
        F.sum(w * f0 * f1).alias("b"),
        (F.sum(w * f1 * f1) + F.lit(reg) * n).alias("c"),
        F.sum(w * F.col("rating") * f0).alias("rhs0"),
        F.sum(w * F.col("rating") * f1).alias("rhs1"),
    )


def _dense_d2() -> tuple:
    """Closed-form 2×2 solve column expressions over ``_sums_d2`` output:
    inv([a b; b c]) = 1/(ac − b²)·[c −b; −b a].

    Requires reg > 0: with λ·n on the diagonal the system is strictly
    positive-definite, so det > 0 for every group. At reg=0 a
    rank-deficient group (e.g. a single rating) has det=0 and this
    division yields null/Inf where the numpy path raises LinAlgError —
    use the d>2 UDF path if you need reg=0 semantics."""
    a, b, c = F.col("a"), F.col("b"), F.col("c")
    det = a * c - b * b
    return (
        (c * F.col("rhs0") - b * F.col("rhs1")) / det,
        (a * F.col("rhs1") - b * F.col("rhs0")) / det,
    )


def _solve_side_d2(
    ratings: DataFrame,
    fixed: DataFrame,
    group_col: str,
    other_col: str,
    reg: float,
    weight_col: str | None = None,
    bcast: bool = False,
) -> DataFrame:
    # NaN (not null) for missing weights: F.sum skips nulls while the λ·n
    # term still counts the row — coalescing to NaN instead poisons the
    # group's sums, matching the numpy path's NaN propagation
    w = (
        F.coalesce(F.col(weight_col).cast("double"), F.lit(float("nan")))
        if weight_col is not None
        else None
    )
    s = _sums_d2(
        _join_factors_d2(ratings, fixed, other_col, bcast), group_col, reg, w
    )
    x0, x1 = _dense_d2()
    # cast matches the d>2 UDF path's declared LongType key so the two
    # dispatch branches expose one output contract
    return s.select(
        F.col(group_col).cast("long").alias(group_col),
        F.array(x0, x1).alias("factors"),
    )


def solve_blocks(df: DataFrame) -> int:
    """Hash-block count for grouped applyInPandas solves: ONE task wave
    at the session's parallelism. More blocks than cores means extra
    Arrow round-trip waves (measured 2× slower at 64 blocks on 32 cores);
    fewer starves executors. Scales automatically from local[N] to a
    large cluster (defaultParallelism tracks total cores)."""
    return max(8, df.sparkSession.sparkContext.defaultParallelism)


def _batched_solve_udf(d: int, reg: float):
    """Arrow-batched D×D normal-equation solver over ONE row per entity:
    the packed upper triangle of (AᵀA + λ·n·I) and the RHS arrive as two
    array columns, the whole Arrow batch is solved with a single stacked
    ``np.linalg.solve`` call — no per-entity Python loop. Groups whose
    sums went NaN (the weighted path's missing-weight poisoning) come
    back as NaN factors instead of failing the batch."""
    iu = np.triu_indices(d)

    @F.pandas_udf(ArrayType(DoubleType()))
    def solve(ata: pd.Series, rhs: pd.Series) -> pd.Series:
        n = len(ata)
        packed = np.stack(ata.to_numpy())
        b = np.stack(rhs.to_numpy())
        A = np.zeros((n, d, d))
        A[:, iu[0], iu[1]] = packed
        A[:, iu[1], iu[0]] = packed
        x = np.full((n, d), np.nan)
        ok = np.isfinite(packed).all(axis=1) & np.isfinite(b).all(axis=1)
        if ok.any():
            x[ok] = np.linalg.solve(A[ok], b[ok])
        return pd.Series(x.tolist())

    return solve


def _solve_side_dn(
    ratings: DataFrame,
    fixed: DataFrame,
    group_col: str,
    other_col: str,
    d: int,
    reg: float,
    weight_col: str | None = None,
    bcast: bool = False,
) -> DataFrame:
    """General-D half-step with the d=2 execution shape: the per-RATING
    work — products of fixed-factor components — is a JVM grouped
    aggregation (d(d+1)/2 Gram sums + d RHS sums, map-side combined), so
    Python only ever sees one row per ENTITY, solved as a stacked batch
    (``_batched_solve_udf``). Replaces the former per-entity
    ``np.linalg.solve`` loop inside applyInPandas, whose Python-loop
    cost scaled with the number of users rather than the Arrow batch
    count. At reg=0 a rank-deficient group is singular: LAPACK raises
    for the batch, same failure as the old per-group solve."""
    f = fixed.select(
        F.col(other_col),
        *[F.col("factors")[j].alias(f"_f{j}") for j in range(d)],
    )
    if bcast:
        f = F.broadcast(f)
    # NaN (not null) for missing weights, as in the d=2 path: F.sum skips
    # nulls while λ·n still counts the row — NaN poisons the group instead
    w = (
        F.coalesce(F.col(weight_col).cast("double"), F.lit(float("nan")))
        if weight_col is not None
        else F.lit(1.0)
    )
    n = F.count(F.lit(1))
    aggs = []
    for j in range(d):
        for k in range(j, d):
            e = F.sum(w * F.col(f"_f{j}") * F.col(f"_f{k}"))
            if j == k:
                e = e + F.lit(reg) * n  # reference scales λ by #obs
            aggs.append(e.alias(f"_a{j}_{k}"))
    for j in range(d):
        aggs.append(F.sum(w * F.col("rating") * F.col(f"_f{j}")).alias(f"_r{j}"))
    s = ratings.join(f, other_col).groupBy(group_col).agg(*aggs)
    solve = _batched_solve_udf(d, reg)
    return s.select(
        F.col(group_col).cast("long").alias(group_col),
        solve(
            F.array(*[f"_a{j}_{k}" for j in range(d) for k in range(j, d)]),
            F.array(*[f"_r{j}" for j in range(d)]),
        ).alias("factors"),
    )


def _solve_side(
    ratings: DataFrame,
    fixed: DataFrame,
    group_col: str,
    other_col: str,
    d: int,
    reg: float,
    weight_col: str | None = None,
    bcast: bool = False,
) -> DataFrame:
    """One ALS half-step: solve factors for ``group_col`` given ``fixed``
    factors of ``other_col``.

    d=2 (the registered-query configuration) dispatches to the
    expression-only closed-form path — no Python in the plan. d>2 runs
    the same grouped-Gram-sums shape with a single Arrow-batched stacked
    solve over one row per entity (``_solve_side_dn``).

    ``bcast``: broadcast the fixed factor table into the gather join —
    with ``ratings`` hash-partitioned by ``group_col`` the whole
    half-step then runs without shuffling a single rating row (the
    grouped aggregation is already co-located, and the batched solve is
    a projection that preserves the partitioning). See ``als()``.
    """
    if d == 2:
        return _solve_side_d2(
            ratings, fixed, group_col, other_col, reg, weight_col, bcast
        )
    return _solve_side_dn(
        ratings, fixed, group_col, other_col, d, reg, weight_col, bcast
    )


def predict(
    ratings: DataFrame,
    user_f: DataFrame,
    item_f: DataFrame,
    bcast_item: bool = False,
) -> DataFrame:
    """(user, item, rating, prediction) via JVM-side dot product."""
    itf = item_f.select("item", F.col("factors").alias("_if"))
    if bcast_item:
        itf = F.broadcast(itf)
    return (
        ratings.join(user_f.select("user", F.col("factors").alias("_uf")), "user")
        .join(itf, "item")
        .select(
            "user",
            "item",
            "rating",
            F.aggregate(
                F.zip_with("_uf", "_if", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("prediction"),
        )
    )


def als(
    ratings: DataFrame,
    d: int = D_DEFAULT,
    iterations: int = 5,
    reg: float = LAMBDA_DEFAULT,
    validation: DataFrame | None = None,
    halt_on_rmse_increase: bool = False,
    weight_col: str | None = None,
) -> tuple[DataFrame, DataFrame, list[dict]]:
    """Run ALS; returns (user_factors, item_factors, history).

    history rows: {iter, train_rmse[, validation_rmse]} — the reference
    prints exactly this per iteration (``als.cpp:164``).
    ``weight_col``: per-observation confidence weights → wALS (M2,
    ``wals.cpp:111``), same alternating skeleton, weighted normal eqs.
    """
    cols = ["user", "item", F.col("rating").cast("double")]
    if weight_col is not None:
        cols.append(F.col(weight_col))
    ratings = ratings.select(*cols).cache()

    # Zero-shuffle iterations at ANY d (the pagerank broadcast-mode
    # pattern, algos/pagerank.py): cache the ratings TWICE,
    # hash-partitioned by each half-step's GROUP key, and broadcast the
    # fixed factor table into the gather join when it fits the row cap —
    # each half-step is then scan-cache → probe shared map → co-located
    # aggregation (+ a partition-preserving batched-solve projection for
    # d>2), with no rating row ever shuffled (vs 2 × |ratings| shuffle
    # rows per iteration otherwise: measured 3.0× — 200s → 66s median
    # for 3 iterations at 100M ratings d=2, THROUGHPUT_r09). The second
    # copy is the classic bucket-both-ways layout; at warehouse scale
    # the same comes from bucketing the ratings table by user AND by
    # item at write time. Above the cap (broadcast payload scales as
    # rows × d × executors, so the row cap shrinks with d) the gather
    # join falls back to shuffle.
    from graphchi_cpp_spark.partitioning import broadcast_row_cap

    # byte-derived: a factor row (id + d doubles + array header) hashes
    # at ~(64 + 8d) B, so the cap shrinks with d automatically
    bcast_cap = broadcast_row_cap(ratings.sparkSession, 64 + 8 * d)
    from graphchi_cpp_spark.partitioning import adaptive_partitions

    # data-derived partition count for the two rating caches (guide §2);
    # the count also populates the base cache the setup fan-out reads
    p = adaptive_partitions(ratings.sparkSession, ratings.count())
    ratings_u = ratings.repartition(p, "user").cache()
    ratings_i = ratings.repartition(p, "item").cache()
    # setup stats/init derive from the per-side caches (distinct is then
    # co-located); the base cache only serves this setup fan-out and is
    # released below — keeping all three hot tripled cache pressure for
    # the whole run (ADVICE r9)
    n_users = ratings_u.select("user").distinct().count()
    n_items = ratings_i.select("item").distinct().count()
    bc_items, bc_users = n_items <= bcast_cap, n_users <= bcast_cap

    item_f = _init_factors(
        ratings_i.select("item").distinct(), "item", d
    ).localCheckpoint(eager=True)
    ratings.unpersist()
    user_f = None
    history: list[dict] = []
    prev_val = float("inf")
    spent: list[DataFrame] = []

    for it in range(iterations):
        # cache, not eager checkpoint: the per-iteration RMSE action
        # materializes both half-steps in ONE job (3 jobs per iteration
        # with eager checkpoints, 1 without); lineage depth stays linear
        # and is cut every 4 iterations for long tol-style runs
        user_f = _solve_side(
            ratings_u, item_f, "user", "item", d, reg, weight_col, bcast=bc_items
        ).cache()
        item_f = _solve_side(
            ratings_i, user_f, "item", "user", d, reg, weight_col, bcast=bc_users
        ).cache()
        if (it + 1) % 4 == 0:
            # the cached pre-checkpoint frames are spent once the eager
            # checkpoint materializes — track them so they get unpersisted
            # (long tol-style runs would otherwise leak 2 cached DFs / 4 iters)
            spent.append(user_f)
            spent.append(item_f)
            user_f = user_f.localCheckpoint(eager=True)
            item_f = item_f.localCheckpoint(eager=True)
        spent.append(user_f)
        spent.append(item_f)
        row = {"iter": it}
        row["train_rmse"] = (
            # user-partitioned cache: the user-factor join (user_f is
            # already user-partitioned from its own aggregation) runs
            # co-located; item_f broadcasts under the same cap
            predict(ratings_u, user_f, item_f, bcast_item=bc_items)
            .agg(F.sqrt(F.avg(F.pow(F.col("rating") - F.col("prediction"), 2))))
            .collect()[0][0]
        )
        if validation is not None:
            row["validation_rmse"] = (
                predict(validation, user_f, item_f)
                .agg(F.sqrt(F.avg(F.pow(F.col("rating") - F.col("prediction"), 2))))
                .collect()[0][0]
            )
            if halt_on_rmse_increase and row["validation_rmse"] > prev_val:
                history.append(row)
                break
            prev_val = row["validation_rmse"]
        history.append(row)
    for df in spent[:-2]:
        df.unpersist()
    # the returned factor frames were materialized by the RMSE actions;
    # the per-side rating caches are done (ADVICE r9: don't leave them
    # pinned after the run)
    ratings_u.unpersist()
    ratings_i.unpersist()
    return user_f, item_f, history


def _als2_init_sql(idc: str, alias: str) -> str:
    comps = [
        f"(({idc} * {2654435761 + 97 * j} + {12289 * j}) % 100003) / 1000030.0"
        for j in range(2)
    ]
    return f"""{alias} AS MATERIALIZED (
      SELECT {idc} AS id, {comps[0]} AS f0, {comps[1]} AS f1
      FROM (SELECT DISTINCT {idc} FROM r)
    )"""


def _als2_solve_sql(
    out: str,
    group: str,
    other: str,
    fixed: str,
    reg: float,
    weight: str | None = None,
) -> str:
    # normal equations [a b; b c] x = rhs, inv = 1/(ac - b²) [c -b; -b a];
    # weighted form (wals.cpp): AᵀWA + λ·n·I and AᵀWb
    w = weight or "1.0"
    return f"""{out} AS MATERIALIZED (
      SELECT s.id,
             (s.c * s.rhs0 - s.b * s.rhs1) / (s.a * s.c - s.b * s.b) AS f0,
             (s.a * s.rhs1 - s.b * s.rhs0) / (s.a * s.c - s.b * s.b) AS f1
      FROM (
        SELECT r.{group} AS id,
               sum({w} * f.f0 * f.f0) + {reg} * count(*) AS a,
               sum({w} * f.f0 * f.f1) AS b,
               sum({w} * f.f1 * f.f1) + {reg} * count(*) AS c,
               sum({w} * r.rating * f.f0) AS rhs0,
               sum({w} * r.rating * f.f1) AS rhs1
        FROM r JOIN {fixed} f ON f.id = r.{other}
        GROUP BY r.{group}
      ) s
    )"""


def _als2_ctes(
    ratings_sql: str, iterations: int, reg: float, weight: str | None = None
) -> list[str]:
    """Shared unrolled-ALS CTE chain at d=2 (users solved first, so only
    the item side carries the hash init). ``weight`` is a SQL expression
    over r's columns for the wALS confidence weights."""
    ctes = [f"r AS MATERIALIZED ({ratings_sql})", _als2_init_sql("item", "i0")]
    for i in range(1, iterations + 1):
        ctes.append(
            _als2_solve_sql(f"u{i}", '"user"', "item", f"i{i - 1}", reg, weight)
        )
        ctes.append(
            _als2_solve_sql(f"i{i}", "item", '"user"', f"u{i}", reg, weight)
        )
    return ctes


def als_sql(
    ratings_sql: str,
    iterations: int = 3,
    reg: float = LAMBDA_DEFAULT,
    ndigits: int = 4,
    weight: str | None = None,
) -> str:
    """DuckDB oracle for ``als`` at d=2: the 2×2 normal equations
    (AᵀA + λ·n·I)x = Aᵀb have a closed-form inverse, so the whole
    alternating trajectory unrolls as grouped-sum CTEs. Init replicates
    ``_init_factors`` exactly. Output: (iter, train_rmse) per iteration,
    rounded — the same contract the Spark query returns. ``weight`` (a
    SQL expression over r) turns it into the wALS oracle."""
    ctes = _als2_ctes(ratings_sql, iterations, reg, weight)
    rmse_selects = []
    for i in range(1, iterations + 1):
        ctes.append(
            f"""rmse{i} AS MATERIALIZED (
              SELECT sqrt(avg(pow(r.rating - (u.f0 * i.f0 + u.f1 * i.f1), 2))) AS v
              FROM r
              JOIN u{i} u ON u.id = r."user"
              JOIN i{i} i ON i.id = r.item
            )"""
        )
        rmse_selects.append(
            f"SELECT CAST({i - 1} AS INT) AS iter, "
            f"round(v, {ndigits}) AS train_rmse FROM rmse{i}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(rmse_selects)


def als_recommend_sql(
    ratings_sql: str,
    iterations: int = 2,
    reg: float = LAMBDA_DEFAULT,
    k: int = 3,
    users_mod: int = 100,
    ndigits: int = 4,
) -> str:
    """DuckDB oracle for the d=2 factor-based top-K recommendations
    (M12): scores ROUNDED before ranking on both sides so near-tied dot
    products order identically across engines."""
    n = iterations
    ctes = _als2_ctes(ratings_sql, iterations, reg)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
        seen AS (SELECT DISTINCT "user", item FROM r),
        q AS (SELECT id AS "user", f0, f1 FROM u{n} WHERE id % {users_mod} = 0),
        scores AS (
          SELECT q."user", i.id AS item,
                 round(q.f0 * i.f0 + q.f1 * i.f1, {ndigits}) AS score
          FROM q CROSS JOIN i{n} i
        ),
        unseen AS (
          SELECT s.* FROM scores s
          LEFT JOIN seen ON seen."user" = s."user" AND seen.item = s.item
          WHERE seen.item IS NULL
        )
        SELECT "user", item, score, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY "user" ORDER BY score DESC, item ASC
          ) AS rank FROM unseen
        ) WHERE rank <= {k}"""
    )


def recommend_top_k(
    user_f: DataFrame,
    item_f: DataFrame,
    seen: DataFrame,
    k: int = 10,
    score_ndigits: int | None = None,
) -> DataFrame:
    """M12 (rating/rating2): top-K unseen items per user from factors.

    Reference: ``toolkits/collaborative_filtering/rating.cpp:210`` — blocked
    user×item matmul minus seen pairs, then per-user top-K.

    Scale note: the crossJoin is the honest cost (the reference pays it
    too); item factors broadcast (N·D doubles), scores stream per user
    partition, and the window top-K prunes with the group-limit rewrite.
    For very large N, pre-filter candidates with an ANN index
    (operators.similarity) instead.
    """
    from graphchi_cpp_spark.operators.toplist import top_k_per_key

    score = F.aggregate(
        F.zip_with("_uf", "_if", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    if score_ndigits is not None:
        # round BEFORE ranking: near-tied dot products otherwise order
        # differently across runs/engines (ULP noise)
        score = F.round(score, score_ndigits)
    scores = (
        user_f.select("user", F.col("factors").alias("_uf"))
        .crossJoin(F.broadcast(item_f.select("item", F.col("factors").alias("_if"))))
        .select("user", "item", score.alias("score"))
        .join(seen.select("user", "item"), ["user", "item"], "left_anti")
    )
    return top_k_per_key(scores, "user", "score", k, tiebreak_col="item")
