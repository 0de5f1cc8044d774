"""ALS variants (M2): coordinate descent, sparse factors (CoSaMP), and
time-aware tensor ALS.

References:
- ``toolkits/collaborative_filtering/als_coord.cpp:100`` — cyclic
  coordinate descent (CCD): instead of the D×D Cholesky solve, each
  coordinate of a vertex's factor vector is updated in turn against the
  current residual; one sweep per half-step.
- ``toolkits/collaborative_filtering/sparse_als.cpp:110`` +
  ``cosamp.hpp`` — ALS where each local solve is replaced by CoSaMP,
  yielding factor vectors with at most ``s`` nonzeros.
- ``toolkits/collaborative_filtering/als_tensor.cpp:112`` — 3-mode tensor
  factorization r(u,i,t) ≈ Σ_k U[u,k]·V[i,k]·T[t,k] over ``row col time
  val`` Matrix Market input (the 4-column form ``io.hpp:252`` parses;
  our reader exposes it as the ``ts`` column).

All three reuse the engine split proven in ``cf/als.py``: JVM-side joins
shape (group, rating, design-row) tuples, hash-block ``applyInPandas``
batches thousands of tiny numpy solves per Arrow round-trip, RMSE stays
in Spark expressions. Deterministic hash init → bit-identical reruns.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from graphchi_cpp_spark.cf.als import (
    LAMBDA_DEFAULT,
    solve_blocks,
    _als2_init_sql,
    _dense_d2,
    _init_factors,
    _join_factors_d2,
    _sums_d2,
    predict,
)


# --------------------------------------------------------------------- #
# d=2 expression-only fast paths (the registered-query configuration):
# every variant's local solve is closed-form from the same (a,b,c,rhs)
# sufficient statistics its DuckDB oracle uses — no Python, no Arrow in
# the plan. The applyInPandas machinery below remains the d>2 path.
# --------------------------------------------------------------------- #
def _ccd_sweep_d2(
    ratings: DataFrame,
    fixed: DataFrame,
    current: DataFrame,
    group_col: str,
    other_col: str,
    reg: float,
    bcast: bool = False,
) -> DataFrame:
    """One cyclic d=2 CCD sweep in closed form (mirrors ``_ccd_sums_sql``
    + the lateral-alias update in ``als_coord_sql``): x0' = (rhs0 − b·x1)/a
    with the OLD x1, then x1' = (rhs1 − b·x0')/c with the refreshed x0'.

    ``bcast``: broadcast both factor tables into their joins — with
    ``ratings`` hash-partitioned by ``group_col`` the whole sweep then
    shuffles zero rating rows (gather join map-side, grouped sums
    co-located, update join against a broadcast map)."""
    cur = current.select(F.col(group_col), F.col("factors")[1].alias("_x1"))
    if bcast:
        cur = F.broadcast(cur)
    s = _sums_d2(_join_factors_d2(ratings, fixed, other_col, bcast), group_col, reg)
    j = s.join(cur, group_col)
    nf0 = (F.col("rhs0") - F.col("b") * F.col("_x1")) / F.col("a")
    nf1 = (F.col("rhs1") - F.col("b") * nf0) / F.col("c")
    return j.select(
        F.col(group_col).cast("long").alias(group_col),
        F.array(nf0, nf1).alias("factors"),
    )


def _sparse_solve_d2(
    ratings: DataFrame,
    fixed: DataFrame,
    group_col: str,
    other_col: str,
    reg: float,
    sparsity: int | None,
) -> DataFrame:
    """d=2 CoSaMP half-step in closed form: at d=2 the candidate support
    is always both coordinates, so CoSaMP reduces to the dense 2×2 solve
    followed by prune-to-top-|coordinate| when sparsity == 1 (ties keep
    coordinate 0, matching numpy argsort order and the oracle's >=)."""
    s = _sums_d2(_join_factors_d2(ratings, fixed, other_col), group_col, reg)
    x0, x1 = _dense_d2()
    if sparsity is not None and sparsity < 2:
        keep0 = F.abs(x0) >= F.abs(x1)
        x0, x1 = (
            F.when(keep0, x0).otherwise(F.lit(0.0)),
            F.when(keep0, F.lit(0.0)).otherwise(x1),
        )
    return s.select(
        F.col(group_col).cast("long").alias(group_col),
        F.array(x0, x1).alias("factors"),
    )


def _tensor_solve_d2(
    r: DataFrame,
    f1: DataFrame,
    c1: str,
    f2: DataFrame,
    c2: str,
    group_col: str,
    reg: float,
) -> DataFrame:
    """d=2 tensor-mode half-step: the design row is the elementwise
    product of the two fixed modes' factors, then the dense 2×2 solve."""
    joined = (
        r.join(
            f1.select(
                F.col(c1),
                F.col("factors")[0].alias("_a0"),
                F.col("factors")[1].alias("_a1"),
            ),
            c1,
        )
        .join(
            f2.select(
                F.col(c2),
                F.col("factors")[0].alias("_b0"),
                F.col("factors")[1].alias("_b1"),
            ),
            c2,
        )
        .select(
            group_col,
            "rating",
            (F.col("_a0") * F.col("_b0")).alias("_f0"),
            (F.col("_a1") * F.col("_b1")).alias("_f1"),
        )
    )
    s = _sums_d2(joined, group_col, reg)
    x0, x1 = _dense_d2()
    return s.select(
        F.col(group_col).cast("long").alias(group_col),
        F.array(x0, x1).alias("factors"),
    )


def _out_schema(group_col: str) -> StructType:
    return StructType(
        [
            StructField(group_col, LongType()),
            StructField("factors", ArrayType(DoubleType())),
        ]
    )


def _grouped_update(
    joined: DataFrame, group_col: str, fn
) -> DataFrame:
    """Run ``fn(A, b, x) -> new_x`` per entity, batched by hash block.
    ``joined`` must carry (group_col, rating, _f design row, _x current
    factors)."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        keys, out = [], []
        for key, grp in pdf.groupby(group_col, sort=True):
            A = np.vstack(grp["_f"].to_numpy())
            b = grp["rating"].to_numpy()
            x = np.array(grp["_x"].iloc[0], dtype=float)
            keys.append(key)
            out.append([float(v) for v in fn(A, b, x)])
        return pd.DataFrame({group_col: keys, "factors": out})

    return (
        joined.withColumn(
            "_blk", F.pmod(F.col(group_col), F.lit(solve_blocks(joined)))
        )
        .groupBy("_blk")
        .applyInPandas(run, _out_schema(group_col))
    )


def _join_side(
    ratings: DataFrame,
    fixed: DataFrame,
    current: DataFrame,
    group_col: str,
    other_col: str,
) -> DataFrame:
    return (
        ratings.join(
            fixed.select(F.col(other_col), F.col("factors").alias("_f")), other_col
        )
        .join(
            current.select(F.col(group_col), F.col("factors").alias("_x")),
            group_col,
        )
        .select(group_col, "rating", "_f", "_x")
    )


def _rmse(
    ratings: DataFrame,
    user_f: DataFrame,
    item_f: DataFrame,
    bcast_item: bool = False,
) -> float:
    return float(
        predict(ratings, user_f, item_f, bcast_item=bcast_item)
        .agg(F.sqrt(F.avg(F.pow(F.col("rating") - F.col("prediction"), 2))))
        .collect()[0][0]
    )


# --------------------------------------------------------------------- #
# coordinate-descent ALS (als_coord.cpp:100)
# --------------------------------------------------------------------- #
def als_coord(
    ratings: DataFrame,
    d: int = 5,
    iterations: int = 5,
    reg: float = LAMBDA_DEFAULT,
) -> tuple[DataFrame, DataFrame, list[dict]]:
    """CCD ALS: per half-step one cyclic sweep of single-coordinate
    updates against the running residual (no D×D solve). Returns
    (user_factors, item_factors, history)."""

    def ccd_sweep(A: np.ndarray, b: np.ndarray, x: np.ndarray) -> np.ndarray:
        e = b - A @ x
        n = len(b)
        for k in range(A.shape[1]):
            ak = A[:, k]
            num = ak @ (e + ak * x[k])
            den = reg * n + ak @ ak
            new_xk = num / den if den > 0 else 0.0
            e += ak * (x[k] - new_xk)
            x[k] = new_xk
        return x

    import os as _os

    r = ratings.select("user", "item", F.col("rating").cast("double")).cache()
    history: list[dict] = []
    if d == 2:
        # the als() zero-shuffle layout (cf/als.py): ratings cached
        # twice, hash-partitioned by each sweep's GROUP key, factor
        # tables broadcast under the row cap — each sweep is then
        # scan-cache → probe broadcast map → co-located aggregation,
        # no rating row shuffled; one RMSE action per iteration
        # materializes both cached sweeps in a single job (the eager
        # per-half-step checkpoints were 2 extra jobs per iteration).
        from graphchi_cpp_spark.partitioning import adaptive_partitions

        spark = r.sparkSession
        # data-derived partition count (guide §2); count populates the
        # base cache the two repartitions read
        p = adaptive_partitions(spark, r.count())
        from graphchi_cpp_spark.partitioning import broadcast_row_cap

        # byte-derived, d-aware (see cf/als.py)
        cap = broadcast_row_cap(spark, 64 + 8 * d)
        r_u = r.repartition(p, "user").cache()
        r_i = r.repartition(p, "item").cache()
        user_f = _init_factors(
            r_u.select("user").distinct(), "user", d
        ).localCheckpoint(eager=True)
        item_f = _init_factors(
            r_i.select("item").distinct(), "item", d
        ).localCheckpoint(eager=True)
        r.unpersist()
        bc = user_f.count() <= cap and item_f.count() <= cap
        spent: list[DataFrame] = []
        for it in range(iterations):
            user_f = _ccd_sweep_d2(
                r_u, item_f, user_f, "user", "item", reg, bcast=bc
            ).cache()
            item_f = _ccd_sweep_d2(
                r_i, user_f, item_f, "item", "user", reg, bcast=bc
            ).cache()
            spent += [user_f, item_f]
            if (it + 1) % 4 == 0:
                user_f = user_f.localCheckpoint(eager=True)
                item_f = item_f.localCheckpoint(eager=True)
            history.append(
                {"iter": it, "train_rmse": _rmse(r_u, user_f, item_f, bc)}
            )
        for spent_df in spent[:-2]:
            spent_df.unpersist()
        r_u.unpersist()
        r_i.unpersist()
        return user_f, item_f, history
    user_f = _init_factors(r.select("user").distinct(), "user", d).localCheckpoint(
        eager=True
    )
    item_f = _init_factors(r.select("item").distinct(), "item", d).localCheckpoint(
        eager=True
    )
    for it in range(iterations):
        user_f = _grouped_update(
            _join_side(r, item_f, user_f, "user", "item"), "user", ccd_sweep
        ).localCheckpoint(eager=True)
        item_f = _grouped_update(
            _join_side(r, user_f, item_f, "item", "user"), "item", ccd_sweep
        ).localCheckpoint(eager=True)
        history.append({"iter": it, "train_rmse": _rmse(r, user_f, item_f)})
    return user_f, item_f, history


def _ccd_sums_sql(group: str, other: str, fixed: str, reg: float) -> str:
    """Per-entity sufficient statistics for the d=2 coordinate updates."""
    return f"""(
        SELECT r.{group} AS id,
               sum(f.f0 * f.f0) + {reg} * count(*) AS a,
               sum(f.f0 * f.f1) AS b,
               sum(f.f1 * f.f1) + {reg} * count(*) AS c,
               sum(r.rating * f.f0) AS rhs0,
               sum(r.rating * f.f1) AS rhs1
        FROM r JOIN {fixed} f ON f.id = r.{other}
        GROUP BY r.{group}
      )"""


def als_coord_sql(
    ratings_sql: str,
    iterations: int = 3,
    reg: float = LAMBDA_DEFAULT,
    ndigits: int = 4,
) -> str:
    """DuckDB oracle for ``als_coord`` at d=2. One CCD sweep in closed
    form: x0' = (rhs0 − b·x1)/a, then x1' = (rhs1 − b·x0')/c (the second
    coordinate sees the refreshed first — DuckDB lateral column aliases
    express the in-sweep dependency)."""
    ctes = [
        f"r AS MATERIALIZED ({ratings_sql})",
        _als2_init_sql('"user"', "u0"),
        _als2_init_sql("item", "i0"),
    ]
    rmse_selects = []
    for i in range(1, iterations + 1):
        for out, prev, group, other, fixed in (
            (f"u{i}", f"u{i - 1}", '"user"', "item", f"i{i - 1}"),
            (f"i{i}", f"i{i - 1}", "item", '"user"', f"u{i}"),
        ):
            # nf0/nf1 alias names must not collide with p's f0/f1 —
            # DuckDB resolves real columns BEFORE lateral aliases, so an
            # alias named f0 would silently read the stale p.f0
            ctes.append(
                f"""{out} AS MATERIALIZED (
                  SELECT id, nf0 AS f0, nf1 AS f1 FROM (
                    SELECT s.id,
                           (s.rhs0 - p.f1 * s.b) / s.a AS nf0,
                           (s.rhs1 - nf0 * s.b) / s.c AS nf1
                    FROM {_ccd_sums_sql(group, other, fixed, reg)} s
                    JOIN {prev} p ON p.id = s.id
                  )
                )"""
            )
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


def sparse_als_sql(
    ratings_sql: str,
    iterations: int = 3,
    reg: float = LAMBDA_DEFAULT,
    ndigits: int = 4,
) -> str:
    """DuckDB oracle for ``sparse_als`` at d=2 with user_sparsity=1: at
    this size CoSaMP's candidate support is always both coordinates, so
    each inner iteration reduces to the dense 2×2 solve followed by
    keep-the-larger-|coordinate| pruning (and further inner iterations
    are identity)."""
    ctes = [
        f"r AS MATERIALIZED ({ratings_sql})",
        _als2_init_sql("item", "i0"),
    ]
    rmse_selects = []
    dense = (
        "(s.c * s.rhs0 - s.b * s.rhs1) / (s.a * s.c - s.b * s.b)",
        "(s.a * s.rhs1 - s.b * s.rhs0) / (s.a * s.c - s.b * s.b)",
    )
    for i in range(1, iterations + 1):
        # user side: dense solve then prune to the single largest |coord|
        ctes.append(
            f"""u{i} AS MATERIALIZED (
              SELECT s.id,
                     {dense[0]} AS x0, {dense[1]} AS x1,
                     CASE WHEN abs(x0) >= abs(x1) THEN x0 ELSE 0.0 END AS f0,
                     CASE WHEN abs(x0) >= abs(x1) THEN 0.0 ELSE x1 END AS f1
              FROM {_ccd_sums_sql('"user"', "item", f"i{i - 1}", reg)} s
            )"""
        )
        # item side: dense
        ctes.append(
            f"""i{i} AS MATERIALIZED (
              SELECT s.id, {dense[0]} AS f0, {dense[1]} AS f1
              FROM {_ccd_sums_sql("item", '"user"', f"u{i}", reg)} s
            )"""
        )
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


def als_tensor_sql(
    ratings_sql: str,
    time_expr: str,
    iterations: int = 2,
    reg: float = LAMBDA_DEFAULT,
    ndigits: int = 4,
) -> str:
    """DuckDB oracle for ``als_tensor`` at d=2: each mode's design row is
    the elementwise product of the other two modes' factors; the 2×2
    closed-form solve applies unchanged. ``time_expr`` is the SQL for the
    discrete time bin over the ratings columns."""
    ctes = [
        f"""r AS MATERIALIZED (
          SELECT "user", item, rating, {time_expr} AS t
          FROM ({ratings_sql})
        )""",
        _als2_init_sql('"user"', "mu0"),
        _als2_init_sql("item", "mv0"),
        _als2_init_sql("t", "mt0"),
    ]

    def solve(out, group, o1, f1, o2, f2):
        return f"""{out} AS MATERIALIZED (
          SELECT s.id,
                 (s.c * s.rhs0 - s.b * s.rhs1) / (s.a * s.c - s.b * s.b) AS f0,
                 (s.a * s.rhs1 - s.b * s.rhs0) / (s.a * s.c - s.b * s.b) AS f1
          FROM (
            SELECT r.{group} AS id,
                   sum((p1.f0 * p2.f0) * (p1.f0 * p2.f0)) + {reg} * count(*) AS a,
                   sum((p1.f0 * p2.f0) * (p1.f1 * p2.f1)) AS b,
                   sum((p1.f1 * p2.f1) * (p1.f1 * p2.f1)) + {reg} * count(*) AS c,
                   sum(r.rating * (p1.f0 * p2.f0)) AS rhs0,
                   sum(r.rating * (p1.f1 * p2.f1)) AS rhs1
            FROM r
            JOIN {f1} p1 ON p1.id = r.{o1}
            JOIN {f2} p2 ON p2.id = r.{o2}
            GROUP BY r.{group}
          ) s
        )"""

    rmse_selects = []
    for i in range(1, iterations + 1):
        ctes.append(
            solve(f"mu{i}", '"user"', "item", f"mv{i - 1}", "t", f"mt{i - 1}")
        )
        ctes.append(solve(f"mv{i}", "item", '"user"', f"mu{i}", "t", f"mt{i - 1}"))
        ctes.append(solve(f"mt{i}", "t", '"user"', f"mu{i}", "item", f"mv{i}"))
        ctes.append(
            f"""rmse{i} AS MATERIALIZED (
              SELECT sqrt(avg(pow(
                r.rating - (u.f0 * v.f0 * t.f0 + u.f1 * v.f1 * t.f1), 2))) AS v
              FROM r
              JOIN mu{i} u ON u.id = r."user"
              JOIN mv{i} v ON v.id = r.item
              JOIN mt{i} t ON t.id = r.t
            )"""
        )
        rmse_selects.append(
            f"SELECT CAST({i - 1} AS INT) AS iter, "
            f"round(v, {ndigits}) AS train_rmse FROM rmse{i}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(rmse_selects)


# --------------------------------------------------------------------- #
# sparse ALS via CoSaMP (sparse_als.cpp:110, cosamp.hpp)
# --------------------------------------------------------------------- #
def _cosamp(
    A: np.ndarray, b: np.ndarray, s: int, reg: float, max_iter: int = 3
) -> np.ndarray:
    """CoSaMP for the tiny local problem: keep at most ``s`` nonzeros.
    Identify 2s largest proxy coordinates ∪ current support, least-squares
    on that support (ridge-regularized like the dense solve), prune to the
    top s."""
    d = A.shape[1]
    x = np.zeros(d)
    resid = b.astype(float)
    for _ in range(max_iter):
        proxy = A.T @ resid
        omega = set(np.argsort(-np.abs(proxy))[: 2 * s]) | set(np.nonzero(x)[0])
        idx = sorted(omega)
        As = A[:, idx]
        ata = As.T @ As + reg * len(b) * np.eye(len(idx))
        sol = np.linalg.solve(ata, As.T @ b)
        full = np.zeros(d)
        full[idx] = sol
        keep = np.argsort(-np.abs(full))[:s]
        x = np.zeros(d)
        x[keep] = full[keep]
        resid = b - A @ x
    return x


def sparse_als(
    ratings: DataFrame,
    d: int = 5,
    iterations: int = 5,
    reg: float = LAMBDA_DEFAULT,
    user_sparsity: int | None = 3,
    item_sparsity: int | None = None,
) -> tuple[DataFrame, DataFrame, list[dict]]:
    """ALS with CoSaMP local solves on the side(s) given a sparsity
    budget (None = dense Cholesky for that side, matching the reference's
    per-side ``user_sparsity``/``movie_sparsity`` options)."""

    def solver(s: int | None):
        if s is None:

            def dense(A, b, x):
                ata = A.T @ A + reg * len(b) * np.eye(A.shape[1])
                return np.linalg.solve(ata, A.T @ b)

            return dense
        return lambda A, b, x: _cosamp(A, b, s, reg)

    r = ratings.select("user", "item", F.col("rating").cast("double")).cache()
    user_f = _init_factors(r.select("user").distinct(), "user", d).localCheckpoint(
        eager=True
    )
    item_f = _init_factors(r.select("item").distinct(), "item", d).localCheckpoint(
        eager=True
    )
    history: list[dict] = []
    for it in range(iterations):
        if d == 2:
            user_f = _sparse_solve_d2(
                r, item_f, "user", "item", reg, user_sparsity
            ).localCheckpoint(eager=True)
            item_f = _sparse_solve_d2(
                r, user_f, "item", "user", reg, item_sparsity
            ).localCheckpoint(eager=True)
        else:
            user_f = _grouped_update(
                _join_side(r, item_f, user_f, "user", "item"),
                "user",
                solver(user_sparsity),
            ).localCheckpoint(eager=True)
            item_f = _grouped_update(
                _join_side(r, user_f, item_f, "item", "user"),
                "item",
                solver(item_sparsity),
            ).localCheckpoint(eager=True)
        history.append({"iter": it, "train_rmse": _rmse(r, user_f, item_f)})
    return user_f, item_f, history


# --------------------------------------------------------------------- #
# tensor ALS with a time mode (als_tensor.cpp:112)
# --------------------------------------------------------------------- #
def als_tensor(
    ratings: DataFrame,
    d: int = 5,
    iterations: int = 5,
    reg: float = LAMBDA_DEFAULT,
    time_col: str = "ts",
) -> tuple[DataFrame, DataFrame, DataFrame, list[dict]]:
    """3-mode ALS: r(u,i,t) ≈ Σ_k U·V·T. Each mode's design row is the
    elementwise product of the two fixed modes' factors (computed JVM-side
    with zip_with before the grouped solve). ``time_col`` must hold
    discrete time bins. Returns (U, V, T, history)."""

    def dense(A, b, x):
        ata = A.T @ A + reg * len(b) * np.eye(A.shape[1])
        return np.linalg.solve(ata, A.T @ b)

    r = ratings.select(
        "user", "item", F.col(time_col).cast("long").alias("t"),
        F.col("rating").cast("double"),
    ).cache()
    U = _init_factors(r.select("user").distinct(), "user", d).localCheckpoint(
        eager=True
    )
    V = _init_factors(r.select("item").distinct(), "item", d).localCheckpoint(
        eager=True
    )
    T = _init_factors(r.select("t").distinct(), "t", d).localCheckpoint(eager=True)

    prod = lambda a, b: F.zip_with(a, b, lambda x, y: x * y)  # noqa: E731

    def solve_mode(group_col, f1, c1, f2, c2, current):
        if d == 2:
            return _tensor_solve_d2(
                r, f1, c1, f2, c2, group_col, reg
            ).localCheckpoint(eager=True)
        joined = (
            r.join(f1.select(F.col(c1), F.col("factors").alias("_f1")), c1)
            .join(f2.select(F.col(c2), F.col("factors").alias("_f2")), c2)
            .join(
                current.select(F.col(group_col), F.col("factors").alias("_x")),
                group_col,
            )
            .select(
                group_col,
                "rating",
                prod(F.col("_f1"), F.col("_f2")).alias("_f"),
                "_x",
            )
        )
        return _grouped_update(joined, group_col, dense).localCheckpoint(eager=True)

    def tensor_rmse() -> float:
        p = (
            r.join(U.select("user", F.col("factors").alias("_u")), "user")
            .join(V.select("item", F.col("factors").alias("_v")), "item")
            .join(T.select("t", F.col("factors").alias("_t")), "t")
            .select(
                "rating",
                F.aggregate(
                    prod(prod(F.col("_u"), F.col("_v")), F.col("_t")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("prediction"),
            )
        )
        return float(
            p.agg(
                F.sqrt(F.avg(F.pow(F.col("rating") - F.col("prediction"), 2)))
            ).collect()[0][0]
        )

    history: list[dict] = []
    for it in range(iterations):
        U = solve_mode("user", V, "item", T, "t", U)
        V = solve_mode("item", U, "user", T, "t", V)
        T = solve_mode("t", U, "user", V, "item", T)
        history.append({"iter": it, "train_rmse": tensor_rmse()})
    return U, V, T, history
