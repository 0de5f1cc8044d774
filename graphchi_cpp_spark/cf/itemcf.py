"""Item-item similarity (M10) + itemsim2rating recommendations (M11).

Reference: ``toolkits/collaborative_filtering/itemcf.cpp`` — metric enum at
``:52-60``, ``calc_distance`` at ``:206-290``, pivot-batch update ``:316``;
variants ``itemcf2.cpp:324``, ``itemcf3.cpp:259``;
``itemsim2rating.cpp:254`` (similarity × user history → scores).

The reference's pivot-batch set intersection is relational co-occurrence
counting: for items a,b the intersection size is the number of users who
rated both. Metrics over (c = |A∩B|, na = |A|, nb = |B|, and per-user
degrees for AA/RA):

- jaccard     = c / (na + nb - c)                     (itemcf.cpp:246)
- cosine      = c / sqrt(na·nb)                       (asym-cosine α=0.5)
- asym_cosine = c / (na^α · nb^(1-α))                 (itemcf.cpp:258)
- prob        = c / na                                (conditional P(b|a))
- aa          = Σ_{u∈A∩B} 1/log(deg_u)               (itemcf.cpp:228)
- ra          = Σ_{u∈A∩B} 1/deg_u                    (itemcf.cpp:234)

Scale notes: the self-join on user explodes with user-degree², so the
power-user cap is ON BY DEFAULT (``DEFAULT_MAX_USER_DEGREE`` = 1000,
the reference's pivot batching plays the same memory-bounding role);
uncapped exact computation is an explicit ``max_user_degree=None``
opt-in. All aggregations are sum/count → map-side combinable; the
pair space is pruned to item_a < item_b.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window, functions as F

from graphchi_cpp_spark.operators.text import md5_long
from graphchi_cpp_spark.operators.toplist import top_k_per_key

log = logging.getLogger(__name__)

METRICS = ("jaccard", "cosine", "asym_cosine", "prob", "aa", "ra")

DEFAULT_MAX_USER_DEGREE = 1000


def item_similarity(
    ratings: DataFrame,
    metric: str = "jaccard",
    alpha: float = 0.5,
    min_common: int = 1,
    max_user_degree: int | None = DEFAULT_MAX_USER_DEGREE,
) -> DataFrame:
    """(item_a, item_b, sim) for item_a < item_b (plus both directions for
    asymmetric metrics: prob / asym_cosine emit (a,b) meaning sim(a→b)).

    ``ratings`` needs columns (user, item); rating values are ignored —
    the reference treats the matrix as binary for these metrics.

    ``max_user_degree``: power-user cap, ON BY DEFAULT (1000) — the user
    self-join explodes with user-degree², so one user with 10⁶ items
    would alone produce 10¹² pairs. Each user keeps at most this many
    items (deterministic md5-ordered sample — the same cross-engine hash
    as ``kfold_bucket``, so a SQL oracle reproduces the identical cap),
    and degrees/similarities are computed on the CAPPED matrix so every
    metric stays internally consistent. This plays the memory-bounding
    role of the reference's pivot batching (``itemcf.cpp:206``), trading
    a documented approximation for a hard bound on join fan-out. Pass
    ``max_user_degree=None`` to opt into the uncapped exact computation.
    The number of capped users is logged at INFO when the cap binds.

    Cache lifetime: the returned (lazy) plan reads a ``cache()``d
    intermediate whose InMemoryRelation partitioning is what makes the
    self-join exchange-free, so it CANNOT be unpersisted here. Library
    callers that materialize the result (checkpoint/write) should call
    ``spark.catalog.clearCache()`` — or unpersist via the catalog —
    when running many similarity builds in one long-lived session.
    """
    if metric not in METRICS:
        raise ValueError(f"metric must be one of {METRICS}")
    if max_user_degree is not None:
        # dedup folded INTO the user-repartition (guide §2.4):
        # hashpartitioning(user) satisfies the (user, item) dedup
        # clustering, and the power-user window needs exactly that
        # partitioning next — one |ratings|-row exchange instead of
        # distinct's (user, item) shuffle followed by the window's
        # hash(user) shuffle
        spark = ratings.sparkSession
        p = int(spark.conf.get("spark.sql.shuffle.partitions", "64"))
        # cache, not localCheckpoint: InMemoryRelation preserves
        # hashpartitioning(user), so the downstream self-join on user
        # runs with ZERO additional exchanges on either side (a
        # checkpointed scan loses outputPartitioning and re-shuffles
        # |ui| twice). The count below populates the cache before any
        # multi-consumer job reads it.
        deduped = (
            ratings.select("user", "item")
            .repartition(p, "user")
            .dropDuplicates(["user", "item"])
            .cache()
        )
        # Cap pre-check (guide §1.2: don't compute what you throw away):
        # the md5-ordered cap window costs a per-row cross-engine hash
        # over the WHOLE matrix, but on inputs where no user exceeds the
        # cap its filter keeps every row — so probe max degree first
        # (co-partitioned groupBy on the cache: no exchange, no md5) and
        # only run the window when the cap actually binds. Both branches
        # are result-identical by construction; the probe is one cheap
        # aggregation pass over the already-partitioned cache.
        max_deg = (
            deduped.groupBy("user")
            .agg(F.count("*").alias("dg"))
            .agg(F.max("dg").alias("m"))
            .collect()[0]["m"]
        )
        if max_deg is not None and max_deg > max_user_degree:
            w = Window.partitionBy("user").orderBy(
                md5_long(F.concat_ws("_", "user", "item")), "item"
            )
            marked = deduped.withColumn(
                "_rn", F.row_number().over(w)
            ).cache()
            # the capped-user count is a full extra job over the matrix
            # — only pay for it when INFO logging will surface it
            if log.isEnabledFor(logging.INFO):
                n_capped = (
                    marked.filter(F.col("_rn") > max_user_degree)
                    .select("user")
                    .distinct()
                    .count()
                )
                if n_capped:
                    log.info(
                        "item_similarity: capped %d power user(s) at degree %d",
                        n_capped,
                        max_user_degree,
                    )
            ui = marked.filter(F.col("_rn") <= max_user_degree).drop("_rn")
        else:
            ui = deduped
    else:
        # materialized once (via the count below): referenced by degrees
        # AND both join sides; distinct's hashpartitioning(user, item)
        # survives the cache for the aggregate consumers
        ui = ratings.select("user", "item").distinct().cache()
    from graphchi_cpp_spark.partitioning import broadcast_row_cap

    item_deg = ui.groupBy("item").agg(F.count("*").alias("n"))
    user_deg = ui.groupBy("user").agg(F.count("*").alias("user_deg"))
    # degree tables are O(#entities); broadcast below a byte-derived size
    # guard (checkpointed inputs lose stats → Catalyst would sort-merge).
    # |ui| bounds #entities, and a (long, long) degree row hashes at
    # ~64 B — the cap approximates the broadcast byte budget.
    small = ui.count() <= broadcast_row_cap(ui.sparkSession, 64)
    bcast = F.broadcast if small else (lambda df: df)

    a = ui.select("user", F.col("item").alias("item_a"))
    b = ui.select(
        "user",
        F.col("item").alias("item_b"),
    )
    pairs = a.join(b, "user").filter(F.col("item_a") != F.col("item_b"))
    symmetric = metric in ("jaccard", "cosine", "aa", "ra")
    if symmetric:
        pairs = pairs.filter(F.col("item_a") < F.col("item_b"))

    if metric in ("aa", "ra"):
        pairs = pairs.join(bcast(user_deg), "user")
        contrib = (
            F.lit(1.0) / F.log(F.col("user_deg"))
            if metric == "aa"
            else F.lit(1.0) / F.col("user_deg")
        )
        sims = (
            pairs.groupBy("item_a", "item_b")
            .agg(F.sum(contrib).alias("sim"), F.count("*").alias("c"))
            .filter(F.col("c") >= min_common)
            .select("item_a", "item_b", "sim")
        )
        return sims

    co = pairs.groupBy("item_a", "item_b").agg(F.count("*").alias("c"))
    co = co.filter(F.col("c") >= min_common)
    # materialize the degree table ONCE: na and nb are two separate
    # broadcast exchanges, and without this each would re-scan the full
    # matrix to rebuild the same aggregate (measured: one full cache
    # scan per broadcast at sf0.1)
    item_deg = item_deg.localCheckpoint(eager=True)
    na = bcast(item_deg.select(F.col("item").alias("item_a"), F.col("n").alias("na")))
    nb = bcast(item_deg.select(F.col("item").alias("item_b"), F.col("n").alias("nb")))
    j = co.join(na, "item_a").join(nb, "item_b")
    if metric == "jaccard":
        sim = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    elif metric == "cosine":
        sim = F.col("c") / F.sqrt(F.col("na") * F.col("nb"))
    elif metric == "asym_cosine":
        sim = F.col("c") / (
            F.pow(F.col("na"), F.lit(alpha)) * F.pow(F.col("nb"), F.lit(1 - alpha))
        )
    else:  # prob
        sim = F.col("c") / F.col("na")
    return j.select("item_a", "item_b", sim.cast("double").alias("sim"))


def item_similarity_sql(
    ratings_sql: str,
    metric: str = "jaccard",
    min_common: int = 1,
    max_user_degree: int | None = DEFAULT_MAX_USER_DEGREE,
) -> str:
    """DuckDB oracle for the symmetric metrics (jaccard/cosine/aa/ra).
    Reproduces ``item_similarity``'s default power-user cap bit-exactly
    (same md5-derived per-user ordering)."""
    if max_user_degree is not None:
        ui_cte = f"""
        ui_all AS (SELECT DISTINCT "user", item FROM ({ratings_sql})),
        ui AS (
            SELECT "user", item FROM (
                SELECT "user", item, row_number() OVER (
                    PARTITION BY "user"
                    ORDER BY ('0x' || substr(md5(concat("user", '_', item)), 1, 15))::BIGINT,
                             item
                ) AS _rn FROM ui_all
            ) WHERE _rn <= {max_user_degree}
        ),"""
    else:
        ui_cte = f"""
        ui AS (SELECT DISTINCT "user", item FROM ({ratings_sql})),"""
    base = f"""{ui_cte}
        item_deg AS (SELECT item, count(*) AS n FROM ui GROUP BY item),
        user_deg AS (SELECT "user", count(*) AS user_deg FROM ui GROUP BY "user"),
        pairs AS (
            SELECT a."user", a.item AS item_a, b.item AS item_b
            FROM ui a JOIN ui b ON a."user" = b."user" AND a.item < b.item
        )"""
    if metric in ("aa", "ra"):
        contrib = "1.0 / ln(user_deg)" if metric == "aa" else "1.0 / user_deg"
        return f"""
            WITH {base}
            SELECT item_a, item_b, sum({contrib}) AS sim
            FROM pairs JOIN user_deg USING ("user")
            GROUP BY item_a, item_b
            HAVING count(*) >= {min_common}
        """
    expr = {
        "jaccard": "c / (na + nb - c)",
        "cosine": "c / sqrt(na * nb)",
    }[metric]
    return f"""
        WITH {base},
        co AS (
            SELECT item_a, item_b, count(*) AS c FROM pairs
            GROUP BY item_a, item_b HAVING count(*) >= {min_common}
        )
        SELECT item_a, item_b,
               CAST({expr} AS DOUBLE) AS sim
        FROM co
        JOIN (SELECT item AS item_a, CAST(n AS DOUBLE) AS na FROM item_deg) USING (item_a)
        JOIN (SELECT item AS item_b, CAST(n AS DOUBLE) AS nb FROM item_deg) USING (item_b)
    """


def itemsim2rating(
    ratings: DataFrame,
    sims: DataFrame,
    k: int = 10,
    exclude_seen: bool = True,
    score_ndigits: int | None = None,
) -> DataFrame:
    """M11: score(u, j) = Σ_{i∈history(u)} sim(i, j); top-K per user.

    ``sims`` is the symmetric (item_a < item_b, sim) table; both directions
    are expanded here. Seen items are excluded via left-anti join
    (reference flag ``--remove_seen``). Returns (user, item, score, rank).

    ``score_ndigits``: round scores BEFORE ranking — parallel float sums
    differ in final ULPs, so unrounded near-tied scores can rank
    differently run-to-run (and engine-to-engine); oracle-compared
    callers round at 6.

    Physical strategy: when the expanded similarity table fits the
    broadcast row cap (byte-derived, see
    ``partitioning.broadcast_row_cap``), the user
    history is hash-partitioned by user ONCE (dedup
    folded into that exchange) and everything downstream — the gather
    join against the BROADCAST sims, the per-(user, item) score
    aggregation (hash(user) satisfies its clustering), the seen-items
    anti-join (both sides hash(user)) and the top-K window — runs with
    ZERO further exchanges: the history×sims fan-out, the largest
    intermediate of the query, never crosses the wire. Above the cap
    the shuffle plan (join on item, partial-aggregated groupBy) is kept.
    """
    both = sims.select("item_a", "item_b", "sim").unionByName(
        sims.select(
            F.col("item_b").alias("item_a"),
            F.col("item_a").alias("item_b"),
            "sim",
        )
    )
    score_expr = F.sum("sim")
    if score_ndigits is not None:
        score_expr = F.round(score_expr, score_ndigits)
    from graphchi_cpp_spark.partitioning import broadcast_row_cap

    # byte-derived: an expanded (item_a, item_b, sim) row hashes at ~72 B
    cap = broadcast_row_cap(sims.sparkSession, 72)
    # sims is typically an eagerly-materialized table (memo/checkpoint)
    # so this count is a cheap scan, not a recompute
    if 2 * sims.count() <= cap:
        spark = ratings.sparkSession
        # the conf partition count on purpose, NOT adaptive_partitions
        # sized from |ratings|: the single exchange built here is reused
        # by the history×sims FAN-OUT aggregation downstream (the
        # largest intermediate of the query, |hist|×avg-overlap rows) —
        # sizing it from the much smaller input serializes the heavy
        # stage (measured sf0.1: 5.2s -> 12.8s at p=|ratings|/125k)
        p = int(spark.conf.get("spark.sql.shuffle.partitions", "64"))
        hist = (
            ratings.select("user", "item")
            .repartition(p, "user")
            .dropDuplicates(["user", "item"])
            .cache()
        )
        hist.count()  # populate before the multi-consumer final job
        scores = (
            hist.join(F.broadcast(both), hist.item == both.item_a)
            .groupBy("user", F.col("item_b").alias("item"))
            .agg(score_expr.alias("score"))
        )
        if exclude_seen:
            scores = scores.join(hist, ["user", "item"], "left_anti")
        return top_k_per_key(scores, "user", "score", k, tiebreak_col="item")
    hist = ratings.select("user", "item").distinct()
    scores = (
        hist.join(both, hist.item == both.item_a)
        .groupBy("user", F.col("item_b").alias("item"))
        .agg(score_expr.alias("score"))
    )
    if exclude_seen:
        scores = scores.join(hist, ["user", "item"], "left_anti")
    return top_k_per_key(scores, "user", "score", k, tiebreak_col="item")


def itemcf_cv(
    ratings: DataFrame,
    k_folds: int = 3,
    metric: str = "jaccard",
    top_k: int = 5,
    min_common: int = 1,
    like_threshold: float = 4.0,
    max_user_degree: int | None = DEFAULT_MAX_USER_DEGREE,
) -> DataFrame:
    """K-fold cross-validation driver for item-CF (the role of the
    ``itemcf2.cpp:324`` / ``itemcf3.cpp:259`` variant CLIs — their
    similarity math is already covered by the ``metric`` enum; what
    differs is the fold loop): per fold, similarities are computed on the
    TRAINING folds only, turned into top-K recommendations, and scored by
    mean AP@K against the held-out fold's liked items. Returns one row
    per fold: (fold, n_users, mean_ap). Fold assignment is the
    deterministic (user, item) hash from ``kfold_split``."""
    from graphchi_cpp_spark.cf.eval import average_precision_at_k
    from graphchi_cpp_spark.sources.matrix_market import kfold_split

    spark = ratings.sparkSession
    rows = []
    for fold in range(k_folds):
        train = kfold_split(ratings, k_folds, fold, training=True)
        held = kfold_split(ratings, k_folds, fold, training=False)
        # eager: sims feeds both direction expansions of the rec build —
        # lazy, the full similarity computation ran twice per fold
        sims = item_similarity(
            train, metric, min_common=min_common, max_user_degree=max_user_degree
        ).localCheckpoint(eager=True)
        recs = itemsim2rating(train, sims, k=top_k, score_ndigits=6)
        truth = held.filter(F.col("rating") >= like_threshold).select(
            "user", "item"
        )
        ap = average_precision_at_k(recs, truth, top_k)
        agg = ap.agg(
            F.count("*").alias("n"), F.round(F.avg("ap"), 6).alias("m")
        ).collect()[0]
        rows.append((fold, int(agg["n"]), float(agg["m"] or 0.0)))
    return spark.createDataFrame(rows, "fold int, n_users long, mean_ap double")


def itemcf_cv_sql(
    ratings_sql: str,
    k_folds: int = 3,
    metric: str = "jaccard",
    top_k: int = 5,
    min_common: int = 1,
    like_threshold: float = 4.0,
    ndigits: int = 6,
    max_user_degree: int | None = DEFAULT_MAX_USER_DEGREE,
) -> str:
    """DuckDB oracle for ``itemcf_cv`` — the md5 fold hash makes the
    train/held splits bit-identical to the Spark side, and scores are
    rounded before ranking on both sides so the top-K agrees."""
    from graphchi_cpp_spark.cf.eval import ap_at_k_sql
    from graphchi_cpp_spark.sources.matrix_market import kfold_bucket_sql

    ctes = [
        f"""r AS MATERIALIZED (
          SELECT "user", item, rating, {kfold_bucket_sql(k_folds)} AS fb
          FROM ({ratings_sql})
        )"""
    ]
    selects = []
    for f in range(k_folds):
        train = f'SELECT "user", item, rating FROM r WHERE fb != {f}'
        ctes.append(
            f"sims{f} AS MATERIALIZED "
            f"({item_similarity_sql(train, metric, min_common, max_user_degree)})"
        )
        ctes.append(
            f"""recs{f} AS MATERIALIZED (
              WITH both_dirs AS (
                SELECT item_a, item_b, sim FROM sims{f}
                UNION ALL
                SELECT item_b, item_a, sim FROM sims{f}
              ),
              hist AS (SELECT DISTINCT "user", item FROM r WHERE fb != {f}),
              scores AS (
                SELECT h."user", b.item_b AS item, round(sum(b.sim), 6) AS score
                FROM hist h JOIN both_dirs b ON b.item_a = h.item
                GROUP BY 1, 2
              ),
              unseen AS (
                SELECT s.* FROM scores s
                LEFT JOIN hist h ON h."user" = s."user" AND h.item = s.item
                WHERE h.item IS NULL
              )
              SELECT "user", item, score, rank FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY "user" ORDER BY score DESC, item ASC
                ) AS rank FROM unseen
              ) WHERE rank <= {top_k}
            )"""
        )
        truth = (
            f'SELECT "user", item FROM r WHERE fb = {f} '
            f"AND rating >= {like_threshold}"
        )
        ctes.append(
            f"ap{f} AS MATERIALIZED ("
            + ap_at_k_sql(f"SELECT * FROM recs{f}", truth, top_k)
            + ")"
        )
        selects.append(
            f"SELECT CAST({f} AS INT) AS fold, count(*) AS n_users, "
            f"coalesce(round(avg(ap), {ndigits}), 0.0) AS mean_ap FROM ap{f}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def edge_jaccard_weight(edges: DataFrame) -> DataFrame:
    """itemcf3's JACCARD_WEIGHT metric (``--distance=9``): for each
    undirected weighted edge (a, b),

        sim(a, b) = w(a, b) / (Σw(a) + Σw(b) − w(a, b))

    where Σw(x) is x's weighted degree — the intersection is the DIRECT
    edge weight, not a co-occurrence count
    (``toolkits/collaborative_filtering/itemcf3.cpp:240``,
    ``distance.hpp:67-80``). Input (src, dst, weight); output
    (item_a, item_b, sim) with item_a > item_b, matching the
    reference's output orientation (``unittest.sh:104-112``).

    Scale: one groupBy per endpoint for weighted degrees + two
    broadcast-or-shuffle hash joins back onto the edge list — linear in
    |E|, no self-join."""
    e = (
        edges.select(
            F.greatest("src", "dst").alias("item_a"),
            F.least("src", "dst").alias("item_b"),
            F.col("weight").cast("double").alias("w"),
        )
        .groupBy("item_a", "item_b")
        .agg(F.sum("w").alias("w"))
    )
    sym = edges.select(
        F.col("src").alias("u"), F.col("weight").cast("double").alias("w")
    ).unionByName(
        edges.select(
            F.col("dst").alias("u"), F.col("weight").cast("double").alias("w")
        )
    )
    deg = sym.groupBy("u").agg(F.sum("w").alias("dw"))
    return (
        e.join(deg.select(F.col("u").alias("item_a"), F.col("dw").alias("da")), "item_a")
        .join(deg.select(F.col("u").alias("item_b"), F.col("dw").alias("db")), "item_b")
        .select(
            "item_a",
            "item_b",
            (F.col("w") / (F.col("da") + F.col("db") - F.col("w"))).alias("sim"),
        )
    )


def edge_jaccard_weight_sql(edges_sql: str) -> str:
    """DuckDB twin of ``edge_jaccard_weight``."""
    return f"""
        WITH edges AS ({edges_sql}),
        e AS (
            SELECT greatest(src, dst) AS item_a, least(src, dst) AS item_b,
                   sum(CAST(weight AS DOUBLE)) AS w
            FROM edges GROUP BY 1, 2
        ),
        sym AS (
            SELECT src AS u, CAST(weight AS DOUBLE) AS w FROM edges
            UNION ALL
            SELECT dst AS u, CAST(weight AS DOUBLE) AS w FROM edges
        ),
        deg AS (SELECT u, sum(w) AS dw FROM sym GROUP BY u)
        SELECT e.item_a, e.item_b,
               e.w / (da.dw + db.dw - e.w) AS sim
        FROM e
        JOIN deg da ON da.u = e.item_a
        JOIN deg db ON db.u = e.item_b
    """
