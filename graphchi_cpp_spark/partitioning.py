"""Scale-adaptive partition counts for the iterative superstep loops.

Guide §2: partitioning must derive from the data, not from a constant
tuned for either local mode or the cluster. The superstep loops build
hash-partitioned caches (``repartition(p, key).cache()``) whose partition
count previously came straight from ``spark.sql.shuffle.partitions``; on
a small graph that yields dozens of near-empty partitions and every one
of the loop's many per-superstep jobs pays dozens of task launches for
microseconds of work (measured sf0.1 WCC: 2.0s/superstep at p=64 vs
0.5s at p=8 for a 1M-row symmetric edge cache).

``adaptive_partitions`` sizes p from the actual row count — one
partition per ``SPARK_GRAFT_ROWS_PER_PARTITION`` rows (default 125k
rows ≈ 2-8 MB of packed long/double columns, the measured local
sweet spot; raise it on clusters with fast task dispatch) — and caps it
at ``spark.sql.shuffle.partitions``: at cluster scale, where the conf is
sized to the cluster and row counts are huge, the cap binds and behavior
is IDENTICAL to before. Only the small-input end changes.

``scoped_shuffle_partitions`` additionally scopes the session's shuffle
conf to the same adaptive value for the duration of a driver loop, so
interior exchanges (distinct/groupBy reduce sides, AQE's
initialPartitionNum) follow the data size too. It restores the caller's
conf on exit; at scale p == conf and the scope is a no-op. The driver
loops run single-threaded, which is what makes a scoped session conf
safe here.

Callers must pass a row count they can obtain cheaply (a memoized
checkpoint, an already-maintained counter); the helpers never run a
count themselves.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

DEFAULT_ROWS_PER_PARTITION = 125_000


def rows_per_partition() -> int:
    return int(
        os.environ.get(
            "SPARK_GRAFT_ROWS_PER_PARTITION", DEFAULT_ROWS_PER_PARTITION
        )
    )


def adaptive_partitions(spark, n_rows: int, rpp: int | None = None) -> int:
    """Partition count for an ``n_rows``-row working set: one partition
    per ``rpp`` rows, at least 1, capped by ``spark.sql.shuffle.partitions``
    (the cluster-scale authority — the cap binds at scale, so this only
    shrinks partition counts for small inputs)."""
    rpp = rpp or rows_per_partition()
    conf = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(1, min(conf, (int(n_rows) + rpp - 1) // rpp))


def broadcast_row_cap(spark, bytes_per_row: int) -> int:
    """Row cap for a forced ``F.broadcast`` of an unbounded-at-scale table.

    A broadcast hash relation is built on the driver and replicated to
    every executor, so the cap is a BYTE budget divided by the site's
    estimated hashed-relation bytes/row (payload + ~56 B relation
    overhead): 50M rows of (long, long, double) is ~3 GB built — an OOM
    on memory-tight executors. The budget is 1/8 of the live driver heap
    (``Runtime.maxMemory``; a 16 GiB heap gives 2 GiB), or
    ``SPARK_GRAFT_BCAST_BUDGET_MB`` where set (on clusters, executor
    memory / 8).
    """
    budget_mb = os.environ.get("SPARK_GRAFT_BCAST_BUDGET_MB")
    if budget_mb is not None:
        budget = int(budget_mb) * 1024 * 1024
    else:
        runtime = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        budget = int(runtime.maxMemory()) // 8
    return max(1, budget // max(1, int(bytes_per_row)))


@contextmanager
def scoped_shuffle_partitions(spark, p: int):
    """Temporarily pin ``spark.sql.shuffle.partitions`` to ``p`` for a
    single-threaded driver loop; restores the previous value on exit.
    No-op when ``p`` already equals the session conf."""
    old = spark.conf.get("spark.sql.shuffle.partitions", "200")
    if int(old) == int(p):
        yield
        return
    spark.conf.set("spark.sql.shuffle.partitions", str(p))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
