"""Streaming / dynamic graph engine (X1-X4, C8-C9).

Reference: ``src/engine/dynamic_graphs/graphchi_dynamicgraph_engine.hpp``
— ``add_edge`` buffers edges in (dst-shard × src-shard) buffers (``:289-
329``), buffered edges are visible to computation before durable commit
(``incorporate_buffered_edges`` ``:340+``), shards are rewritten/compacted
when buffers grow or >10-20% of edges are deleted (``commit_graph_changes``
``:540-620``); deletions are tombstone edge values (``src/api/
graph_objects.hpp:96-142``). ``example_apps/streaming_pagerank.cpp`` feeds
edges from a thread while PageRank re-runs (``:231-298``), i.e. warm-
started recomputation over base ∪ buffer.

Spark-first mapping:
- DynamicGraph: a base parquet table + an in-memory micro-batch buffer
  (X2 visibility = base.unionByName(buffer) minus tombstones).
- ingest_batch: append adds/deletes (op column: 'add'/'delete' —
  tombstone analog).
- compact(): rewrite base applying buffered adds/deletes when the buffer
  or deleted fraction crosses the reference's thresholds (X3).
- run_streaming_pagerank: foreachBatch-style loop — per batch, merge then
  k supersteps warm-started from the previous ranks (X4), through the
  same ``algos.pagerank.pagerank_supersteps`` loop and plan rule as batch
  PageRank. It passes the edge count the DynamicGraph already keeps, so
  the plan costs no extra job; the old 5M-edge join-plan threshold is
  gone (see ``algos/pagerank.py`` for why it misled).
- With Structured Streaming, ``readStream ... foreachBatch(lambda df, id:
  dg.ingest_batch(df))`` plugs the same object into a real stream;
  backpressure = maxFilesPerTrigger (X1). The driver-testable path uses
  explicit batch DataFrames (same code path foreachBatch would call).

Scale: buffer stays small between compactions; compaction is one
partitioned parquet rewrite (the reference's shard rewrite); PageRank
warm start cuts supersteps per batch from ~30 to ~3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphchi_cpp_spark.graph import PropertyGraph


class DynamicGraph:
    """Mutable edge table = immutable base + add/delete buffer."""

    def __init__(self, base_edges: DataFrame, base_path: str | None = None):
        self.base = base_edges.select("src", "dst").localCheckpoint(eager=True)
        self.base_path = base_path
        self.buffer: DataFrame | None = None  # (src, dst, op)
        self.base_count = self.base.count()
        self._buffer_stats: tuple[int, int] | None = None  # (n_buf, n_del)

    def ingest_batch(self, batch: DataFrame) -> None:
        """X1/C9: append a micro-batch of (src, dst, op['add'|'delete'])."""
        b = batch.select(
            "src", "dst", F.coalesce(F.col("op"), F.lit("add")).alias("op")
        )
        self.buffer = (
            b if self.buffer is None else self.buffer.unionByName(b)
        ).localCheckpoint(eager=True)
        self._buffer_stats = None

    def buffer_stats(self) -> tuple[int, int]:
        """(buffered rows, buffered deletes) in ONE aggregation job over
        the checkpointed buffer (was two separate counts); memoized until
        the next ingest/compact so threshold checks and size hints share
        the same job."""
        if self.buffer is None:
            return (0, 0)
        if self._buffer_stats is None:
            row = self.buffer.agg(
                F.count("*").alias("n"),
                F.sum((F.col("op") == "delete").cast("long")).alias("d"),
            ).collect()[0]
            self._buffer_stats = (int(row["n"]), int(row["d"] or 0))
        return self._buffer_stats

    def edges(self) -> DataFrame:
        """X2: computation-visible edge set = base ∪ buffered adds,
        minus buffered deletes (tombstone anti-join, C8)."""
        e = self.base
        if self.buffer is None:
            return e
        adds = self.buffer.filter(F.col("op") == "add").select("src", "dst")
        dels = self.buffer.filter(F.col("op") == "delete").select("src", "dst")
        return (
            e.unionByName(adds)
            .dropDuplicates(["src", "dst"])
            .join(dels, ["src", "dst"], "left_anti")
        )

    def should_compact(
        self, buffer_ratio: float = 0.2, deleted_ratio: float = 0.1
    ) -> bool:
        """X3 thresholds (reference: buffers big, or ~10-20% deleted)."""
        if self.buffer is None:
            return False
        n_buf, n_del = self.buffer_stats()
        base = max(self.base_count, 1)
        return n_buf > buffer_ratio * base or n_del > deleted_ratio * base

    def compact(self) -> None:
        """X3: fold the buffer into a rewritten base (reference shard
        rewrite; optionally persisted to parquet when base_path set)."""
        merged = self.edges().localCheckpoint(eager=True)
        if self.base_path is not None:
            merged.write.mode("overwrite").parquet(self.base_path)
            # the parquet rewrite IS the materialization; reading it back
            # needs no second checkpoint
            merged = merged.sparkSession.read.parquet(self.base_path)
        # merged is already materialized either way — a second eager
        # checkpoint of the same rows was one full extra job per compact
        self.base = merged
        self.buffer = None
        self._buffer_stats = None
        self.base_count = self.base.count()

    def graph(self) -> PropertyGraph:
        return PropertyGraph.from_edges(self.edges())


def run_streaming_pagerank(
    dg: DynamicGraph,
    batches: list[DataFrame],
    supersteps_per_batch: int = 3,
    auto_compact: bool = True,
) -> DataFrame:
    """X4: per batch — merge, then ``supersteps_per_batch`` PageRank
    supersteps warm-started from the previous ranks. Returns final
    (id, rank). Matches batch PageRank at the same total superstep count
    on the final graph ONLY in the limit; the streaming trace is the
    reference's evolving-graph semantics."""
    from graphchi_cpp_spark.algos.pagerank import pagerank_supersteps

    ranks: DataFrame | None = None
    for batch in batches:
        dg.ingest_batch(batch)
        if auto_compact and dg.should_compact():
            dg.compact()
        # the maintained counters bound |E| (memoized, shared with
        # should_compact above): no extra job
        n_edges = dg.base_count + dg.buffer_stats()[0]
        ranks = pagerank_supersteps(
            dg.graph().edges, n_edges, supersteps_per_batch, ranks=ranks
        )
    return ranks


def streaming_pagerank_sql(
    stage_edges_sqls: list[str],
    supersteps_per_batch: int = 3,
    ndigits: int = 4,
) -> str:
    """DuckDB oracle for ``run_streaming_pagerank``: per batch stage s the
    visible edge set is ``stage_edges_sqls[s]`` (the caller encodes the
    cumulative base ∪ batches union, deduped); each stage runs
    ``supersteps_per_batch`` power-iteration steps warm-started from the
    previous stage's ranks (new vertices start at 1.0)."""
    ctes = []
    n = len(stage_edges_sqls)
    for s, esql in enumerate(stage_edges_sqls, start=1):
        ctes += [
            f"e{s} AS MATERIALIZED ({esql})",
            f"v{s} AS MATERIALIZED (SELECT DISTINCT src AS id FROM e{s} "
            f"UNION SELECT dst FROM e{s})",
            f"od{s} AS MATERIALIZED (SELECT src AS id, "
            f"CAST(count(*) AS DOUBLE) AS od FROM e{s} GROUP BY 1)",
        ]
        if s == 1:
            ctes.append(f"r1_0 AS MATERIALIZED (SELECT id, 1.0 AS rank FROM v1)")
        else:
            ctes.append(
                f"""r{s}_0 AS MATERIALIZED (
                  SELECT v.id, coalesce(p.rank, 1.0) AS rank
                  FROM v{s} v
                  LEFT JOIN r{s - 1}_{supersteps_per_batch} p ON p.id = v.id
                )"""
            )
        for i in range(1, supersteps_per_batch + 1):
            ctes.append(
                f"""r{s}_{i} AS MATERIALIZED (
                  SELECT v.id, 0.15 + 0.85 * coalesce(m.s, 0.0) AS rank
                  FROM v{s} v LEFT JOIN (
                    SELECT e.dst AS id, sum(r.rank / o.od) AS s
                    FROM e{s} e
                    JOIN r{s}_{i - 1} r ON r.id = e.src
                    JOIN od{s} o ON o.id = e.src
                    GROUP BY e.dst
                  ) m ON m.id = v.id
                )"""
            )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, round(rank, {ndigits}) AS rank "
        f"FROM r{n}_{supersteps_per_batch}"
    )
