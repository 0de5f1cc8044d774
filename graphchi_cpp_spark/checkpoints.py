"""One-job superstep materialization, and reclamation of its blocks.

A superstep loop must cut its lineage every step (the state is read 2-3
times per superstep; an uncut plan grows exponentially) and must learn
whether to go on (how many vertices changed). ``materialize`` does both
in ONE Spark action: an eager ``localCheckpoint`` whose job also
evaluates the convergence probe through ``DataFrame.observe`` — the
analog of GraphChi counting scheduled vertices and updates in the same
pass that runs the iteration (``graphchi_engine.hpp:802-814``,
``graphchi_context.hpp:101-105``). A separate ``count()`` would be a
second job re-scanning the same blocks.

``DataFrame.localCheckpoint(eager=True)`` persists the materialized RDD,
but ``DataFrame.unpersist()`` on the checkpointed frame does NOT free
those blocks — they linger until the driver's ContextCleaner happens to
GC the old RDD object. A loop that checkpoints every superstep therefore
grows storage by ~|V| rows per superstep, the block-manager pressure
that evicts hot cache partitions mid-job. ``CheckpointJanitor`` records
the RDD each checkpoint pinned (the ``LogicalRDD`` the checkpointed
frame scans) and unpersists the PREVIOUS generation's blocks as soon as
the new one has landed. The final generation is left alive: the
returned DataFrame still reads from it. Caches that a checkpoint's job
happens to populate first (a loop's edge layout, read by superstep 0)
are not part of a generation: their owner unpersists them.

Reference analog: GraphChi's engine reuses one bounded set of shard
buffers per interval (``src/engine/graphchi_engine.hpp``) rather than
accreting one per superstep.
"""

from __future__ import annotations

from pyspark.sql import Observation


def materialize(df, probe=None):
    """Eager ``localCheckpoint`` of ``df``. With ``probe`` — an aggregate
    Column over ``df``'s rows, e.g. ``F.count_if("act")`` (a ``F.struct``
    of aggregates for several values) — the checkpoint's own job also
    evaluates it, and the call returns ``(frame, value)``."""
    if probe is None:
        return df.localCheckpoint(eager=True)
    obs = Observation()
    out = df.observe(obs, probe.alias("probe")).localCheckpoint(eager=True)
    return out, obs.get["probe"]


class CheckpointJanitor:
    """Frees the previous superstep's checkpointed RDD blocks.

    Usage in a loop::

        jan = CheckpointJanitor(spark)
        for ...:
            v, n = jan.checkpoint(plan_df, probe=F.count_if("act"))
            if n == 0:
                break                    # old generation already freed

    ``checkpoint`` is :func:`materialize` plus the id of the RDD the
    checkpointed frame reads, which is the new generation. The
    generation freed is always one behind, so the frame the caller is
    still computing from keeps its blocks. Frames that must outlive the
    next superstep (e.g. parts of a final union) go through plain
    :func:`materialize` instead.
    """

    def __init__(self, spark) -> None:
        self.spark = spark
        self._prev_gen: set[int] = set()

    def checkpoint(self, df, probe=None, blocking: bool = False):
        out = materialize(df, probe)
        frame = out if probe is None else out[0]
        self.free(self._prev_gen, blocking)
        self._prev_gen = {int(frame._jdf.logicalPlan().rdd().id())}
        return out

    def free(self, ids: set[int], blocking: bool = False) -> None:
        if not ids:
            return
        m = self.spark.sparkContext._jsc.getPersistentRDDs()
        for rid in ids:
            r = m.get(rid)
            if r is not None:
                r.unpersist(blocking)
