"""Layer tracing from outside the program.

Each call the benchmark makes into a module of the program runs inside a
span with its own Spark job group. After the timed region the group's jobs
are rolled up from Spark's status store (which is populated with
``spark.ui.enabled=false`` too), giving per-layer job, stage, task, CPU,
shuffle and spill counts. Spans are kept in memory and written out when
the benchmark ends.
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0

# per-layer metric suffixes, in output order
LAYER_METRICS = (
    "wall_s", "jobs", "stages", "tasks", "failed_tasks",
    "task_cpu_s", "task_run_s", "offcpu_s", "jvm_gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "driver_gap_s", "job_ms_p90",
)


@dataclass
class Span:
    name: str
    run_id: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: str | None = None
    group: str | None = None  # Spark job group of a layer call
    self_s: float = 0.0


@dataclass
class RunTrace:
    """Spans of one workload run; the first span is the run itself.
    ``overhead_s`` is the time the tracer's own bookkeeping took inside
    the run (opening and closing spans and job groups)."""

    run_id: str
    spans: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0


class Tracer:
    """Opens spans and job groups around the benchmark's calls.

    With ``layers=False`` only the run-level job group is set (the
    end-to-end counts need it); with ``layers=True`` each layer call gets
    its own span and job group, and the run-level group is not used.
    """

    def __init__(self, spark, layers: bool):
        self.sc = spark.sparkContext
        self.layers = layers
        self.runs: list[RunTrace] = []
        self._stack: list[Span] = []

    def _set_group(self, group: str | None, desc: str = "") -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, desc)

    @contextlib.contextmanager
    def run(self, run_id: str):
        """The whole run: one span, and one job group unless layers are traced."""
        rt = RunTrace(run_id)
        self.runs.append(rt)
        span = Span("run", run_id, time.time(), group=None if self.layers else run_id)
        rt.spans.append(span)
        self._stack.append(span)
        if span.group:
            self._set_group(span.group, "perfbench run")
        try:
            yield rt
        finally:
            span.end = time.time()
            self._stack.pop()
            if span.group:
                self._set_group(None)

    @contextlib.contextmanager
    def layer(self, name: str):
        """A call into one program module; a span and job group when tracing."""
        if not self.layers:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1]
        rt = self.runs[-1]
        group = f"{rt.run_id}/{name}/{len(rt.spans)}"
        span = Span(name, rt.run_id, time.time(), parent=parent.name, group=group)
        rt.spans.append(span)
        self._stack.append(span)
        self._set_group(group, name)
        span.start = time.time()
        rt.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            span.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(None)
            rt.overhead_s += time.perf_counter() - t1


def self_times(spans: list[Span]) -> None:
    """Set each span's self time: its duration minus the union of its
    children's intervals (clipped to the span)."""
    for s in spans:
        kids = [(max(c.start, s.start), min(c.end, s.end))
                for c in spans if c is not s and c.parent == s.name
                and c.run_id == s.run_id]
        s.self_s = (s.end - s.start) - union_length(kids)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------- #
# status-store rollup
# --------------------------------------------------------------------- #
def drain_listener(spark) -> None:
    """Wait until the status store has seen every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def fetch_jobs(spark, group: str) -> tuple[list[dict], dict[int, dict]]:
    """Raw job and stage records of one job group, from the status store.

    Skipped stages are kept with their status so the rollup can leave
    them out. A stage the store no longer holds is recorded as MISSING:
    the store evicts beyond ``spark.ui.retainedStages`` and drops skipped
    stages first, so :func:`summarize` counts as lost only the missing
    stages that the jobs' own skipped counts cannot explain.
    """
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs, stages = [], {}
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(jid)
        sub, done = jd.submissionTime(), jd.completionTime()
        sids = jd.stageIds()
        sid_list = [int(sids.apply(i)) for i in range(sids.length())]
        jobs.append({
            "id": int(jid),
            "status": jd.status().toString(),
            "skipped_stages": jd.numSkippedStages(),
            "submit_ms": sub.get().getTime() if sub.isDefined() else None,
            "end_ms": done.get().getTime() if done.isDefined() else None,
            "stage_ids": sid_list,
        })
        for sid in sid_list:
            if sid in stages:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j wraps the store's NoSuchElementException
                stages[sid] = {"status": "MISSING"}
                continue
            stages[sid] = {
                "status": st.status().toString(),
                "tasks": st.numCompleteTasks() + st.numFailedTasks()
                + st.numKilledTasks(),
                "failed_tasks": st.numFailedTasks(),
                "cpu_ns": st.executorCpuTime(),
                "run_ms": st.executorRunTime(),
                "gc_ms": st.jvmGcTime(),
                "shuffle_read": st.shuffleReadBytes(),
                "shuffle_write": st.shuffleWriteBytes(),
                "spill": st.diskBytesSpilled(),
            }
    return jobs, stages


def summarize(jobs: list[dict], stages: dict[int, dict],
              start: float, end: float) -> dict:
    """Per-layer metrics of one span from its jobs and stages.

    ``start``/``end`` are the span's epoch seconds. A stage shared by
    several jobs counts once; skipped stages count not at all.
    """
    ran = [s for s in stages.values() if s["status"] not in ("SKIPPED", "PENDING", "MISSING")]
    cpu = sum(s["cpu_ns"] for s in ran) / 1e9
    run = sum(s["run_ms"] for s in ran) / 1e3
    durations = sorted(
        (j["end_ms"] - j["submit_ms"]) for j in jobs
        if j["submit_ms"] is not None and j["end_ms"] is not None
    )
    covered = union_length(
        (max(j["submit_ms"] / 1e3, start), min(j["end_ms"] / 1e3, end))
        for j in jobs if j["submit_ms"] is not None and j["end_ms"] is not None
    )
    wall = end - start
    return {
        "wall_s": wall,
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": sum(s["tasks"] for s in ran),
        "failed_tasks": sum(s["failed_tasks"] for s in ran),
        "task_cpu_s": cpu,
        "task_run_s": run,
        "offcpu_s": run - cpu,
        "jvm_gc_s": sum(s["gc_ms"] for s in ran) / 1e3,
        "shuffle_read_mb": sum(s["shuffle_read"] for s in ran) / MB,
        "shuffle_write_mb": sum(s["shuffle_write"] for s in ran) / MB,
        "spill_mb": sum(s["spill"] for s in ran) / MB,
        "driver_gap_s": max(0.0, wall - covered),
        "job_ms_p90": percentile(durations, 0.9),
        "lost_stages": lost_stages(jobs, stages),
    }


def lost_stages(jobs: list[dict], stages: dict[int, dict]) -> int:
    """Stages that ran but are no longer in the status store."""
    lost = 0
    for j in jobs:
        st = [stages[s]["status"] for s in j["stage_ids"]]
        unexplained = max(0, j["skipped_stages"] - st.count("SKIPPED"))
        lost += max(0, st.count("MISSING") - unexplained)
    return lost


def percentile(sorted_values: list[float], q: float) -> float:
    """Nearest-rank percentile of an ascending list; 0 when empty."""
    if not sorted_values:
        return 0.0
    k = max(0, min(len(sorted_values) - 1, int(-(-q * len(sorted_values) // 1)) - 1))
    return float(sorted_values[k])


def rollup_run(spark, rt: RunTrace) -> dict[str, dict]:
    """Metrics per span name of one run (repeated layer calls are summed)."""
    drain_listener(spark)
    out: dict[str, dict] = {}
    for span in rt.spans:
        if span.group is None:
            continue
        jobs, stages = fetch_jobs(spark, span.group)
        m = summarize(jobs, stages, span.start, span.end)
        if span.name in out:
            prev = out[span.name]
            for k, v in m.items():
                prev[k] = max(prev[k], v) if k == "job_ms_p90" else prev[k] + v
        else:
            out[span.name] = m
    return out


# --------------------------------------------------------------------- #
# storage
# --------------------------------------------------------------------- #
def storage_mb(spark) -> float:
    """Cached and checkpointed RDD block bytes (memory + disk) right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


class StoragePoller:
    """Samples :func:`storage_mb` on a background thread; keeps the peak."""

    def __init__(self, spark, interval_s: float = 0.25):
        self.spark = spark
        self.interval_s = interval_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, storage_mb(self.spark))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "StoragePoller":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=30)
        if self._thread.is_alive():
            raise RuntimeError("storage poller did not stop")
        self.peak = max(self.peak, storage_mb(self.spark))
