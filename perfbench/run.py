"""Seeded end-to-end benchmark of the graph engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pagerank-stream-rmat --seed 1 --seconds 5 --trace 0

One process, one closed-loop client: it starts a local Spark session with
the program's shipped defaults (only the core count and the local
directories are set), generates the workload's inputs from the seed and
computes the reference answer, then runs the workload until ``--seconds``
have passed, at least once. The first run in the session is timed as
well: like a GraphChi job, a user's run starts in a fresh process. Every
run's answer is checked against the reference outside the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` gives every
call into a program module its own span and Spark job group and prints
the per-layer metrics, rolled up from Spark's status store after each
run. The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. A results file with the host,
the provenance and the spans is written under ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import dataclasses
import gc
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(HERE, "spec.json")

LAYERS = ("sources", "algos.pagerank", "algos.connected_components", "algos.scc",
          "cf.als", "streaming.ingest", "operators.toplist")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def program_hash(root: str) -> str:
    """sha256 over the program package's Python sources, in path order."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "graphchi_cpp_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def host_info(spark, root: str) -> dict:
    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30,
        "jvm_max_heap_gb": sc._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**30,
        "spark": sc.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": sc.master,
        "git_commit": git_commit(root),
        "program_sha256": program_hash(root),
    }


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


def reclaim(spark) -> float:
    """Drop the finished run's frames, let Spark reclaim their blocks, and
    return the storage still held; then clear what is left."""
    from tracing import storage_mb

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.3)
    retained = storage_mb(spark)
    spark.catalog.clearCache()
    return retained


def start_session(work: str):
    """The program's session with its shipped defaults; only the core count
    and the local directories are set. Returns (spark, seconds)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # keep the JVM's temporary files inside the checkout too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    from graphchi_cpp_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def one_run(spark, wl, inp, want, tol, tracer, run_id):
    """A timed run, then (untimed) its rollup, check and reclaim."""
    from tracing import StoragePoller, rollup_run, self_times
    from workloads import Run

    r = Run(spark, tracer)
    rec = {"run_id": run_id, "ok": False}
    gc0 = jvm_gc_s(spark)
    try:
        with StoragePoller(spark) as poll:
            with tracer.run(run_id) as rt:
                t0 = time.perf_counter()
                got = wl.run(r, inp)
                rec["wall_s"] = time.perf_counter() - t0
        rec["peak_storage_mb"] = poll.peak
        rec["algo_s"] = r.algo_s
        rec["session_gc_s"] = jvm_gc_s(spark) - gc0
        rec["trace_overhead_s"] = rt.overhead_s
        rec["ok"] = bool(wl.check(got, want, tol))
        self_times(rt.spans)
        rec["layers"] = rollup_run(spark, rt)
        rec["spans"] = [dataclasses.asdict(s) for s in rt.spans]
    except Exception:  # a failed run is counted, and the loop goes on
        rec["error"] = traceback.format_exc()
        print(rec["error"], file=sys.stderr)
    finally:
        r.release()
        rec["retained_mb"] = reclaim(spark)
    return rec


def end_to_end(runs, setup_s, work):
    good = [x for x in runs if x["ok"]]
    med = lambda f: statistics.median(f(x) for x in good)  # noqa: E731
    return {
        "setup_s": (setup_s, "s"),
        "run_s": (med(lambda x: x["wall_s"]), "s"),
        "throughput": (med(lambda x: work / x["algo_s"]), "1/s"),
        "jobs": (med(lambda x: x["layers"]["run"]["jobs"]), "count"),
        "task_cpu_s": (med(lambda x: x["layers"]["run"]["task_cpu_s"]), "s"),
        "peak_storage_mb": (med(lambda x: x["peak_storage_mb"]), "MB"),
    }


def per_layer(runs, session_start_s):
    from tracing import LAYER_METRICS

    good = [x for x in runs if x["ok"]]
    med = lambda f: statistics.median(f(x) for x in good)  # noqa: E731
    out = {}
    for layer in LAYERS:
        for m in LAYER_METRICS:
            out[f"{layer}.{m}"] = (med(lambda x: x["layers"].get(layer, {}).get(m, 0.0)),
                                   _unit(m))
    out["run.wall_s"] = (med(lambda x: x["wall_s"]), "s")
    out["session.start_s"] = (session_start_s, "s")
    out["session.gc_s"] = (med(lambda x: x["session_gc_s"]), "s")
    out["checkpoints.retained_mb"] = (med(lambda x: x["retained_mb"]), "MB")
    out["tracing.overhead_s"] = (med(lambda x: x["trace_overhead_s"]), "s")
    return out


def _unit(metric: str) -> str:
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_ms_p90"):
        return "ms"
    if metric.endswith("_s"):
        return "s"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    import numpy as np

    try:
        import graphchi_cpp_spark  # noqa: F401  (fail before any work)
    except ImportError as e:
        print(f"perfbench: the program is not importable from {root}: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS
    from tracing import Tracer

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    with open(SPEC) as f:
        tol = json.load(f)["tolerances"][wl.name]

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        spark, session_start_s = start_session(work)
        t0 = time.perf_counter()
        inp = wl.generate(np.random.default_rng(args.seed), work)
        gen_s = time.perf_counter() - t0
        setup_s = session_start_s + gen_s
        import gen

        inputs = gen.describe(inp["paths"])
        t0 = time.perf_counter()
        want = wl.reference(inp)
        reference_s = time.perf_counter() - t0
        tracer = Tracer(spark, layers=args.trace == 1)
        runs = []
        deadline = time.perf_counter() + args.seconds
        while not runs or time.perf_counter() < deadline:
            runs.append(one_run(spark, wl, inp, want, tol, tracer, f"{wl.name}-{len(runs)}"))
        host = host_info(spark, root)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for x in runs if not x["ok"])
    if failed == len(runs):
        print("perfbench: no run succeeded", file=sys.stderr)
        return 1
    if args.trace:
        metrics = per_layer(runs, session_start_s)
    else:
        metrics = end_to_end(runs, setup_s, wl.work(inp))

    provenance = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "work_unit": wl.work_unit, "work_per_run": wl.work(inp),
        "inputs": inputs, "host": host,
        "setup": {"session_start_s": session_start_s, "generate_s": gen_s,
                  "reference_s": reference_s},
        "error_rate": failed / len(runs),
        "lost_stages": sum(v.get("lost_stages", 0) for x in runs
                              for v in x.get("layers", {}).values()),
    }
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    out_path = os.path.join(
        base, "results", f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump({"provenance": provenance, "runs": runs,
                   "metrics": {k: v for k, (v, _) in metrics.items()}}, f, indent=1)

    for k, (v, unit) in metrics.items():
        print(f"{wl.name} {k} {v:.6g} {unit}")
    print(f"{wl.name} error_rate {provenance['error_rate']:.6g} ({failed}/{len(runs)} runs)")
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
