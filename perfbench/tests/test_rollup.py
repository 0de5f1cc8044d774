"""The status-store rollup counts jobs, stages and tasks as Spark ran them."""

from operator import add

import pytest

from tracing import Tracer, rollup_run, self_times, summarize, union_length


def test_union_length():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert union_length([(2, 1)]) == 0


def test_summarize_arithmetic():
    jobs = [
        {"id": 0, "status": "SUCCEEDED", "skipped_stages": 0, "submit_ms": 1000,
         "end_ms": 1400, "stage_ids": [0, 1]},
        {"id": 1, "status": "SUCCEEDED", "skipped_stages": 2, "submit_ms": 1200,
         "end_ms": 1500, "stage_ids": [1, 2, 3]},
    ]
    stage = {"tasks": 4, "failed_tasks": 1, "cpu_ns": 2e9, "run_ms": 3000, "gc_ms": 500,
             "shuffle_read": 1024 * 1024, "shuffle_write": 0, "spill": 0}
    stages = {0: dict(stage, status="COMPLETE"), 1: dict(stage, status="COMPLETE"),
              2: {"status": "SKIPPED"}, 3: {"status": "MISSING"}}
    m = summarize(jobs, stages, start=0.9, end=2.0)
    assert m["jobs"] == 2 and m["stages"] == 2 and m["tasks"] == 8
    assert m["failed_tasks"] == 2
    assert m["task_cpu_s"] == 4 and m["task_run_s"] == 6 and m["offcpu_s"] == 2
    assert m["jvm_gc_s"] == 1 and m["shuffle_read_mb"] == 2
    assert m["driver_gap_s"] == pytest.approx(1.1 - 0.5)
    assert m["job_ms_p90"] == 400
    assert m["lost_stages"] == 0  # job 1 reports two skipped stages
    jobs[1]["skipped_stages"] = 1
    assert summarize(jobs, stages, 0.9, 2.0)["lost_stages"] == 1


@pytest.fixture(scope="module")
def spark():
    from graphchi_cpp_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2, shuffle_partitions=4)
    yield s
    s.stop()


def test_rollup_of_toy_jobs(spark):
    sc = spark.sparkContext
    tr = Tracer(spark, layers=True)
    with tr.run("toy") as rt:
        with tr.layer("a"):
            pairs = sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1)).reduceByKey(add, 2)
            assert sorted(pairs.collect()) == [(0, 34), (1, 33), (2, 33)]
            pairs.collect()  # second job re-reads the shuffle: its map stage is skipped
        with tr.layer("b"):
            assert sc.parallelize(range(10), 3).count() == 10
    self_times(rt.spans)
    m = rollup_run(spark, rt)
    assert (m["a"]["jobs"], m["a"]["stages"], m["a"]["tasks"]) == (2, 3, 4 + 2 + 2)
    assert (m["b"]["jobs"], m["b"]["stages"], m["b"]["tasks"]) == (1, 1, 3)
    assert m["a"]["failed_tasks"] == 0 and m["a"]["lost_stages"] == 0
    assert m["a"]["task_cpu_s"] > 0 and m["a"]["shuffle_write_mb"] > 0
    run_span = rt.spans[0]
    assert run_span.self_s == pytest.approx(
        (run_span.end - run_span.start) - sum(s.end - s.start for s in rt.spans[1:]))

    plain = Tracer(spark, layers=False)
    with plain.run("toy-plain") as rt:
        sc.parallelize(range(10), 3).count()
        spark.range(10).count()  # outside any layer, still in the run's group
    total = rollup_run(spark, rt)["run"]
    assert total["jobs"] >= 2 and total["stages"] >= 2
