"""Broadcast row caps follow the live driver heap."""

from types import SimpleNamespace

from graphchi_cpp_spark.partitioning import broadcast_row_cap


def _session_with_heap(max_memory: int):
    runtime = SimpleNamespace(maxMemory=lambda: max_memory)
    java = SimpleNamespace(lang=SimpleNamespace(
        Runtime=SimpleNamespace(getRuntime=lambda: runtime)))
    jvm = SimpleNamespace(java=java)
    return SimpleNamespace(sparkContext=SimpleNamespace(_jvm=jvm))


def test_broadcast_row_cap_follows_jvm_max_memory(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BCAST_BUDGET_MB", raising=False)
    heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert broadcast_row_cap(spark, 64) == heap // 8 // 64
    # a smaller heap gives a proportionally smaller cap
    assert broadcast_row_cap(_session_with_heap(1 << 30), 64) == (1 << 30) // 8 // 64
    assert broadcast_row_cap(_session_with_heap(1 << 32), 128) == (1 << 32) // 8 // 128


def test_broadcast_budget_override(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BCAST_BUDGET_MB", "64")
    assert broadcast_row_cap(_session_with_heap(1 << 40), 64) == 64 * 1024 * 1024 // 64
    assert broadcast_row_cap(spark, 1 << 40) == 1
