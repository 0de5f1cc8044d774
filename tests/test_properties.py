"""Property-based tests (hypothesis) — beyond the reference's test
strategy (SURVEY §5 notes the reference has none; we add them for the
relational operators where a Python reference implementation is cheap)."""



import pytest
from hypothesis import given, settings, strategies as st

pytestmark = pytest.mark.filterwarnings("ignore")

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),   # key
        st.integers(min_value=0, max_value=50),  # id (tiebreak)
        st.integers(min_value=-100, max_value=100),  # value
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: (t[0], t[1]),
)


@settings(max_examples=12, deadline=None)
@given(rows_strategy, st.integers(min_value=1, max_value=4))
def test_top_k_per_key_matches_python(spark_global, rows, k):
    from graphchi_cpp_spark.operators.toplist import top_k_per_key

    df = spark_global.createDataFrame(rows, "key long, id long, val long")
    got = {
        (r["key"], r["id"], r["rank"])
        for r in top_k_per_key(df, "key", "val", k, tiebreak_col="id").collect()
    }
    want = set()
    by_key: dict = {}
    for key, id_, val in rows:
        by_key.setdefault(key, []).append((id_, val))
    for key, items in by_key.items():
        ranked = sorted(items, key=lambda t: (-t[1], t[0]))[:k]
        for rank, (id_, _) in enumerate(ranked, 1):
            want.add((key, id_, rank))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)),
        min_size=1,
        max_size=40,
    )
)
def test_wcc_matches_python_union_find(spark_global, edges):
    from graphchi_cpp_spark.algos.connected_components import connected_components
    from graphchi_cpp_spark.graph import PropertyGraph

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark_global.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(PropertyGraph.from_edges(df)).collect()
    }
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=40,
    )
)
def test_scc_matches_networkx(spark_global, edges):
    """FW-BW-Trim SCC == networkx's Tarjan-based SCCs (min id per
    component) on random small digraphs."""
    import networkx as nx

    from graphchi_cpp_spark.algos.scc import strongly_connected_components
    from graphchi_cpp_spark.graph import PropertyGraph

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark_global.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["component"]
        for r in strongly_connected_components(PropertyGraph.from_edges(df)).collect()
    }
    g = nx.DiGraph(edges)
    want = {v: min(c) for c in nx.strongly_connected_components(g) for v in c}
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=2,
        max_size=35,
    )
)
def test_kcores_hindex_matches_python_peeling(spark_global, edges):
    """h-index fixpoint == literal peeling == a Python reference peel."""
    from graphchi_cpp_spark.algos.kcores import kcores
    from graphchi_cpp_spark.graph import PropertyGraph

    edges = list({(a, b) for a, b in edges if a != b})
    if not edges:
        return
    df = spark_global.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["core"]
        for r in kcores(PropertyGraph.from_edges(df)).collect()
    }
    # python peeling on the simple undirected graph
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    core = {}
    alive = set(adj)
    k = 0
    while alive:
        k = max(k + 1, min(deg[v] for v in alive))
        changed = True
        while changed:
            doomed = [v for v in alive if deg[v] <= k]
            changed = bool(doomed)
            for v in doomed:
                core[v] = k
                alive.discard(v)
                for u in adj[v]:
                    if u in alive:
                        deg[u] -= 1
    assert got == core


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12), st.integers(1, 9)),
        min_size=2,
        max_size=30,
    )
)
def test_msf_matches_python_kruskal(spark_global, wedges):
    """Borůvka contraction == Kruskal under the same (w, src, dst) total
    order (the order makes the forest unique)."""
    from graphchi_cpp_spark.algos.msf import minimum_spanning_forest
    from graphchi_cpp_spark.graph import PropertyGraph

    wedges = [(a, b, float(w)) for a, b, w in wedges if a != b]
    if not wedges:
        return
    df = spark_global.createDataFrame(wedges, "src long, dst long, weight double")
    got = {
        (r["src"], r["dst"]) for r in minimum_spanning_forest(
            PropertyGraph(df)
        ).collect()
    }
    # python kruskal on canonical undirected min-weight edges
    best: dict = {}
    for a, b, w in wedges:
        key = (min(a, b), max(a, b))
        if key not in best or w < best[key]:
            best[key] = w
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    want = set()
    for (a, b), w in sorted(best.items(), key=lambda kv: (kv[1], kv[0])):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            want.add((a, b))
    assert got == want


@pytest.fixture(scope="module")
def spark_global(spark):
    return spark


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "dd", "eee"]),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_repetition_stats_matches_python(spark_global, token_lists):
    from collections import Counter

    from graphchi_cpp_spark.operators.text import repetition_stats

    docs = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark_global.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    for i, toks in enumerate(token_lists):
        tc = Counter(toks)
        n = len(toks)
        grams = [" ".join(toks[j : j + 2]) for j in range(n - 1)]
        gc_ = Counter(grams)
        r = got[i]
        assert r["n_tokens"] == n
        assert r["dup_token_frac"] == round((n - len(tc)) / n, 6)
        if grams:
            assert r["dup_bigram_frac"] == round(
                (len(grams) - len(gc_)) / len(grams), 6
            )
            assert r["top_bigram_frac"] == round(
                max(gc_.values()) / len(grams), 6
            )
        else:  # < 2 tokens: no bigrams, zero repetition by contract
            assert r["dup_bigram_frac"] == 0.0
            assert r["top_bigram_frac"] == 0.0
