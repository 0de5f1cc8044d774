"""The seeded generators are deterministic and shaped as documented."""

import numpy as np

import gen
import refs
from workloads import WORKLOADS


def _describe(tmp_path_factory, name, seed):
    d = tmp_path_factory.mktemp(f"{name}-{seed}")
    inp = WORKLOADS[name].generate(np.random.default_rng(seed), str(d))
    return gen.describe(inp["paths"])


def test_same_seed_same_bytes(tmp_path_factory):
    for name in WORKLOADS:
        a = _describe(tmp_path_factory, name, 7)
        assert a == _describe(tmp_path_factory, name, 7), name
        assert a["sha256"] != _describe(tmp_path_factory, name, 8)["sha256"], name


def test_grid_structure_is_seed_independent():
    import networkx as nx

    side, pendants = 6, 3
    for seed in range(5):
        edges = gen.grid_edges(np.random.default_rng(seed), 2, side, 0.5, pendants)
        per_grid = side * side + pendants
        assert sorted(set(refs.wcc(edges).values())) == [0, per_grid]
        g = nx.Graph(edges.tolist())
        assert max(nx.single_source_shortest_path_length(g, 0).values()) == 2 * (side - 1)
        sizes = sorted(np.unique(list(refs.scc(edges).values()), return_counts=True)[1])
        assert sizes == [1] * (2 * pendants) + [side * side] * 2


def test_rmat_skew_and_range():
    e = gen.rmat(np.random.default_rng(0), 10, 20_000)
    assert e.min() >= 0 and e.max() < 1024
    deg = np.bincount(e[:, 0], minlength=1024)
    assert deg.max() > 20 * deg.mean()  # a = 0.57 concentrates mass on low ids


def test_stream_batches_are_fresh_adds_and_base_deletes():
    rng = np.random.default_rng(3)
    base = gen.distinct_edges(gen.rmat(rng, 8, 800))
    batches = gen.stream_batches(rng, base, 8, 3, 20, 5)
    base_set = {tuple(e) for e in base.tolist()}
    adds = [tuple(r[:2]) for b in batches for r in b.tolist() if r[2] == 1]
    dels = [tuple(r[:2]) for b in batches for r in b.tolist() if r[2] == -1]
    assert len(adds) == 60 and len(set(adds)) == 60 and not set(adds) & base_set
    assert len(dels) == 15 and len(set(dels)) == 15 and set(dels) <= base_set


def test_zipf_ratings_distinct_pairs():
    r = gen.zipf_ratings(np.random.default_rng(1), 200, 50, 3_000)
    assert len({(u, i) for u, i, _ in r.tolist()}) == len(r)
    assert r[:, 2].min() >= 1 and r[:, 2].max() <= 5
