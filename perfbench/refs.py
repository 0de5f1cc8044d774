"""Independent reference answers, computed with numpy and networkx.

Each reference follows the program's documented semantics, not its code:
PageRank without dangling redistribution, min-id component labels, ALS
with the id-hash initialisation and the lambda-times-count normal
equations, and the dynamic graph's buffer-and-compact visibility rules.
"""

from __future__ import annotations

import networkx as nx
import numpy as np

RESET, DAMPING = 0.15, 0.85
ALS_REG = 0.065  # the program's default lambda


def loopless(edges: np.ndarray) -> np.ndarray:
    """Drop self-loops, as the edge-list reader does."""
    return edges[edges[:, 0] != edges[:, 1]]


def pagerank(edges: np.ndarray, iterations: int,
             init: dict[int, float] | None = None) -> dict[int, float]:
    """Power iteration over ``edges`` (parallel edges count); dangling mass
    is dropped. ``init`` warm-starts known vertices, others start at 1."""
    ids, inv = np.unique(edges[:, :2], return_inverse=True)
    inv = inv.reshape(-1, 2)
    n = len(ids)
    outdeg = np.bincount(inv[:, 0], minlength=n).astype(np.float64)
    rank = np.ones(n)
    if init:
        rank = np.array([init.get(int(v), 1.0) for v in ids])
    for _ in range(iterations):
        contrib = rank[inv[:, 0]] / outdeg[inv[:, 0]]
        rank = RESET + DAMPING * np.bincount(inv[:, 1], weights=contrib, minlength=n)
    return dict(zip(ids.tolist(), rank.tolist()))


def wcc(edges: np.ndarray) -> dict[int, int]:
    """Weakly connected components, labelled by their minimum id."""
    g = nx.Graph()
    g.add_edges_from(edges[:, :2].tolist())
    return {v: min(c) for c in nx.connected_components(g) for v in c}


def scc(edges: np.ndarray) -> dict[int, int]:
    """Strongly connected components, labelled by their minimum id."""
    g = nx.DiGraph()
    g.add_edges_from(edges[:, :2].tolist())
    return {v: min(c) for c in nx.strongly_connected_components(g) for v in c}


def als_init(ids: np.ndarray, d: int) -> np.ndarray:
    """The program's deterministic id-hash factor initialisation."""
    j = np.arange(d, dtype=np.int64)
    mult = 2654435761 + 97 * j
    return np.mod(ids[:, None] * mult[None, :] + 12289 * j[None, :], 100003) / 1000030.0


def _als_half(rows: np.ndarray, cols: np.ndarray, r: np.ndarray,
              fixed: np.ndarray, n_rows: int, d: int, reg: float) -> np.ndarray:
    """Solve (sum f f^T + reg * n * I) x = sum r f for every row entity."""
    f = fixed[cols]
    gram = np.zeros((n_rows, d, d))
    np.add.at(gram, rows, f[:, :, None] * f[:, None, :])
    rhs = np.zeros((n_rows, d))
    np.add.at(rhs, rows, r[:, None] * f)
    count = np.bincount(rows, minlength=n_rows)
    gram += reg * count[:, None, None] * np.eye(d)[None]
    return np.linalg.solve(gram, rhs[:, :, None])[:, :, 0]


def als(ratings: np.ndarray, d: int, iterations: int, reg: float = ALS_REG):
    """Alternating least squares; returns (user factors, item factors,
    per-iteration train RMSE), factors keyed by id."""
    users, u_idx = np.unique(ratings[:, 0], return_inverse=True)
    items, i_idx = np.unique(ratings[:, 1], return_inverse=True)
    r = ratings[:, 2].astype(np.float64)
    item_f = als_init(items, d)
    rmse = []
    for _ in range(iterations):
        user_f = _als_half(u_idx, i_idx, r, item_f, len(users), d, reg)
        item_f = _als_half(i_idx, u_idx, r, user_f, len(items), d, reg)
        pred = np.einsum("ij,ij->i", user_f[u_idx], item_f[i_idx])
        rmse.append(float(np.sqrt(np.mean((r - pred) ** 2))))
    return (dict(zip(users.tolist(), user_f)), dict(zip(items.tolist(), item_f)), rmse)


def streaming_stages(base: np.ndarray, batches: list[np.ndarray],
                     buffer_ratio: float = 0.2, deleted_ratio: float = 0.1):
    """Replay the dynamic graph: the visible edge set after each batch,
    and the batch indices at which the buffer was compacted."""
    base_set = {tuple(e) for e in base[:, :2].tolist()}
    base_count = len(base)
    adds: list[tuple] = []
    dels: list[tuple] = []
    stages, compactions = [], []

    def visible():
        dead = set(dels)
        return {e for e in (base_set | set(adds)) if e not in dead}

    for k, batch in enumerate(batches):
        batch = loopless(batch)
        for s, d, op in batch.tolist():
            (dels if op < 0 else adds).append((s, d))
        n_buf, n_del = len(adds) + len(dels), len(dels)
        if n_buf > buffer_ratio * max(base_count, 1) or n_del > deleted_ratio * max(base_count, 1):
            base_set = visible()
            base_count = len(base_set)
            adds, dels = [], []
            compactions.append(k)
        stages.append(np.array(sorted(visible() if (adds or dels) else base_set),
                               dtype=np.int64))
    return stages, compactions


def streaming_pagerank(stages: list[np.ndarray], supersteps: int) -> dict[int, float]:
    """Warm-started PageRank over each stage's visible edges in turn."""
    ranks: dict[int, float] | None = None
    for edges in stages:
        ranks = pagerank(edges, supersteps, init=ranks or {})
    return ranks


# --------------------------------------------------------------------- #
# comparisons
# --------------------------------------------------------------------- #
def same_floats(got: dict, want: dict, tol: float) -> bool:
    """Same keys, every value within ``tol`` (absolute)."""
    if got.keys() != want.keys():
        return False
    g = np.array([got[k] for k in want])
    w = np.array(list(want.values()))
    return bool(np.all(np.abs(g - w) <= tol))


def valid_top_k(top: list[tuple[int, float]], want: dict[int, float], k: int,
                tol: float) -> bool:
    """``top`` is a correct top-k of ``want``: k rows, each value equals the
    reference value of its id, values match the reference's k best, and
    the rows are in descending order."""
    if len(top) != min(k, len(want)):
        return False
    best = np.sort(np.fromiter(want.values(), float))[::-1][:k]
    vals = np.array([v for _, v in top])
    ref = np.array([want.get(i, np.nan) for i, _ in top])
    return bool(np.all(np.abs(vals - ref) <= tol) and np.all(np.abs(vals - best) <= tol)
                and np.all(np.diff(vals) <= tol))
