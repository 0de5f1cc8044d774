"""Seeded input generators for the benchmark.

Every generator takes a ``numpy.random.Generator`` and returns plain numpy
arrays; the writers turn them into the GraphChi input formats the program
reads (whitespace edge lists and Matrix Market coordinate files). The same
seed gives byte-identical files, and :func:`describe` records a content
hash and the sizes of what was written.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np


def rmat(rng: np.random.Generator, scale: int, n_edges: int,
         a: float = 0.57, b: float = 0.19, c: float = 0.19) -> np.ndarray:
    """R-MAT edges over ``2**scale`` vertex ids as an (n, 2) int64 array.

    Each edge picks one quadrant per bit level with probabilities
    (a, b, c, 1-a-b-c). Self-loops and parallel edges are kept, as a raw
    GraphChi edge list would have them.
    """
    src = np.zeros(n_edges, dtype=np.int64)
    dst = np.zeros(n_edges, dtype=np.int64)
    for _ in range(scale):
        u = rng.random(n_edges)
        down = u >= a + b  # quadrants c and d set the source bit
        right = ((u >= a) & (u < a + b)) | (u >= a + b + c)
        src = (src << 1) | down
        dst = (dst << 1) | right
    return np.stack([src, dst], axis=1)


def distinct_edges(edges: np.ndarray) -> np.ndarray:
    """Unique non-loop edges, in first-seen order."""
    edges = edges[edges[:, 0] != edges[:, 1]]
    _, first = np.unique(edges, axis=0, return_index=True)
    return edges[np.sort(first)]


def grid_edges(rng: np.random.Generator, n_grids: int, side: int,
               drop: float, pendants: int) -> np.ndarray:
    """``n_grids`` disjoint ``side`` x ``side`` grids, percolated, with
    one-way pendant edges, as an (m, 2) directed edge array.

    Percolation keeps every grid's hop distances from its corner: each
    vertex (i, j) with i, j > 0 drops, with probability ``drop``, one of its
    two edges towards the corner, chosen at random. Kept grid edges run
    both ways. Each grid then gets ``pendants`` new vertices, each tied to
    a random grid vertex other than the far corner by one edge of random
    direction. Whatever the seed, label propagation over a grid takes
    exactly ``2 * (side - 1)`` steps, and its strongly connected
    components are the grid core plus one singleton per pendant, so the
    work of the component algorithms depends on the sizes alone.
    """
    ids = np.arange(side * side, dtype=np.int64).reshape(side, side)
    up = np.stack([ids[:-1, :].ravel(), ids[1:, :].ravel()], axis=1)
    left = np.stack([ids[:, :-1].ravel(), ids[:, 1:].ravel()], axis=1)
    per_grid = side * side + pendants
    out = []
    for g in range(n_grids):
        # vertical edge (i-1,j)-(i,j) and horizontal edge (i,j-1)-(i,j)
        # for i, j >= 1: drop at most one of the two per vertex
        inner_drop = rng.random((side - 1, side - 1)) < drop
        drop_vertical = rng.random((side - 1, side - 1)) < 0.5
        keep_up = np.ones((side - 1, side), dtype=bool)
        keep_left = np.ones((side, side - 1), dtype=bool)
        keep_up[:, 1:] &= ~(inner_drop & drop_vertical)
        keep_left[1:, :] &= ~(inner_drop & ~drop_vertical)
        core = np.concatenate([up[keep_up.ravel()], left[keep_left.ravel()]])
        anchor = rng.integers(0, side * side - 1, size=pendants)  # never the far corner
        leaf = side * side + np.arange(pendants, dtype=np.int64)
        spur = np.stack([anchor, leaf], axis=1)
        spur = np.where((rng.random(pendants) < 0.5)[:, None], spur[:, ::-1], spur)
        out.append(np.concatenate([core, core[:, ::-1], spur]) + g * per_grid)
    edges = np.concatenate(out)
    return edges[rng.permutation(len(edges))]


def zipf_ratings(rng: np.random.Generator, n_users: int, n_items: int,
                 n_ratings: int, s: float = 1.1) -> np.ndarray:
    """Distinct (user, item, rating) triples, 0-based ids, ratings 1..5.

    Users and items are drawn from truncated Zipf laws with exponent ``s``
    (heavy raters and blockbuster items), ids shuffled so popularity is
    not id order; duplicate (user, item) draws are dropped.
    """
    def draw(n: int) -> np.ndarray:
        w = 1.0 / np.arange(1, n + 1) ** s
        return rng.permutation(n)[rng.choice(n, size=n_ratings, p=w / w.sum())]

    pairs = np.stack([draw(n_users), draw(n_items)], axis=1)
    _, first = np.unique(pairs, axis=0, return_index=True)
    pairs = pairs[np.sort(first)]
    rating = rng.integers(1, 6, size=len(pairs))
    return np.column_stack([pairs, rating]).astype(np.int64)


def stream_batches(rng: np.random.Generator, base: np.ndarray, scale: int,
                   n_batches: int, adds: int, deletes: int) -> list[np.ndarray]:
    """Batches of (src, dst, op) rows, op = 1 for an add, -1 for a delete.

    Adds are fresh R-MAT edges not in ``base`` and not added before;
    deletes are distinct ``base`` edges, each deleted once.
    """
    seen = {(int(s), int(d)) for s, d in base}
    victims = base[rng.permutation(len(base))[: n_batches * deletes]]
    batches = []
    for k in range(n_batches):
        fresh = []
        while len(fresh) < adds:
            for s, d in rmat(rng, scale, 2 * adds):
                e = (int(s), int(d))
                if s != d and e not in seen:
                    seen.add(e)
                    fresh.append(e)
                    if len(fresh) == adds:
                        break
        add = np.column_stack([np.array(fresh, dtype=np.int64),
                               np.ones(adds, dtype=np.int64)])
        dele = np.column_stack([victims[k * deletes:(k + 1) * deletes],
                                -np.ones(deletes, dtype=np.int64)])
        rows = np.concatenate([add, dele])
        batches.append(rows[rng.permutation(len(rows))])
    return batches


def write_edge_list(path: str, rows: np.ndarray) -> None:
    """Tab-separated ``src dst [value]`` lines, the GraphChi edge-list format."""
    with open(path, "w") as f:
        f.write("# perfbench edge list\n")
        f.write("\n".join("\t".join(map(str, r)) for r in rows.tolist()))
        f.write("\n")


def write_matrix_market(path: str, ratings: np.ndarray, n_users: int,
                        n_items: int) -> None:
    """Matrix Market coordinate file with 1-based ids."""
    with open(path, "w") as f:
        f.write("%%MatrixMarket matrix coordinate real general\n")
        f.write(f"{n_users} {n_items} {len(ratings)}\n")
        f.write("\n".join(f"{u + 1} {i + 1} {r}" for u, i, r in ratings.tolist()))
        f.write("\n")


def describe(paths: list[str]) -> dict:
    """Content hash over the files in order, with each file's size."""
    h = hashlib.sha256()
    sizes = {}
    for p in paths:
        with open(p, "rb") as f:
            data = f.read()
        h.update(data)
        sizes[os.path.basename(p)] = len(data)
    return {"sha256": h.hexdigest(), "bytes": sizes}
