"""Write ``planted.graph``: the in-repo parity fixture (DIMACS-10 text).

A planted-community graph of 198 nodes: six communities of unequal size,
dense inside (p_in) and sparse between (p_out), plus a ring of bridges
between consecutive communities so the graph is one component. Louvain
finds small groups first and coarsens at least once; every community is
dense enough to keep a non-empty 5-truss. Deterministic (PCG64, fixed
seed), so re-running this script rewrites the committed file unchanged:

    python tests/fixtures/make_planted.py
"""

from __future__ import annotations

import os

import numpy as np

SIZES = (24, 28, 31, 34, 38, 43)  # sum = 198
P_IN = 0.6  # at 0.4 the 5-truss peel took 12 rounds instead of 3
P_OUT = 0.015
SEED = 20261017

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "planted.graph")


def planted_pairs() -> tuple[int, list[tuple[int, int]]]:
    rng = np.random.default_rng(SEED)
    comm = np.repeat(np.arange(len(SIZES)), SIZES)
    n = comm.size
    u, v = np.triu_indices(n, k=1)
    p = np.where(comm[u] == comm[v], P_IN, P_OUT)
    keep = rng.random(u.size) < p
    pairs = set(zip(u[keep].tolist(), v[keep].tolist()))
    starts = np.concatenate(([0], np.cumsum(SIZES)[:-1]))
    for i, a in enumerate(starts):
        b = starts[(i + 1) % len(SIZES)] + 1
        pairs.add((min(a, b), max(a, b)))
    return n, sorted(pairs)


def main() -> None:
    n, pairs = planted_pairs()
    nbrs: list[list[int]] = [[] for _ in range(n)]
    for a, b in pairs:
        nbrs[a].append(b)
        nbrs[b].append(a)
    with open(OUT, "w") as fh:
        fh.write(f"{n} {len(pairs)} 0\n")
        for row in nbrs:
            fh.write(" ".join(str(x + 1) for x in sorted(row)) + "\n")


if __name__ == "__main__":
    main()
