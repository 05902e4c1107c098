"""Independent output checks: plain Python and pandas, no Spark."""

from __future__ import annotations

import pandas as pd


def components_by_min_id(id_a, id_b) -> dict[int, int]:
    """Union-find over an edge list: node -> the minimum node id of its
    connected component (the label ``connected_components`` assigns).
    Only nodes that appear in some edge are returned."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(id_a, id_b):
        a, b = int(a), int(b)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # the smaller id stays root, so every root is its component's min
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def monotone(values: list[float]) -> bool:
    """Non-decreasing or non-increasing (a single bin is trivially both)."""
    inc = all(a <= b for a, b in zip(values, values[1:]))
    dec = all(a >= b for a, b in zip(values, values[1:]))
    return inc or dec


def fractions_sum_to_one(detail: pd.DataFrame, col: str, tol: float = 1e-9) -> bool:
    """Each variable's ``col`` fractions sum to 1 within ``tol``."""
    sums = detail.groupby("variable")[col].sum()
    return bool(((sums - 1.0).abs() <= tol).all())
