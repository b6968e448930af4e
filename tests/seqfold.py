"""Pure-Python sequential-fold reference for the similarity operators.

CPython floats are IEEE doubles, and each ``acc = acc + x * y`` step rounds
exactly like one step of Spark's ``aggregate(zip_with(...), 0.0D, ...)``
fold, so these replay the library's arithmetic (and the DuckDB oracle's)
bit for bit, without a second Spark engine."""

from __future__ import annotations

import math
from collections import Counter


def dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def norm(a) -> float:
    return math.sqrt(dot(a, a))


def l2sq(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def cosine(a, b) -> float:
    return dot(a, b) / (norm(a) * norm(b))


def centroids(rows, k: int) -> list:
    """The sampled quantizer: the ``k`` smallest-id ``(id, vector)`` rows
    as ``(cid, vector, norm)``."""
    return [(cid, cv, norm(cv)) for cid, cv in sorted(rows)[:k]]


def assign(v, cents) -> int:
    """Nearest centroid: max cosine, smallest cid on ties."""
    nv = norm(v)
    return min((-(dot(v, cv) / (nv * cn)), cid) for cid, cv, cn in cents)[1]


def argmin_first(dists) -> int:
    """Index of the first minimum (PQ's smallest-code tie rule)."""
    return min(range(len(dists)), key=dists.__getitem__)


def semdedup(rows, k: int, threshold: float, max_cluster: int = 100_000) -> dict:
    """SemDeDup over ``(id, vector)`` rows: ``{id: (centroid, kept)}``, a
    vector dropped when a smaller-id cluster-mate is within ``threshold``
    cosine, clusters above ``max_cluster`` kept whole."""
    cents = centroids(rows, k)
    cl = {i: assign(v, cents) for i, v in rows}
    size = Counter(cl.values())
    return {
        j: (cl[j], size[cl[j]] > max_cluster or not any(
            i < j and cl[i] == cl[j] and cosine(vi, vj) >= threshold
            for i, vi in rows
        ))
        for j, vj in rows
    }
