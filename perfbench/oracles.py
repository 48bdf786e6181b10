"""Independent reference answers the benchmark checks the engine against.

Nothing here imports the engine: the CC oracle is a vectorized numpy
min-label solve (hook every root to the smallest label it touches, then
pointer-jump to roots, until no edge spans two labels), PageRank is a dense
numpy power iteration, and url ids come from a pure-Python XXH64 with the
seed Spark's ``xxhash64`` uses (42).
"""

from __future__ import annotations

import numpy as np

_M64 = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
SPARK_XXHASH_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def _merge(acc: int, val: int) -> int:
    return ((acc ^ _round(0, val)) * _P1 + _P4) & _M64


def xxh64(data: bytes, seed: int = SPARK_XXHASH_SEED) -> int:
    """XXH64 of ``data`` as a signed 64-bit int (Spark's ``xxhash64`` value)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def canonical_edges(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Sorted unique (min, max) pairs without self-loops, as an (m, 2) array."""
    lo = np.minimum(src, dst)
    hi = np.maximum(src, dst)
    keep = lo != hi
    lo, hi = lo[keep], hi[keep]
    order = np.lexsort((hi, lo))
    lo, hi = lo[order], hi[order]
    first = np.ones(len(lo), dtype=bool)
    first[1:] = (lo[1:] != lo[:-1]) | (hi[1:] != hi[:-1])
    return np.stack([lo[first], hi[first]], axis=1)


def cc_labels(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, comp): every endpoint, sorted, labelled by its component's
    minimum member."""
    nodes = np.unique(np.concatenate([src, dst]))
    u = np.searchsorted(nodes, src)
    v = np.searchsorted(nodes, dst)
    # dense index order equals id order, so the min index is the min member
    label = np.arange(len(nodes), dtype=np.int64)
    while True:
        lu, lv = label[u], label[v]
        spans = lu != lv
        if not spans.any():
            break
        lu, lv = lu[spans], lv[spans]
        low = np.minimum(lu, lv)
        # labels are roots here; hooking a root only ever lowers it, so the
        # parent forest stays acyclic
        np.minimum.at(label, lu, low)
        np.minimum.at(label, lv, low)
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
    return nodes, nodes[label]


def pagerank(
    src: np.ndarray, dst: np.ndarray, damping: float, iters: int
) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, rank) after ``iters`` power iterations over directed edges:
    uniform teleport, dangling mass spread uniformly over all nodes."""
    nodes = np.unique(np.concatenate([src, dst]))
    n = len(nodes)
    u = np.searchsorted(nodes, src)
    v = np.searchsorted(nodes, dst)
    out_deg = np.bincount(u, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(iters):
        share = np.divide(rank, out_deg, out=np.zeros(n), where=~dangling)
        contrib = np.bincount(v, weights=share[u], minlength=n)
        rank = (1.0 - damping) / n + damping * (contrib + rank[dangling].sum() / n)
    return nodes, rank
