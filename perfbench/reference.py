"""Independent references for every benchmarked operation.

Each function recomputes, in NumPy or pure Python and from the same
generated arrays the program reads as parquet, what an operation must
return, or checks a property its output must have. None of this code
imports ``giraph_spark``; it runs outside the timed region.
"""

from __future__ import annotations

import heapq

import numpy as np


def pagerank(n: int, src, dst, weight=None, iterations: int = 10,
             damping: float = 0.85) -> np.ndarray:
    """Giraph's SimplePageRank over a multigraph: superstep 0 scatters
    1/N, then ``iterations`` updates ``rank = (1-d)/N + d * inbound``.
    Mass at sinks leaks; ``weight`` scatters by ``w / sum(w out of src)``
    instead of ``1 / out_degree``."""
    w = np.ones(len(src)) if weight is None else np.asarray(weight, dtype=float)
    wsum = np.bincount(src, weights=w, minlength=n)
    per_edge = w / wsum[src]
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        rank = (1.0 - damping) / n + damping * np.bincount(
            dst, weights=rank[src] * per_edge, minlength=n
        )
    return rank


def _adjacency(n: int, src, dst, weight=None):
    adj: list[list] = [[] for _ in range(n)]
    if weight is None:
        for a, b in zip(src.tolist(), dst.tolist()):
            adj[a].append(b)
    else:
        for a, b, w in zip(src.tolist(), dst.tolist(), weight.tolist()):
            adj[a].append((b, w))
    return adj


def sssp(n: int, src, dst, weight, source: int) -> np.ndarray:
    """Dijkstra over directed weighted edges; ``inf`` when unreachable."""
    adj = _adjacency(n, src, dst, weight)
    dist = np.full(n, np.inf)
    dist[source] = 0.0
    heap = [(0.0, source)]
    done = np.zeros(n, dtype=bool)
    while heap:
        d, u = heapq.heappop(heap)
        if done[u]:
            continue
        done[u] = True
        for v, w in adj[u]:
            nd = d + w
            if nd < dist[v]:
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return dist


def bfs(n: int, src, dst, source: int) -> np.ndarray:
    """Hop levels from ``source`` over directed edges; -1 when unreachable."""
    adj = _adjacency(n, src, dst)
    level = np.full(n, -1, dtype=np.int64)
    level[source] = 0
    frontier = [source]
    depth = 0
    while frontier:
        depth += 1
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if level[v] < 0:
                    level[v] = depth
                    nxt.append(v)
        frontier = nxt
    return level


class _UnionFind:
    def __init__(self, n: int):
        self.parent = list(range(n))

    def find(self, x: int) -> int:
        parent = self.parent
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(self, a: int, b: int) -> bool:
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return False
        self.parent[max(ra, rb)] = min(ra, rb)
        return True


def components(n: int, src, dst) -> np.ndarray:
    """Weak components labelled by their smallest vertex id."""
    uf = _UnionFind(n)
    for a, b in zip(src.tolist(), dst.tolist()):
        uf.union(a, b)
    return np.array([uf.find(i) for i in range(n)], dtype=np.int64)


def same_partition(got_labels: np.ndarray, want_labels: np.ndarray) -> bool:
    """True when two labellings of vertices 0..n-1 induce one partition."""
    if got_labels.shape != want_labels.shape:
        return False
    pairs = set(zip(got_labels.tolist(), want_labels.tolist()))
    return len(pairs) == len(set(got_labels.tolist())) == len(
        set(want_labels.tolist())
    )


def kruskal_weight(n: int, src, dst, weight) -> tuple[float, int]:
    """(total weight, edge count) of the minimum spanning forest of the
    undirected graph the directed edges induce."""
    uf = _UnionFind(n)
    order = np.argsort(weight, kind="stable")
    total, count = 0.0, 0
    for i in order.tolist():
        a, b = int(src[i]), int(dst[i])
        if a != b and uf.union(a, b):
            total += float(weight[i])
            count += 1
    return total, count


def matching_problems(n_ids, src, dst, mate: dict) -> list[str]:
    """Why ``mate`` (id -> partner or None) is not a valid maximal
    matching of the undirected edges, or [] when it is."""
    out = []
    for u, m in mate.items():
        if m is not None and mate.get(m) != u:
            out.append(f"asymmetric pair {u}->{m}")
            break
    edges = set(zip(src.tolist(), dst.tolist()))
    for u, m in mate.items():
        if m is not None and (u, m) not in edges and (m, u) not in edges:
            out.append(f"matched non-edge {u}-{m}")
            break
    for a, b in edges:
        if a != b and mate.get(a) is None and mate.get(b) is None:
            out.append(f"not maximal: edge {a}-{b} has both ends free")
            break
    if set(mate) != set(n_ids):
        out.append("result ids differ from the vertex set")
    return out


def coloring_problems(ids, src, dst, color: dict) -> list[str]:
    if set(color) != set(ids):
        return ["result ids differ from the vertex set"]
    if any(c is None for c in color.values()):
        return ["uncoloured vertex"]
    for a, b in zip(src.tolist(), dst.tolist()):
        if a != b and color[a] == color[b]:
            return [f"edge {a}-{b} joins one colour"]
    return []


def independent_set_problems(ids, src, dst, in_set: dict) -> list[str]:
    if set(in_set) != set(ids):
        return ["result ids differ from the vertex set"]
    covered = set()
    for a, b in zip(src.tolist(), dst.tolist()):
        if a == b:
            continue
        if in_set[a] and in_set[b]:
            return [f"edge {a}-{b} inside the set"]
        if in_set[a]:
            covered.add(b)
        if in_set[b]:
            covered.add(a)
    for v, member in in_set.items():
        if not member and v not in covered:
            return [f"not maximal: {v} could join"]
    return []


def recall(found: set, wanted: set) -> float:
    return 1.0 if not wanted else len(found & wanted) / len(wanted)
