"""Independent pure-NumPy/Python oracles (no Spark, no reference code).

Mirrors the reference's test strategy of cross-checking against an
independent implementation (``test/.../algo/ConnectedComponentsTest.java:33-46``
checks BFS-WCC against a Tarjan-SCC oracle; we check Spark results against
these)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import numpy as np


def pagerank_oracle(edges: np.ndarray, n: int, alpha: float = 0.85, tol: float = 1e-12, max_iter: int = 500, fixed_iterations: int | None = None) -> np.ndarray:
    """Dense power iteration; dangling mass redistributed uniformly.
    r' = (1-a)/n + a*(A^T (r/outdeg) + dangling/n)."""
    r = np.full(n, 1.0 / n)
    outdeg = np.zeros(n, dtype=np.int64)
    if len(edges):
        np.add.at(outdeg, edges[:, 0], 1)
    iters = fixed_iterations if fixed_iterations is not None else max_iter
    for _ in range(iters):
        share = np.where(outdeg > 0, r / np.maximum(outdeg, 1), 0.0)
        inflow = np.zeros(n)
        if len(edges):
            np.add.at(inflow, edges[:, 1], share[edges[:, 0]])
        dangling = r[outdeg == 0].sum()
        new_r = (1 - alpha) / n + alpha * (inflow + dangling / n)
        if fixed_iterations is None and np.max(np.abs(new_r - r)) < tol:
            r = new_r
            break
        r = new_r
    return r


def components_oracle(edges: np.ndarray, n: int) -> np.ndarray:
    """Union-find WCC; labels canonicalized to min node id per component."""
    parent = np.arange(n)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        rs, rd = find(int(s)), find(int(d))
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    roots = np.array([find(i) for i in range(n)])
    # canonical: min id per component
    comp_min: dict[int, int] = {}
    for i, root in enumerate(roots):
        comp_min[root] = min(comp_min.get(root, i), i)
    return np.array([comp_min[r] for r in roots], dtype=np.int64)


def label_propagation_oracle(edges: np.ndarray, n: int, rounds: int) -> np.ndarray:
    """Synchronous LP on the symmetrized graph; argmax with min-label
    tie-break; isolated nodes keep their label."""
    nbrs = defaultdict(list)
    for s, d in edges:
        s, d = int(s), int(d)
        nbrs[d].append(s)
        nbrs[s].append(d)
    # symmetrized with dedup of arcs (matches union(swap).distinct())
    nbrs = {k: sorted(set(v)) for k, v in nbrs.items()}
    labels = np.arange(n, dtype=np.int64)
    for _ in range(rounds):
        new = labels.copy()
        for x in range(n):
            ns = nbrs.get(x, [])
            if not ns:
                continue
            cnt = Counter(int(labels[y]) for y in ns)
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            new[x] = best[0]
        labels = new
    return labels


def triangles_oracle(edges: np.ndarray, n: int) -> int:
    """Exact triangle count on the simple undirected graph."""
    adj = defaultdict(set)
    for s, d in edges:
        s, d = int(s), int(d)
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    count = 0
    for u in adj:
        for v in adj[u]:
            if v > u:
                count += sum(1 for w in adj[u] & adj[v] if w > v)
    return count


def bfs_oracle(edges: np.ndarray, n: int, sources: list[int], symmetric_expand: bool = True) -> dict[int, int]:
    adj = defaultdict(list)
    for s, d in edges:
        adj[int(s)].append(int(d))
        if symmetric_expand:
            adj[int(d)].append(int(s))
    dist = {int(s): 0 for s in sources}
    frontier = list(dist)
    depth = 0
    while frontier:
        depth += 1
        nxt = []
        for u in frontier:
            for v in adj.get(u, []):
                if v not in dist:
                    dist[v] = depth
                    nxt.append(v)
        frontier = nxt
    return dist


def neighbourhood_function_oracle(edges: np.ndarray, n: int, t_max: int) -> list[int]:
    """NF(t) = #pairs (x,y) with dist(x,y) ≤ t (directed), incl. x=y —
    the exact function HyperBall approximates (``algo/HyperBall.java:239``)."""
    adj = defaultdict(set)
    for s, d in edges:
        adj[int(s)].add(int(d))
    reach = {x: {x} for x in range(n)}
    out = [n]
    for _ in range(t_max):
        new_reach = {}
        for x in range(n):
            r = set(reach[x])
            for y in adj.get(x, []):
                r |= reach[y]
            new_reach[x] = r
        reach = new_reach
        out.append(sum(len(r) for r in reach.values()))
    return out


def scc_oracle(edges: np.ndarray, n: int) -> np.ndarray:
    """Iterative Tarjan SCC; labels canonicalized to min member id."""
    adj = defaultdict(list)
    for s, d in edges:
        adj[int(s)].append(int(d))
    index = {}
    low = {}
    on_stack = set()
    stack = []
    comp = np.full(n, -1, dtype=np.int64)
    counter = [0]
    comps = []

    for root in range(n):
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            nbrs = adj.get(v, [])
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                group = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    group.append(w)
                    if w == v:
                        break
                comps.append(group)
            work.pop()
            if work:
                pv, _ = work[-1]
                low[pv] = min(low[pv], low[v])
    for group in comps:
        m = min(group)
        for w in group:
            comp[w] = m
    return comp


def harmonic_oracle(edges: np.ndarray, n: int, t_max: int) -> dict[int, float]:
    """Σ over y≠x with directed d(y→x) ≤ t of 1/d (incoming convention)."""
    out = {}
    for y in range(n):
        d = bfs_oracle(edges, n, [y], symmetric_expand=False)
        for x, dist in d.items():
            if 0 < dist <= t_max:
                out[x] = out.get(x, 0.0) + 1.0 / dist
    return {x: round(v, 9) for x, v in out.items()}


def hll_registers_oracle(edges, nodes, t: int, log2m: int = 6) -> dict[int, list[int]]:
    """HyperBall registers after ``t`` synchronous max-merge rounds, m =
    2^log2m per node.  Node x's own register: h = first 48 bits of
    md5(str(x)), j = h & (m-1), w = h >> log2m, rho = number of leading
    zeros of w in (48 - log2m) bits, plus one.  Each round x takes the
    register-wise max over itself and its successors."""
    m = 1 << log2m
    w_bits = 48 - log2m
    regs = {}
    for x in nodes:
        r = [0] * m
        h = int(hashlib.md5(str(x).encode()).hexdigest()[:12], 16)
        w = h >> log2m
        r[h & (m - 1)] = w_bits - w.bit_length() + 1
        regs[x] = r
    arcs = sorted(set(map(tuple, edges)))
    for _ in range(t):
        new = {x: list(r) for x, r in regs.items()}
        for s, d in arcs:
            new[s] = [max(a, b) for a, b in zip(new[s], regs[d])]
        regs = new
    return regs


def hll_estimate(regs: list[int]) -> float:
    """HyperLogLog cardinality of one register vector (Flajolet et al.
    2007), with the small-range (linear counting) correction."""
    m = len(regs)
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1.0 + 1.079 / m))
    raw = alpha * m * m / sum(2.0 ** -r for r in regs)
    zeros = regs.count(0)
    if raw <= 2.5 * m and zeros > 0:
        return m * math.log(m / zeros)
    return raw
