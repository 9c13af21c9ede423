"""Pure numpy/python ground-truth oracles (tests only — never distributed).

Mirrors the reference's oracle pattern: exact single-threaded counters in
/root/reference/naive_implementation/ (e.g. TriangleCounting.cpp:44-70) and
the exact counters on induced subgraphs in /root/reference/sampling/Graph.cpp:169-291.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict, deque
from math import comb

import numpy as np


def pagerank_oracle(
    num_vertices: int,
    edges: list[tuple[int, int]],
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 200,
    num_iters: int | None = None,
) -> np.ndarray:
    """Power iteration with uniform dangling-mass redistribution.

    Converges when the L1 delta < tol, or runs exactly ``num_iters`` if given
    (for fixed-iteration comparisons).  Ranks sum to 1.
    """
    V = num_vertices
    out_deg = np.zeros(V, dtype=np.int64)
    for s, _ in edges:
        out_deg[s] += 1
    by_dst: dict[int, list[int]] = defaultdict(list)
    for s, d in edges:
        by_dst[d].append(s)
    r = np.full(V, 1.0 / V)
    iters = num_iters if num_iters is not None else max_iter
    for _ in range(iters):
        dangling = r[out_deg == 0].sum()
        new = np.full(V, (1.0 - damping) / V + damping * dangling / V)
        contrib = r / np.maximum(out_deg, 1)
        for d, srcs in by_dst.items():
            new[d] += damping * sum(contrib[s] for s in srcs)
        delta = np.abs(new - r).sum()
        r = new
        if num_iters is None and delta < tol:
            break
    return r


def components_oracle(num_vertices: int, edges: list[tuple[int, int]]) -> np.ndarray:
    """BFS connected components over the undirected view; label = min id."""
    adj: dict[int, list[int]] = defaultdict(list)
    for s, d in edges:
        adj[s].append(d)
        adj[d].append(s)
    comp = np.full(num_vertices, -1, dtype=np.int64)
    for v in range(num_vertices):
        if comp[v] != -1:
            continue
        q = deque([v])
        comp[v] = v
        while q:
            u = q.popleft()
            for w in adj[u]:
                if comp[w] == -1:
                    comp[w] = v
                    q.append(w)
    return comp


def labelprop_oracle(
    num_vertices: int,
    edges: list[tuple[int, int]],
    max_iter: int = 20,
) -> np.ndarray:
    """Synchronous label propagation over the undirected view.

    New label = most frequent neighbor label, ties broken by min label;
    vertices with no neighbors keep their label.  Runs exactly ``max_iter``
    synchronous rounds (or stops early if a round changes nothing).
    """
    adj: dict[int, set[int]] = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    labels = np.arange(num_vertices, dtype=np.int64)
    for _ in range(max_iter):
        new = labels.copy()
        for v in range(num_vertices):
            if not adj[v]:
                continue
            cnt = Counter(int(labels[u]) for u in adj[v])
            best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            new[v] = best
        if np.array_equal(new, labels):
            break
        labels = new
    return labels


def _undirected_unique(edges: list[tuple[int, int]]) -> set[tuple[int, int]]:
    return {(min(s, d), max(s, d)) for s, d in edges if s != d}


def triangle_count_oracle(edges: list[tuple[int, int]]) -> int:
    """Exact undirected triangle count, each counted once (a<b<c).

    Same semantics as /root/reference/naive_implementation/TriangleCounting.cpp:44-70.
    """
    und = _undirected_unique(edges)
    adj: dict[int, set[int]] = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    count = 0
    for a, b in und:  # a < b by construction
        count += sum(1 for c in adj[a] if c > b and c in adj[b])
    return count


def three_chain_count_oracle(num_vertices: int, edges: list[tuple[int, int]]) -> int:
    """Unordered 3-chains (paths on 3 distinct vertices) = sum_v C(deg_v, 2).

    Matches /root/reference/sampling/Graph.cpp:212-239 semantics (undirected,
    simple graph).
    """
    und = _undirected_unique(edges)
    deg = Counter()
    for a, b in und:
        deg[a] += 1
        deg[b] += 1
    return sum(comb(d, 2) for d in deg.values())


def k_star_count_oracle(num_vertices: int, edges: list[tuple[int, int]], k: int = 5) -> int:
    """k-stars (one center, k distinct leaves) = sum_v C(deg_v, k).

    Matches the 5-star exact counter /root/reference/sampling/Graph.cpp:281-291.
    """
    und = _undirected_unique(edges)
    deg = Counter()
    for a, b in und:
        deg[a] += 1
        deg[b] += 1
    return sum(comb(d, k) for d in deg.values())


def five_house_count_oracle(edges: list[tuple[int, int]]) -> int:
    """Exact 5-house count (pattern edges (0,1),(0,2),(1,2),(1,3),(2,4),(3,4)
    per /root/reference/applications/FiveHouse.cpp:18-27; |Aut| = 2):
    injective homomorphism enumeration / 2."""
    und = _undirected_unique(edges)
    adj: dict[int, set[int]] = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    ordered = 0
    for v0 in adj:
        for v1 in adj[v0]:
            for v2 in adj[v0]:
                if v2 == v1 or v2 not in adj[v1]:
                    continue
                for v3 in adj[v1]:
                    if v3 in (v0, v2):
                        continue
                    for v4 in adj[v2]:
                        if v4 in (v0, v1, v3):
                            continue
                        if v4 in adj[v3]:
                            ordered += 1
    return ordered // 2


def k_chain_count_oracle(edges: list[tuple[int, int]], k: int) -> int:
    """Unordered simple paths on k distinct vertices ((k-1) edges):
    ordered DFS enumeration / 2 (runtime-k like
    /root/reference/applications/ChainMining.cpp:18-106)."""
    und = _undirected_unique(edges)
    adj: dict[int, set[int]] = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)

    def extend(path: tuple[int, ...]) -> int:
        if len(path) == k:
            return 1
        return sum(extend(path + (w,)) for w in adj[path[-1]] if w not in path)

    ordered = sum(extend((v,)) for v in adj)
    return ordered // 2


def h60_oracle(s: str) -> int:
    """Python twin of dedup.h60 (first 15 hex chars of md5, as int)."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def word_shingles_oracle(text: str, k: int = 3) -> list[str]:
    w = text.strip().lower().split()
    if len(w) < k:
        return []
    seen: list[str] = []
    for i in range(len(w) - k + 1):
        g = " ".join(w[i:i + k])
        if g not in seen:
            seen.append(g)
    return seen


def simhash_oracle(text: str, bits: int = 32) -> int:
    toks = [t for t in text.strip().lower().split() if t]
    cnt = Counter(toks)
    out = 0
    for j in range(bits):
        s = sum(c if (h60_oracle(t) >> j) & 1 else -c for t, c in cnt.items())
        if s > 0:
            out |= 1 << j
    return out


def fingerprint_oracle(text: str, base: int = 1_000_003,
                       mod: int = (1 << 31) - 1) -> int:
    acc = 0
    for w in text.strip().lower().split():
        acc = (acc * base + h60_oracle(w) % mod) % mod
    return acc


def four_chain_count_oracle(edges: list[tuple[int, int]]) -> int:
    """Unordered simple paths on 4 distinct vertices (3 edges).

    Matches /root/reference/sampling/Graph.cpp:241-270: enumerate ordered
    paths a-b-c-d with all-distinct vertices, divide by 2.
    """
    und = _undirected_unique(edges)
    adj: dict[int, set[int]] = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    ordered = 0
    for b in adj:
        for c in adj[b]:
            for a in adj[b]:
                if a == c:
                    continue
                for d in adj[c]:
                    if d != b and d != a:
                        ordered += 1
    return ordered // 2


def pattern_count_oracle(edges: list[tuple[int, int]],
                         pattern: list[tuple[int, int]]) -> int:
    """Brute-force generic pattern count: enumerate injective vertex maps,
    count those where every pattern edge maps to a graph edge, divide by
    |Aut| (the factorial-enumeration semantics of
    /root/reference/src/SamplerGenerator.cpp:225-242,312-363)."""
    from itertools import permutations as _perms

    und = _undirected_unique(edges)
    g = {(min(a, b), max(a, b)) for a, b in und}
    verts = sorted({x for e in und for x in e})
    pes = {(min(u, v), max(u, v)) for u, v in pattern}
    k = max(max(u, v) for u, v in pes) + 1
    aut = sum(
        1
        for p in _perms(range(k))
        if all((min(p[u], p[v]), max(p[u], p[v])) in pes for u, v in pes)
    )
    homs = 0
    for m in _perms(verts, k):
        if all((min(m[u], m[v]), max(m[u], m[v])) in g for u, v in pes):
            homs += 1
    return homs // aut


def hits_oracle(num_vertices: int, edges: list[tuple[int, int]],
                num_iters: int = 5) -> tuple[np.ndarray, np.ndarray]:
    """Textbook HITS power iteration (L2-normalized each half-step);
    returns (hub, authority) — the twin of algos.hits."""
    A = np.zeros((num_vertices, num_vertices))
    for s, d in edges:
        A[s, d] = 1.0
    h = np.ones(num_vertices)
    a = np.ones(num_vertices)
    for _ in range(num_iters):
        a = A.T @ h
        n = np.linalg.norm(a)
        a = a / (n if n else 1.0)
        h = A @ a
        n = np.linalg.norm(h)
        h = h / (n if n else 1.0)
    return h, a


def personalized_pagerank_oracle(
    num_vertices: int,
    edges: list[tuple[int, int]],
    sources: list[int],
    damping: float = 0.85,
    num_iters: int = 5,
) -> np.ndarray:
    """Twin of algos.pagerank.personalized_pagerank: teleport + dangling
    mass restart uniformly over ``sources``."""
    out: dict[int, list[int]] = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    p = np.zeros(num_vertices)
    for s in sources:
        p[s] = 1.0 / len(sources)
    r = p.copy()
    for _ in range(num_iters):
        dm = sum(r[v] for v in range(num_vertices) if v not in out)
        new = (1.0 - damping) * p + damping * dm * p
        for s, ds in out.items():
            w = r[s] / len(ds)
            for d in ds:
                new[d] += damping * w
        r = new
    return r


def kcore_oracle(edges: list[tuple[int, int]], k: int) -> set[int]:
    """Iterative peeling twin of algos.kcore.kcore_vertices."""
    adj: dict[int, set[int]] = {}
    for a, b in _undirected_unique(edges):
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for v in [v for v, ns in adj.items() if len(ns) < k]:
            for u in adj.pop(v):
                adj[u].discard(v)
            changed = True
    return set(adj)


def bfs_oracle(
    edges: list[tuple[int, int]], sources: list[int], directed: bool = False
) -> dict[int, int]:
    """Hop distance from the nearest source; unreached vertices absent."""
    adj: dict[int, list[int]] = defaultdict(list)
    for s, d in edges:
        if s == d:
            continue
        adj[s].append(d)
        if not directed:
            adj[d].append(s)
    dist = {s: 0 for s in sources}
    q = deque(sources)
    while q:
        u = q.popleft()
        for w in adj[u]:
            if w not in dist:
                dist[w] = dist[u] + 1
                q.append(w)
    return dist


def stress_oracle(
    edges: list[tuple[int, int]], sources: list[int], directed: bool = False
) -> dict[int, int]:
    """Exact Brandes stress: Σ_s σ(s,v)·c(v) with c(v)=Σ_succ(1+c(w)).

    Adjacency is a SET: parallel/reciprocal duplicate input edges are one
    simple edge (matching the engine's normalized edge table) — unlike BFS
    distance, σ and c are sensitive to edge multiplicity."""
    adj: dict[int, set[int]] = defaultdict(set)
    for s, d in edges:
        if s == d:
            continue
        adj[s].add(d)
        if not directed:
            adj[d].add(s)
    stress: dict[int, int] = defaultdict(int)
    for s in sources:
        dist = {s: 0}
        sigma = {s: 1}
        order = [s]
        q = deque([s])
        while q:
            u = q.popleft()
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    sigma[w] = 0
                    order.append(w)
                    q.append(w)
                if dist[w] == dist[u] + 1:
                    sigma[w] += sigma[u]
        c: dict[int, int] = defaultdict(int)
        for v in reversed(order):
            for w in adj[v]:
                if dist.get(w) == dist[v] + 1:
                    c[v] += 1 + c[w]
        for v in order:
            if v != s:
                stress[v] += sigma[v] * c[v]
    return {v: x for v, x in stress.items() if x > 0}


def louvain_sync_oracle(
    edges: list[tuple[int, int]], num_vertices: int, num_rounds: int = 4
) -> dict[int, int]:
    """Sequential replication of the synchronous Louvain-style update:
    score(v→C) = 2m·k_{v,C} − deg_v·(Σtot(C) − deg_v·[C = cur]), argmax
    with min-label tie-break, all vertices updated simultaneously."""
    adj: dict[int, set[int]] = defaultdict(set)
    for s, d in edges:
        if s == d:
            continue
        adj[s].add(d)
        adj[d].add(s)
    deg = {v: len(adj[v]) for v in range(num_vertices)}
    m2 = sum(deg.values())
    label = {v: v for v in range(num_vertices)}
    for _ in range(num_rounds):
        tot: dict[int, int] = defaultdict(int)
        for v in range(num_vertices):
            tot[label[v]] += deg[v]
        new = {}
        for v in range(num_vertices):
            kvc: dict[int, int] = defaultdict(int)
            kvc[label[v]] += 0  # current community is always a candidate
            for u in adj[v]:
                kvc[label[u]] += 1
            best = None
            for c, k in kvc.items():
                score = m2 * k - deg[v] * (
                    tot[c] - (deg[v] if c == label[v] else 0)
                )
                if best is None or (score, -c) > best[0]:
                    best = ((score, -c), c)
            new[v] = best[1]
        label = new
    return label


def scc_oracle(num_vertices: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    """Iterative Tarjan SCC; label = min vertex id in the component."""
    adj: dict[int, list[int]] = defaultdict(list)
    for s, d in edges:
        if s != d:
            adj[s].append(d)
    index = {}
    low = {}
    on_stack = set()
    stack: list[int] = []
    label: dict[int, int] = {}
    counter = [0]

    for root in range(num_vertices):
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
            nbrs = adj[v]
            while pi < len(nbrs):
                w = nbrs[pi]
                pi += 1
                if w not in index:
                    work[-1] = (v, pi)
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            work[-1] = (v, pi)
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    label[w] = m
            work.pop()
            if work:
                p, _ = work[-1]
                low[p] = min(low[p], low[v])
    return label


def weighted_pagerank_oracle(
    num_vertices: int,
    edges: list[tuple[int, int, float]],
    damping: float = 0.85,
    num_iters: int = 5,
) -> np.ndarray:
    """Edge-weighted power iteration: contribution ∝ w / Σw(src); uniform
    dangling redistribution; ranks sum to 1."""
    V = num_vertices
    w_out = np.zeros(V)
    for s, _, w in edges:
        w_out[s] += w
    r = np.full(V, 1.0 / V)
    for _ in range(num_iters):
        dangling = r[w_out == 0].sum()
        new = np.full(V, (1.0 - damping) / V + damping * dangling / V)
        for s, d, w in edges:
            new[d] += damping * r[s] * w / w_out[s]
        r = new
    return r


def four_cycle_oracle(edges: list[tuple[int, int]]) -> int:
    """Exact rectangle count: Σ_{u<v} C(common(u,v),2) / 2."""
    und = _undirected_unique(edges)
    adj: dict[int, set[int]] = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    vs = sorted(adj)
    total = 0
    for i, u in enumerate(vs):
        for v in vs[i + 1:]:
            w = len(adj[u] & adj[v])
            total += w * (w - 1) // 2
    return total // 2


def kcore_peel_depth(edges: list[tuple[int, int]], k: int) -> int:
    """Number of peeling rounds until the k-core fixpoint (oracle for
    checking the unrolled-SQL round budget)."""
    und = _undirected_unique(edges)
    adj: dict[int, set[int]] = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    rounds = 0
    while True:
        drop = [v for v, ns in adj.items() if len(ns) < k]
        if not drop:
            return rounds
        rounds += 1
        for v in drop:
            for w in adj[v]:
                adj[w].discard(v)
            del adj[v]


def sssp_oracle(
    edges: list[tuple[int, int, int]], sources: list[int], directed: bool = False
) -> dict[int, int]:
    """Dijkstra (integer weights) from the nearest source."""
    import heapq

    adj: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for s, d, w in edges:
        if s == d:
            continue
        adj[s].append((d, w))
        if not directed:
            adj[d].append((s, w))
    dist: dict[int, int] = {}
    pq = [(0, s) for s in sources]
    while pq:
        du, u = heapq.heappop(pq)
        if u in dist:
            continue
        dist[u] = du
        for v, w in adj[u]:
            if v not in dist:
                heapq.heappush(pq, (du + w, v))
    return dist


def core_numbers_oracle(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Exact coreness by sequential min-degree peeling."""
    und = _undirected_unique(edges)
    adj: dict[int, set[int]] = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    core: dict[int, int] = {}
    k = 0
    remaining = set(adj)
    while remaining:
        v = min(remaining, key=lambda x: (deg[x], x))
        k = max(k, deg[v])
        core[v] = k
        remaining.discard(v)
        for w in adj[v]:
            if w in remaining:
                deg[w] -= 1
                adj[w].discard(v)
    return core


def hindex_rounds_oracle(edges: list[tuple[int, int]]) -> int:
    """Rounds the synchronous H-index iteration needs to reach coreness
    (budget check for the unrolled CORE_NUMBERS_SQL twin)."""
    und = _undirected_unique(edges)
    adj: dict[int, set[int]] = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    core = {v: len(ns) for v, ns in adj.items()}
    rounds = 0
    while True:
        new = {}
        for v, ns in adj.items():
            vals = sorted((core[u] for u in ns), reverse=True)
            h = 0
            for i, c in enumerate(vals, 1):
                h = max(h, min(i, c))
            new[v] = min(core[v], h)
        rounds += 1
        if new == core:
            return rounds
        core = new


def betweenness_oracle(
    edges: list[tuple[int, int]], sources: list[int], directed: bool = False
) -> dict[int, int]:
    """Quantized Brandes betweenness mirroring the engine's arithmetic:
    delta stored as e6 BIGINT, each dependency term rounded HALF_UP from
    one IEEE-double expression before exact integer summation."""
    adj: dict[int, set[int]] = defaultdict(set)
    for s, d in edges:
        if s == d:
            continue
        adj[s].add(d)
        if not directed:
            adj[d].add(s)
    bc: dict[int, int] = defaultdict(int)
    for s in sources:
        dist = {s: 0}
        sigma = {s: 1}
        order = [s]
        q = deque([s])
        while q:
            u = q.popleft()
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    sigma[w] = 0
                    order.append(w)
                    q.append(w)
                if dist[w] == dist[u] + 1:
                    sigma[w] += sigma[u]
        dv: dict[int, int] = defaultdict(int)
        for v in reversed(order):
            for w in adj[v]:
                if dist.get(w) == dist[v] + 1:
                    x = float(sigma[v]) * float(1000000 + dv[w]) / float(sigma[w])
                    dv[v] += int(math.floor(x + 0.5))
        for v in order:
            if v != s:
                bc[v] += dv[v]
    return {v: x for v, x in bc.items() if x > 0}


def eigenvector_oracle(
    edges: list[tuple[int, int]], iters: int = 4
) -> dict[int, int]:
    """Sequential replication of the engine's quantized power iteration:
    exact integer neighbor sums, max-normalized with one half-up-rounded
    double expression per vertex per step (undirected simple graph)."""
    adj: dict[int, set[int]] = defaultdict(set)
    for s, d in edges:
        if s == d:
            continue
        adj[s].add(d)
        adj[d].add(s)
    x = {v: 1_000_000 for v in adj}
    for _ in range(iters):
        s = {v: sum(x[u] for u in adj[v]) for v in adj}
        mx = max(s.values())
        x = {
            v: int(math.floor(float(s[v]) * 1_000_000.0 / float(mx) + 0.5))
            for v in adj
        }
    return x


def louvain_multilevel_oracle(
    edges: list[tuple[int, int]],
    num_vertices: int,
    rounds_level1: int = 4,
    rounds_level2: int = 4,
) -> dict[int, int]:
    """Sequential twin of the two-level Louvain: synchronous local-move
    rounds, contraction to a weighted quotient graph (self-loop weight kept
    in the coarse degree; k_{v,C} over cross edges only), weighted rounds."""
    l0 = louvain_sync_oracle(edges, num_vertices, rounds_level1)
    # contraction over the symmetric simple-graph view
    und = {(s, d) for s, d in edges if s != d}
    und |= {(d, s) for s, d in und}
    w: dict[tuple[int, int], int] = defaultdict(int)
    for s, d in und:
        w[(l0[s], l0[d])] += 1
    cdeg: dict[int, int] = defaultdict(int)
    for (s, _d), x in w.items():
        cdeg[s] += x
    m2 = sum(w.values())
    cverts = sorted(set(l0.values()))
    label = {v: v for v in cverts}
    for _ in range(rounds_level2):
        tot: dict[int, int] = defaultdict(int)
        for v in cverts:
            tot[label[v]] += cdeg[v]
        new = {}
        for v in cverts:
            kvc: dict[int, int] = defaultdict(int)
            kvc[label[v]] += 0
            for (s, d), x in w.items():
                if s == v and d != v:
                    kvc[label[d]] += x
            best = None
            for c, k in kvc.items():
                score = m2 * k - cdeg[v] * (
                    tot[c] - (cdeg[v] if c == label[v] else 0)
                )
                if best is None or (score, -c) > best[0]:
                    best = ((score, -c), c)
            new[v] = best[1]
        label = new
    return {v: label[l0[v]] for v in range(num_vertices)}


def coloring_oracle(
    edges: list[tuple[int, int]], max_rounds: int = 200
) -> tuple[dict[int, int], int]:
    """Sequential Jones–Plassmann twin: each round, uncolored local-minima
    (by the Luby hash priority p(v) = (v*A+B) mod M, injective) take the
    smallest color unused by their already-colored neighbors.  Returns
    (colors, rounds_used)."""
    A, B, M = 1_000_003, 12345, (1 << 31) - 1
    pri = lambda v: (v * A + B) % M  # noqa: E731
    adj: dict[int, set[int]] = defaultdict(set)
    for s, d in edges:
        if s == d:
            continue
        adj[s].add(d)
        adj[d].add(s)
    active = set(adj)
    colors: dict[int, int] = {}
    rounds = 0
    while active and rounds < max_rounds:
        rounds += 1
        winners = [
            v for v in active
            if all(pri(v) < pri(u) for u in adj[v] if u in active)
        ]
        for v in winners:
            used = {colors[u] for u in adj[v] if u in colors}
            c = 0
            while c in used:
                c += 1
            colors[v] = c
        active -= set(winners)
    return colors, rounds


def msf_oracle(wedges: list[tuple[int, int, int]]) -> set[tuple[int, int, int]]:
    """Kruskal with the total order (w, a, b) — since (a, b) is unique per
    canonical edge, the minimum spanning forest is unique and any correct
    MSF algorithm using the same tie-break returns exactly this set."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out: set[tuple[int, int, int]] = set()
    for w, a, b in sorted((w, a, b) for a, b, w in wedges):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            out.add((a, b, w))
    return out
