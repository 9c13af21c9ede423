"""Round-4c operators against pure-Python brute-force oracles:

1. minhash_index_probe — incremental new-batch-vs-index near-dup probe
   (full python replication of shingling, the Carter-Wegman minhash
   family, banding, exact-Jaccard verify and the keep verdict).
2. graphlet_orbits — per-vertex 3-node orbit counts vs exhaustive
   3-subset enumeration.
3. path_prefix_rollup — URL-tree aggregation vs a string-splitting
   brute force (root-only urls, shallow and deep paths).
"""

import hashlib
from collections import Counter
from itertools import combinations

from pyspark.sql import functions as F

from linkgraph import dedup
import oracles
from linkgraph.algos.motifs import graphlet_orbits
from linkgraph.ingest import path_prefix_rollup

# -- 1. incremental index probe --------------------------------------------

INDEX_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "pack my box with five dozen liquor jugs today"),
    (4, "completely unrelated text about spark shuffle partitions"),
    (6, "the quick brown fox jumps over the lazy dog"),  # == doc 1
    (7, "too short"),
]
BATCH_DOCS = [
    (5, "the quick brown fox jumps over the lazy dog"),   # dup of 1 and 6
    (10, "pack my box with five dozen liquor jugs today"),  # dup of 3
    (15, "a genuinely novel document with fresh content entirely"),
    (20, "tiny"),  # no shingles -> keep, no candidates possible
]


def _py_minhash(text, num_hashes=16):
    sh = oracles.word_shingles_oracle(text)
    if not sh:
        return sh, None
    base = [oracles.h60_oracle(s) % dedup.MH_M for s in sh]
    sig = []
    for i in range(num_hashes):
        a, b = dedup._mh_ab(i)
        sig.append(min((a * h + b) % dedup.MH_M for h in base))
    return sh, sig


def _py_bands(sig, bands=8, r=2):
    out = []
    for b in range(bands):
        key = ",".join(str(x) for x in sig[b * r:(b + 1) * r])
        out.append((b, hashlib.md5(key.encode()).hexdigest()))
    return out


def _py_probe_oracle(index_docs, batch_docs, threshold=0.35):
    idx = {i: _py_minhash(t) for i, t in index_docs}
    new = {i: _py_minhash(t) for i, t in batch_docs}
    idx_bands = {
        i: set(_py_bands(sig)) for i, (sh, sig) in idx.items() if sig
    }
    want = {}
    for nid, (nsh, nsig) in new.items():
        best = None
        if nsig:
            nb = set(_py_bands(nsig))
            for iid, bands in idx_bands.items():
                if not (nb & bands):
                    continue
                ish = idx[iid][0]
                j = round(
                    len(set(nsh) & set(ish)) * 1e6 / len(set(nsh) | set(ish))
                )
                if j < threshold * 1e6:
                    continue
                if best is None or (j, -iid) > (best[1], -best[0]):
                    best = (iid, j)
        want[nid] = (
            (best[0], best[1], 0) if best else (-1, -1, 1)
        )
    return want


def test_index_probe_brute_force(spark):
    i_df = spark.createDataFrame(INDEX_DOCS, "doc_id long, text string")
    b_df = spark.createDataFrame(BATCH_DOCS, "doc_id long, text string")
    got = {
        r["id"]: (r["best_match"], r["best_jaccard_e6"], r["keep"])
        for r in dedup.minhash_index_probe(
            i_df, b_df, jaccard_threshold=0.35
        ).collect()
    }
    want = _py_probe_oracle(INDEX_DOCS, BATCH_DOCS)
    assert got == want
    # the exact-dup batch doc must match index doc 1 (tie 1 vs 6 -> min id)
    assert got[5] == (1, 1000000, 0)
    assert got[10] == (3, 1000000, 0)
    assert got[15][2] == 1 and got[20][2] == 1


def test_index_probe_never_pairs_index_with_itself(spark):
    # index docs 1 and 6 are identical; the probe output contains ONLY
    # batch ids — the index's internal pair mass is never materialized.
    i_df = spark.createDataFrame(INDEX_DOCS, "doc_id long, text string")
    b_df = spark.createDataFrame(BATCH_DOCS, "doc_id long, text string")
    out = dedup.minhash_index_probe(i_df, b_df, jaccard_threshold=0.35)
    ids = sorted(r["id"] for r in out.collect())
    assert ids == sorted(i for i, _ in BATCH_DOCS)


def test_index_probe_partition_invariance(spark):
    i_df = spark.createDataFrame(INDEX_DOCS, "doc_id long, text string")
    b_df = spark.createDataFrame(BATCH_DOCS, "doc_id long, text string")
    a = dedup.minhash_index_probe(i_df.repartition(7), b_df.repartition(3),
                                  jaccard_threshold=0.35)
    b = dedup.minhash_index_probe(i_df.coalesce(1), b_df.coalesce(1),
                                  jaccard_threshold=0.35)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# -- 2. graphlet orbits ------------------------------------------------------

ORBIT_EDGES = [
    (0, 1), (1, 2), (2, 0),          # triangle 0-1-2
    (2, 3), (3, 4),                  # tail path
    (5, 0), (1, 0),                  # duplicate direction + extra spoke
    (6, 6),                          # self loop (dropped)
    (7, 4), (7, 2),                  # extra wedges
]


def _py_orbits(edge_list, n):
    und = {
        tuple(sorted(e)) for e in edge_list if e[0] != e[1]
    }
    adj = {v: set() for v in range(n)}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    o = {v: [len(adj[v]), 0, 0, 0] for v in range(n)}
    for s in combinations(range(n), 3):
        a, b, c = s
        es = [(a, b) in und, (a, c) in und, (b, c) in und]
        if sum(es) == 3:
            for v in s:
                o[v][3] += 1
        elif sum(es) == 2:
            # center = vertex present in both edges
            cnt = Counter()
            for present, pair in zip(es, [(a, b), (a, c), (b, c)]):
                if present:
                    cnt.update(pair)
            center = [v for v, k in cnt.items() if k == 2][0]
            for v in s:
                if cnt[v] == 0:
                    continue
                o[v][2 if v == center else 1] += 1
    return {v: tuple(x) for v, x in o.items()}


def test_graphlet_orbits_brute_force(spark):
    n = 8
    e = spark.createDataFrame(ORBIT_EDGES, "src long, dst long")
    verts = spark.range(n).select(F.col("id"))
    got = {
        r["id"]: (r["o0_degree"], r["o1_path_end"],
                  r["o2_path_center"], r["o3_triangle"])
        for r in graphlet_orbits(e, vertices=verts).collect()
    }
    assert got == _py_orbits(ORBIT_EDGES, n)


def test_graphlet_orbits_sum_identities(spark):
    # global identities: sum(o2) = #wedges = sum C(d,2) - 3*triangles... and
    # each open wedge has exactly 2 ends: sum(o1) = 2 * sum(o2).
    e = spark.createDataFrame(ORBIT_EDGES, "src long, dst long")
    rows = graphlet_orbits(e).collect()
    assert sum(r["o1_path_end"] for r in rows) == \
        2 * sum(r["o2_path_center"] for r in rows)
    assert sum(r["o3_triangle"] for r in rows) % 3 == 0


# -- 3. URL path rollup ------------------------------------------------------

URLS = [
    "https://a.example/x/y/z",
    "https://a.example/x/y",
    "https://a.example/x",
    "https://a.example/",
    "https://a.example",
    "https://b.example/only",
    "http://b.example/only/two",
]


def _py_rollup(urls, max_depth=2):
    want = Counter()
    for u in urls:
        rest = u.split("://", 1)[1]
        host, _, path = rest.partition("/")
        segs = [s for s in path.split("/") if s]
        for d in range(1, max_depth + 1):
            if len(segs) >= d:
                want[(host, d, "/" + "/".join(segs[:d]))] += 1
    return dict(want)


def test_path_prefix_rollup_brute_force(spark):
    pages = spark.createDataFrame([(u,) for u in URLS], "url string")
    got = {
        (r["host"], r["depth"], r["prefix"]): r["n_pages"]
        for r in path_prefix_rollup(pages, max_depth=2).collect()
    }
    assert got == _py_rollup(URLS)


def test_path_prefix_rollup_rootless_pages_emit_nothing(spark):
    pages = spark.createDataFrame(
        [("https://h.example",), ("https://h.example/",)], "url string")
    assert path_prefix_rollup(pages, max_depth=2).count() == 0


# -- 4. truss decomposition --------------------------------------------------

def _truss_oracle(edge_list):
    """Iterative support peeling: trussness(e) = max k with e in k-truss."""
    E = {tuple(sorted(e)) for e in edge_list if e[0] != e[1]}
    truss = {}
    k = 3
    while E:
        while True:
            Es = E
            adj = {}
            for a, b in Es:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
            supp = {
                (a, b): len(adj[a] & adj[b]) for a, b in Es
            }
            rem = {e for e in Es if supp[e] < k - 2}
            if not rem:
                break
            for e in rem:
                truss[e] = k - 1
            E = Es - rem
        if E:
            k += 1
    return truss


TRUSS_EDGES = [
    # K4 on 0-3 (trussness 4) sharing edge (0,1) with triangle 0-1-4
    (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
    (0, 4), (1, 4),
    # pendant path (trussness 2)
    (4, 5), (5, 6),
    # separate triangle (trussness 3)
    (7, 8), (8, 9), (7, 9),
]


def test_truss_numbers_brute_force(spark):
    from linkgraph.algos.ktruss import truss_numbers

    e = spark.createDataFrame(TRUSS_EDGES, "src long, dst long")
    out, metrics = truss_numbers(e, partitions=4)
    got = {(r["a"], r["b"]): r["trussness"] for r in out.collect()}
    assert got == _truss_oracle(TRUSS_EDGES)
    assert metrics[-1]["changed"] == 0  # reached the fixpoint
    # spot checks: K4 edges 4-truss, shared triangle edges 3, pendant 2
    assert got[(0, 2)] == 4 and got[(0, 4)] == 3 and got[(4, 5)] == 2


def test_truss_numbers_random_graphs(spark):
    from linkgraph.algos.ktruss import truss_numbers

    # deterministic pseudo-random multigraphs, engine vs peel oracle
    for seed in (1, 2, 3):
        rows = [
            ((i * 37 + seed * 11) % 13, (i * 53 + seed * 7) % 13)
            for i in range(40)
        ]
        rows = [r for r in rows if r[0] != r[1]]
        e = spark.createDataFrame(rows, "src long, dst long")
        out, _ = truss_numbers(e, partitions=4)
        got = {(r["a"], r["b"]): r["trussness"] for r in out.collect()}
        assert got == _truss_oracle(rows), f"seed {seed}"


def test_truss_numbers_fixpoint_within_sql_unroll(spark):
    """The unrolled DuckDB twin runs 16 rounds; the engine must reach its
    fixpoint within that budget on the gate's fixture graph."""
    from linkgraph.algos.ktruss import truss_numbers
    from linkgraph.suite import edges_b

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        _, metrics = truss_numbers(edges_b(spark, sf), partitions=8)
        assert len(metrics) <= 16, sf
        assert metrics[-1]["changed"] == 0, sf
