"""Property-based tests (hypothesis): random small graphs, engine vs oracle.

Generalizes the fixed-fixture oracle checks: any directed multigraph with
self-loops and duplicates must produce exactly the oracle's connected
components, triangle count, and core numbers after the engine's
normalization (self-loop drop + dedup) — mirroring the reference's
exact-counter validation (/root/reference/naive_implementation/) over
arbitrary inputs rather than blessed datasets.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import oracles

edge_lists = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=1,
    max_size=30,
)

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(rows=edge_lists)
def test_components_property(spark, rows):
    from linkgraph.algos import connected_components

    e = spark.createDataFrame(rows, "src long, dst long")
    labels, _ = connected_components(e)
    got = {r["id"]: r["component"] for r in labels.collect()}
    comp = oracles.components_oracle(10, [t for t in rows if t[0] != t[1]])
    verts = {v for s, d in rows for v in (s, d)}
    want = {v: int(comp[v]) for v in verts}
    # isolated-by-self-loop vertices: the engine keeps them as their own
    # component (vertex set = endpoints of all edges incl. self-loops)
    assert got == want


@settings(**_SETTINGS)
@given(rows=edge_lists)
def test_triangle_count_property(spark, rows):
    from linkgraph.algos import triangle_count

    e = spark.createDataFrame(rows, "src long, dst long")
    assert triangle_count(e) == oracles.triangle_count_oracle(rows)


@settings(**_SETTINGS)
@given(rows=edge_lists)
def test_core_numbers_property(spark, rows):
    from linkgraph.algos.kcore import core_numbers

    clean = [t for t in rows if t[0] != t[1]]
    if not clean:
        return
    e = spark.createDataFrame(clean, "src long, dst long")
    core, _ = core_numbers(e)
    got = {r["id"]: r["core"] for r in core.collect()}
    assert got == oracles.core_numbers_oracle(clean)


@settings(**_SETTINGS)
@given(rows=edge_lists)
def test_msf_property(spark, rows):
    from pyspark.sql import functions as F

    from linkgraph.algos.msf import boruvka_msf

    e = spark.createDataFrame(rows, "src long, dst long")
    we = (
        e.select(F.least("src", "dst").alias("a"),
                 F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b")).distinct()
        .withColumn("w", (F.col("a") * 31 + F.col("b") * 17) % 997 + 1)
    )
    wedges = [(r["a"], r["b"], r["w"]) for r in we.collect()]
    if not wedges:
        return
    forest, _ = boruvka_msf(we)
    got = {(r["a"], r["b"], r["w"]) for r in forest.collect()}
    assert got == oracles.msf_oracle(wedges)


@settings(**_SETTINGS)
@given(rows=edge_lists)
def test_coloring_property(spark, rows):
    from linkgraph.algos.coloring import jones_plassmann_coloring

    clean = [t for t in rows if t[0] != t[1]]
    if not clean:
        return
    e = spark.createDataFrame(clean, "src long, dst long")
    colors_df, metrics = jones_plassmann_coloring(e)
    got = {r["id"]: r["color"] for r in colors_df.collect()}
    want, _ = oracles.coloring_oracle(clean)
    assert got == want
    assert metrics[-1]["active"] == 0


@settings(**_SETTINGS)
@given(rows=edge_lists)
def test_voronoi_property(spark, rows):
    from linkgraph.algos.voronoi import nearest_seed_partition

    clean = [t for t in rows if t[0] != t[1]]
    if not clean:
        return
    e = spark.createDataFrame(clean, "src long, dst long")
    verts = sorted({v for t in clean for v in t})
    seeds = spark.createDataFrame([(verts[0],), (verts[-1],)], "id long")
    res, _ = nearest_seed_partition(e, seeds)
    got = {r["id"]: (r["dist"], r["seed"]) for r in res.collect()}

    und = {}
    for a, b in clean:
        und.setdefault(a, set()).add(b)
        und.setdefault(b, set()).add(a)
    want = {v: (0, v) for v in {verts[0], verts[-1]}}
    changed = True
    while changed:
        changed, new = False, dict(want)
        for v in und:
            best = want.get(v)
            for u in und[v]:
                if u in want:
                    c = (want[u][0] + 1, want[u][1])
                    if best is None or c < best:
                        best = c
            if best is not None and best != want.get(v):
                new[v], changed = best, True
        want = new
    assert got == want


@settings(**_SETTINGS)
@given(rows=edge_lists)
def test_densest_property(spark, rows):
    import collections

    from linkgraph.algos.densest import densest_subgraph

    clean = [t for t in rows if t[0] != t[1]]
    if not clean:
        return
    e = spark.createDataFrame(clean, "src long, dst long")
    best_df, _ = densest_subgraph(e)
    rows_out = best_df.collect()
    got = ({r["id"] for r in rows_out}, rows_out[0]["density_e9"])

    E = {(min(a, b), max(a, b)) for a, b in clean}
    cur = {v for t in E for v in t}
    curE, bk, bv = set(E), -1, None
    while cur:
        deg = collections.Counter()
        for a, b in curE:
            deg[a] += 1
            deg[b] += 1
        e_, v_ = len(curE), len(cur)
        key = e_ * 1_000_000_000 // v_
        if key > bk:
            bk, bv = key, set(cur)
        rm = {v for v in cur if deg.get(v, 0) * v_ <= 2 * e_}
        if not rm:
            break
        cur -= rm
        curE = {(a, b) for a, b in curE if a in cur and b in cur}
    assert got == (bv, bk)


@settings(**_SETTINGS)
@given(rows=edge_lists)
def test_wl_property(spark, rows):
    from linkgraph.algos.wl import wl_refinement

    clean = [t for t in rows if t[0] != t[1]]
    if not clean:
        return
    e = spark.createDataFrame(clean, "src long, dst long")
    got = {r["id"]: r["color"] for r in wl_refinement(e, rounds=3).collect()}

    und = {}
    for a, b in clean:
        und.setdefault(a, set()).add(b)
        und.setdefault(b, set()).add(a)
    color = {v: 1 for v in und}
    for _ in range(3):
        sig = {v: (color[v],
                   ",".join(str(c) for c in sorted(color[u] for u in und[v])))
               for v in und}
        ranks = {s: i + 1 for i, s in enumerate(sorted(set(sig.values())))}
        color = {v: ranks[sig[v]] for v in und}
    canon = {}
    for v, c in color.items():
        canon[c] = min(canon.get(c, v), v)
    assert got == {v: canon[c] for v, c in color.items()}


words_st = st.lists(
    st.sampled_from(["a", "bb", "ccc", "dd", "e", "ff", "ggg"]),
    min_size=0, max_size=12,
)


@settings(**_SETTINGS)
@given(ws=st.lists(words_st, min_size=1, max_size=6))
def test_shingle_minhash_property(spark, ws):
    """Any random token stream: bound-split shingling + Carter-Wegman
    minhash must equal the pure-python reimplementation exactly
    (guards the interpreted-HOF rebinding rewrite)."""
    from linkgraph import dedup

    texts = [(i, "  ".join(w)) for i, w in enumerate(ws)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    rows = {r["id"]: r
            for r in dedup.minhash_signature(df, num_hashes=4).collect()}
    for i, t in texts:
        sh = oracles.word_shingles_oracle(t)
        assert sorted(rows[i]["shingles"]) == sorted(sh), i
        for j in range(4):
            a, b = dedup._mh_ab(j)
            exp = min(
                ((a * (oracles.h60_oracle(s) % dedup.MH_M) + b) % dedup.MH_M
                 for s in sh),
                default=None,
            )
            assert rows[i][f"mh_{j}"] == exp, (i, j)
