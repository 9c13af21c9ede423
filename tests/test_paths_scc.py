"""BFS distances, SCC, weighted PageRank, 4-cycles — exact-oracle tests
(the reference's exact-counter oracle pattern,
/root/reference/naive_implementation/, /root/reference/sampling/Graph.cpp:169-291)."""

import pytest
from pyspark.sql import functions as F

from linkgraph import datagen
import oracles


@pytest.fixture(scope="module")
def edge_rows():
    return datagen.expected_edges(30)


def test_bfs_matches_oracle(spark, edges30, edge_rows):
    from linkgraph.algos.paths import bfs_distances

    dist, metrics = bfs_distances(
        edges30, sources=spark.createDataFrame([(0,)], "id long"), directed=False
    )
    got = {r["id"]: r["dist"] for r in dist.collect()}
    want = oracles.bfs_oracle(edge_rows, [0], directed=False)
    assert got == want
    assert metrics[-1]["frontier"] == 0  # converged, not max_iter-truncated


def test_bfs_directed_and_multisource(spark, edges30, edge_rows):
    from linkgraph.algos.paths import bfs_distances

    srcs = [0, 7]
    dist, _ = bfs_distances(
        edges30, sources=spark.createDataFrame([(s,) for s in srcs], "id long"),
        directed=True,
    )
    got = {r["id"]: r["dist"] for r in dist.collect()}
    want = oracles.bfs_oracle(edge_rows, srcs, directed=True)
    assert got == want


def test_scc_matches_tarjan(spark, edges30, edge_rows):
    from linkgraph.algos.scc import strongly_connected_components

    labels, _ = strongly_connected_components(edges30)
    got = {r["id"]: r["scc"] for r in labels.collect()}
    verts = {v for e in edge_rows for v in e}
    want = {v: c for v, c in oracles.scc_oracle(30, edge_rows).items() if v in verts}
    assert got == want


def test_scc_hand_case(spark):
    # two 3-cycles bridged by a one-way edge, plus a dangling chain
    rows = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3), (5, 6), (6, 7)]
    e = spark.createDataFrame(rows, "src long, dst long")
    from linkgraph.algos.scc import strongly_connected_components

    labels, _ = strongly_connected_components(e)
    got = {r["id"]: r["scc"] for r in labels.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3, 6: 6, 7: 7}


def test_weighted_pagerank_matches_oracle(spark, edges30, edge_rows):
    from linkgraph.algos.pagerank import pagerank_weighted

    we = edges30.withColumn(
        "weight", ((F.col("src") * 7 + F.col("dst") * 3) % 19 + 1).cast("double")
    )
    ranks = pagerank_weighted(
        we, vertices=spark.range(30).select("id"), num_iters=5
    )
    got = {r["id"]: r["rank"] for r in ranks.collect()}
    wrows = [(s, d, float((s * 7 + d * 3) % 19 + 1)) for s, d in edge_rows]
    want = oracles.weighted_pagerank_oracle(30, wrows, num_iters=5)
    assert len(got) == 30
    for v in range(30):
        assert abs(got[v] - want[v]) < 1e-9
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_four_cycle_matches_oracle(spark, edges30, edge_rows):
    from linkgraph.suite import q_four_cycle_count  # noqa: F401  (plan shape)

    und = (
        edges30.union(
            edges30.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    )
    e1 = und.select(F.col("src").alias("u"), F.col("dst").alias("c"))
    e2 = und.select(F.col("src").alias("c"), F.col("dst").alias("v"))
    cn = (
        e1.join(e2, "c").filter(F.col("u") < F.col("v"))
        .groupBy("u", "v").agg(F.count(F.lit(1)).alias("w"))
    )
    got = int(
        cn.agg((F.sum(F.col("w") * (F.col("w") - 1) / 2) / 2).cast("long").alias("c"))
        .collect()[0]["c"] or 0
    )
    assert got == oracles.four_cycle_oracle(edge_rows)


def test_kcore_sql_round_budget(edge_rows):
    # the unrolled KCORE3_SQL oracle has 24 peel rounds; the fixture and the
    # sf0.001/sf0.01 derived graphs must peel to fixpoint well within that
    assert oracles.kcore_peel_depth(edge_rows, 3) <= 24


def test_stress_matches_brandes_oracle(spark, edges30, edge_rows):
    from linkgraph.algos.paths import stress_centrality

    srcs = [0, 3, 9, 17]
    res = stress_centrality(
        edges30, sources=spark.createDataFrame([(s,) for s in srcs], "id long")
    )
    got = {r["id"]: r["stress"] for r in res.collect()}
    assert got == oracles.stress_oracle(edge_rows, srcs)


def test_stress_directed_and_isolated(spark, edges30, edge_rows):
    from linkgraph.algos.paths import stress_centrality

    res = stress_centrality(
        edges30, sources=spark.createDataFrame([(0,), (5,)], "id long"),
        directed=True,
    )
    got = {r["id"]: r["stress"] for r in res.collect()}
    assert got == oracles.stress_oracle(edge_rows, [0, 5], directed=True)

    # source absent from the edge set: nothing is interior to any path
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    only = stress_centrality(e, sources=spark.createDataFrame([(42,)], "id long"))
    assert only.count() == 0


def test_hyperball_registers_match_exact_ball(spark, edges30, edge_rows):
    """After r max-merge supersteps the HLL registers must equal the
    registers of the EXACT radius-r ball (max is idempotent+monotone) —
    so the whole sketch, not just a sample, is oracle-checked."""
    import math
    from collections import defaultdict

    from linkgraph.algos.hyperball import (
        EST_NUM_E6, HASH_A, HASH_B, HASH_MOD, NUM_REGISTERS, hyperball,
    )

    res = {
        r["id"]: (r["sum_int"], r["ball_e6"])
        for r in hyperball(edges30, vertices=spark.range(30), radius=2).collect()
    }
    adj = defaultdict(set)
    for s, d in edge_rows:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    for v in range(30):
        ball, frontier = {v}, {v}
        for _ in range(2):
            frontier = {w for u in frontier for w in adj[u]} - ball
            ball |= frontier
        regs = [0] * NUM_REGISTERS
        for u in ball:
            m = (u * HASH_A + HASH_B) % HASH_MOD
            mm = m >> 4
            rho = 17 if mm == 0 else (mm & -mm).bit_length()  # 1 + tz
            j = m % NUM_REGISTERS
            regs[j] = max(regs[j], rho)
        sum_int = sum((1 << 32) >> r for r in regs)
        ball_e6 = math.floor(EST_NUM_E6 / sum_int + 0.5)  # HALF_UP like F.round
        assert res[v] == (sum_int, ball_e6), v


def test_louvain_sync_matches_oracle(spark, edges30, edge_rows):
    from linkgraph.algos.louvain import louvain_sync

    res = louvain_sync(edges30, vertices=spark.range(30), num_rounds=3)
    got = {r["id"]: r["label"] for r in res.collect()}
    assert got == oracles.louvain_sync_oracle(edge_rows, 30, num_rounds=3)
    # communities are non-trivial: fewer labels than vertices on this fixture
    assert len(set(got.values())) < 30


def test_cc_star_matches_propagation(spark, edges30, edge_rows):
    from linkgraph.algos.components import (
        connected_components,
        connected_components_star,
    )

    vs = spark.range(30).select("id")
    prop, _ = connected_components(edges30, vertices=vs)
    star = connected_components_star(edges30, vertices=vs)
    assert sorted(map(tuple, prop.collect())) == sorted(map(tuple, star.collect()))


def test_cc_star_long_path_logarithmic_rounds(spark):
    # a 200-vertex path: min-label propagation needs ~200 supersteps;
    # alternating stars must collapse it in O(log V) rounds
    n = 200
    e = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    from linkgraph.algos.components import connected_components_star

    labels = connected_components_star(e, max_rounds=16)
    got = {r["id"]: r["component"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}


def test_sssp_matches_dijkstra(spark, edges30, edge_rows):
    from linkgraph.algos.paths import sssp_distances

    lo = [(min(s, d), max(s, d)) for s, d in edge_rows]
    wrows = [(s, d, (a * 7 + b * 3) % 19 + 1) for (s, d), (a, b) in zip(edge_rows, lo)]
    we = spark.createDataFrame(wrows, "src long, dst long, weight long")
    dist, metrics = sssp_distances(
        we, sources=spark.createDataFrame([(0,)], "id long"), directed=False
    )
    got = {r["id"]: r["dist"] for r in dist.collect()}
    want = oracles.sssp_oracle(wrows, [0], directed=False)
    assert got == want
    assert metrics[-1]["improved"] == 0  # true fixpoint, not max_iter cutoff
    # the unrolled SSSP_SQL oracle has 25 relaxation rounds — converging in
    # fewer supersteps than that here guards the SQL twin's round budget
    assert len(metrics) <= 25


def test_random_walks_deterministic_and_valid(spark, edges30, edge_rows):
    from linkgraph.algos.paths import random_walks

    starts = spark.createDataFrame([(i,) for i in range(5)], "id long")
    w1 = sorted(map(tuple, random_walks(edges30, starts, length=6).collect()))
    w2 = sorted(map(tuple, random_walks(edges30, starts, length=6).collect()))
    assert w1 == w2  # bit-reproducible
    # every consecutive (v_t, v_{t+1}) must be a real undirected edge
    und = {(s, d) for s, d in edge_rows} | {(d, s) for s, d in edge_rows}
    by_walk: dict = {}
    for wid, step, v in w1:
        by_walk.setdefault(wid, {})[step] = v
    hops = 0
    for wid, path in by_walk.items():
        assert path[0] == wid
        for t in range(1, max(path) + 1):
            assert (path[t - 1], path[t]) in und
            hops += 1
    assert hops > 0


def test_core_numbers_matches_peeling(spark, edges30, edge_rows):
    from linkgraph.algos.kcore import core_numbers

    core, metrics = core_numbers(edges30)
    got = {r["id"]: r["core"] for r in core.collect()}
    assert got == oracles.core_numbers_oracle(edge_rows)
    assert metrics[-1]["dropped"] == 0
    # the unrolled CORE_NUMBERS_SQL twin runs 20 H-index rounds
    assert oracles.hindex_rounds_oracle(edge_rows) <= 20


def test_closeness_matches_bfs_oracle(spark, edges30, edge_rows):
    from linkgraph.algos.paths import closeness_centrality

    res = closeness_centrality(
        edges30, sources=spark.createDataFrame([(s,) for s in (0, 3, 9)], "id long")
    ).collect()
    got = {r["s"]: (r["reached"], r["total_dist"], r["closeness_e6"],
                    r["harmonic_e6"], r["ecc"]) for r in res}
    for s in (0, 3, 9):
        d = oracles.bfs_oracle(edge_rows, [s])
        reached = len(d) - 1
        tot = sum(d.values())
        cl = round(reached * 1e6 / tot) if tot > 0 else 0
        harm = sum(round(1e6 / x) for x in d.values() if x > 0)
        assert got[s] == (reached, tot, cl, harm, max(d.values()))


def test_edge_cases_empty_and_isolated(spark):
    from linkgraph.algos.components import connected_components_star
    from linkgraph.algos.kcore import core_numbers
    from linkgraph.algos.paths import bfs_distances, closeness_centrality
    from linkgraph.algos.scc import strongly_connected_components

    empty = spark.createDataFrame([], "src long, dst long")
    one_v = spark.createDataFrame([(42,)], "id long")

    labels, _ = strongly_connected_components(empty, vertices=one_v)
    assert [tuple(r) for r in labels.collect()] == [(42, 42)]
    labels, _ = strongly_connected_components(
        empty, vertices=spark.createDataFrame([], "id long")
    )
    assert labels.collect() == []

    star = connected_components_star(empty, vertices=one_v)
    assert [tuple(r) for r in star.collect()] == [(42, 42)]

    # BFS from a source disconnected from everything: just the source
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    dist, _ = bfs_distances(e, sources=one_v)
    assert [tuple(r) for r in dist.collect()] == [(42, 0)]

    cl = closeness_centrality(e, sources=one_v).collect()
    assert [tuple(r) for r in cl] == [(42, 0, 0, 0, 0, 0)]

    core, _ = core_numbers(e)
    assert sorted(tuple(r) for r in core.collect()) == [(1, 1), (2, 1)]


def test_weighted_pagerank_zero_weight_is_dangling(spark):
    # vertex 0's only edge has weight 0 => its mass must redistribute
    # uniformly (not vanish); ranks still sum to 1
    from linkgraph.algos.pagerank import pagerank_weighted

    e = spark.createDataFrame(
        [(0, 1, 0.0), (1, 2, 2.0), (2, 1, 1.0)], "src long, dst long, weight double"
    )
    ranks = pagerank_weighted(e, vertices=spark.range(3).select("id"), num_iters=4)
    got = {r["id"]: r["rank"] for r in ranks.collect()}
    want = oracles.weighted_pagerank_oracle(
        3, [(1, 2, 2.0), (2, 1, 1.0)], num_iters=4
    )  # the zero-weight edge contributes nothing; 0 is dangling
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for v in range(3):
        assert abs(got[v] - want[v]) < 1e-9


def test_cc_star_raises_when_truncated(spark):
    import pytest as _pytest

    n = 64
    e = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    from linkgraph.algos.components import connected_components_star

    with _pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components_star(e, max_rounds=1)


def test_ktruss_matches_peel_oracle(spark, edges30, edge_rows):
    from linkgraph.algos.ktruss import ktruss_edges

    got_e, metrics = ktruss_edges(edges30, k=4)
    got = {(r["a"], r["b"]) for r in got_e.collect()}

    E = {(min(a, b), max(a, b)) for a, b in edge_rows if a != b}
    while True:
        adj = {}
        for a, b in E:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        keep = {
            (a, b) for a, b in E if len(adj[a] & adj[b]) >= 2
        }
        if keep == E:
            break
        E = keep
    assert got == E
    assert metrics[-1]["removed"] == 0  # reached the fixpoint


def test_ktruss_hand_case(spark):
    # K4 on {0,1,2,3} survives k=4; the pendant triangle (3,4,5) does not
    rows = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
            (3, 4), (4, 5), (3, 5)]
    e = spark.createDataFrame(rows, "src long, dst long")
    from linkgraph.algos.ktruss import ktruss_edges

    got_e, _ = ktruss_edges(e, k=4)
    got = {(r["a"], r["b"]) for r in got_e.collect()}
    assert got == {(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)}


@pytest.mark.parametrize("graph", ["edges30", "pendant"])
def test_ktruss_edges_is_the_trussness_cut(spark, edges30, graph):
    """The k-truss is the edges of trussness >= k, for every k: a k <= 2
    keeps the triangle-free edges (trussness 2) too."""
    from linkgraph.algos.ktruss import ktruss_edges, truss_numbers

    e = edges30 if graph == "edges30" else spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3)], "src long, dst long")
    truss = {(r["a"], r["b"]): r["trussness"]
             for r in truss_numbers(e, partitions=8)[0].collect()}
    for k in range(1, 6):
        got_e, _ = ktruss_edges(e, k=k, partitions=8)
        assert {(r["a"], r["b"]) for r in got_e.collect()} == \
            {ab for ab, t in truss.items() if t >= k}, k


def test_bowtie_hand_case(spark):
    # in (10) -> core 3-cycle (0,1,2) -> out (20->21); tendril (30) hangs
    # off the in-vertex (10->30: unreachable from core, cannot reach it);
    # 40->41 weakly disconnected
    rows = [(10, 0), (0, 1), (1, 2), (2, 0), (2, 20), (20, 21),
            (10, 30), (40, 41)]
    e = spark.createDataFrame(rows, "src long, dst long")
    from linkgraph.algos.components import bowtie_regions

    got = {r["id"]: r["region"] for r in bowtie_regions(e).collect()}
    assert got == {0: "core", 1: "core", 2: "core", 10: "in",
                   20: "out", 21: "out", 30: "tendril",
                   40: "disc", 41: "disc"}


def _cached_plans(spark):
    """How many plans the session's CacheManager holds (its ``isEmpty`` is
    the only public view; other tests' persisted fixtures share it)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def test_bowtie_leaves_no_cached_plan(spark):
    """bowtie_regions pins its frames instead of persisting them, so a call
    on an unpersisted input leaves the cache as it found it."""
    from linkgraph.algos.components import bowtie_regions

    e = spark.createDataFrame(datagen.expected_edges(300), "src long, dst long")
    before = _cached_plans(spark)
    assert bowtie_regions(e, partitions=8).count() > 0
    assert _cached_plans(spark) == before


def test_luby_mis_matches_sequential(spark, edges30, edge_rows):
    from linkgraph.algos.gcommon import PRI_A, PRI_B, PRI_M
    from linkgraph.algos.mis import maximal_independent_set

    mis_df, metrics = maximal_independent_set(edges30)
    got = {r["id"] for r in mis_df.collect()}

    und = {}
    for a, b in edge_rows:
        if a != b:
            und.setdefault(a, set()).add(b)
            und.setdefault(b, set()).add(a)
    pri = lambda v: (v * PRI_A + PRI_B) % PRI_M
    active, want = set(und), set()
    while active:
        s = {v for v in active
             if all(pri(v) < pri(u) for u in und[v] if u in active)}
        want |= s
        active -= s | {u for v in s for u in und[v]}
    assert got == want
    # independence + maximality, asserted directly
    assert all(u not in got for v in got for u in und.get(v, ()))
    assert all(v in got or (und.get(v) and got & und[v]) for v in und)
    assert metrics[-1]["active"] == 0


def test_katz_matches_numpy(spark, edges30, edge_rows):
    from linkgraph.algos.katz import katz_centrality

    got = {r["id"]: r["katz_e6"]
           for r in katz_centrality(edges30, alpha=0.15, iters=4).collect()}

    E = {(a, b) for a, b in edge_rows if a != b}
    verts = sorted({v for e in E for v in e})
    x = {v: 1_000_000 for v in verts}
    for _ in range(4):
        s = {v: 0 for v in verts}
        for a, b in E:
            s[b] += x[a]
        # same half-up rounding as both engines
        import decimal
        x = {v: 1_000_000 + int(decimal.Decimal(0.15 * s[v]).quantize(
            0, rounding=decimal.ROUND_HALF_UP)) for v in verts}
    assert got == x


def test_rmat_spark_matches_python_oracle(spark):
    from linkgraph import datagen

    got = [(r["src"], r["dst"])
           for r in datagen.rmat_edges(spark, 2000, 10).orderBy("src", "dst")
           .collect()]
    want = sorted(datagen.rmat_edge(i, 10) for i in range(2000))
    assert got == want
    # R-MAT skew: the hottest source owns a large share of edge draws
    from collections import Counter
    deg = Counter(s for s, _ in want)
    assert max(deg.values()) > 50  # heavy hub, as the quadrant split implies


def test_distance_histogram_matches_bfs(spark, edges30, edge_rows):
    from linkgraph.algos.paths import distance_histogram

    srcs = sorted({v for e in edge_rows for v in e})
    hist = {
        r["dist"]: r["n_pairs"]
        for r in distance_histogram(
            edges30, spark.createDataFrame([(s,) for s in srcs], "id long")
        ).collect()
    }
    from collections import Counter
    want = Counter()
    for s in srcs:
        for v, d in oracles.bfs_oracle(edge_rows, [s], directed=False).items():
            if d > 0:
                want[d] += 1
    assert hist == dict(want)


def test_salsa_matches_python_oracle(spark, edges30, edge_rows):
    from linkgraph.algos.salsa import salsa

    got = {r["id"]: (r["hub_e6"], r["auth_e6"])
           for r in salsa(edges30, num_iters=3).collect()}

    E = sorted({(a, b) for a, b in edge_rows if a != b})
    verts = sorted({v for e in E for v in e})
    od, idg = {}, {}
    for a, b in E:
        od[a] = od.get(a, 0) + 1
        idg[b] = idg.get(b, 0) + 1
    import decimal
    rnd = lambda x: int(decimal.Decimal(x).quantize(
        0, rounding=decimal.ROUND_HALF_UP))
    h = {v: 1_000_000 for v in verts}
    a_ = {v: 1_000_000 for v in verts}
    for _ in range(3):
        na = {v: 0 for v in verts}
        for s, d in E:
            na[d] += rnd(h[s] / od[s])
        a_ = na
        nh = {v: 0 for v in verts}
        for s, d in E:
            nh[s] += rnd(a_[d] / idg[d])
        h = nh
    assert got == {v: (h[v], a_[v]) for v in verts}


def test_bipartite_hand_cases(spark):
    from linkgraph.suite import q_bipartite_components  # noqa: F401 (shape)
    from linkgraph.algos.components import connected_components
    from linkgraph.algos.paths import bfs_distances

    # even cycle (bipartite) + odd cycle (not) + path (bipartite)
    rows = [(0, 1), (1, 2), (2, 3), (3, 0),            # C4 -> bipartite
            (10, 11), (11, 12), (12, 10),              # C3 -> odd cycle
            (20, 21), (21, 22)]                        # path -> bipartite
    e = spark.createDataFrame(rows, "src long, dst long")
    labels, _ = connected_components(e)
    roots = labels.select(F.col("component").alias("id")).distinct()
    dist, _ = bfs_distances(e, sources=roots, directed=False)
    par = dist.select("id", (F.col("dist") % 2).alias("par"))
    und = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    bad = (
        und.join(par.withColumnRenamed("id", "src").withColumnRenamed("par", "ps"), "src")
        .join(par.withColumnRenamed("id", "dst").withColumnRenamed("par", "pd"), "dst")
        .filter(F.col("ps") == F.col("pd"))
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select("component").distinct()
    )
    got = {
        r["component"]: r["b"] is None
        for r in roots.select(F.col("id").alias("component"))
        .join(bad.withColumn("b", F.lit(True)), "component", "left").collect()
    }
    assert got == {0: True, 10: False, 20: True}


def test_multi_seed_ppr_matches_python(spark, edges30, edge_rows):
    import decimal
    from linkgraph.algos.pprmulti import multi_seed_ppr

    seeds = [0, 5]
    got = {(r["s"], r["v"]): r["rank_e6"]
           for r in multi_seed_ppr(edges30, seeds, num_iters=3).collect()}

    E = sorted({(a, b) for a, b in edge_rows if a != b})
    od = {}
    for a, _ in E:
        od[a] = od.get(a, 0) + 1
    rnd = lambda x: int(decimal.Decimal(x).quantize(
        0, rounding=decimal.ROUND_HALF_UP))
    state = {(s, s): 1_000_000 for s in seeds}
    for _ in range(3):
        nxt = {}
        for (s, u), r in state.items():
            for a, b in E:
                if a == u:
                    nxt[(s, b)] = nxt.get((s, b), 0) + rnd(0.85 * r / od[u])
        for s in seeds:
            nxt[(s, s)] = nxt.get((s, s), 0) + 150_000
        state = nxt
    want = {k: v for k, v in state.items() if v > 0}
    assert got == want
    # sparse: far fewer rows than |S| x V
    assert len(got) < 2 * 30


def test_condensation_levels_hand_case(spark):
    from linkgraph.algos.scc import condensation_levels

    # 3-cycle {0,1,2} -> 3 -> 2-cycle {4,5}; isolated-source 7 -> 3
    rows = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 4), (7, 3)]
    e = spark.createDataFrame(rows, "src long, dst long")
    got = {r["scc"]: (r["level"], r["n_vertices"])
           for r in condensation_levels(e).collect()}
    assert got == {0: (0, 3), 7: (0, 1), 3: (1, 1), 4: (2, 2)}


def test_maximal_matching_valid_and_matches_sequential(spark, edges30, edge_rows):
    from linkgraph.algos.gcommon import PRI_A, PRI_B, PRI_M
    from linkgraph.algos.matching import maximal_matching

    m, metrics = maximal_matching(edges30)
    got = {(r["a"], r["b"]) for r in m.collect()}

    E = {(min(a, b), max(a, b)) for a, b in edge_rows if a != b}
    pri = lambda a, b: ((a * PRI_A + b) % PRI_M * PRI_A + PRI_B) % PRI_M
    key = lambda e: (pri(*e), e[0], e[1])
    rem, want = set(E), set()
    while rem:
        best = {}
        for e in rem:
            for v in e:
                if v not in best or key(e) < best[v]:
                    best[v] = key(e)
        winners = {e for e in rem if key(e) == best[e[0]] == best[e[1]]}
        if not winners:
            break
        want |= winners
        mv = {v for e in winners for v in e}
        rem = {e for e in rem if e[0] not in mv and e[1] not in mv}
    assert got == want
    # validity: no vertex matched twice
    used = [v for e in got for v in e]
    assert len(used) == len(set(used))
    # maximality: every remaining edge touches a matched vertex
    assert all(a in set(used) or b in set(used) for a, b in E)


def test_betweenness_matches_quantized_brandes_oracle(spark, edges30, edge_rows):
    from linkgraph.algos.paths import betweenness_centrality

    srcs = [0, 3, 9, 17]
    res = betweenness_centrality(
        edges30, sources=spark.createDataFrame([(s,) for s in srcs], "id long")
    )
    got = {r["id"]: r["betweenness_e6"] for r in res.collect()}
    assert got == oracles.betweenness_oracle(edge_rows, srcs)


def test_betweenness_directed(spark, edges30, edge_rows):
    from linkgraph.algos.paths import betweenness_centrality

    res = betweenness_centrality(
        edges30, sources=spark.createDataFrame([(0,), (5,)], "id long"),
        directed=True,
    )
    got = {r["id"]: r["betweenness_e6"] for r in res.collect()}
    assert got == oracles.betweenness_oracle(edge_rows, [0, 5], directed=True)


def test_eigenvector_matches_quantized_power_oracle(spark, edges30, edge_rows):
    from linkgraph.algos.eigenvector import eigenvector_centrality

    res = eigenvector_centrality(edges30, iters=4)
    got = {r["id"]: r["eig_e6"] for r in res.collect()}
    assert got == oracles.eigenvector_oracle(edge_rows, iters=4)
    # max-normalization invariant: at least one vertex sits at the scale cap
    assert max(got.values()) == 1_000_000


def test_louvain_multilevel_matches_sequential_oracle(spark, edges30, edge_rows):
    from linkgraph.algos.louvain import louvain_multilevel

    res = louvain_multilevel(
        edges30, vertices=spark.range(30).select("id"),
        rounds_level1=3, rounds_level2=3,
    )
    got = {r["id"]: r["label"] for r in res.collect()}
    assert got == oracles.louvain_multilevel_oracle(edge_rows, 30, 3, 3)
    # contraction must not split level-1 communities: members of one final
    # community form a union of whole level-1 communities
    from linkgraph.algos.louvain import louvain_sync

    l1 = {r["id"]: r["label"]
          for r in louvain_sync(edges30, vertices=spark.range(30).select("id"),
                                num_rounds=3).collect()}
    for v, u in [(a, b) for a in got for b in got if l1[a] == l1[b]]:
        assert got[v] == got[u]


def test_jones_plassmann_coloring_matches_sequential(spark, edges30, edge_rows):
    from linkgraph.algos.coloring import jones_plassmann_coloring

    colors_df, metrics = jones_plassmann_coloring(edges30)
    got = {r["id"]: r["color"] for r in colors_df.collect()}
    want, rounds = oracles.coloring_oracle(edge_rows)
    assert got == want
    assert len(metrics) == rounds
    assert metrics[-1]["active"] == 0
    # proper coloring + greedy palette bound (max degree + 1)
    und = {}
    for a, b in edge_rows:
        if a != b:
            und.setdefault(a, set()).add(b)
            und.setdefault(b, set()).add(a)
    assert all(got[v] != got[u] for v in und for u in und[v])
    assert max(got.values()) <= max(len(n) for n in und.values())


def test_coloring_partial_rounds_prefix(spark, edges30, edge_rows):
    """A capped run is exactly the first-R-rounds prefix of the fixpoint
    run (the suite's 6-round gate relies on this)."""
    from linkgraph.algos.coloring import jones_plassmann_coloring

    full_df, _ = jones_plassmann_coloring(edges30)
    part_df, metrics = jones_plassmann_coloring(edges30, max_rounds=3)
    full = {r["id"]: r["color"] for r in full_df.collect()}
    part = {r["id"]: r["color"] for r in part_df.collect()}
    assert len(metrics) == 3 and part
    assert all(full[v] == c for v, c in part.items())


def test_boruvka_msf_matches_kruskal(spark, edges30, edge_rows):
    from pyspark.sql import functions as F

    from linkgraph.algos.msf import boruvka_msf

    we = (
        edges30.select(F.least("src", "dst").alias("a"),
                       F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b")).distinct()
        .withColumn("w", (F.col("a") * 31 + F.col("b") * 17) % 997 + 1)
    )
    forest, metrics = boruvka_msf(we)
    got = {(r["a"], r["b"], r["w"]) for r in forest.collect()}
    wedges = [(r["a"], r["b"], r["w"]) for r in we.collect()]
    assert got == oracles.msf_oracle(wedges)
    assert metrics[-1]["live"] == 0
    # spanning: forest joins exactly the components of the input graph;
    # acyclic: |F| = |V| - #components (Kruskal oracle guarantees both,
    # checked independently here)
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in got:
        ra, rb = find(a), find(b)
        assert ra != rb  # acyclic
        parent[ra] = rb
    verts = {v for a, b, _ in wedges for v in (a, b)}
    n_comp = len({find(v) for v in verts})
    assert len(got) == len(verts) - n_comp


def test_nearest_seed_partition_matches_bfs(spark, edges30, edge_rows):
    from linkgraph.algos.voronoi import nearest_seed_partition

    seeds = spark.createDataFrame([(2,), (9,), (17,)], "id long")
    res, metrics = nearest_seed_partition(edges30, seeds)
    got = {r["id"]: (r["dist"], r["seed"]) for r in res.collect()}

    und = {}
    for a, b in edge_rows:
        if a != b:
            und.setdefault(a, set()).add(b)
            und.setdefault(b, set()).add(a)
    want = {v: (0, v) for v in (2, 9, 17)}
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
    assert metrics[-1]["changed"] == 0
    # Voronoi property: every vertex's dist is a shortest distance to
    # SOME seed, and no neighbor offers a strictly better (dist, seed)
    for v, (dv, lv) in got.items():
        for u in und.get(v, ()):
            if u in got:
                assert (got[u][0] + 1, got[u][1]) >= (dv, lv)


def test_wl_refinement_invariants(spark, edges30, edge_rows):
    from linkgraph.algos.wl import wl_refinement

    got = {r["id"]: r["color"]
           for r in wl_refinement(edges30, rounds=3).collect()}
    # sequential twin
    und = {}
    for a, b in edge_rows:
        if a != b:
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
    got = {v: canon[c] for v, c in color.items()}
    # refinement invariant: same final color => same degree
    for v in und:
        for u in und:
            if got[v] == got[u]:
                assert len(und[v]) == len(und[u])


def test_simrank_truncated_matches_sequential(spark, edges30, edge_rows):
    import decimal

    from linkgraph.algos.simrank import simrank_truncated

    got = {(r["a"], r["b"]): r["sim_e6"]
           for r in simrank_truncated(edges30, c=0.8, iters=2,
                                      tau_e6=10_000).collect()}

    E = {(a, b) for a, b in edge_rows if a != b}
    ind, out = {}, {}
    for s, d in E:
        ind.setdefault(d, set()).add(s)
        out.setdefault(s, set()).add(d)
    diag = {}
    for a in ind:
        for b in ind:
            if a != b:
                c_ = len(ind[a] & ind[b])
                if c_:
                    diag[(a, b)] = c_ * 1_000_000
    state = {}
    for _ in range(2):
        total = dict(diag)
        for (x, y), v in state.items():
            for a in out.get(x, ()):
                for b in out.get(y, ()):
                    if a != b:
                        total[(a, b)] = total.get((a, b), 0) + v
        new = {}
        for (a, b), t in total.items():
            q = int(decimal.Decimal(0.8 * t / (len(ind[a]) * len(ind[b])))
                    .quantize(0, rounding=decimal.ROUND_HALF_UP))
            if q >= 10_000:
                new[(a, b)] = q
        state = new
    assert got == state
    # symmetry: s(a,b) == s(b,a)
    assert all(got.get((b, a)) == v for (a, b), v in got.items())


def test_densest_subgraph_matches_sequential(spark, edges30, edge_rows):
    import collections

    from linkgraph.algos.densest import densest_subgraph

    best_df, metrics = densest_subgraph(edges30)
    got = {r["id"] for r in best_df.collect()}
    got_key = best_df.collect()[0]["density_e9"]

    E = {(min(a, b), max(a, b)) for a, b in edge_rows if a != b}
    cur = {v for e in E for v in e}
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
    assert (got, got_key) == (bv, bk)
    # density of the reported set is what the key claims
    sub_e = sum(1 for a, b in E if a in got and b in got)
    assert got_key == sub_e * 1_000_000_000 // len(got)


def test_bfs_parents_tree_valid(spark, tmp_path):
    """Parent pointers form a valid shortest-path tree: following parent
    decreases dist by exactly 1 until the root."""
    from linkgraph import suite

    sf = "/root/testdata/sf0.001"
    rows = suite.q_bfs_parents(spark, sf).collect()
    d = {r["id"]: r["dist"] for r in rows}
    p = {r["id"]: r["parent"] for r in rows}
    assert d[7] == 0 and p[7] == -1
    for v, dist in d.items():
        if v != 7:
            assert p[v] in d and d[p[v]] == dist - 1
            # walking parents reaches the root in exactly dist steps
            x, steps = v, 0
            while x != 7:
                x = p[x]
                steps += 1
            assert steps == dist


def test_walk_visit_counts_conservation(spark):
    from linkgraph import suite

    rows = suite.q_walk_visit_counts(spark, "/root/testdata/sf0.001").collect()
    # 20 walks × 9 positions (step 0..8), minus walks stranded at
    # degree-0 starts (those emit only the rows they reached)
    total = sum(r["visits"] for r in rows)
    assert total <= 20 * 9
    assert total > 0 and all(r["visits"] >= 1 for r in rows)


def test_all_sources_guard(spark, edges30):
    """The exact multi-source sweeps refuse oversized source sets unless
    max_sources is raised/disabled — pointing the user at HyperBall."""
    from linkgraph.algos.paths import closeness_centrality, distance_histogram

    vs = edges30.select(F.col("src").alias("id")).distinct()
    with pytest.raises(ValueError, match="max_sources"):
        closeness_centrality(edges30, sources=vs, max_sources=3)
    with pytest.raises(ValueError, match="hyperball"):
        distance_histogram(edges30, sources=vs, max_sources=3)
    # explicit opt-out still runs
    assert distance_histogram(
        edges30, sources=vs.limit(2), max_sources=None, partitions=4
    ).count() > 0
