"""Algorithm correctness vs pure numpy/python oracles (north-rule gates:
PageRank allclose 1e-6, components/labels exact, triangle counts exact)."""

import numpy as np
import pytest

from linkgraph import datagen
import oracles
from linkgraph.algos import (
    connected_components,
    label_propagation,
    pagerank,
    triangle_count,
    triangle_count_sampled,
)
from linkgraph.algos import motifs

V = 30
EDGES = datagen.expected_edges(V)


def _vec(df, value_col, n=V, default=None):
    out = np.full(n, np.nan if default is None else default, dtype=float)
    for r in df.collect():
        out[int(r["id"])] = float(r[value_col])
    return out


@pytest.fixture(scope="module")
def vertices30(spark):
    return spark.createDataFrame([(i,) for i in range(V)], "id long")


def test_pagerank_allclose_1e6(spark, edges30, vertices30):
    ranks, metrics = pagerank(edges30, vertices=vertices30, tol=1e-6, partitions=8)
    got = _vec(ranks, "rank")
    exp = oracles.pagerank_oracle(V, EDGES, tol=1e-6)
    assert np.allclose(got, exp, atol=1e-6)
    assert abs(got.sum() - 1.0) < 1e-9
    assert metrics[-1]["l1_delta"] < 1e-6
    assert all(m["edges_per_sec"] is not None for m in metrics)


def test_pagerank_fixed_iters_matches_oracle(spark, edges30, vertices30):
    ranks, _ = pagerank(edges30, vertices=vertices30, num_iters=5, partitions=8)
    got = _vec(ranks, "rank")
    exp = oracles.pagerank_oracle(V, EDGES, num_iters=5)
    assert np.allclose(got, exp, atol=1e-12)


def test_pagerank_salted_equals_unsalted(spark, edges30, vertices30):
    base, _ = pagerank(edges30, vertices=vertices30, num_iters=8, partitions=8)
    salted, _ = pagerank(
        edges30, vertices=vertices30, num_iters=8, partitions=8,
        hub_degree_threshold=3, num_salts=4,
    )
    assert np.allclose(_vec(base, "rank"), _vec(salted, "rank"), atol=1e-12)


def test_connected_components_exact(spark, edges30, vertices30):
    labels, metrics = connected_components(edges30, vertices=vertices30, partitions=8)
    got = _vec(labels, "component").astype(int)
    exp = oracles.components_oracle(V, EDGES)
    assert (got == exp).all()
    assert metrics[-1]["labels_changed"] == 0


def test_label_propagation_exact(spark, edges30, vertices30):
    labels, _ = label_propagation(edges30, vertices=vertices30, max_iter=20, partitions=8)
    got = _vec(labels, "label").astype(int)
    exp = oracles.labelprop_oracle(V, EDGES, max_iter=20)
    assert (got == exp).all()


def test_triangle_count_exact(spark, edges30):
    assert triangle_count(edges30) == oracles.triangle_count_oracle(EDGES)


def test_triangle_count_sampled_within_eps(spark, edges30):
    exact = oracles.triangle_count_oracle(EDGES)
    est = triangle_count_sampled(edges30, num_estimators=20000, seed=7, partitions=8)
    # reference accuracy contract: eps=5% at 95% conf (applications/Triangle.cpp:117-118);
    # allow 15% on this tiny fixture
    assert abs(est - exact) / exact < 0.15


def test_chain_star_motif_counts(spark, edges30):
    assert motifs.three_chain_count(edges30) == oracles.three_chain_count_oracle(V, EDGES)
    assert motifs.k_star_count(edges30, 5) == oracles.k_star_count_oracle(V, EDGES, 5)
    assert motifs.four_chain_count(edges30) == oracles.four_chain_count_oracle(EDGES)
    m = motifs.three_motif_counts(edges30)
    assert m["triangle"] == oracles.triangle_count_oracle(EDGES)
    assert m["three_chain_total"] == oracles.three_chain_count_oracle(V, EDGES)


def test_end_to_end_pages_to_pagerank(spark, graph30):
    """Full pipeline: pages -> ingest -> PageRank, compared via url join."""
    ranks, _ = pagerank(graph30.edges, vertices=graph30.vertices(),
                        tol=1e-6, partitions=8)
    vmap = graph30._vertices
    byurl = {
        r["url"]: r["rank"]
        for r in ranks.join(vmap, "id").select("url", "rank").collect()
    }
    exp = oracles.pagerank_oracle(V, EDGES, tol=1e-6)
    got = np.array([byurl[datagen.url_of(i)] for i in range(V)])
    assert np.allclose(got, exp, atol=1e-6)


def test_four_chain_count_sampled_within_eps(spark, edges30):
    from linkgraph.algos.triangles import four_chain_count_sampled

    exact = oracles.four_chain_count_oracle(EDGES)
    est = four_chain_count_sampled(edges30, num_estimators=20000, seed=7,
                                   partitions=8)
    # same accuracy contract as the triangle estimator (eps=5% at 95% conf
    # per the reference; 15% slack on the tiny fixture)
    assert abs(est - exact) / exact < 0.15


def test_three_motif_sampled_shared_stage(spark, edges30):
    """Cached 3-motif: one shared 2-edge partial-sample stage feeds both
    the triangle and 3-chain estimates (ThreeMotif.cpp twin); each lands
    within eps of its exact count, and the 3-chain leg bit-matches the
    standalone 3-chain estimator at the same seed (same shared stage)."""
    from linkgraph.algos.triangles import (
        three_chain_count_sampled,
        three_motif_sampled,
    )

    tri_exact = oracles.triangle_count_oracle(EDGES)
    chain_exact = oracles.three_chain_count_oracle(V, EDGES)
    tri_est, chain_est = three_motif_sampled(edges30, num_estimators=20000,
                                             seed=7, partitions=8)
    assert abs(tri_est - tri_exact) / tri_exact < 0.15
    assert abs(chain_est - chain_exact) / chain_exact < 0.10
    standalone = three_chain_count_sampled(edges30, num_estimators=20000,
                                           seed=7, partitions=8)
    assert chain_est == standalone


def test_three_chain_count_sampled_exact_expectation(spark, edges30):
    from linkgraph.algos.triangles import three_chain_count_sampled

    exact = oracles.three_chain_count_oracle(V, EDGES)
    est = three_chain_count_sampled(edges30, num_estimators=5000, seed=3,
                                    partitions=8)
    # the 3-chain estimator reduces to m * mean(c): variance comes only from
    # the uniform e1 pick — tight even at small N
    assert abs(est - exact) / exact < 0.10


def test_pagerank_dst_buckets_matches_oracle(spark, edges30):
    from linkgraph.algos.pagerank import pagerank

    exp = oracles.pagerank_oracle(V, EDGES)
    ranks, m = pagerank(
        edges30,
        vertices=spark.createDataFrame([(i,) for i in range(V)], "id long"),
        tol=1e-6, partitions=8, dst_buckets=4,
    )
    got = _vec(ranks, "rank")
    assert np.allclose(got, exp, atol=1e-6)
    # 2-D layout must agree with the 1-D layout bit-for-bit at convergence
    ranks1, _ = pagerank(
        edges30,
        vertices=spark.createDataFrame([(i,) for i in range(V)], "id long"),
        tol=1e-6, partitions=8,
    )
    assert np.allclose(_vec(ranks1, "rank"), got, atol=1e-9)


def test_k_chain_count_sampled_within_eps(spark, edges30):
    from linkgraph.algos.triangles import k_chain_count_sampled

    # k=4 cross-checks the dedicated 4-chain estimator's answer; k=5
    # checks the runtime-k path against the exact counter
    exact4 = oracles.four_chain_count_oracle(EDGES)
    est4 = k_chain_count_sampled(edges30, 4, num_estimators=20000, seed=5,
                                 partitions=8)
    assert abs(est4 - exact4) / exact4 < 0.15

    exact5 = motifs.k_chain_count(edges30, 5)
    est5 = k_chain_count_sampled(edges30, 5, num_estimators=20000, seed=6,
                                 partitions=8)
    assert abs(est5 - exact5) / exact5 < 0.15


def test_hits_matches_oracle(spark, edges30):
    from linkgraph.algos.hits import hits

    h_exp, a_exp = oracles.hits_oracle(V, EDGES, num_iters=5)
    out = hits(
        edges30,
        vertices=spark.createDataFrame([(i,) for i in range(V)], "id long"),
        num_iters=5, partitions=8,
    )
    got_h = _vec(out, "hub")
    got_a = _vec(out, "authority")
    assert np.allclose(got_h, h_exp, atol=1e-9)
    assert np.allclose(got_a, a_exp, atol=1e-9)


def test_personalized_pagerank_matches_oracle(spark, edges30):
    from linkgraph.algos.pagerank import personalized_pagerank

    sources = [0, 3, 7]
    exp = oracles.personalized_pagerank_oracle(V, EDGES, sources, num_iters=5)
    got_df = personalized_pagerank(
        edges30,
        sources=spark.createDataFrame([(s,) for s in sources], "id long"),
        vertices=spark.createDataFrame([(i,) for i in range(V)], "id long"),
        num_iters=5, partitions=8,
    )
    assert np.allclose(_vec(got_df, "rank"), exp, atol=1e-9)


def test_kcore_matches_oracle(spark, edges30):
    from linkgraph.algos.kcore import kcore_vertices

    for k in (2, 3, 4):
        got = {r["id"] for r in kcore_vertices(edges30, k, partitions=8).collect()}
        assert got == oracles.kcore_oracle(EDGES, k)


def test_pagerank_warm_start(spark, edges30, vertices30):
    from linkgraph.algos.pagerank import pagerank

    cold, cold_m = pagerank(edges30, vertices=vertices30, tol=1e-10, max_iter=200)
    # warm-start from the converged vector: must converge almost immediately
    warm, warm_m = pagerank(
        edges30, vertices=vertices30, tol=1e-10, max_iter=200, initial_ranks=cold
    )
    assert len(warm_m) < len(cold_m) / 2
    got_c = {r["id"]: r["rank"] for r in cold.collect()}
    got_w = {r["id"]: r["rank"] for r in warm.collect()}
    for i in range(30):
        assert abs(got_c[i] - got_w[i]) < 1e-8


def test_trustrank_seeds_get_trust(spark):
    """On a two-cluster graph where only cluster A holds a trust seed,
    every cluster-B vertex has higher relative spam mass than any
    cluster-A vertex (the Gyöngyi spam-demotion property)."""
    from pyspark.sql import functions as F

    from linkgraph.algos.pagerank import pagerank, personalized_pagerank

    # cluster A: 0-3 ring; cluster B: 10-13 ring; one weak A<->B bridge
    rows = [(0, 1), (1, 2), (2, 3), (3, 0),
            (10, 11), (11, 12), (12, 13), (13, 10), (3, 10), (13, 0)]
    e = spark.createDataFrame(rows, "src long, dst long")
    v = spark.createDataFrame(
        [(i,) for i in [0, 1, 2, 3, 10, 11, 12, 13]], "id long")
    seeds = spark.createDataFrame([(0,)], "id long")
    pr = {r["id"]: r["rank"]
          for r in pagerank(e, vertices=v, num_iters=20)[0].collect()}
    tr = {r["id"]: r["rank"] for r in personalized_pagerank(
        e, sources=seeds, vertices=v, num_iters=20).collect()}
    spam = {i: (pr[i] - tr[i]) / pr[i] for i in pr}
    assert max(spam[i] for i in [0, 1, 2, 3]) < min(spam[i] for i in [10, 11, 12, 13])


def test_component_size_histogram_conservation(spark):
    from pyspark.sql import functions as F

    from linkgraph.algos.components import connected_components

    rows = [(0, 1), (1, 2), (3, 4), (5, 6), (6, 7), (7, 5)]
    e = spark.createDataFrame(rows, "src long, dst long")
    labels, _ = connected_components(e)
    hist = (labels.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
            .groupBy("size").agg(F.count(F.lit(1)).alias("n")).collect())
    got = {r["size"]: r["n"] for r in hist}
    assert got == {3: 2, 2: 1}  # {0,1,2}, {5,6,7}, {3,4}
    assert sum(s * n for s, n in got.items()) == 8  # vertex conservation


def test_vertex_reciprocity_and_host_entropy(spark, tmp_path):
    """Hand case through the suite queries via a tiny written sf dir."""
    import math

    from linkgraph import suite
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    # vertex reciprocity: re-derive from collected edges
    got = {r["id"]: (r["outd"], r["recip"], r["recip_e6"])
           for r in suite.q_vertex_reciprocity(spark, sf).collect()}
    E = {(r["src"], r["dst"]) for r in suite.edges_a(spark, sf).collect()}
    outd, recip = {}, {}
    for a, b in E:
        outd[a] = outd.get(a, 0) + 1
        if (b, a) in E:
            recip[a] = recip.get(a, 0) + 1
    import decimal
    for v, d in outd.items():
        r = recip.get(v, 0)
        e6 = int(decimal.Decimal(r * 1e6 / d).quantize(
            0, rounding=decimal.ROUND_HALF_UP))
        assert got[v] == (d, r, e6)
    # host entropy: non-negative, bounded by ln(39) (≤39 external hosts)
    ent = {r["host"]: r["entropy_e6"]
           for r in suite.q_host_entropy(spark, sf).collect()}
    assert all(0 <= v <= math.log(39) * 1e6 + len(ent) for v in ent.values())


def test_harmonic_labels_bounds_and_clamps(spark):
    """Interior scores stay within [min seed, max seed] (maximum
    principle) and seeds never move."""
    from linkgraph import suite

    got = {r["id"]: r["spam_e6"]
           for r in suite.q_harmonic_labels(
               spark, "/root/testdata/sf0.001").collect()}
    for v, x in got.items():
        assert 0 <= x <= 1_000_000
        if v % 53 == 2:
            assert x == 1_000_000
        if v % 53 == 7:
            assert x == 0
    # at least one interior vertex moved off the 0.5 prior
    assert any(x not in (0, 500_000, 1_000_000) for x in got.values())


def test_cocitation_coupling_hand_case(spark, tmp_path):
    from linkgraph import suite

    # orders-derived graph is awkward for a hand case; verify instead on
    # collected output: co-citation pairs share >=5 in-neighbors exactly
    sf = "/root/testdata/sf0.001"
    rows = suite.q_cocitation_coupling(spark, sf).collect()
    E = {(r["src"], r["dst"]) for r in suite.edges_a(spark, sf).collect()}
    inn, outn = {}, {}
    for s, d in E:
        inn.setdefault(d, set()).add(s)
        outn.setdefault(s, set()).add(d)
    for r in rows:
        a, b = r["a"], r["b"]
        assert a < b
        cc = len(inn.get(a, set()) & inn.get(b, set()))
        cp = len(outn.get(a, set()) & outn.get(b, set()))
        assert r["cocitation"] == (cc if cc >= 5 else 0)
        assert r["coupling"] == (cp if cp >= 5 else 0)
        assert r["cocitation"] >= 5 or r["coupling"] >= 5


def test_walk_counts_from_seed_matrix_power(spark):
    import collections

    from linkgraph import suite

    sf = "/root/testdata/sf0.001"
    got = {r["id"]: r["walks3"]
           for r in suite.q_walk_counts_from_seed(spark, sf).collect()}
    E = [(r["src"], r["dst"]) for r in suite.edges_b(spark, sf).collect()]
    x = {10: 1}
    for _ in range(3):
        nxt = collections.defaultdict(int)
        for s, d in E:
            if s in x:
                nxt[d] += x[s]
        x = dict(nxt)
    assert got == x


def test_embedding_norms_nonzero(spark):
    from linkgraph import suite

    rows = suite.q_embedding_norms(spark, "/root/testdata/sf0.001").collect()
    assert all(r["sq_norm_e12"] > 0 and not r["is_zero"] for r in rows)


def test_link_prediction_pairs(spark):
    from linkgraph.graph import link_prediction_pairs

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)], "src long, dst long"
    )
    res = link_prediction_pairs(edges, num_vertices=8, k=2, seed=4).collect()
    pos = {(r["src"], r["dst"]) for r in res if r["label"] == 1}
    neg = [(r["src"], r["dst"]) for r in res if r["label"] == 0]
    assert pos == {(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)}
    adj = pos | {(b, a) for a, b in pos}
    assert len(neg) == len(set(neg))
    for s, d in neg:
        assert (s, d) not in adj and s != d and 0 <= d < 8
    from collections import Counter

    per_src = Counter(s for s, _ in neg)
    assert all(v == 2 for v in per_src.values())
    assert set(per_src) == {0, 1, 2, 3}
    # deterministic across partitionings
    res2 = link_prediction_pairs(
        edges.repartition(5), num_vertices=8, k=2, seed=4
    ).collect()
    assert sorted(map(tuple, res)) == sorted(map(tuple, res2))


def test_feature_propagation_hand_case(spark):
    from linkgraph.graph import feature_propagation

    # path 0-1-2 plus isolated 3: sym degrees [1,2,1,0]
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(4)], "id long")
    got = {r["id"]: (r["x0"], r["x1_e6"], r["x2_e6"])
           for r in feature_propagation(edges, verts, hops=2).collect()}
    # x1: v0 <- mean(x0[1]) = 2; v1 <- mean(1,1) = 1; v2 <- 2; v3 isolated -> 0
    # x2: v0 <- mean(x1[1]) = 1e6; v1 <- mean(2e6, 2e6) = 2e6; v2 <- 1e6
    assert got == {
        0: (1, 2_000_000, 1_000_000),
        1: (2, 1_000_000, 2_000_000),
        2: (1, 2_000_000, 1_000_000),
        3: (0, 0, 0),
    }
