"""Generic pattern compiler vs brute-force oracle and specialized counters."""

import pytest

from linkgraph import datagen
import oracles
from linkgraph.algos import motifs, patterns, triangles

V = 30
EDGES = datagen.expected_edges(V)


def test_automorphism_counts():
    assert patterns.automorphisms(patterns.PATTERNS["triangle"]) == 6
    assert patterns.automorphisms(patterns.PATTERNS["three_chain"]) == 2
    assert patterns.automorphisms(patterns.PATTERNS["four_chain"]) == 2
    assert patterns.automorphisms(patterns.PATTERNS["four_cycle"]) == 8
    assert patterns.automorphisms(patterns.PATTERNS["four_clique"]) == 24
    assert patterns.automorphisms(patterns.PATTERNS["five_house"]) == 2
    assert patterns.automorphisms(patterns.PATTERNS["five_star"]) == 24
    assert patterns.automorphisms(patterns.PATTERNS["tailed_triangle"]) == 2
    assert patterns.automorphisms(patterns.PATTERNS["diamond"]) == 4
    assert patterns.automorphisms(patterns.PATTERNS["five_cycle"]) == 10
    assert patterns.automorphisms(patterns.PATTERNS["bowtie"]) == 8


def test_plan_closure_first():
    steps = patterns.plan_pattern(patterns.PATTERNS["five_house"])
    kinds = [k for k, _, _ in steps]
    # the roof triangle must close before the walls extend
    assert kinds.index("close") == 2


@pytest.mark.parametrize("name", sorted(patterns.PATTERNS))
def test_pattern_count_matches_bruteforce(spark, edges30, name):
    got = patterns.pattern_count(edges30, patterns.PATTERNS[name])
    assert got == oracles.pattern_count_oracle(EDGES, patterns.PATTERNS[name])


def test_pattern_count_matches_specialized(spark, edges30):
    p = patterns.PATTERNS
    assert patterns.pattern_count(edges30, p["triangle"]) == triangles.triangle_count(edges30)
    assert patterns.pattern_count(edges30, p["three_chain"]) == motifs.three_chain_count(edges30)
    assert patterns.pattern_count(edges30, p["four_chain"]) == motifs.four_chain_count(edges30)
    assert patterns.pattern_count(edges30, p["four_clique"]) == motifs.four_clique_count(edges30)
    assert patterns.pattern_count(edges30, p["five_house"]) == motifs.five_house_count(edges30)


def _dense25(spark):
    """The suite's edges_c fixture shape: 25 vertices, ~165 edges."""
    import itertools

    pairs = [
        (i, j)
        for i, j in itertools.combinations(range(25), 2)
        if (i * 7 + j * 13 + 3) % 10 < 6
    ]
    return spark.createDataFrame(pairs, "src long, dst long")


@pytest.mark.parametrize(
    "name,n_est,eps",
    [
        ("five_house", 100_000, 0.10),
        ("four_clique", 150_000, 0.35),
        ("five_star", 50_000, 0.10),
        ("triangle", 50_000, 0.10),
        ("four_chain", 50_000, 0.10),
    ],
)
def test_pattern_count_sampled_within_eps(spark, name, n_est, eps):
    """Generic SamplerGenerator-twin estimator lands within eps of exact
    (fixed hash seed => deterministic, so this is a regression pin too)."""
    e = _dense25(spark).persist()
    exact = patterns.pattern_count(e, patterns.PATTERNS[name])
    est = patterns.pattern_count_sampled(
        e, patterns.PATTERNS[name], num_estimators=n_est, seed=7
    )
    e.unpersist()
    assert exact > 0
    assert abs(est - exact) <= eps * exact, (name, est, exact)


def test_pattern_count_sampled_partition_invariant(spark):
    """Hash-derived randomness: the estimate is a pure function of the data
    and seed, independent of input partitioning."""
    e = _dense25(spark)
    pat = patterns.PATTERNS["five_star"]
    a = patterns.pattern_count_sampled(e.repartition(1), pat, 20_000, seed=11)
    b = patterns.pattern_count_sampled(e.repartition(13), pat, 20_000, seed=11)
    assert a == b


def test_pattern_count_sampled_pick_only_unbiased(spark):
    """rb_depth=0 (the reference's literal pick-then-check semantics,
    /root/reference/src/SamplerGenerator.cpp:379-464) also converges: wider
    eps since every step is a one-in-s draw."""
    e = _dense25(spark)
    pat = patterns.PATTERNS["triangle"]
    exact = patterns.pattern_count(e, pat)
    est = patterns.pattern_count_sampled(e, pat, 150_000, seed=5, rb_depth=0)
    assert abs(est - exact) <= 0.25 * exact, (est, exact)


def test_pattern_validation():
    with pytest.raises(ValueError):
        patterns.plan_pattern([(0, 0)])
    with pytest.raises(ValueError):
        patterns.plan_pattern([(0, 1), (2, 3)])  # disconnected
    with pytest.raises(ValueError):
        patterns.automorphisms([(0, 2)])  # gap in vertex ids


def test_powerlaw_alpha_formula(spark):
    """suite.q_powerlaw_alpha on a written fixture dir matches the
    Clauset-MLE formula computed sequentially with the same per-element
    e6 quantization."""
    import decimal
    import math

    from linkgraph import suite

    # write a lineitem table whose derived graph A equals... simpler:
    # compute directly from the derived graph of the real sf0.001 dir
    sf = "/root/testdata/sf0.001"
    got = suite.q_powerlaw_alpha(spark, sf).collect()[0]

    rows = suite.edges_a(spark, sf).collect()
    indeg = {}
    for r in rows:
        indeg[r["dst"]] = indeg.get(r["dst"], 0) + 1
    q = [int(decimal.Decimal(math.log(d / 1.5) * 1e6).quantize(
        0, rounding=decimal.ROUND_HALF_UP)) for d in indeg.values() if d >= 2]
    n, s = len(q), sum(q)
    alpha = 1_000_000 + int(decimal.Decimal(n * 1e12 / s).quantize(
        0, rounding=decimal.ROUND_HALF_UP))
    assert (got["n"], got["sum_ln_e6"], got["alpha_e6"]) == (n, s, alpha)
    # MLE is >1 by construction (every term positive); the derived hash
    # graph is near-uniform-degree so alpha is small, not scale-free
    assert got["alpha_e6"] > 1_000_000


def test_degree_percentiles_exact(spark):
    """Histogram-CDF percentiles equal brute-force sorted-position picks."""
    import math

    from linkgraph import suite

    sf = "/root/testdata/sf0.001"
    got = suite.q_degree_percentiles(spark, sf).collect()[0]

    und = {(r["src"], r["dst"]) for r in suite.edges_a(spark, sf).collect()}
    und |= {(b, a) for a, b in und}
    deg = {}
    for a, _ in und:
        deg[a] = deg.get(a, 0) + 1
    ds = sorted(deg.values())
    n = len(ds)
    want = {q: ds[math.ceil(q * n) - 1] for q in (0.5, 0.9, 0.99)}
    assert (got["n"], got["p50"], got["p90"], got["p99"]) == (
        n, want[0.5], want[0.9], want[0.99])
