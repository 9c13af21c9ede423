"""Round-5 scale-audit tests: degree-ordered wedge orientation and
hub-split estimator adjacency (VERDICT r4 findings 1 and 2).

The planted-hub fixture is a star with a 10^4-degree hub plus a sparse
ring among the leaves — the shape where id-oriented wedge generation
emits ~C(d/2, 2) rows from one join key and an unsplit collect_list
adjacency materializes the hub's full neighbor list in one row.
"""

import itertools
import random

import pytest
from pyspark.sql import functions as F

HUB_D = 10_000


@pytest.fixture(scope="module")
def hub_edges(spark):
    """Hub 0 — leaves 1..10000, plus ring edges (i, i+1) for 1 <= i <= 400
    (creates triangles hub-i-(i+1)) and a few chords."""
    rows = [(0, i) for i in range(1, HUB_D + 1)]
    rows += [(i, i + 1) for i in range(1, 401)]
    rows += [(i, i + 5) for i in range(1, 100, 7)]
    return spark.createDataFrame(rows, "src long, dst long").persist()


def test_planted_hub_wedge_rows_bounded(spark, hub_edges):
    """The wedge stage under degree-ordered orientation emits exactly
    Σ_v C(out(v), 2) rows — on the planted-hub fixture a few thousand,
    versus C(d, 2) ≈ 5·10^7 under id orientation (the r4 scale-killer)."""
    from linkgraph.algos.triangles import degree_ranked_oriented, _rank_lt

    o = degree_ranked_oriented(hub_edges).persist()
    # analytic bound: sum over lo of C(out_degree, 2)
    out = o.groupBy("lo").agg(F.count(F.lit(1)).alias("od"))
    bound = int(
        out.agg(F.sum(F.col("od") * (F.col("od") - 1) / 2).alias("s"))
        .collect()[0]["s"]
    )
    w1 = o.select("lo", F.col("hi").alias("p"), F.col("dhi").alias("dp"))
    w2 = o.select("lo", F.col("hi").alias("q"), F.col("dhi").alias("dq"))
    wedge_rows = (
        w1.join(w2, "lo")
        .filter(_rank_lt(F.col("dp"), F.col("p"), F.col("dq"), F.col("q")))
        .count()
    )
    assert wedge_rows == bound
    # the whole point: degree orientation keeps the wedge mass tiny on a
    # hub graph — orders of magnitude under the id-oriented C(d/2, 2)
    assert wedge_rows < 100_000
    assert HUB_D * (HUB_D - 1) // 2 > 10_000_000  # what id orientation risks
    o.unpersist()


def test_planted_hub_triangles_exact(spark, hub_edges):
    """Triangle count on the hub fixture matches the closed form: one
    triangle per ring edge (hub, i, i+1) plus chord triangles — verified
    against a brute-force count over the materialized edge set."""
    from linkgraph.algos.triangles import triangle_count

    und = {tuple(sorted((r.src, r.dst))) for r in hub_edges.collect()}
    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    brute = sum(
        1
        for a, b in und
        for c in nbrs[a] & nbrs[b]
        if c > b
    )
    assert triangle_count(hub_edges) == brute


def test_degree_oriented_matches_bruteforce_random(spark):
    """triangles() under the new orientation equals itertools brute force
    on random graphs (including ties in degree)."""
    from linkgraph.algos.triangles import triangles

    random.seed(31)
    n = 16
    edges = [
        (a, b)
        for a in range(n)
        for b in range(n)
        if a != b and random.random() < 0.3
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    und = {tuple(sorted(e)) for e in edges}
    brute = {
        (a, b, c)
        for a, b, c in itertools.combinations(range(n), 3)
        if (a, b) in und and (a, c) in und and (b, c) in und
    }
    got = {(r.a, r.b, r.c) for r in triangles(df).collect()}
    assert got == brute


def test_four_cycle_vertex_priority_hub(spark, hub_edges):
    """Vertex-priority rectangle count equals the textbook
    Σ C(common, 2)/2 form on the hub fixture (hub-centered wedges would
    otherwise dominate) and on a random graph."""
    from linkgraph.algos.motifs import four_cycle_count

    def naive(df):
        und = df.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        ).filter(F.col("a") != F.col("b")).dropDuplicates(["a", "b"])
        sym = und.select(F.col("a").alias("u"), F.col("b").alias("c")).union(
            und.select(F.col("b").alias("u"), F.col("a").alias("c"))
        )
        cn = (
            sym.join(
                sym.select(F.col("u").alias("v"), F.col("c")), "c"
            )
            .filter(F.col("u") < F.col("v"))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("w"))
        )
        r = cn.agg(
            (F.sum(F.col("w") * (F.col("w") - 1) / 2) / 2).cast("long").alias("n")
        ).collect()[0]["n"]
        return int(r or 0)

    # hub fixture: restrict to a slice so the naive oracle stays fast
    small_hub = hub_edges.filter(
        (F.col("dst") <= 1500) & (F.col("src") <= 1500)
    )
    assert four_cycle_count(small_hub) == naive(small_hub)

    random.seed(5)
    edges = [
        (a, b) for a in range(20) for b in range(20)
        if a != b and random.random() < 0.25
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    assert four_cycle_count(df) == naive(df)


def test_blocked_adjacency_bounded_and_complete(spark, hub_edges):
    """_blocked_adjacency never materializes a hub's adjacency in one row:
    max per-row array size stays ~block_size, block multiset == full
    neighbor multiset, and non-hub vertices keep one block."""
    from linkgraph.algos.gcommon import canonical
    from linkgraph.algos.triangles import _blocked_adjacency

    o = canonical(hub_edges)
    bs = 1024
    adj = _blocked_adjacency(o, block_size=bs).persist()
    sizes = adj.select(F.size("nbrs").alias("s"), "x").persist()
    max_sz = sizes.agg(F.max("s")).collect()[0][0]
    # hash split: expected block size ~bs, allow 50% imbalance headroom
    assert max_sz <= int(1.5 * bs)
    # completeness: union of hub blocks == the hub's true neighbor set
    hub_nbrs = sorted(
        x
        for r in adj.filter(F.col("x") == 0).collect()
        for x in r.nbrs
    )
    assert hub_nbrs == list(range(1, HUB_D + 1))
    # hub has ceil(d/bs) blocks; leaves have exactly one
    n_hub_blocks = adj.filter(F.col("x") == 0).count()
    assert n_hub_blocks == (HUB_D + bs - 1) // bs
    one = adj.filter(F.col("x") == 5000).count()
    assert one == 1
    adj.unpersist()
    sizes.unpersist()


def test_blocked_pick_uniform_and_deterministic(spark):
    """The two-level pick is (a) deterministic across partition layouts and
    (b) uniform over candidates: picking from a 50-neighbor vertex with
    2000 hash-distinct draws covers all candidates roughly evenly."""
    from linkgraph.algos.gcommon import canonical
    from linkgraph.algos.triangles import _blocked_adjacency, _blocked_uniform_pick, _u

    edges = [(100, i) for i in range(50)]
    o = canonical(spark.createDataFrame(edges, "src long, dst long"))
    adj = _blocked_adjacency(o, block_size=8).persist()  # forces 7 blocks

    st = spark.range(2000).select(
        F.col("id").alias("est_id"), F.lit(100).alias("end")
    )
    picked = _blocked_uniform_pick(
        st, adj, "est_id", "end", F.array(F.lit(-1)), _u("est_id", seed=9),
        "c", "nxt",
    ).persist()
    rows = picked.collect()
    assert len(rows) == 2000
    assert all(r.c == 50 for r in rows)
    counts = {}
    for r in rows:
        counts[r.nxt] = counts.get(r.nxt, 0) + 1
    assert set(counts) == set(range(50))  # every candidate reachable
    assert max(counts.values()) < 5 * (2000 / 50)  # no gross bias

    # determinism across layouts: same picks at different parallelism
    st4 = st.repartition(13)
    picked2 = _blocked_uniform_pick(
        st4, adj, "est_id", "end", F.array(F.lit(-1)), _u("est_id", seed=9),
        "c", "nxt",
    )
    got1 = {r.est_id: r.nxt for r in rows}
    got2 = {r.est_id: r.nxt for r in picked2.collect()}
    assert got1 == got2
    adj.unpersist()
    picked.unpersist()


def test_tol_pagerank_single_job_per_superstep(spark):
    """Tol-driven PageRank runs ONE Spark job per superstep: with AQE off
    (1 action = 1 job), the convergence run costs exactly as many jobs as
    a fixed-iteration run of the same superstep count — its dangling flag
    and dangling count ride the degree table's pin — and produces
    identical ranks.

    (With AQE on, the same single action surfaces as multiple
    stage-materialization jobs, so the accounting is done AQE-off.)"""
    from linkgraph import datagen
    from linkgraph.algos.pagerank import pagerank

    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc = spark.sparkContext
    try:
        edges = datagen.rmat_edges(spark, 6000, 10, partitions=8).persist()
        edges.count()
        sc.setJobGroup("r5conv", "tol-mode pagerank")
        ranks, m = pagerank(edges, tol=1e-6, max_iter=60, partitions=8)
        n_conv = len(sc.statusTracker().getJobIdsForGroup("r5conv"))
        iters = len(m)
        assert m[-1]["l1_delta"] < 1e-6
        sc.setJobGroup("r5fixed", "fixed-iter pagerank")
        ranks2, _ = pagerank(edges, num_iters=iters, partitions=8)
        n_fixed = len(sc.statusTracker().getJobIdsForGroup("r5fixed"))
        assert n_conv == n_fixed
        diff = (
            ranks.withColumnRenamed("rank", "r1")
            .join(ranks2.withColumnRenamed("rank", "r2"), "id")
            .agg(F.max(F.abs(F.col("r1") - F.col("r2"))).alias("d"))
            .collect()[0]["d"]
        )
        assert diff < 1e-15
        edges.unpersist()
    finally:
        sc.setJobGroup("default", "")
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_conditional_sample_vertex_properties(spark):
    """Property test mirroring /root/reference/src/ZGraphInstance.cpp:336-350:
    picks land in [min_vid, V), inv_prob == V - min_vid, empty suffixes
    (min_vid >= V) are dropped (the reference's probability=-1 contract),
    the pick is deterministic across partition layouts, and the draw is
    ~uniform over the suffix."""
    from linkgraph.algos.triangles import conditional_sample_vertex

    V = 40
    est = spark.range(40_000).select(
        F.col("id").alias("est_id"),
        # min_vid cycles 0..V+4: some rows have empty suffixes
        F.pmod(F.col("id") * 7, F.lit(V + 5)).cast("long").alias("min_vid"),
    )
    out = conditional_sample_vertex(est, V, seed=3).persist()
    rows = out.collect()
    n_valid = est.filter(F.col("min_vid") < V).count()
    assert len(rows) == n_valid
    for r in rows:
        assert r.min_vid <= r.v < V
        assert r.inv_prob == float(V - r.min_vid)
    # uniformity over the full suffix when min_vid == 0
    zero = [r.v for r in rows if r.min_vid == 0]
    assert set(zero) == set(range(V))
    # layout independence
    out2 = conditional_sample_vertex(est.repartition(17), V, seed=3)
    got1 = {r.est_id: r.v for r in rows}
    got2 = {r.est_id: r.v for r in out2.collect()}
    assert got1 == got2
    out.unpersist()


def test_multimodal_real_decoder_hook(spark):
    """The optional-codec hook: with PIL absent, use_real_decoder=True
    raises loudly (no silent stub fallback) and the default stub path is
    unchanged; with PIL present, the real branch decodes actual pixel
    dimensions from a generated PNG."""
    from linkgraph import multimodal

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "x")], "doc_id long, text string"
    )
    blobs = multimodal.docs_as_blobs(docs)
    stub = {r.doc_id: r for r in multimodal.decode_features(blobs).collect()}
    assert stub[1].n_bytes == 11 and stub[1].head_byte == ord("h")

    if not multimodal.real_decoder_available():
        with pytest.raises(ImportError):
            multimodal.decode_features(blobs, use_real_decoder=True)
        return

    # real branch (runs only where pillow is installed)
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (17, 9)).save(buf, format="PNG")
    png = buf.getvalue()
    bdf = spark.createDataFrame([(7, bytearray(png))], "doc_id long, blob binary")
    row = multimodal.decode_features(bdf, use_real_decoder=True).collect()[0]
    assert (row.fake_width, row.fake_height) == (17, 9)
    assert row.n_bytes == len(png)


def test_adamic_adar_capped_excludes_hub_centers(spark):
    """The capped Adamic–Adar variant: a high-degree center generates NO
    candidate pairs (the C(d,2) blow-up is structurally absent), while
    low-degree centers score identically to the uncapped form."""
    import sys

    from linkgraph import suite

    # hub 100 connected to 0..79 (degree 80 > AA_CAP=64); plus center 200
    # with neighbors {0, 1} (degree 2 — informative)
    edges = [(100, i) for i in range(80)] + [(200, 0), (200, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    qmod = sys.modules[suite.q_adamic_adar_capped.__module__]
    orig = qmod.edges_b
    try:
        qmod.edges_b = lambda _s, _d: df
        rows = suite.q_adamic_adar_capped(spark, "x").collect()
    finally:
        qmod.edges_b = orig
    got = {(r.a, r.b): r.score_e6 for r in rows}
    # pair (0, 1) shares centers {hub(80), 200(2)}: only 200 may count
    import math

    assert got[(0, 1)] == round(1e6 / math.log(2))
    # (100, 200) shares the degree-2 centers {0, 1} — counted normally
    assert got[(100, 200)] == 2 * round(1e6 / math.log(2))
    # no other leaf pair may appear: their only common neighbor is the
    # capped-out hub — the C(80,2) pair explosion is structurally absent
    assert set(got) == {(0, 1), (100, 200)}


def test_sampled_estimators_on_hub_fixture(spark, hub_edges):
    """The hub-split estimators stay unbiased on the planted-hub graph:
    4-chain sampled estimate within 10% of exact (the hub makes 4-chains
    plentiful: leaf–hub–leaf–ring patterns)."""
    from linkgraph.algos.motifs import four_chain_count
    from linkgraph.algos.triangles import four_chain_count_sampled

    # slice the fixture so the exact join-based count stays test-fast
    e = hub_edges.filter((F.col("dst") <= 2000) & (F.col("src") <= 2000)).persist()
    exact = four_chain_count(e)
    est = four_chain_count_sampled(e, num_estimators=8192, seed=17)
    assert exact > 0
    assert abs(est - exact) <= 0.10 * exact
    e.unpersist()
