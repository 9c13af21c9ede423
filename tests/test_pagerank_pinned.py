"""The pinned superstep kernel (``gcommon``), checked with the session's AQE
on: one Spark job per superstep for every vertex program on it (PageRank's
three variants, connected components, label propagation, Katz,
eigenvector, SALSA, HITS, HyperBall, core numbers and WL), every
frontier program (the BFS family, SSSP, Voronoi, multi-seed PPR) and
every static-edge fixpoint on the loop (SCC, condensation levels, truss
numbers, push PPR, synchronous Louvain), SCC and truss numbers in at
most half the jobs a call they ran as private loops, and so the peelers
(k-truss, colouring, matching, densest subgraph, MIS); a state
size estimate that grows linearly, not geometrically, over the
supersteps; one Exchange per PageRank superstep on a hub-free graph and
two on a salted one, and one, with no sort, per label-propagation
superstep; a rank state that keeps hashpartitioning(id, P); an AQE
setting that ``pin_checkpoint`` always restores; and a set-up that reads
one pinned degree table, at least 2 jobs fewer than separate passes.  Also the degenerate
inputs (an empty edge table, a null id in the edges or the sources, an
empty personalization or source set) and a checkpoint that refuses to
resume against another graph, another damping or without its
identity."""

import importlib
import os
import re

import pytest
from pyspark.sql import functions as F

from linkgraph import datagen
from linkgraph.algos.coloring import jones_plassmann_coloring
from linkgraph.algos.components import connected_components, connected_components_star
from linkgraph.algos.densest import densest_subgraph
from linkgraph.algos.eigenvector import eigenvector_centrality
from linkgraph.algos.gcommon import pin_checkpoint
from linkgraph.algos.hits import hits
from linkgraph.algos.hyperball import hyperball
from linkgraph.algos.katz import katz_centrality
from linkgraph.algos.kcore import core_numbers, kcore_vertices
from linkgraph.algos.ktruss import ktruss_edges, truss_numbers
from linkgraph.algos.labelprop import label_propagation
from linkgraph.algos.louvain import louvain_sync
from linkgraph.algos.matching import maximal_matching
from linkgraph.algos.mis import maximal_independent_set
from linkgraph.algos.paths import (
    betweenness_centrality,
    bfs_distances,
    closeness_centrality,
    distance_histogram,
    sssp_distances,
    stress_centrality,
)
from linkgraph.algos.pprmulti import multi_seed_ppr
from linkgraph.algos.pprpush import ppr_push
from linkgraph.algos.salsa import salsa
from linkgraph.algos.scc import condensation_levels, strongly_connected_components
from linkgraph.algos.voronoi import nearest_seed_partition
from linkgraph.algos.wl import wl_refinement
from linkgraph.suite import edges_b

prmod = importlib.import_module("linkgraph.algos.pagerank")
gcommon = importlib.import_module("linkgraph.algos.gcommon")

AQE = "spark.sql.adaptive.enabled"
# hub-free: no src above the default block size; salted: a block size of
# 16 splits the R-MAT graph's high-degree sources across salts
LAYOUTS = {"hubfree": {}, "salted": {"hub_degree_threshold": 16}}
# the fixed-superstep vertex programs, their iteration-count argument and
# supersteps per iteration (SALSA and HITS run two half-steps)
FIXED = {
    "katz": (katz_centrality, "iters", 1),
    "eigenvector": (eigenvector_centrality, "iters", 1),
    "salsa": (salsa, "num_iters", 2),
    "hits": (hits, "num_iters", 2),
    "hyperball": (hyperball, "radius", 1),
}
# the gather programs that run every superstep on the path below
PATH_GATHER = {"core": (core_numbers, "max_rounds"), "wl": (wl_refinement, "rounds")}
# the frontier programs as (edges, sources, **kw), their iteration-count
# argument and supersteps per iteration (stress and betweenness run a
# backward superstep per forward one)
FRONTIER = {
    "bfs": (bfs_distances, "max_iter", 1),
    "sssp": (lambda e, s, **kw: sssp_distances(
        e.withColumn("weight", F.lit(1).cast("long")), s, **kw), "max_iter", 1),
    "closeness": (closeness_centrality, "max_iter", 1),
    "histogram": (distance_histogram, "max_iter", 1),
    "stress": (stress_centrality, "max_iter", 2),
    "betweenness": (betweenness_centrality, "max_iter", 2),
    "voronoi": (nearest_seed_partition, "max_rounds", 1),
    "pprmulti": (lambda e, s, **kw: multi_seed_ppr(
        e, [r["id"] for r in s.collect()], **kw), "num_iters", 1),
}

# the static-edge fixpoints on the loop: (graph, the call running n
# supersteps).  On the directed 60-vertex ring SCC's colouring still
# changes colours after 4 supersteps (the path trims to nothing); its
# truncated colouring leaves root 0 a singleton, whose removal leaves a
# path that the trim peels the same way for every n.
STATIC = {
    "scc": ("ring", lambda e, n: strongly_connected_components(e, max_iter=n, partitions=8)),
    "condensation": ("path", lambda e, n: condensation_levels(e, max_rounds=n, partitions=8)),
    "truss": ("rmat", lambda e, n: truss_numbers(e, max_rounds=n, partitions=8)),
    "pprpush": ("path", lambda e, n: ppr_push(e, seed=0, rounds=n, partitions=8)),
    "louvain": ("path", lambda e, n: louvain_sync(e, num_rounds=n, partitions=8)),
}


@pytest.fixture(scope="module")
def rmat(spark):
    edges = datagen.rmat_edges(spark, 3000, 9, partitions=8).persist()
    edges.count()
    yield edges
    edges.unpersist()


@pytest.fixture(scope="module")
def path(spark):
    """A 60-vertex path: CC, LP and core numbers still change values after
    22 supersteps, and a frontier from vertex 0 still grows."""
    return spark.createDataFrame([(i, i + 1) for i in range(59)], "src long, dst long")


def _run(spark, case, rmat, path, n):
    """``n`` supersteps of one kernel algorithm on a graph where it runs
    all ``n`` of them."""
    if case in LAYOUTS:
        return prmod.pagerank(rmat, num_iters=n, partitions=8, **LAYOUTS[case])
    if case == "tol":  # a tolerance of 0 is never reached
        return prmod.pagerank(rmat, tol=0.0, max_iter=n, partitions=8)
    if case in FIXED:
        algo, arg, per = FIXED[case]
        return algo(rmat, partitions=8, **{arg: n // per})
    if case in PATH_GATHER:
        algo, arg = PATH_GATHER[case]
        return algo(path, partitions=8, **{arg: n})
    if case in FRONTIER:
        algo, arg, per = FRONTIER[case]
        source = spark.createDataFrame([(0,)], "id long")
        return algo(path, source, partitions=8, **{arg: n // per})
    if case in STATIC:
        graph, call = STATIC[case]
        ring = path.union(spark.createDataFrame([(59, 0)], "src long, dst long"))
        return call({"rmat": rmat, "path": path, "ring": ring}[graph], n)
    if case == "cc":
        return connected_components(path, max_iter=n, partitions=8)
    if case == "lp":
        return label_propagation(path, max_iter=n, partitions=8)
    if case == "ppr":
        sources = spark.createDataFrame([(0,), (3,), (7,)], "id long")
        return prmod.personalized_pagerank(rmat, sources, num_iters=n, partitions=8)
    weighted = rmat.withColumn("weight", (F.col("src") % 3 + 1).cast("double"))
    return prmod.pagerank_weighted(weighted, num_iters=n, partitions=8)


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("default", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "case", sorted(LAYOUTS) + ["cc", "lp", "ppr", "weighted", *FIXED, *PATH_GATHER,
                               *FRONTIER, *STATIC]
)
def test_pagerank_one_job_per_extra_superstep(spark, rmat, path, case):
    assert spark.conf.get(AQE) == "true"
    n2 = _jobs(spark, f"pin2{case}", lambda: _run(spark, case, rmat, path, 2))
    n4 = _jobs(spark, f"pin4{case}", lambda: _run(spark, case, rmat, path, 4))
    assert n4 - n2 == 2


# jobs of a warm call on edges_b(sf0.01) (300 vertices, 2,779 edges) when
# each fixpoint superstep was a checkpoint under AQE, a count and a
# self-join change count of its own
STATIC_JOBS_BEFORE = {"scc": 135, "truss": 172}


@pytest.mark.parametrize("case", sorted(STATIC_JOBS_BEFORE))
def test_static_fixpoints_halve_their_jobs(spark, case):
    edges = edges_b(spark, "/root/testdata/sf0.01")
    call = STATIC[case][1]
    call(edges, 200)  # warm: the parquet scan's own jobs
    n = _jobs(spark, f"static{case}", lambda: call(edges, 200))
    assert n <= STATIC_JOBS_BEFORE[case] // 2


# jobs of a warm call on edges_b(sf0.01) when each peel round checkpointed
# its tables under AQE and counted them in jobs of their own (k-truss also
# recounted the triangles of its edge set every round)
PEEL_JOBS_BEFORE = {"ktruss": 203, "coloring": 942, "matching": 106, "densest": 87,
                    "mis": 37}
PEEL = {
    "ktruss": lambda e: ktruss_edges(e, k=5, partitions=8),
    "coloring": lambda e: jones_plassmann_coloring(e, partitions=8),
    "matching": lambda e: maximal_matching(e, partitions=8),
    "densest": lambda e: densest_subgraph(e, partitions=8),
    "mis": lambda e: maximal_independent_set(e, partitions=8),
}


@pytest.mark.parametrize("case", sorted(PEEL_JOBS_BEFORE))
def test_peelers_halve_their_jobs(spark, case):
    edges = edges_b(spark, "/root/testdata/sf0.01")
    PEEL[case](edges)  # warm: the parquet scan's own jobs
    n = _jobs(spark, f"peel{case}", lambda: PEEL[case](edges))
    assert n <= PEEL_JOBS_BEFORE[case] // 2


# jobs of a 2-superstep call when each set-up fact was a pass of its own
# (vertex-set pin, hub probe, tol mode's dangling flag and its td collect)
SETUP_JOBS_BEFORE = {"hubfree": 8, "salted": 11, "tol": 10, "cc": 8, "lp": 8}


@pytest.mark.parametrize("case", sorted(SETUP_JOBS_BEFORE))
def test_setup_reads_one_degree_table(spark, rmat, path, case):
    """The vertex set, hub set, dangling flag and V come from one pinned
    degree table: a 2-superstep call runs at least 2 jobs fewer."""
    assert spark.conf.get(AQE) == "true"
    n = _jobs(spark, f"setup{case}", lambda: _run(spark, case, rmat, path, 2))
    assert n <= SETUP_JOBS_BEFORE[case] - 2


def _superstep_plans(monkeypatch, pinned=None):
    """Record the executed plan of every frame the kernel pins (and the
    pinned frames themselves in ``pinned``)."""
    plans = []

    def spy(df):
        out = pin_checkpoint(df)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        if pinned is not None:
            pinned.append(out)
        return out

    monkeypatch.setattr(gcommon, "pin_checkpoint", spy)
    return plans


def _size_bits(df):
    """Bit length of the optimizer's size estimate of ``df``."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()).bit_length()
    except ValueError:  # over 4300 decimal digits: py4j cannot convert it
        return float("inf")


@pytest.mark.parametrize("case", ["tol", "cc", "lp", *FIXED, *PATH_GATHER, *FRONTIER,
                                  "pprpush", "louvain"])
def test_superstep_state_size_estimate_grows_linearly(spark, rmat, path, monkeypatch, case):
    """Each superstep's state keeps its origin plan's size estimate.  When
    tol-mode PageRank joined its update back to the old state, the
    estimate squared every superstep, and after ~15 supersteps the planner
    spent minutes on BigInteger products.  The kernel's superstep shape,
    the state joined with agg(propagate(blocks, state)), adds a constant
    number of bits a superstep; so does a frontier program's, the union
    of its state and the new rows.  Louvain reads its state on both sides
    of a join, and dedups one side on id to keep the estimate linear."""
    pinned, n = [], 22
    _superstep_plans(monkeypatch, pinned)
    out = _run(spark, case, rmat, path, n)
    if isinstance(out, tuple):
        assert len(out[1]) == n  # no early stop: every superstep ran
    bits = [_size_bits(df) for df in pinned[-n:]]
    assert max(b - a for a, b in zip(bits, bits[1:])) <= 64, bits


@pytest.mark.parametrize("layout,exchanges", [("hubfree", 1), ("salted", 2), ("lp", 1)])
def test_pagerank_superstep_plan_audit(spark, rmat, monkeypatch, layout, exchanges):
    """``lp``: label propagation's mode of the neighbours' labels is one
    hash aggregate with a map-side partial (the count-then-argmax it
    replaced took two Exchanges and a sort-based aggregate)."""
    plans = _superstep_plans(monkeypatch)
    if layout == "lp":
        ranks, _ = label_propagation(rmat, max_iter=2, partitions=8)
    else:
        ranks, _ = prmod.pagerank(rmat, num_iters=2, partitions=8, **LAYOUTS[layout])
    step = plans[-1]  # the last superstep's state
    if layout == "lp":  # a Project sits above LP's Observation
        assert "CollectMetrics lp_changes_1" in step
    else:
        assert step.startswith("CollectMetrics mass_1")
    assert len(re.findall(r"Exchange ", step)) == exchanges
    assert ("salt#" in step) == (layout == "salted")
    assert "Sort" not in step and "NestedLoopJoin" not in step
    # the leaves are the pinned blocks, state (read once for its
    # contributions, once for the update) and salt map; the
    # dangling correction is a literal, not a createDataFrame relation
    # (a Python-RDD scan, which ran a Python-worker job every superstep)
    leaves = sorted(
        re.sub(r"#\d+L?", "", cols)
        for cols in re.findall(r"Scan ExistingRDD\[([^\]]*)\]", step)
    )
    expected = {
        "hubfree": ["id,rank", "id,rank", "src,dsts,out_degree"],
        "salted": ["id,rank", "id,rank", "src,salt,dsts,out_degree", "src,salts"],
        "lp": ["id,label", "id,label", "src,dsts,out_degree"],
    }
    assert leaves == expected[layout]
    assert "hashpartitioning(id#" in (
        ranks._jdf.queryExecution().executedPlan().outputPartitioning().toString()
    )


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_pagerank_state_keeps_nondefault_partitions(spark, rmat, layout):
    P = 12
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) != P
    ranks, _ = prmod.pagerank(rmat, num_iters=2, partitions=P, **LAYOUTS[layout])
    part = ranks._jdf.queryExecution().executedPlan().outputPartitioning().toString()
    assert re.fullmatch(rf"hashpartitioning\(id#\d+L?, {P}\)", part), part
    assert ranks.rdd.getNumPartitions() == P


@pytest.mark.parametrize("prior", ["true", "false"])
def test_pin_checkpoint_restores_aqe(spark, rmat, prior):
    old = spark.conf.get(AQE)
    spark.conf.set(AQE, prior)
    try:
        prmod.pagerank(rmat, num_iters=1, partitions=8)
        assert spark.conf.get(AQE) == prior
        prmod.pagerank(rmat, tol=1e-3, max_iter=2, partitions=8)
        assert spark.conf.get(AQE) == prior
        # the first pinned frame (the vertex set) fails at run time
        bad = rmat.select(
            "src", F.when(F.col("dst") >= 0, F.raise_error(F.lit("boom"))).cast(
                "long").alias("dst"),
        )
        with pytest.raises(Exception, match="boom"):
            prmod.pagerank(bad, num_iters=1, partitions=8)
        assert spark.conf.get(AQE) == prior
    finally:
        spark.conf.set(AQE, old)


def _no_metrics(algo):
    """``algo``, which returns a frame only, as (frame, [])."""
    return lambda edges, **kw: (algo(edges, **kw), [])


@pytest.mark.parametrize("mode", [
    (prmod.pagerank, {"num_iters": 3}, ["rank"]),
    (prmod.pagerank, {"tol": 1e-6}, ["rank"]),
    (connected_components, {}, ["component"]),
    (label_propagation, {}, ["label"]),
    (_no_metrics(katz_centrality), {}, ["katz_e6"]),
    (_no_metrics(eigenvector_centrality), {}, ["eig_e6"]),
    (_no_metrics(salsa), {}, ["hub_e6", "auth_e6"]),
    (_no_metrics(hits), {}, ["hub", "authority"]),
    (_no_metrics(hyperball), {}, ["sum_int", "ball_e6"]),
    (core_numbers, {}, ["core"]),
    (_no_metrics(wl_refinement), {}, ["color"]),
])
def test_pagerank_empty_edges(spark, mode):
    algo, kw, cols = mode
    edges = spark.createDataFrame([], "src long, dst long")
    ranks, metrics = algo(edges, partitions=8, **kw)
    assert metrics == []
    assert ranks.columns == ["id", *cols]
    assert ranks.count() == 0


def _from_0(algo):
    """The frontier program ``algo`` run from source 0."""
    return lambda edges, **kw: algo(
        edges, edges.sparkSession.createDataFrame([(0,)], "id long"), **kw)


@pytest.mark.parametrize("algo", [
    prmod.pagerank, prmod.personalized_pagerank, prmod.pagerank_weighted,
    connected_components, label_propagation,
    katz_centrality, eigenvector_centrality, salsa, hits, hyperball,
    core_numbers, wl_refinement,
    *(pytest.param(_from_0(a), id=case) for case, (a, _, _) in FRONTIER.items()),
    strongly_connected_components, condensation_levels, truss_numbers, louvain_sync,
    pytest.param(lambda edges, **kw: ppr_push(edges, seed=0, **kw), id="pprpush"),
    maximal_independent_set, jones_plassmann_coloring, maximal_matching, densest_subgraph,
    pytest.param(lambda edges, **kw: kcore_vertices(edges, 2, **kw), id="kcore_vertices"),
    pytest.param(lambda edges, **kw: ktruss_edges(edges, 3, **kw), id="ktruss_edges"),
    connected_components_star,
])
def test_kernel_null_id_raises(spark, algo):
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (None, 2, 1.0)], "src long, dst long, weight double"
    )
    kw = {"sources": spark.createDataFrame([(0,)], "id long")} \
        if algo is prmod.personalized_pagerank else {}
    with pytest.raises(ValueError, match="null vertex ids in column 'id'"):
        algo(edges, partitions=8, **kw)


@pytest.mark.parametrize("case", sorted(FRONTIER))
def test_frontier_null_or_empty_sources(spark, edges30, case):
    """A null source raises naming ``id``; no sources give an empty frame
    and no metrics."""
    algo = FRONTIER[case][0]
    edges = edges30.withColumn("weight", F.lit(1).cast("long"))
    with pytest.raises(ValueError, match="null vertex ids in column 'id'"):
        algo(edges, spark.createDataFrame([(0,), (None,)], "id long"), partitions=8)
    out = algo(edges, spark.createDataFrame([], "id long"), partitions=8)
    frame, metrics = out if isinstance(out, tuple) else (out, [])
    assert metrics == []
    assert frame.count() == 0


def test_checkpoint_refuses_other_edges(spark, edges30, tmp_path):
    ck = str(tmp_path / "pr")
    prmod.pagerank(edges30, num_iters=2, partitions=8, checkpoint_dir=ck)
    other = edges30.filter(F.col("src") != 0)
    with pytest.raises(ValueError, match="edges differs"):
        prmod.pagerank(other, num_iters=4, partitions=8, checkpoint_dir=ck)
    # checkpoints whose identity is gone are refused too
    os.remove(os.path.join(ck, "identity.json"))
    with pytest.raises(ValueError, match="identity.json is missing"):
        prmod.pagerank(edges30, num_iters=4, partitions=8, checkpoint_dir=ck)


def test_checkpoint_refuses_other_damping(spark, edges30, tmp_path):
    ck = str(tmp_path / "pr")
    prmod.pagerank(edges30, num_iters=2, partitions=8, checkpoint_dir=ck)
    with pytest.raises(ValueError, match="damping differs"):
        prmod.pagerank(edges30, damping=0.9, num_iters=4, partitions=8, checkpoint_dir=ck)
    # max_iter / num_iters / tol / partitions are not part of the identity
    _, metrics = prmod.pagerank(edges30, num_iters=4, partitions=4, checkpoint_dir=ck)
    assert [m["iteration"] for m in metrics] == [0, 1, 2, 3]


def test_personalized_pagerank_empty_sources(spark, edges30):
    sources = spark.createDataFrame([], "id long")
    with pytest.raises(ValueError, match="sources"):
        prmod.personalized_pagerank(edges30, sources=sources, partitions=8)


def test_weighted_pagerank_empty_edges(spark):
    edges = spark.createDataFrame([], "src long, dst long, weight double")
    ranks = prmod.pagerank_weighted(edges, partitions=8)
    assert ranks.columns == ["id", "rank"]
    assert ranks.count() == 0
