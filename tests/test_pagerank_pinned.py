"""The pinned superstep kernel (``gcommon``), checked with the session's AQE
on: one Spark job per superstep for PageRank's three variants, connected
components and label propagation; one Exchange per PageRank superstep on
a hub-free graph and two on a salted one; a rank state that keeps
hashpartitioning(id, P); and an AQE setting that ``pin_checkpoint``
always restores.  Also the degenerate inputs (an empty edge table, a null
id, an empty personalization set) and a checkpoint that refuses to resume
against another graph, another damping or without its identity."""

import importlib
import os
import re

import pytest
from pyspark.sql import functions as F

from linkgraph import datagen
from linkgraph.algos.components import connected_components
from linkgraph.algos.gcommon import pin_checkpoint
from linkgraph.algos.labelprop import label_propagation

prmod = importlib.import_module("linkgraph.algos.pagerank")
gcommon = importlib.import_module("linkgraph.algos.gcommon")

AQE = "spark.sql.adaptive.enabled"
# hub-free: no src above the default block size; salted: a block size of
# 16 splits the R-MAT graph's high-degree sources across salts
LAYOUTS = {"hubfree": {}, "salted": {"hub_degree_threshold": 16}}


@pytest.fixture(scope="module")
def rmat(spark):
    edges = datagen.rmat_edges(spark, 3000, 9, partitions=8).persist()
    edges.count()
    yield edges
    edges.unpersist()


@pytest.fixture(scope="module")
def path(spark):
    """A 60-vertex path: CC and LP still change labels after 4 supersteps."""
    return spark.createDataFrame([(i, i + 1) for i in range(59)], "src long, dst long")


def _run(spark, case, rmat, path, n):
    """``n`` supersteps of one kernel algorithm on a graph where it runs
    all ``n`` of them."""
    if case in LAYOUTS:
        return prmod.pagerank(rmat, num_iters=n, partitions=8, **LAYOUTS[case])
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


@pytest.mark.parametrize("case", sorted(LAYOUTS) + ["cc", "lp", "ppr", "weighted"])
def test_pagerank_one_job_per_extra_superstep(spark, rmat, path, case):
    assert spark.conf.get(AQE) == "true"
    n2 = _jobs(spark, f"pin2{case}", lambda: _run(spark, case, rmat, path, 2))
    n4 = _jobs(spark, f"pin4{case}", lambda: _run(spark, case, rmat, path, 4))
    assert n4 - n2 == 2


def _superstep_plans(monkeypatch):
    """Record the executed plan of every frame the kernel pins."""
    plans = []

    def spy(df):
        out = pin_checkpoint(df)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(gcommon, "pin_checkpoint", spy)
    return plans


@pytest.mark.parametrize("layout,exchanges", [("hubfree", 1), ("salted", 2)])
def test_pagerank_superstep_plan_audit(spark, rmat, monkeypatch, layout, exchanges):
    plans = _superstep_plans(monkeypatch)
    ranks, _ = prmod.pagerank(rmat, num_iters=2, partitions=8, **LAYOUTS[layout])
    step = plans[-1]  # the last superstep's state
    assert step.startswith("CollectMetrics mass_1")
    assert len(re.findall(r"Exchange ", step)) == exchanges
    assert ("salt#" in step) == (layout == "salted")
    assert "Sort " not in step and "NestedLoopJoin" not in step
    # the leaves are the pinned vertices, blocks, state and salt map; the
    # dangling correction is a literal, not a createDataFrame relation
    # (a Python-RDD scan, which ran a Python-worker job every superstep)
    leaves = sorted(
        re.sub(r"#\d+L?", "", cols)
        for cols in re.findall(r"Scan ExistingRDD\[([^\]]*)\]", step)
    )
    expected = {
        "hubfree": ["id", "id,rank", "src,dsts,out_degree"],
        "salted": ["id", "id,rank", "src,salt,dsts,out_degree", "src,salts"],
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


@pytest.mark.parametrize("mode", [
    (prmod.pagerank, {"num_iters": 3}, "rank"),
    (prmod.pagerank, {"tol": 1e-6}, "rank"),
    (connected_components, {}, "component"),
    (label_propagation, {}, "label"),
])
def test_pagerank_empty_edges(spark, mode):
    algo, kw, col = mode
    edges = spark.createDataFrame([], "src long, dst long")
    ranks, metrics = algo(edges, partitions=8, **kw)
    assert metrics == []
    assert ranks.columns == ["id", col]
    assert ranks.count() == 0


@pytest.mark.parametrize("algo", [
    prmod.pagerank, prmod.personalized_pagerank, prmod.pagerank_weighted,
    connected_components, label_propagation,
])
def test_kernel_null_id_raises(spark, algo):
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (None, 2, 1.0)], "src long, dst long, weight double"
    )
    kw = {"sources": spark.createDataFrame([(0,)], "id long")} \
        if algo is prmod.personalized_pagerank else {}
    with pytest.raises(ValueError, match="null vertex ids in column 'id'"):
        algo(edges, partitions=8, **kw)


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
