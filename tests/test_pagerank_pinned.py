"""PageRank's pinned superstep, checked with the session's AQE on: one Spark
job per superstep, one Exchange per superstep on a hub-free graph and two
on a salted one, a rank state that keeps hashpartitioning(id, P), and an
AQE setting that ``pin_checkpoint`` always restores.  Also the degenerate
inputs: an empty edge table and an empty personalization set."""

import importlib
import re

import pytest
from pyspark.sql import functions as F

from linkgraph import datagen
from linkgraph.algos.gcommon import pin_checkpoint

prmod = importlib.import_module("linkgraph.algos.pagerank")

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


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("default", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_pagerank_one_job_per_extra_superstep(spark, rmat, layout):
    assert spark.conf.get(AQE) == "true"
    kw = dict(partitions=8, **LAYOUTS[layout])
    n2 = _jobs(spark, f"pin2{layout}", lambda: prmod.pagerank(rmat, num_iters=2, **kw))
    n4 = _jobs(spark, f"pin4{layout}", lambda: prmod.pagerank(rmat, num_iters=4, **kw))
    assert n4 - n2 == 2


def _superstep_plans(monkeypatch):
    """Record the executed plan of every frame ``pagerank`` pins."""
    plans = []

    def spy(df):
        out = pin_checkpoint(df)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(prmod, "pin_checkpoint", spy)
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


@pytest.mark.parametrize("mode", [{"num_iters": 3}, {"tol": 1e-6}])
def test_pagerank_empty_edges(spark, mode):
    edges = spark.createDataFrame([], "src long, dst long")
    ranks, metrics = prmod.pagerank(edges, partitions=8, **mode)
    assert metrics == []
    assert ranks.columns == ["id", "rank"]
    assert ranks.count() == 0


def test_personalized_pagerank_empty_sources(spark, edges30):
    sources = spark.createDataFrame([], "id long")
    with pytest.raises(ValueError, match="sources"):
        prmod.personalized_pagerank(edges30, sources=sources, partitions=8)


def test_weighted_pagerank_empty_edges(spark):
    edges = spark.createDataFrame([], "src long, dst long, weight double")
    ranks = prmod.pagerank_weighted(edges, partitions=8)
    assert ranks.columns == ["id", "rank"]
    assert ranks.count() == 0
