"""File-format sources roundtrip + adaptive stopping + sampled estimators."""

import math
import os
import random

import pytest

from linkgraph import adaptive, datagen, sources
import oracles

V = 30
EDGES = datagen.expected_edges(V)


@pytest.fixture()
def tmp_graph_dir(tmp_path):
    return str(tmp_path)


def test_edgelist_roundtrip(spark, edges30, tmp_graph_dir):
    path = os.path.join(tmp_graph_dir, "g.edgelist")
    sources.write_edgelist(edges30, path, V)
    assert sources.edgelist_meta(path) == (V, len(EDGES))
    back = sources.read_edgelist(spark, path)
    assert sorted((r["src"], r["dst"]) for r in back.collect()) == sorted(EDGES)


def test_biedgelist_roundtrip(spark, edges30, tmp_graph_dir):
    path = os.path.join(tmp_graph_dir, "g.biedgelist")
    sources.write_biedgelist(edges30, path)
    assert os.path.getsize(path) == 8 * len(EDGES)  # 2 x uint32 / edge
    back = sources.read_biedgelist(spark, path)
    assert sorted((r["src"], r["dst"]) for r in back.collect()) == sorted(EDGES)


def test_biedgelist_weighted_roundtrip(spark, edges30, tmp_graph_dir):
    from pyspark.sql import functions as F

    w = edges30.withColumn("weight", (F.col("src") * 7 + F.col("dst")) % 79)
    path = os.path.join(tmp_graph_dir, "gw.biedgelist")
    sources.write_biedgelist(w, path, weighted=True)
    back = sources.read_biedgelist(spark, path, weighted=True)
    exp = sorted((s, d, (s * 7 + d) % 79) for s, d in EDGES)
    assert sorted(tuple(r) for r in back.collect()) == exp


def test_edgelist_sharded_roundtrip(spark, edges30, tmp_graph_dir):
    d = os.path.join(tmp_graph_dir, "g_sharded")
    sources.write_edgelist_sharded(edges30.repartition(5), d, V)
    assert sources.edgelist_sharded_meta(d) == (V, len(EDGES))
    back = sources.read_edgelist_sharded(spark, d)
    assert sorted((r["src"], r["dst"]) for r in back.collect()) == sorted(EDGES)
    # distributed sink: multiple shard files, no driver-collect single file
    parts = [f for f in os.listdir(d) if f.startswith("part-")]
    assert len(parts) > 1


def test_biedgelist_sharded_roundtrip(spark, edges30, tmp_graph_dir):
    d = os.path.join(tmp_graph_dir, "gb_sharded")
    sources.write_biedgelist_sharded(edges30.repartition(4), d)
    parts = [f for f in os.listdir(d) if f.endswith(".biedgelist")]
    assert len(parts) > 1
    total = sum(os.path.getsize(os.path.join(d, f)) for f in parts)
    assert total == 8 * len(EDGES)  # 2 x uint32 / edge, exactly once overall
    back = sources.read_biedgelist(spark, d)
    assert sorted((r["src"], r["dst"]) for r in back.collect()) == sorted(EDGES)


def test_biedgelist_sharded_overwrite_clears_stale_shards(
    spark, edges30, tmp_graph_dir
):
    """Re-writing with fewer partitions must not leave stale shards that
    read_biedgelist's directory glob would silently include as duplicate
    edges (df.write mode='overwrite' semantics)."""
    d = os.path.join(tmp_graph_dir, "gb_overwrite")
    sources.write_biedgelist_sharded(edges30.repartition(4), d)
    sources.write_biedgelist_sharded(edges30.repartition(1), d)
    parts = [f for f in os.listdir(d) if f.endswith(".biedgelist")]
    assert len(parts) == 1
    back = sources.read_biedgelist(spark, d)
    assert sorted((r["src"], r["dst"]) for r in back.collect()) == sorted(EDGES)


def test_densify_ids(spark):
    e = spark.createDataFrame(
        [(100, 7), (7, 100), (100, 100), (7, 55), (100, 7)], "src long, dst long"
    )
    dense, mapping = sources.densify_ids(e)
    mp = {r["orig_id"]: r["id"] for r in mapping.collect()}
    assert mp == {7: 0, 55: 1, 100: 2}  # rank order
    got = sorted((r["src"], r["dst"]) for r in dense.collect())
    assert got == sorted([(2, 0), (0, 2), (0, 1)])


def test_iestop_converges_to_mean():
    random.seed(42)
    st = adaptive.IEStop(alpha=0.05, delta=0.02)
    mean = st.run(lambda i: random.gauss(100.0, 5.0))
    assert st.n >= st.min_samples
    assert abs(mean - 100.0) / 100.0 < 0.02


def test_ebstop_stops_and_brackets():
    random.seed(7)
    st = adaptive.EBStop(eps=0.05, delta=0.05, value_range=20.0, max_samples=50_000)
    while not st.add(random.uniform(40, 60)):
        pass
    assert abs(st.mean - 50.0) / 50.0 < 0.05


def test_fit_k_exact():
    assert adaptive.fit_k([(1.0, 3.0), (2.0, 6.0), (5.0, 15.0)]) == pytest.approx(3.0)


def test_size_estimators_scales_with_variance():
    low = adaptive.size_estimators([10.0, 10.1, 9.9, 10.05, 9.95], eps=0.05)
    high = adaptive.size_estimators([1.0, 19.0, 2.0, 18.0, 10.0], eps=0.05)
    assert high > low


def test_three_chain_sampled_within_eps(spark, edges30):
    from linkgraph.algos.triangles import three_chain_count_sampled

    exact = oracles.three_chain_count_oracle(V, EDGES)
    est = three_chain_count_sampled(edges30, num_estimators=20_000, seed=11)
    assert abs(est - exact) / exact < 0.15


def test_adaptive_loop_drives_spark_batches(spark, edges30):
    """IEStop as the driver loop over per-batch sampled estimates (the
    reference's main-rank work pump, sampling/main.cpp:97-146)."""
    from linkgraph.algos.triangles import three_chain_count_sampled

    exact = oracles.three_chain_count_oracle(V, EDGES)
    st = adaptive.IEStop(alpha=0.05, delta=0.05, min_samples=5, max_samples=12)
    mean = st.run(
        lambda i: three_chain_count_sampled(edges30, num_estimators=2_000, seed=100 + i)
    )
    assert abs(mean - exact) / exact < 0.2


def test_time_budget_doubling_schedule_fake_clock():
    """TimeProfile::run twin (ErrorLatencyProfile.cpp:25-47): batches
    double while the predicted next batch (2x the last one's cost) fits,
    then one pro-rated remainder batch spends what's left.  Costs are
    powers of two so the arithmetic is float-exact."""
    state = {"t": 0.0}

    def clock():
        return state["t"]

    def calculate(n):
        state["t"] += n / 1024.0  # each estimator costs 1/1024 s
        return 1.0

    tb = adaptive.TimeBudget(time_limit=1.0, base_batch=64)
    est = tb.run(calculate, clock=clock)
    # 64+128+256+512 = 0.9375 s used; next would cost 1.0 s -> stop;
    # remainder = 1024 * (1 - 0.9375) / (2 * 0.5) = 64
    assert tb.batches == [64, 128, 256, 512, 64]
    assert tb.n == 1024
    assert est == 1.0
    assert state["t"] <= 1.0 + 1e-12


def test_time_budget_fold_equals_flat_run():
    """The incremental weighted-mean fold (ZGraphInstance.cpp:24-27)
    over the doubling batches equals one flat mean over the same draws."""
    vals = [math.sin(i) + 2.0 for i in range(4096)]
    consumed = []
    state = {"t": 0.0}

    def clock():
        return state["t"]

    def calculate(n):
        batch = vals[len(consumed):len(consumed) + n]
        consumed.extend(batch)
        state["t"] += n / 512.0
        return sum(batch) / len(batch)

    tb = adaptive.TimeBudget(time_limit=1.0, base_batch=16)
    est = tb.run(calculate, clock=clock)
    assert len(tb.batches) > 2  # actually exercised the doubling loop
    assert tb.n == len(consumed)
    flat = sum(consumed) / len(consumed)
    assert est == pytest.approx(flat, rel=1e-12)


def test_time_budget_runaway_guard():
    """A clock that never advances must not loop forever."""
    tb = adaptive.TimeBudget(time_limit=1.0, base_batch=2, max_batches=5)
    tb.run(lambda n: 1.0, clock=lambda: 0.0)
    assert tb.batches == [2, 4, 8, 16, 32]


def test_time_budget_spark_triangle_estimate(spark, edges30):
    """Real wall clock driving Spark batches: the budgeted estimate is an
    unbiased fold of triangle_count_sampled batches (seed varies per
    batch so draws are independent)."""
    from linkgraph.algos.triangles import triangle_count_sampled

    exact = oracles.triangle_count_oracle(EDGES)
    tb = adaptive.TimeBudget(time_limit=20.0, base_batch=2_000,
                             max_batches=3)
    est = tb.run(
        lambda n: triangle_count_sampled(
            edges30, num_estimators=n, seed=300 + len(tb.batches))
    )
    assert tb.n >= 2_000
    assert abs(est - exact) / exact < 0.25
