"""FourChain 3-orientation importance sampler (FourChain.cpp twin).

The reference mixes three sampling orders uniformly
(/root/reference/applications/FourChain.cpp:23-125); because every
``conditional_sample_edge`` only admits edges with id greater than all
previously sampled ids (/root/reference/src/ZGraphInstance.cpp:128-140),
the plans PARTITION 4-chains by the id-rank of the middle edge:
plan 3 covers chains whose middle edge id is the minimum, plan 1 the
median, plan 2 the maximum.  These tests assert (a) the mixture is within
ε of the exact count, (b) the plan-conditional estimates behave as class
counts: non-negative, each below the total, and summing to the total
(within sampling noise), and (c) determinism at different parallelism.
"""

import pytest

import oracles
from linkgraph.algos.triangles import four_chain_count_sampled_multiplan
from linkgraph.datagen import expected_edges

EDGES = expected_edges(30)


@pytest.fixture(scope="module")
def exact():
    return oracles.four_chain_count_oracle(EDGES)


def test_multiplan_within_eps(spark, edges30, exact):
    est = four_chain_count_sampled_multiplan(
        edges30, num_estimators=20000, seed=7, partitions=8
    )
    assert abs(est - exact) / exact < 0.15


def test_plan_conditional_estimates_partition_the_count(spark, edges30, exact):
    parts = [
        four_chain_count_sampled_multiplan(
            edges30, num_estimators=20000, seed=7, partitions=8, plan_only=p
        )
        for p in (1, 2, 3)
    ]
    assert all(p >= 0 for p in parts)
    # each id-rank class is a strict subset of all chains
    assert all(p < exact for p in parts)
    # the three classes partition the chains: sums to the total
    assert abs(sum(parts) - exact) / exact < 0.15


def test_multiplan_deterministic_across_parallelism(spark, edges30):
    a = four_chain_count_sampled_multiplan(
        edges30, num_estimators=5000, seed=3, partitions=2
    )
    b = four_chain_count_sampled_multiplan(
        edges30, num_estimators=5000, seed=3, partitions=8
    )
    assert a == b
