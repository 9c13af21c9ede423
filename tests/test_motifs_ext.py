"""Five-house / runtime-k chain / predicate triangle counters vs oracles."""

from pyspark.sql import functions as F

from linkgraph import datagen
import oracles
from linkgraph.algos import motifs

V = 30
EDGES = datagen.expected_edges(V)


def test_five_house_exact(spark, edges30):
    assert motifs.five_house_count(edges30) == oracles.five_house_count_oracle(EDGES)


def test_k_chain_runtime_param(spark, edges30):
    for k in (3, 4, 5):
        assert motifs.k_chain_count(edges30, k) == oracles.k_chain_count_oracle(
            EDGES, k
        ), k


def test_at_least_one_predicate_triangles(spark, edges30):
    w = edges30.withColumn(
        "weight", ((F.col("src") * 31 + F.col("dst") * 7) % 79).cast("long")
    )
    got = motifs.at_least_one_predicate_triangle_count(w, F.col("weight") >= 50)
    # oracle: inclusion-exclusion over exact counts
    all_t = oracles.triangle_count_oracle(EDGES)
    none_edges = [
        (s, d) for s, d in EDGES if not ((s * 31 + d * 7) % 79 >= 50)
    ]
    got_oracle = all_t - oracles.triangle_count_oracle(none_edges)
    assert got == got_oracle
