"""Approximate personalized PageRank by synchronized forward push
(Andersen–Chung–Lang FOCS'06 local clustering), integer-exact.

Power iteration (algos/pprmulti.py) touches every vertex every superstep;
the push method does work proportional to the mass actually moving — the
scale path for single-seed "related pages" queries on a web graph, where
the support of an ε-approximate PPR vector is O(1/ε) regardless of graph
size.  This implementation runs the SYNCHRONIZED variant: each round,
every active vertex (residual ≥ deg·eps) pushes at once — deterministic
round count and state, no priority queue to serialize.

All mass is e9-scaled BIGINT with explicit floor division shared by the
SQL twin, so (p, r) are bit-identical across engines:

    a       = floor(r * ALPHA_NUM / ALPHA_DEN)     # claimed into p
    rem     = r - a
    keep    = floor(rem / 2)                       # lazy self-loop half
    per_nb  = floor((rem - keep) / deg)            # each neighbor's share
    new_r_v = keep + (rem - keep - per_nb*deg)     # dust stays local:
                                                   # total mass conserved

Reference analogue: the estimator mass-update loops of
/root/reference/src/ZGraphInstance.cpp:257-297 (incremental weighted
accumulators); the push scheduling is from the public ACL paper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .gcommon import degree_table, iterate, pin_sym, pin_vertices, send

ALPHA_NUM, ALPHA_DEN = 15, 100  # teleport 0.15
SCALE = 1_000_000_000


def ppr_push(
    edges: DataFrame,
    seed: int,
    rounds: int = 8,
    eps_per_edge: int = 10_000,
    directed: bool = False,
    partitions: int | None = None,
) -> DataFrame:
    """Synchronized ACL forward push from ``seed``; returns
    (id, p, r) e9-scaled BIGINTs for vertices with p > 0 or r > 0.

    Scale: per round, ONE join of the active-vertex state against the
    src-pinned adjacency (cost ∝ Σ deg(active)) plus a grouped sum on the
    receiving vertex — mass-proportional work, state bounded by the
    support of the answer (O(1/eps)).  The rounds are ``gcommon.iterate``
    supersteps over the view and degree table pinned once
    (``gcommon.pin_sym``, ``gcommon.degree_table``): one Spark job a
    round, the state's size riding the pin as ``size``.
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    algo = "ppr_push"

    adj, E = pin_sym(edges, P, algo, directed)
    # id is unique in the degree table; the dedup says so to the planner,
    # which otherwise adds the table's size estimate to the state's (in
    # bits) every round
    deg = degree_table(adj, P, algo).table.select(
        "id", F.col("out_degree").alias("deg")).dropDuplicates(["id"])
    start, _ = pin_vertices(
        spark.createDataFrame([(seed, 0, SCALE)], "id long, p long, r long"), P, algo)

    d = F.coalesce(F.col("deg"), F.lit(0))
    active = (d > 0) & (F.col("r") >= d * F.lit(eps_per_edge))
    a = F.floor(F.col("r") * ALPHA_NUM / ALPHA_DEN).cast("long")
    rem = F.col("r") - a
    keep = F.floor(rem / 2).cast("long")
    per_nb = F.floor((rem - keep) / d).cast("long")
    dust = rem - keep - per_nb * d

    def step(state: DataFrame, obs: Observation, it: int) -> DataFrame:
        # both sides hash(id): no exchange, and no broadcast job a reference
        upd = state.join(deg.hint("shuffle_hash"), "id", "left").select(
            "id",
            F.when(active, F.col("p") + a).otherwise(F.col("p")).alias("p"),
            F.when(active, keep + dust).otherwise(F.col("r")).alias("r"),
            F.when(active, per_nb).otherwise(F.lit(0)).alias("per_nb"),
        )
        pushes = send(upd.filter(F.col("per_nb") > 0), adj, p=F.lit(0).cast("long"),
                      r=F.col("per_nb"))
        return (
            upd.select("id", "p", "r")
            .unionByName(pushes)
            .groupBy("id")
            .agg(F.sum("p").cast("long").alias("p"), F.sum("r").cast("long").alias("r"))
            .observe(obs, F.count(F.lit(1)).alias("size"))
            .repartition(P, "id")
        )

    state, _ = iterate(adj, lambda _: start, step,
                       lambda got: ({"size": int(got["size"])}, False),
                       algo, P, E, rounds)
    return state.filter((F.col("p") > 0) | (F.col("r") > 0))
