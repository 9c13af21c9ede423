"""Densest subgraph by parallel peeling (Charikar greedy, Bahmani et al.
batch removal) — the link-farm / spam-cluster detector: the subgraph
maximizing |E|/|V| is where mutual-admiration link schemes concentrate.

Each round: density of the current subgraph is recorded, then every
vertex with degree at or below the current average (deg·V ≤ 2E — the
ε=0 batch-peel, all-integer so the removal set is engine-portable) is
removed at once.  The answer is the round with maximum density; the
density key ``E·10^9 // V`` is exact integer arithmetic, ties broken by
earliest round.  Rounds are O(log V) in practice (measured ≤6 on the
derived graphs); each is one degree aggregation + two semi-joins — the
k-core peel shape (algos/kcore.py) with a global E/V threshold instead
of a constant k.  A round pins its degree table on id, and V and E
ride that pin (V its row count, E = Σd / 2); the edge state is pinned
on its low endpoint.

Returns the best subgraph's vertex set (with its density key) plus
per-round metrics.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .gcommon import pin_canonical, pin_checkpoint, pin_vertices


def densest_subgraph(
    edges: DataFrame,
    max_rounds: int = 30,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Returns ``(best(id, density_e9), metrics)`` over the undirected
    simple view of ``edges``."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    algo = "densest_subgraph"

    cur, _ = pin_canonical(edges, P, algo)
    best_key, best_v = -1, None
    metrics: list[dict] = []

    for rnd in range(max_rounds):
        t0 = time.time()
        obs = Observation()
        deg, nv = pin_vertices(
            cur.select(F.col("a").alias("id"))
            .union(cur.select(F.col("b").alias("id")))
            .groupBy("id").agg(F.count(F.lit(1)).alias("d")),
            P, algo, obs=obs, aggs=(F.sum("d").alias("sd"),),
        )
        if nv == 0:
            break
        ne = int(obs.get["sd"]) // 2
        key = ne * 1_000_000_000 // nv
        if key > best_key:
            best_key, best_v = key, deg
        keep = deg.filter(F.col("d") * nv > 2 * ne).select("id")
        cur = pin_checkpoint(
            cur.join(keep.withColumnRenamed("id", "a").hint("shuffle_hash"),
                     "a", "left_semi")
            .join(keep.withColumnRenamed("id", "b").hint("shuffle_hash"),
                  "b", "left_semi")
            .repartition(P, "a")
        )
        metrics.append({"round": rnd, "V": nv, "E": ne,
                        "density_e9": key, "seconds": time.time() - t0})

    return best_v.select("id", F.lit(best_key).cast("long").alias("density_e9")), metrics
