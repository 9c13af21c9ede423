"""Maximal independent set via Luby's algorithm with deterministic
hash priorities.

Classic O(log V)-round parallel MIS: each round, a vertex joins the MIS
iff its priority is a strict local minimum among its still-active
neighbors; winners and their neighbors leave the active set.  Priorities
are the arithmetic hash ``p(v) = (v·A + B) mod M`` with M = 2^31-1 prime
and A coprime to M — injective on [0, M), so ties are impossible and the
result is bit-reproducible in any engine (the same no-RNG determinism as
the engine's hash-walk, algos/paths.random_walks).

Each round is one neighbor-min aggregation over the active adjacency
(grouped min, map-side combinable) plus two anti-joins — the same
join-agg superstep shape as the CC loop, state hash-partitioned on id.

Oracle: 8-round unrolled SQL twin (suite.py) + a sequential Python Luby
in pytest; independence and maximality are also asserted directly.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import ckpt, norm_edges

PRI_A = 1_000_003
PRI_B = 12345
PRI_M = (1 << 31) - 1


def maximal_independent_set(
    edges: DataFrame,
    max_rounds: int = 50,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Returns (mis(id), metrics) over the undirected view of ``edges``."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    ae = norm_edges(edges, P, materialize="checkpoint")
    pri = lambda c: (F.col(c) * PRI_A + PRI_B) % PRI_M  # noqa: E731

    active = ckpt(
        ae.select(F.col("src").alias("id")).distinct(), P, "id"
    )
    mis_parts: list[DataFrame] = []
    metrics: list[dict] = []

    for rnd in range(max_rounds):
        t0 = time.time()
        # min active-neighbor priority per active vertex
        nbr_min = (
            ae.groupBy(F.col("src").alias("id"))
            .agg(F.min((F.col("dst") * PRI_A + PRI_B) % PRI_M).alias("nmin"))
        )
        winners = (
            active.join(nbr_min.hint("shuffle_hash"), "id", "left")
            .filter(F.col("nmin").isNull() | (pri("id") < F.col("nmin")))
            .select("id")
        )
        w = ckpt(winners, P, "id")
        n_win = w.count()
        mis_parts.append(w)
        # remove winners and their neighbors from the active set
        loser = (
            ae.join(w.withColumnRenamed("id", "src").hint("shuffle_hash"),
                    "src", "left_semi")
            .select(F.col("dst").alias("id"))
            .dropDuplicates(["id"])
        )
        active = ckpt(
            active.join(w.hint("shuffle_hash"), "id", "left_anti")
            .join(loser.hint("shuffle_hash"), "id", "left_anti"),
            P, "id",
        )
        n_active = active.count()
        metrics.append(
            {"round": rnd, "winners": n_win, "active": n_active,
             "seconds": time.time() - t0}
        )
        if n_active == 0:
            break
        ae = ckpt(
            ae.join(active.withColumnRenamed("id", "src").hint("shuffle_hash"),
                    "src", "left_semi")
            .join(active.withColumnRenamed("id", "dst").hint("shuffle_hash"),
                  "dst", "left_semi"),
            P, "src",
        )

    out = mis_parts[0]
    for p_ in mis_parts[1:]:
        out = out.union(p_)
    return ckpt(out, P, "id"), metrics
