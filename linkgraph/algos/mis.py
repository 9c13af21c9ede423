"""Maximal independent set via Luby's algorithm with deterministic
hash priorities.

Classic O(log V)-round parallel MIS: each round, a vertex joins the MIS
iff its priority is a strict local minimum among its still-active
neighbors; winners and their neighbors leave the active set.  Priorities
are the arithmetic hash ``p(v) = (v·A + B) mod M`` (``gcommon.priority``)
with M = 2^31-1 prime and A coprime to M — injective on [0, M), so ties
are impossible and the result is bit-reproducible in any engine (the
same no-RNG determinism as the engine's hash-walk,
algos/paths.random_walks).

Each round is one neighbor-min aggregation over the active adjacency
(grouped min, map-side combinable) plus two anti-joins.  The winners, the
active set and the active adjacency are pins that keep their hash
partitioning (on id, the adjacency on src), and the winner and active
counts ride those pins.

Oracle: 8-round unrolled SQL twin (suite.py) + a sequential Python Luby
in pytest; independence and maximality are also asserted directly.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import pin_checkpoint, pin_sym, pin_vertices, priority


def local_minima(active: DataFrame, edges: DataFrame) -> DataFrame:
    """(id): the ``active`` vertices whose priority is below that of each
    neighbour in ``edges`` (src, dst), the active adjacency: the winners
    of a Luby (MIS) or Jones–Plassmann (colouring) round."""
    nbr_min = edges.groupBy(F.col("src").alias("id")).agg(
        F.min(priority("dst")).alias("nmin"))
    return (
        active.join(nbr_min.hint("shuffle_hash"), "id", "left")
        .filter(F.col("nmin").isNull() | (priority("id") < F.col("nmin")))
        .select("id")
    )


def restrict(edges: DataFrame, active: DataFrame, P: int) -> DataFrame:
    """The adjacency ``edges`` (src, dst) between ``active`` vertices,
    pinned on src."""
    return pin_checkpoint(
        edges.join(active.withColumnRenamed("id", "src").hint("shuffle_hash"),
                   "src", "left_semi")
        .join(active.withColumnRenamed("id", "dst").hint("shuffle_hash"),
              "dst", "left_semi")
        .repartition(P, "src")
    )


def maximal_independent_set(
    edges: DataFrame,
    max_rounds: int = 50,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Returns (mis(id), metrics) over the undirected view of ``edges``."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    algo = "maximal_independent_set"

    ae, _ = pin_sym(edges, P, algo)
    active, _ = pin_vertices(ae.select(F.col("src").alias("id")).distinct(), P, algo)
    mis_parts: list[DataFrame] = []
    metrics: list[dict] = []

    for rnd in range(max_rounds):
        t0 = time.time()
        w, n_win = pin_vertices(local_minima(active, ae), P, algo)
        mis_parts.append(w)
        # remove winners and their neighbors from the active set
        loser = (
            ae.join(w.withColumnRenamed("id", "src").hint("shuffle_hash"),
                    "src", "left_semi")
            .select(F.col("dst").alias("id"))
            .dropDuplicates(["id"])
        )
        active, n_active = pin_vertices(
            active.join(w.hint("shuffle_hash"), "id", "left_anti")
            .join(loser.hint("shuffle_hash"), "id", "left_anti"),
            P, algo,
        )
        metrics.append(
            {"round": rnd, "winners": n_win, "active": n_active,
             "seconds": time.time() - t0}
        )
        if n_active == 0:
            break
        ae = restrict(ae, active, P)

    out = mis_parts[0]
    for p_ in mis_parts[1:]:
        out = out.union(p_)
    return out, metrics
