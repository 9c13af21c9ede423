"""Distributed graph coloring via Jones–Plassmann with deterministic
hash priorities.

Each superstep, every still-uncolored vertex whose priority is a strict
local minimum among its uncolored neighbors takes the smallest color not
already used by its colored neighbors (the "mex").  Priorities are the
engine's standard injective arithmetic hash ``p(v) = (v·A + B) mod M``
(M = 2^31-1 prime, A coprime) — no RNG, bit-reproducible in any engine,
same scheme as Luby MIS (algos/mis.py) and the hash random walks.

Round structure per superstep (all JVM-side, whole-stage codegen):
  1. grouped min of neighbor priorities over the *active* adjacency
     (map-side combinable) → winners by one left join + filter;
  2. winners' used-color sets: one join of the *full* adjacency against
     the colored state, then ``collect_set`` per winner;
  3. mex entirely with array builtins:
     ``array_min(array_except(sequence(0, size(used)), used))`` —
     ``sequence(0, k)`` has k+1 candidates vs k used colors, so the
     except is never empty and no Python UDF is needed;
  4. winners leave the active set (anti-join); active adjacency is
     re-restricted by two semi-joins.

All state (active set, colors, adjacency) is pinned hash-partitioned on
the vertex id (``gcommon.pin_vertices``, ``mis.restrict``), so each round
is one shuffle for the neighbor-min plus co-partitioned joins, and the
winner and active counts ride the pins.  The winners are Luby MIS's
local-minimum step (``mis.local_minima``).

Round depth is O(log V) w.h.p. on bounded-degree graphs and bounded by
the longest decreasing priority path in general — on dense cores
(cliques) JP is inherently sequential, so callers cap ``max_rounds`` and
treat the output as a partial coloring of the lowest-priority periphery
(the suite query does exactly this with an unrolled SQL twin; pytest
runs to fixpoint on a small graph).

Reference parity: the reference colors vertices only as a by-product of
its SCC pass (sampling/Graph.cpp forward-coloring); a standalone
distance-1 coloring is part of the standard link-graph toolkit this
engine targets (scheduling crawl partitions so no two adjacent hosts
share a slot).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import pin_checkpoint, pin_sym, pin_vertices
from .mis import local_minima, restrict


def jones_plassmann_coloring(
    edges: DataFrame,
    max_rounds: int = 200,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Color the undirected view of ``edges``.

    Returns ``(colors(id, color), metrics)``.  ``colors`` covers every
    vertex processed within ``max_rounds`` supersteps (all vertices iff
    the loop reached fixpoint — check ``metrics[-1]["active"] == 0``).
    Adjacent vertices always receive distinct colors; the palette size
    is at most max-degree + 1 (greedy bound).
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    algo = "jones_plassmann_coloring"

    # full adjacency (never shrinks: colored neighbors feed the mex)
    full, _ = pin_sym(edges, P, algo)
    active, _ = pin_vertices(full.select(F.col("src").alias("id")).distinct(), P, algo)
    ae = full  # active-only adjacency (shrinks each round)
    colors = spark.createDataFrame([], "id long, color int")
    metrics: list[dict] = []

    for rnd in range(max_rounds):
        t0 = time.time()
        winners, n_win = pin_vertices(local_minima(active, ae), P, algo)
        # smallest color unused by already-colored neighbors (mex)
        used = (
            full.join(winners.withColumnRenamed("id", "src").hint("shuffle_hash"),
                      "src", "left_semi")
            .join(colors.withColumnRenamed("id", "dst").hint("shuffle_hash"),
                  "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.collect_set("color").alias("used"))
        )
        newc = (
            winners.join(used.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                F.when(F.col("used").isNull(), F.lit(0))
                .otherwise(F.array_min(F.array_except(
                    F.sequence(F.lit(0), F.size("used")), F.col("used"))))
                .cast("int").alias("color"),
            )
        )
        colors = pin_checkpoint(colors.union(newc).repartition(P, "id"))
        active, n_active = pin_vertices(
            active.join(winners.hint("shuffle_hash"), "id", "left_anti"), P, algo)
        metrics.append(
            {"round": rnd, "winners": n_win, "active": n_active,
             "seconds": time.time() - t0}
        )
        if n_active == 0:
            break
        ae = restrict(ae, active, P)

    return colors, metrics
