"""Minimum spanning forest via Borůvka with total-order tie-breaking.

Classic O(log V)-round parallel MSF: each round every component selects
its lightest incident cross-component edge (grouped struct-min over the
composite key ``(w, a, b)`` — (a, b) is unique per canonical edge, so
the key is a total order, the MSF is unique, and Kruskal with the same
tie-break is an exact oracle).  Selected edges join the forest; the
chosen-edge component graph is then contracted with the engine's
audited min-label connected-components loop (algos/components.py) and
vertex labels are re-mapped through the contraction.

Per round: two label joins to find live cross edges, one UNION ALL +
grouped struct-min (map-side combinable, no sort, no window), one CC
run on the component graph — which is at most half the size of the
previous round's component set, so the contraction input shrinks
geometrically; at web scale round 1 dominates and is exactly the
join-agg superstep shape of the PageRank loop.  The live edges, the
chosen edges and the labels are pins that keep their hash partitioning,
and the live and chosen counts ride those pins.

Reference parity: the reference has no MSF, but this is the standard
link-graph backbone-extraction companion to its components/clustering
toolkit; semantics fixed by the exact Kruskal oracle
(tests/oracles.py msf_oracle), mirroring the reference's exact-counter test
pattern (sampling/Graph.cpp:169-291).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import pin_checkpoint, pin_rows, pin_vertices, vertex_set


def boruvka_msf(
    wedges: DataFrame,
    max_rounds: int = 20,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Minimum spanning forest of the weighted undirected graph.

    ``wedges``: canonical weighted edges ``(a, b, w)`` with ``a < b``,
    one row per undirected edge.  Returns ``(forest(a, b, w), metrics)``
    — the unique MSF under the total order ``(w, a, b)``.
    """
    from .components import connected_components

    spark = wedges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    algo = "boruvka_msf"

    we = pin_checkpoint(
        wedges.select("a", "b", "w").dropDuplicates(["a", "b"]).repartition(P, "a")
    )
    labels, _ = pin_vertices(
        vertex_set(we.select(F.col("a").alias("src"), F.col("b").alias("dst")))
        .select("id", F.col("id").alias("comp")),
        P, algo,
    )
    forest_parts: list[DataFrame] = []
    metrics: list[dict] = []

    for rnd in range(max_rounds):
        t0 = time.time()
        la = labels.select(F.col("id").alias("a"), F.col("comp").alias("ca"))
        lb = labels.select(F.col("id").alias("b"), F.col("comp").alias("cb"))
        el, n_live = pin_rows(
            we.join(la.hint("shuffle_hash"), "a")
            .join(lb.hint("shuffle_hash"), "b")
            .filter(F.col("ca") != F.col("cb"))
            .select("a", "b", "w", "ca", "cb"),
            P, "a",
        )
        if n_live == 0:
            metrics.append({"round": rnd, "live": 0, "chosen": 0,
                            "seconds": time.time() - t0})
            break
        key = F.struct(
            F.col("w"), F.col("a").alias("ka"), F.col("b").alias("kb"),
            F.col("ca"), F.col("cb"),
        )
        chosen, n_chosen = pin_rows(
            el.select(F.col("ca").alias("comp"), key.alias("e"))
            .union(el.select(F.col("cb").alias("comp"), key.alias("e")))
            .groupBy("comp").agg(F.min("e").alias("e"))
            .select(
                F.col("e.ka").alias("a"), F.col("e.kb").alias("b"),
                F.col("e.w").alias("w"),
                F.col("e.ca").alias("ca"), F.col("e.cb").alias("cb"),
            )
            .dropDuplicates(["a", "b"]),
            P, "a",
        )
        forest_parts.append(chosen.select("a", "b", "w"))
        # contract the chosen-edge component graph (min-label CC), then
        # re-map vertex labels through it
        cgraph = chosen.select(F.col("ca").alias("src"), F.col("cb").alias("dst"))
        cmap, _ = connected_components(cgraph, partitions=P)
        labels, _ = pin_vertices(
            labels.join(
                cmap.select(F.col("id").alias("comp"),
                            F.col("component").alias("newc"))
                .hint("shuffle_hash"),
                "comp", "left",
            )
            .select("id", F.coalesce("newc", "comp").alias("comp")),
            P, algo,
        )
        metrics.append({"round": rnd, "live": n_live, "chosen": n_chosen,
                        "seconds": time.time() - t0})

    # an edge chosen once joins its two components: it is never live again
    out = forest_parts[0] if forest_parts else we.filter(F.lit(False)) \
        .select("a", "b", "w")
    for p_ in forest_parts[1:]:
        out = out.union(p_)
    return out, metrics
