"""Label propagation clustering — synchronous, deterministic tie-breaking.

Each superstep every vertex adopts the most frequent label among its
neighbors (undirected view, gcommon.norm_edges); ties broken by the
smallest label; vertices with no neighbors keep their label.  Runs a fixed
cap of supersteps (default 20) with early stop when a round changes
nothing — fully deterministic so the pytest oracle check is exact (north
rule: label assignments exact).

The superstep is this update rule on the gcommon kernel: a ``gather`` of
the neighbours' labels over pinned CSR-style adjacency blocks
(``build_blocks``: hubs split/salted, join keys ~V rows not E) by
``mode(label, deterministic=true)``, which returns the lowest of the
most frequent labels — the min-label tie-break.  It plans as one
hash-based aggregate with a map-side partial: one Exchange, no Sort, no
Python in the loop, one Spark job per superstep (``iterate``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import (
    build_blocks,
    degree_table,
    gather,
    iterate,
    labels_changed,
    norm_edges,
    pin_checkpoint,
)


def label_propagation(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 20,
    partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Returns (labels(id, label), per-iteration metrics); an empty vertex
    set gives an empty frame and no metrics."""
    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # the symmetric view is pinned once: the degree table and the block build
    # then read it without re-running its dedup and partitioning shuffles
    sym = pin_checkpoint(norm_edges(edges, P))
    deg = degree_table(sym, P, "label_propagation", vertices, edges)
    v = deg.table.select("id")
    if deg.V == 0:
        return v.select("id", F.col("id").alias("label")), []
    blocks, rep, E = build_blocks(sym, P, deg)
    del sym  # only the set-up reads it; let the cleaner free it

    def step(labels: DataFrame, obs, it: int) -> DataFrame:
        new = F.coalesce("nb_label", F.col("label"))
        return (
            gather(labels, blocks, rep, lambda k: F.mode(k, True), nb_label=F.col("label"))
            .select("id", new.alias("label"), (new != F.col("label")).alias("_chg"))
            .observe(obs, F.coalesce(
                F.sum(F.col("_chg").cast("long")), F.lit(0)).alias("c"))
            .select("id", "label")
            .repartition(P, "id")
        )

    return iterate(
        edges,
        lambda resumed: resumed if resumed is not None
        else pin_checkpoint(v.select("id", F.col("id").alias("label"))),
        step, labels_changed, "lp_changes", P, E, max_iter, checkpoint_dir=checkpoint_dir,
    )
