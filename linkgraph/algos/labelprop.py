"""Label propagation clustering — synchronous, deterministic tie-breaking.

Each superstep every vertex adopts the most frequent label among its
neighbors (undirected view, gcommon.norm_edges); ties broken by the
smallest label; vertices with no neighbors keep their label.  Runs a fixed
cap of supersteps (default 20) with early stop when a round changes
nothing — fully deterministic so the pytest oracle check is exact (north
rule: label assignments exact).

The superstep is this update rule on the gcommon kernel: the V-row label
state ``propagate``s to pinned CSR-style adjacency blocks
(``adjacency_blocks``: hubs split/salted, join keys ~V rows not E), then
one (id, label) grouped count (partial agg) and a per-id argmax via
max(struct(cnt, -label)) — no window shuffle beyond the grouped agg, no
Python in the loop, one Spark job per superstep (``iterate``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import (
    build_blocks,
    iterate,
    labels_changed,
    norm_edges,
    pin_checkpoint,
    pin_vertices,
    propagate,
    vertex_set,
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
    v = vertex_set(edges) if vertices is None else vertices.select("id")
    v, V = pin_vertices(v, P, "label_propagation")
    if V == 0:
        return v.select("id", F.col("id").alias("label")), []
    # the symmetric view is pinned once: the hub probe and the block build
    # then read it without re-running its dedup and partitioning shuffles
    sym = pin_checkpoint(norm_edges(edges, P, materialize="none"))
    blocks, rep, E = build_blocks(sym, P)
    del sym  # only the block build reads it; let the cleaner free it

    def step(labels: DataFrame, obs) -> DataFrame:
        # each vertex receives every neighbor's label: src carries the
        # label, dsts receive it
        nb = propagate(
            blocks, rep, labels.select(F.col("id").alias("src"), "label")
        ).select(F.explode("dsts").alias("id"), "label")
        # mode with min-label tie-break: argmax of (count, -label)
        best = (
            nb.groupBy("id", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("id")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("m"))
            .select("id", (-F.col("m.neg")).alias("nb_label"))
        )
        new = F.coalesce("nb_label", F.col("label"))
        return (
            labels.join(best.hint("shuffle_hash"), "id", "left")
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
