"""Nearest-seed graph Voronoi partition (multi-source BFS labeling).

Assigns every reachable vertex to its closest seed — ties broken by the
smaller seed label — via synchronous struct-min supersteps over the
state ``(dist, seed)``: per round one adjacency⋈state join, one grouped
struct-min (map-side combinable), and one full-outer merge taking the
lexicographic minimum of old state and best neighbor candidate.  The
struct order (dist, seed) is a total order, so the fixpoint is unique
and engine-portable (same portability argument as the matching /
Borůvka struct keys).

This is the crawl-shard / CDN-assignment primitive: seeds are shard
anchors, the partition is "which anchor owns each host", and the dist
column is the propagation radius.  Converges in eccentricity-of-seed-set
rounds (small on web graphs; the suite unrolls 8).

State is hash-partitioned on id; the adjacency is pinned once.  Vertices
unreachable from every seed stay absent from the output (no sentinel
rows to shuffle).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import ckpt, norm_edges


def nearest_seed_partition(
    edges: DataFrame,
    seeds: DataFrame,
    max_rounds: int = 30,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Returns ``(state(id, dist, seed), metrics)`` over the undirected
    view of ``edges``; ``seeds`` is a one-column ``id`` DataFrame."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    und = norm_edges(edges, P, materialize="checkpoint")
    state = ckpt(
        seeds.select("id").distinct().select(
            "id", F.struct(F.lit(0).cast("long").alias("d"),
                           F.col("id").alias("l")).alias("m")),
        P, "id",
    )
    metrics: list[dict] = []

    for rnd in range(max_rounds):
        t0 = time.time()
        cand = (
            und.join(state.withColumnRenamed("id", "src").hint("shuffle_hash"),
                     "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.struct((F.col("m.d") + 1).alias("d"),
                                F.col("m.l").alias("l"))).alias("c"))
        )
        merged = (
            state.join(cand.hint("shuffle_hash"), "id", "full_outer")
            .select("id", F.least("m", "c").alias("m"))
        )
        new_state = ckpt(merged, P, "id")
        changed = (
            new_state.alias("n")
            .join(state.alias("o").hint("shuffle_hash"), "id", "left")
            .filter(F.col("o.m").isNull() | (F.col("n.m") != F.col("o.m")))
            .count()
        )
        state = new_state
        metrics.append({"round": rnd, "changed": changed,
                        "size": state.count(),
                        "seconds": time.time() - t0})
        if changed == 0:
            break

    out = state.select("id", F.col("m.d").alias("dist"),
                       F.col("m.l").alias("seed"))
    return ckpt(out, P, "id"), metrics
