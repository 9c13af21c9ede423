"""Nearest-seed graph Voronoi partition (multi-source BFS labeling).

Assigns every reachable vertex to its closest seed — ties broken by the
smaller seed label — via synchronous struct-min supersteps over the
state ``(dist, seed)``: per round one adjacency⋈state join, one grouped
struct-min (map-side combinable), and one merge taking the
lexicographic minimum of old state and best neighbor candidate.  The
struct order (dist, seed) is a total order, so the fixpoint is unique
and engine-portable (same portability argument as the matching /
Borůvka struct keys).

This is the crawl-shard / CDN-assignment primitive: seeds are shard
anchors, the partition is "which anchor owns each host", and the dist
column is the propagation radius.  Converges in eccentricity-of-seed-set
rounds (small on web graphs; the suite unrolls 8).

The superstep is a min-relaxation on the gcommon kernel
(``gcommon.relax``): only the rows the last superstep set or improved
send (dist + 1, seed) along the symmetric view pinned once
(``gcommon.pin_sym``), and the state keeps its hash partitioning on id,
one Spark job per round.  The changed count and the state size ride the
pin as an Observation.  Vertices unreachable from every seed stay absent
from the output (no sentinel rows to shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import pin_sym, relax


def nearest_seed_partition(
    edges: DataFrame,
    seeds: DataFrame,
    max_rounds: int = 30,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Returns ``(state(id, dist, seed), metrics)`` over the undirected
    view of ``edges``; ``seeds`` is a one-column ``id`` DataFrame.  Empty
    ``seeds`` give an empty frame and no metrics."""
    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    und, E = pin_sym(edges, P, "nearest_seed_partition")
    start = seeds.select("id").distinct().select(
        "id", F.struct(F.lit(0).cast("long").alias("d"), F.col("id").alias("l")).alias("m"))
    msg = F.struct((F.col("m.d") + 1).alias("d"), F.col("m.l").alias("l"))
    state, metrics = relax(und, E, start, "m", msg, "changed", "nearest_seed_partition",
                           P, max_rounds)
    return state.select("id", F.col("m.d").alias("dist"), F.col("m.l").alias("seed")), metrics
