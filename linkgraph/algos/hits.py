"""HITS (hubs & authorities) — iterative mutual reinforcement on the
directed link graph.

New link-graph capability alongside PageRank (no reference analogue; the
oracle is the textbook power iteration in numpy, oracles.hits_oracle).
Per iteration: auth = normalize(A^T hub), hub = normalize(A auth), each a
single pinned-partition join + map-side-combined grouped sum; L2 norms via
Observation-free scalar aggs (2 tiny jobs per iteration at V rows).
Fixed iteration count for exact cross-engine parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import vertex_set


def hits(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    num_iters: int = 5,
    partitions: int | None = None,
) -> DataFrame:
    """Returns (id, hub, authority) after ``num_iters`` synchronous updates,
    each score vector L2-normalized."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    if vertices is None:
        vertices = vertex_set(edges)
    v = vertices.select("id").repartition(P, "id").persist()
    e = edges.select("src", "dst").repartition(P, "src").persist()
    e.count()

    state = v.select(
        "id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority")
    ).localCheckpoint(eager=True)

    def _norm(df: DataFrame, col: str) -> float:
        row = df.agg(F.sqrt(F.sum(F.col(col) * F.col(col))).alias("n")).collect()[0]
        return float(row["n"]) or 1.0

    for _ in range(num_iters):
        # authority(d) = sum of hub(s) over in-edges
        a = (
            e.join(
                state.select(F.col("id").alias("src"), "hub").hint("shuffle_hash"),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("a_raw"))
        )
        state = (
            state.join(a.hint("shuffle_hash"), "id", "left")
            .select("id", "hub", F.coalesce("a_raw", F.lit(0.0)).alias("authority"))
        )
        an = _norm(state, "authority")
        state = state.select(
            "id", "hub", (F.col("authority") / F.lit(an)).alias("authority")
        ).localCheckpoint(eager=True)
        # hub(s) = sum of authority(d) over out-edges
        h = (
            e.join(
                state.select(F.col("id").alias("dst"), "authority").hint(
                    "shuffle_hash"
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("authority").alias("h_raw"))
        )
        state = (
            state.join(h.hint("shuffle_hash"), "id", "left")
            .select("id", F.coalesce("h_raw", F.lit(0.0)).alias("hub"), "authority")
        )
        hn = _norm(state, "hub")
        state = state.select(
            "id", (F.col("hub") / F.lit(hn)).alias("hub"), "authority"
        ).repartition(P, "id").localCheckpoint(eager=True)

    v.unpersist()
    e.unpersist()
    return state
