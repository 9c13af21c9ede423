"""Shared graph-normalization helpers for the iterative algorithms."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def norm_edges(
    edges: DataFrame,
    partitions: int,
    directed: bool = False,
    materialize: str = "persist",
) -> DataFrame:
    """Simple-graph view of the edge table, pinned on ``src``.

    Undirected mode unions the reversed edges; self-loops are dropped and
    duplicates removed, then the result is hash-partitioned on src and
    materialized (``persist`` + eager count, or ``checkpoint`` for
    lineage-truncated loops, or ``none``) so every superstep of the caller
    reuses one pinned edge table.
    """
    e = edges.select("src", "dst")
    if not directed:
        e = e.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = (
        e.filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .repartition(partitions, "src")
    )
    if materialize == "persist":
        e = e.persist()
        e.count()
    elif materialize == "checkpoint":
        e = e.localCheckpoint(eager=True)
    return e


def pin_checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` that keeps ``df``'s hash partitioning.

    Under AQE the checkpoint records ``UnknownPartitioning(0)``, so every
    later join against it re-shuffles it.  With AQE off for this one call
    the checkpoint keeps e.g. ``hashpartitioning(id, P)``: co-partitioned
    joins against it need no exchange, and the result is a plan leaf with
    no lineage.  The query that materializes ``df`` runs as one Spark job.
    The session's AQE setting is restored afterwards, also on error.
    """
    conf = df.sparkSession.conf
    key = "spark.sql.adaptive.enabled"
    old = conf.get(key)
    conf.set(key, "false")
    try:
        return df.localCheckpoint(eager=True)
    finally:
        conf.set(key, old)
