"""k-core decomposition by iterative peeling.

Repeatedly remove vertices of undirected degree < k until none remain; the
survivors are the k-core.  Each round is one grouped degree count + one
broadcast-able semi-join filter (the removed set shrinks the edge table);
lineage truncated per round.  Converges in O(peeling depth) rounds; early
exit when a round removes nothing.  New link-graph capability (no
reference analogue); oracle: tests/oracles.py kcore_oracle.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import norm_edges


def kcore_vertices(
    edges: DataFrame,
    k: int,
    max_rounds: int = 50,
    partitions: int | None = None,
) -> DataFrame:
    """(id) — vertices of the k-core of the undirected simple graph."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    sym = norm_edges(edges, P, materialize="checkpoint")
    for _ in range(max_rounds):
        keep = (
            sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("src")
        )
        pruned = (
            sym.join(keep.hint("shuffle_hash"), "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst").hint("shuffle_hash"),
                  "dst", "left_semi")
            .repartition(P, "src")
            .localCheckpoint(eager=True)
        )
        before = sym.count()
        after = pruned.count()
        sym = pruned
        if after == before:
            break
    return sym.select(F.col("src").alias("id")).distinct()


def core_numbers(
    edges: DataFrame,
    max_rounds: int = 100,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Full core decomposition: (id, core) for every vertex with an edge.

    Distributed coreness via H-index iteration (the locality-based
    k-core-decomposition construction of Montresor/De Pellegrini/Miorandi):
    start with core(v) = deg(v); each round set core(v) to the H-index of
    its neighbors' current values (the largest h such that ≥ h neighbors
    have core ≥ h); monotonically non-increasing and converges to the exact
    coreness.  Each round is one state ⋈ edges join + one windowed rank per
    vertex — all built-in column expressions, converging in few rounds on
    real graphs (rounds ≤ graph degeneracy-ish, not O(V) like sequential
    peeling).  Per-round lineage truncation; fixpoint when no value drops.
    """
    from pyspark.sql import Window

    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    sym = norm_edges(edges, P)

    core = (
        sym.groupBy("src").agg(F.count(F.lit(1)).alias("core"))
        .withColumnRenamed("src", "id")
        .repartition(P, "id")
        .localCheckpoint(eager=True)
    )
    metrics: list[dict] = []
    for rnd in range(1, max_rounds + 1):
        t0 = time.time()
        # neighbor core values, ranked descending per vertex;
        # H-index = max(min(rank, neighbor_core))
        nb = sym.join(
            core.withColumnRenamed("id", "dst").withColumnRenamed("core", "nc")
            .hint("shuffle_hash"),
            "dst",
        ).select("src", "nc")
        w = Window.partitionBy("src").orderBy(F.col("nc").desc())
        h = (
            nb.withColumn("_rn", F.row_number().over(w))
            .groupBy("src")
            .agg(F.max(F.least(F.col("_rn").cast("long"), F.col("nc"))).alias("h"))
        )
        new_core = (
            core.join(h.withColumnRenamed("src", "id").hint("shuffle_hash"), "id")
            .select("id", F.least("core", "h").alias("core"),
                    (F.col("h") < F.col("core")).alias("_drop"))
        )
        # drop-count rides the checkpoint job — the H-index window sort
        # (the engine's only sorting loop) runs ONCE per round
        from pyspark.sql import Observation

        obs = Observation(f"hidx_{rnd}")
        core = (
            new_core.repartition(P, "id")
            .observe(obs, F.coalesce(
                F.sum(F.col("_drop").cast("long")), F.lit(0)).alias("c"))
            .localCheckpoint(eager=True)
            .select("id", "core")
        )
        dropped = int(obs.get["c"])
        metrics.append({"round": rnd, "dropped": dropped, "seconds": time.time() - t0})
        if dropped == 0:
            break
    sym.unpersist()
    return core, metrics
