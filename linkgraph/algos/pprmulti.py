"""Batch multi-seed personalized PageRank — the "related pages /
who-to-follow" operator: one sparse PPR vector per seed, all seeds
advanced concurrently through a composite-key (seed, vertex) state.

Same composite-key trick as the engine's multi-source BFS/closeness: a
batch of |S| seeds costs ONE superstep loop (state ≤ |S|·V rows, in
practice |S|·|reached|), not |S| loops.  The per-superstep update is the
e6-quantized push

    r_{t+1}(s, v) = Σ_{u→v} round(α · r_t(s,u) / outdeg(u))
                    + [v = s] · round((1−α)·1e6)

Every value is an exact BIGINT; the only non-integer step is one IEEE
double expression per edge contribution, evaluated identically by any
engine (the Katz/SALSA determinism contract), so per-(seed, vertex)
scores are bit-equal across engines.  Dangling mass evaporates rather
than re-teleporting — the standard approximation for sparse push-style
PPR (scores keep their ranking semantics; the suite's single-seed
`personalized_pagerank_5iter` is the mass-conserving variant).

State stays sparse: only reached (s, v) pairs are materialized, which is
what makes 10^4-seed batches feasible at web scale — the state is
|S|·avg-ball-size, not |S|·V.  Per superstep: one state ⋈ edge join
(shuffle on the vertex key) + one grouped sum + one outer join with the
|S|-row teleport table (broadcast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import norm_edges

SCALE = 1_000_000


def multi_seed_ppr(
    edges: DataFrame,
    seeds: list[int],
    damping: float = 0.85,
    num_iters: int = 4,
    partitions: int | None = None,
) -> DataFrame:
    """Returns sparse (s, v, rank_e6) with rank_e6 > 0 after ``num_iters``."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    teleport = int(round((1.0 - damping) * SCALE))

    e = norm_edges(edges, P, directed=True, materialize="none")
    ed = (
        e.join(e.groupBy("src").agg(F.count(F.lit(1)).alias("od")), "src")
        .repartition(P, "src")
        .persist()
    )
    ed.count()

    seed_df = F.broadcast(
        spark.createDataFrame([(int(s),) for s in sorted(set(seeds))], "s long")
    )
    state = (
        seed_df.select("s", F.col("s").alias("v"),
                       F.lit(SCALE).cast("long").alias("r"))
        .repartition(P, "v")
        .localCheckpoint(eager=True)
    )
    for _ in range(num_iters):
        contrib = (
            ed.join(state.withColumnRenamed("v", "src").hint("shuffle_hash"), "src")
            .groupBy("s", F.col("dst").alias("v"))
            .agg(
                F.sum(
                    F.round(F.lit(damping) * F.col("r") / F.col("od")).cast("long")
                ).alias("c")
            )
        )
        state = (
            contrib.join(
                seed_df.select("s", F.col("s").alias("v"), F.lit(True).alias("t")),
                ["s", "v"], "full_outer",
            )
            .select(
                "s", "v",
                (
                    F.coalesce("c", F.lit(0))
                    + F.when(F.col("t").isNotNull(), F.lit(teleport)).otherwise(0)
                ).cast("long").alias("r"),
            )
            .repartition(P, "v")
            .localCheckpoint(eager=True)
        )
    ed.unpersist()
    return state.filter(F.col("r") > 0).select(
        "s", "v", F.col("r").alias("rank_e6")
    )
