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
|S|·avg-ball-size, not |S|·V.  The superstep is this push on the gcommon
kernel: the state is ``send``-ed along the out-degree-annotated edge view
pinned once (``gcommon.pin_edges``), summed per (seed, vertex), and
unioned with the teleport rows, which come from the state's own (s, s)
rows — no teleport table, no join.  The state keeps its hash
partitioning on (s, v); one Spark job per superstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import iterate, norm_edges, pin_edges, pin_vertices, send

SCALE = 1_000_000


def multi_seed_ppr(
    edges: DataFrame,
    seeds: list[int],
    damping: float = 0.85,
    num_iters: int = 4,
    partitions: int | None = None,
) -> DataFrame:
    """Returns sparse (s, v, rank_e6) with rank_e6 > 0 after ``num_iters``;
    empty ``seeds`` give an empty frame."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    teleport = int(round((1.0 - damping) * SCALE))

    def view(edges: DataFrame) -> DataFrame:
        e = norm_edges(edges, P, directed=True)
        return e.join(e.groupBy("src").agg(F.count(F.lit(1)).alias("od")), "src")

    ed, E = pin_edges(edges, view, "multi_seed_ppr")
    seed_df = spark.createDataFrame(
        [(None if s is None else int(s),) for s in set(seeds)], "id long")
    # (s, s) stays in the state from the start on: it carries the teleport
    start, _ = pin_vertices(
        seed_df.select(F.col("id").alias("s"), "id", F.lit(SCALE).cast("long").alias("r")),
        P, "multi_seed_ppr", "s", "id",
    )

    def step(state: DataFrame, obs, it: int) -> DataFrame:
        c = F.round(F.lit(damping) * F.col("r") / F.col("od")).cast("long")
        tele = state.filter(F.col("id") == F.col("s")).select(
            "s", "id", F.lit(teleport).cast("long").alias("c"))
        return (
            send(state, ed, ("s",), c=c)
            .groupBy("s", "id").agg(F.sum("c").alias("c"))
            .unionByName(tele)
            .groupBy("s", "id").agg(F.sum("c").alias("r"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .repartition(P, "s", "id")
        )

    state, _ = iterate(ed, lambda _: start, step, lambda got: ({}, False),
                       "ppr_multi", P, E, num_iters)
    return state.filter(F.col("r") > 0).select(
        "s", F.col("id").alias("v"), F.col("r").alias("rank_e6")
    )
