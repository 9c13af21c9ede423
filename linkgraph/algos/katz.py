"""Katz centrality over the directed link graph, e6-quantized supersteps.

Katz(v) = Σ_k α^k · (# length-k walks ending at v), computed by the
fixed-point iteration x ← 1 + α·Aᵀx.  The engine stores x as an
e6-scaled BIGINT and re-quantizes after EVERY superstep:

    x₀(v) = 1e6
    x_{t+1}(v) = 1e6 + round(α · Σ_{u→v} x_t(u))

so the only non-integer step per superstep is one IEEE double product +
one half-up rounding — both engines evaluate the identical expression on
identical integers, making per-vertex scores bit-equal across engines
(the same per-step-quantization determinism as weighted PageRank /
HyperBall).  With α < 1/deg_max the iteration contracts; the suite runs
a fixed 4 supersteps against a 4-step unrolled SQL twin.

Each superstep is one state ⋈ edges join grouped by dst (map-side
combinable) plus a left join back to the vertex set — the engine's
standard superstep shape, state hash-partitioned on id, lineage
truncated per step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import vertex_set

SCALE = 1_000_000


def katz_centrality(
    edges: DataFrame,
    alpha: float = 0.15,
    iters: int = 4,
    partitions: int | None = None,
) -> DataFrame:
    """Returns (id, katz_e6) after ``iters`` quantized supersteps."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .repartition(P, "src")
        .persist()
    )
    verts = vertex_set(e).repartition(P, "id").persist()

    x = verts.select("id", F.lit(SCALE).cast("long").alias("x"))
    x = x.repartition(P, "id").localCheckpoint(eager=True)
    for _ in range(iters):
        contrib = (
            e.join(x.withColumnRenamed("id", "src").hint("shuffle_hash"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("x").alias("s"))
        )
        x = (
            verts.join(contrib.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                (
                    F.lit(SCALE)
                    + F.round(F.lit(alpha) * F.coalesce("s", F.lit(0))).cast("long")
                ).alias("x"),
            )
            .repartition(P, "id")
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    verts.unpersist()
    return x.select("id", F.col("x").alias("katz_e6"))
