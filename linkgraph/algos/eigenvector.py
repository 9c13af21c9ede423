"""Eigenvector centrality via max-normalized power iteration, e6-quantized.

x ← Aᵀx / max(Aᵀx), the classic dominant-eigenvector ranking (Bonacich).
The engine stores x as an e6-scaled BIGINT and re-quantizes after EVERY
superstep:

    x₀(v)      = 1e6
    s_{t+1}(v) = Σ_{u~v} x_t(u)                      (exact BIGINT sum)
    x_{t+1}(v) = round(s(v) · 1e6 / max_w s(w))      (one IEEE double expr)

so the only non-integer step per superstep is a single double
multiply/divide + half-up rounding evaluated from exact integers — both
engines compute the identical expression, making per-vertex scores
bit-equal across engines (the per-step-quantization recipe shared with
Katz / SALSA / weighted PageRank).

Plan shape per superstep: one state ⋈ edges shuffle-hash join grouped by
dst (map-side combinable), one 1-row max aggregate entering as a
broadcast cross join, one left join back to the vertex set; state
hash-partitioned on id, lineage truncated per step.  The reference has
no spectral ranking — north-rule capability widening beside PageRank
(/root/reference has only sampled pattern counts; our centrality family
mirrors its exact-oracle test pattern, naive_implementation/).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import vertex_set

SCALE = 1_000_000


def eigenvector_centrality(
    edges: DataFrame,
    iters: int = 4,
    directed: bool = False,
    partitions: int | None = None,
) -> DataFrame:
    """Returns (id, eig_e6) after ``iters`` quantized power supersteps."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    if not directed:
        e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.dropDuplicates(["src", "dst"]).repartition(P, "src").persist()
    verts = vertex_set(e).repartition(P, "id").persist()

    x = (
        verts.select("id", F.lit(SCALE).cast("long").alias("x"))
        .repartition(P, "id")
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        s = (
            e.join(x.withColumnRenamed("id", "src").hint("shuffle_hash"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("x").alias("s"))
        )
        m = s.agg(F.max("s").alias("mx"))
        x = (
            verts.join(s.hint("shuffle_hash"), "id", "left")
            .crossJoin(F.broadcast(m))
            .select(
                "id",
                F.when(
                    F.col("s").isNull(), F.lit(0).cast("long")
                )
                .otherwise(
                    F.round(
                        F.col("s").cast("double")
                        * F.lit(float(SCALE))
                        / F.col("mx").cast("double")
                    ).cast("long")
                )
                .alias("x"),
            )
            .repartition(P, "id")
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    verts.unpersist()
    return x.select("id", F.col("x").alias("eig_e6"))
