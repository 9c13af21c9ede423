"""SALSA (Stochastic Approach for Link-Structure Analysis, Lempel &
Moran 2000) — the degree-normalized counterpart of HITS.

Each iteration pushes authority/hub mass along the bipartite hub→authority
walk with per-step degree normalization:

    a_{t+1}(j) = Σ_{i→j} round(h_t(i) / outdeg(i))
    h_{t+1}(i) = Σ_{i→j} round(a_{t+1}(j) / indeg(j))

Scores are e6-scaled BIGINTs re-quantized at every term: the only
non-integer step is one IEEE double division + half-up round per edge
contribution, evaluated identically by any engine — per-vertex scores
are bit-equal across engines (same determinism contract as Katz /
weighted PageRank).  Mass is conserved up to rounding, so no
normalization pass is needed for a fixed iteration count.

Per iteration: two state ⋈ edge joins with map-side-combined grouped
sums, state hash-partitioned on id, lineage truncated per step — the
engine's standard superstep shape (see PLANS.md).  Degree tables are
computed once and rejoined per step.

New web-ranking capability alongside PageRank/HITS (no reference
analogue; /root/reference is a pattern-counting engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import vertex_set

SCALE = 1_000_000


def salsa(
    edges: DataFrame,
    num_iters: int = 3,
    partitions: int | None = None,
) -> DataFrame:
    """Returns (id, hub_e6, auth_e6) after ``num_iters`` quantized rounds."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .repartition(P, "src")
        .persist()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("idg"))
    # edge table annotated once with both endpoint degrees
    ed = (
        e.join(outdeg, "src")
        .join(indeg, "dst")
        .repartition(P, "src")
        .persist()
    )
    ed.count()
    verts = vertex_set(e).repartition(P, "id").persist()

    state = verts.select(
        "id",
        F.lit(SCALE).cast("long").alias("h"),
        F.lit(SCALE).cast("long").alias("a"),
    ).localCheckpoint(eager=True)

    for _ in range(num_iters):
        a_new = (
            ed.join(state.select(F.col("id").alias("src"), "h").hint("shuffle_hash"),
                    "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.round(F.col("h") / F.col("od")).cast("long")).alias("an"))
        )
        state = (
            state.join(a_new.hint("shuffle_hash"), "id", "left")
            .select("id", "h", F.coalesce("an", F.lit(0)).cast("long").alias("a"))
            .repartition(P, "id")
            .localCheckpoint(eager=True)
        )
        h_new = (
            ed.join(state.select(F.col("id").alias("dst"), "a").hint("shuffle_hash"),
                    "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum(F.round(F.col("a") / F.col("idg")).cast("long")).alias("hn"))
        )
        state = (
            state.join(h_new.hint("shuffle_hash"), "id", "left")
            .select("id", F.coalesce("hn", F.lit(0)).cast("long").alias("h"), "a")
            .repartition(P, "id")
            .localCheckpoint(eager=True)
        )

    e.unpersist()
    ed.unpersist()
    verts.unpersist()
    return state.select("id", F.col("h").alias("hub_e6"), F.col("a").alias("auth_e6"))
