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

The superstep is this update rule on the gcommon kernel: the pinned
state joins the sum of its copies sent along the self-loop-free,
deduplicated edges (``gather``; ``pin_sym`` and ``degree_table``, blocks
hub-split and salted), one Spark job per superstep; the state's L1 change rides
the pin as an Observation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import build_blocks, degree_table, gather, iterate, l1_change, pin_checkpoint, pin_sym

SCALE = 1_000_000


def katz_centrality(
    edges: DataFrame,
    alpha: float = 0.15,
    iters: int = 4,
    partitions: int | None = None,
) -> DataFrame:
    """Returns (id, katz_e6) after ``iters`` quantized supersteps."""
    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    e, _ = pin_sym(edges, P, "katz_centrality", directed=True)
    deg = degree_table(e, P, "katz_centrality")
    x0 = deg.table.select("id", F.lit(SCALE).cast("long").alias("x"))
    if deg.V == 0:
        return x0.withColumnRenamed("x", "katz_e6")
    blocks, rep, E = build_blocks(e, P, deg)

    def step(x: DataFrame, obs, it: int) -> DataFrame:
        new = F.lit(SCALE) + F.round(F.lit(alpha) * F.coalesce("s", F.lit(0))).cast("long")
        return (
            gather(x, blocks, rep, F.sum, s=F.col("x"))
            .select("id", new.alias("x"), F.abs(new - F.col("x")).alias("_d"))
            .observe(obs, F.sum("_d").alias("delta"))
            .select("id", "x")
            .repartition(P, "id")
        )

    x, _ = iterate(e, lambda _: pin_checkpoint(x0), step, l1_change, "katz", P, E, iters)
    return x.withColumnRenamed("x", "katz_e6")
