"""HyperBall: per-vertex neighborhood-size estimation via HyperLogLog
register max-merge (Boldi–Vigna, WebSci'13) — the standard web-graph
algorithm for ball sizes / neighborhood function / harmonic centrality
at billions of vertices.

Each vertex carries a B-register HLL counter seeded with its own hash;
one superstep replaces every counter with the element-wise max over its
out-neighbors' counters plus its own.  After ``radius`` supersteps the
counter describes exactly ``ball(v, radius)`` (max is idempotent and
monotone, so the merged register set equals the registers of the exact
ball — only the *cardinality estimate* is approximate).

Engine-determinism: the vertex hash is the same BIGINT-exact mixing trick
as the deterministic walk corpus (paths.random_walks), register rank =
1 + trailing zeros of the mixed bits (geometric, P(rho >= k) = 2^-k), and
the HLL sum Σ 2^(-M_j) is kept as the exact integer Σ 2^(32 - M_j) — so a
SQL twin reproduces every register and the e6-quantized estimate bit-for-bit
(the reference's estimator-vs-exact-oracle pattern,
/root/reference/naive_implementation/, applied to a cardinality sketch).

Scale: registers live as B small-int columns on one row per vertex (no
row blow-up); each superstep is one edges ⋈ state join + a 1-row-per-vertex
grouped max — the same shuffle shape as a PageRank superstep, pinned on
``partitions``.  B=16 gives ~26% relative error (1.04/sqrt(B)); production
would raise B, not change the plan.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import norm_edges, vertex_set

NUM_REGISTERS = 16
HASH_A, HASH_B, HASH_MOD = 7919, 104729, 1 << 20  # shared with the SQL twin
ALPHA_16 = 0.673  # HLL bias constant for B=16
# numerator of the HLL estimate in e6 units: alpha * B^2 * 2^32 * 1e6
EST_NUM_E6 = ALPHA_16 * NUM_REGISTERS * NUM_REGISTERS * float(1 << 32) * 1e6


def _rho(mm):
    """1 + trailing-zero count of the 16-bit value ``mm`` (17 when mm == 0)."""
    expr = None
    for k in range(1, 17):
        cond = (mm % (1 << k)) == (1 << (k - 1))
        expr = F.when(cond, k) if expr is None else expr.when(cond, k)
    return expr.otherwise(17)


def hyperball(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    radius: int = 3,
    directed: bool = False,
    partitions: int | None = None,
) -> DataFrame:
    """Estimate |ball(v, radius)| per vertex; returns (id, sum_int, ball_e6).

    ``sum_int`` = Σ_j 2^(32 - M_j) over the B registers (BIGINT-exact);
    ``ball_e6`` = round(alpha·B²·2^32·1e6 / sum_int) — the raw HLL estimate
    in e6 units, one correctly-rounded double division from integers.
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    B = NUM_REGISTERS

    # counters flow dst -> src (ball along out-links), so the loop joins on
    # dst: pin the normalized edge table on dst ONCE — every superstep's
    # join then reuses the persisted partitioning and only the V-row
    # register state shuffles (same discipline as the PageRank blocks)
    e0 = norm_edges(edges, P, directed=directed, materialize="none")
    e = e0.repartition(P, "dst").persist()
    e.count()
    if vertices is None:
        vertices = vertex_set(edges)

    m = (F.col("id") * HASH_A + HASH_B) % HASH_MOD
    j = (m % B).cast("int")
    rho = _rho(F.shiftright(m, 4)).cast("int")
    rcols = [f"r{i}" for i in range(B)]
    cur = (
        vertices.select(
            "id",
            *[
                F.when(j == i, rho).otherwise(F.lit(0)).cast("int").alias(f"r{i}")
                for i in range(B)
            ],
        )
        .repartition(P, "id")
        .localCheckpoint(eager=True)
    )

    for _ in range(radius):
        nbr = e.join(
            cur.withColumnRenamed("id", "dst").hint("shuffle_hash"), "dst"
        ).select(F.col("src").alias("id"), *rcols)
        cur = (
            cur.select("id", *rcols)
            .union(nbr)
            .groupBy("id")
            .agg(*[F.max(c).alias(c) for c in rcols])
            .repartition(P, "id")
            .localCheckpoint(eager=True)
        )

    e.unpersist()
    # 2^(32 - M_j) as a BIGINT shift (pyspark's shiftright helper wants a
    # literal shift count, so spell the column-shift in SQL)
    sum_int = reduce(
        lambda a, b: a + b,
        [F.expr(f"shiftright(cast(4294967296 as bigint), {c})") for c in rcols],
    ).alias("sum_int")
    return cur.select("id", sum_int).select(
        "id",
        "sum_int",
        F.round(F.lit(EST_NUM_E6) / F.col("sum_int")).cast("long").alias("ball_e6"),
    )
