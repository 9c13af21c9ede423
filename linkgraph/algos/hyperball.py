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
row blow-up).  The superstep is this update rule on the gcommon kernel:
the pinned state ``propagate``s to blocks built on the reversed
simple-graph edges (keyed by dst, hubs split and salted), one grouped
max per vertex, joined back into the state — a PageRank superstep's
shape, one Spark job, with the registers' total increase observed on the
pin.  The output covers exactly ``vertices``.  B=16 gives ~26% relative
error (1.04/sqrt(B)); production would raise B, not change the plan.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import (
    build_blocks,
    degree_table,
    flip,
    iterate,
    gather,
    l1_change,
    norm_edges,
    pin_checkpoint,
)

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
    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    B = NUM_REGISTERS
    # counters flow dst -> src (ball along out-links): the blocks are built
    # on the reversed simple-graph edges, keyed by dst
    e = pin_checkpoint(norm_edges(edges, P, directed=directed))
    deg = degree_table(flip(e), P, "hyperball", vertices, edges)

    m = (F.col("id") * HASH_A + HASH_B) % HASH_MOD
    j = (m % B).cast("int")
    rho = _rho(F.shiftright(m, 4)).cast("int")
    rcols = [f"r{i}" for i in range(B)]
    cur0 = deg.table.select(
        "id",
        *[F.when(j == i, rho).otherwise(F.lit(0)).cast("int").alias(c) for i, c in enumerate(rcols)],
    )

    def out(cur: DataFrame) -> DataFrame:
        # 2^(32 - M_j) as a BIGINT shift (pyspark's shiftright helper wants
        # a literal shift count, so spell the column-shift in SQL)
        sum_int = reduce(
            lambda a, b: a + b,
            [F.expr(f"shiftright(cast(4294967296 as bigint), {c})") for c in rcols],
        ).alias("sum_int")
        return cur.select("id", sum_int).select(
            "id",
            "sum_int",
            F.round(F.lit(EST_NUM_E6) / F.col("sum_int")).cast("long").alias("ball_e6"),
        )

    if deg.V == 0:
        return out(cur0)
    blocks, rep, E = build_blocks(flip(e), P, deg)

    def step(cur: DataFrame, obs, it: int) -> DataFrame:
        # greatest() skips the null registers of a vertex no counter reached
        merged = [F.greatest(c, f"n{c}") for c in rcols]
        return (
            gather(cur, blocks, rep, F.max, **{f"n{c}": F.col(c) for c in rcols})
            .select(
                "id",
                *[r.alias(c) for r, c in zip(merged, rcols)],
                reduce(lambda a, b: a + b, [r - F.col(c) for r, c in zip(merged, rcols)])
                .alias("_d"),
            )
            .observe(obs, F.sum("_d").alias("delta"))
            .select("id", *rcols)
            .repartition(P, "id")
        )

    cur, _ = iterate(e, lambda _: pin_checkpoint(cur0), step, l1_change, "hyperball", P, E, radius)
    return out(cur)
