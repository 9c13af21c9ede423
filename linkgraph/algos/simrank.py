"""Truncated SimRank — "two pages are similar if similar pages link to
them" (Jeh & Widom 2002), the structural related-pages metric that
complements PPR (algos/pprmulti.py) and SALSA (algos/salsa.py).

Recurrence: s(a,b) = C/(|I(a)||I(b)|) · Σ_{i∈I(a), j∈I(b)} s(i,j),
s(v,v) = 1.  State is the SPARSE off-diagonal pair set; the diagonal
contributes the common-in-neighbor count directly (s(i,i) = 1), so each
superstep is: one wedge self-join for the diagonal term, two edge joins
to propagate the off-diagonal state, one grouped sum, one quantize.

Determinism & truncation: scores are e6-quantized BIGINTs re-quantized
every superstep (the engine's standard recipe), and pairs below
``tau_e6`` are dropped after each round — the same threshold in any
engine prunes the same pairs, so the truncated fixpoint is bit-exact
AND the pair-state blowup (the classic SimRank scaling problem) stays
bounded: state ≤ pairs with score ≥ τ, round cost Σ out(x)·out(y) over
surviving pairs.  At web scale the further standard steps (not needed
at gate scale) are random-walk SimRank estimation or top-k-per-vertex
truncation — both keep this plan's join/agg shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import pin_sym


def simrank_truncated(
    edges: DataFrame,
    c: float = 0.8,
    iters: int = 2,
    tau_e6: int = 10_000,
    partitions: int | None = None,
) -> DataFrame:
    """Returns off-diagonal pairs ``(a, b, sim_e6)`` with score ≥ tau
    after ``iters`` quantized supersteps over the directed ``edges``."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    e, _ = pin_sym(edges, P, "simrank_truncated", directed=True)
    ind = e.groupBy(F.col("dst").alias("v")).agg(F.count(F.lit(1)).alias("n"))
    e1 = e.select(F.col("src").alias("i"), F.col("dst").alias("a"))
    e2 = e.select(F.col("src").alias("j"), F.col("dst").alias("b"))

    # diagonal term is iteration-invariant: common-in-neighbor count × 1e6
    diag = (
        e1.join(e2.hint("shuffle_hash"), F.col("i") == F.col("j"))
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg((F.count(F.lit(1)) * F.lit(1_000_000)).alias("dsum"))
        .repartition(P, "a").localCheckpoint(eager=True)
    )

    state = None  # sparse off-diagonal pairs (x, y, v)
    for _ in range(iters):
        if state is None:
            total = diag.select("a", "b", F.col("dsum").alias("tsum"))
        else:
            off = (
                state.join(e1.withColumnRenamed("i", "x").hint("shuffle_hash"),
                           "x")
                .join(e2.withColumnRenamed("j", "y").hint("shuffle_hash"), "y")
                .filter(F.col("a") != F.col("b"))
                .groupBy("a", "b")
                .agg(F.sum("v").alias("osum"))
            )
            total = (
                diag.join(off.hint("shuffle_hash"), ["a", "b"], "full_outer")
                .select(
                    "a", "b",
                    (F.coalesce("dsum", F.lit(0))
                     + F.coalesce("osum", F.lit(0))).alias("tsum"),
                )
            )
        state = (
            total.join(ind.withColumnRenamed("v", "a")
                       .withColumnRenamed("n", "na").hint("shuffle_hash"), "a")
            .join(ind.withColumnRenamed("v", "b")
                  .withColumnRenamed("n", "nb").hint("shuffle_hash"), "b")
            .select(
                F.col("a").alias("x"), F.col("b").alias("y"),
                F.round(F.lit(c) * F.col("tsum")
                        / (F.col("na") * F.col("nb"))).cast("long").alias("v"),
            )
            .filter(F.col("v") >= tau_e6)
            .repartition(P, "x").localCheckpoint(eager=True)
        )

    return state.select(F.col("x").alias("a"), F.col("y").alias("b"),
                        F.col("v").alias("sim_e6"))
