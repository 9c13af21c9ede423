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

The superstep is this update rule on the gcommon kernel: the pinned state
holds the raw sums s, joined with the sum of x sent along the
self-loop-free, deduplicated edges (``gather``, ``pin_sym``), one
Spark job per superstep.  max s rides the pin as an Observation and
enters the next superstep (or the output) as a literal, so the state's x
is computed where it is read: no 1-row max aggregate is joined back.  The
reference has no spectral ranking — north-rule capability widening beside
PageRank (the reference has only sampled pattern counts; our centrality
family mirrors its exact-oracle test pattern, naive_implementation/).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .gcommon import build_blocks, degree_table, gather, iterate, pin_checkpoint, pin_sym

SCALE = 1_000_000


def eigenvector_centrality(
    edges: DataFrame,
    iters: int = 4,
    directed: bool = False,
    partitions: int | None = None,
) -> DataFrame:
    """Returns (id, eig_e6) after ``iters`` quantized power supersteps."""
    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    e, _ = pin_sym(edges, P, "eigenvector_centrality", directed)
    deg = degree_table(e, P, "eigenvector_centrality")
    mx = SCALE  # max of the state's sums s: x₀ = round(1e6 · 1e6 / 1e6) = 1e6
    s0 = deg.table.select("id", F.lit(SCALE).cast("long").alias("s"))

    def x() -> Column:
        return F.when(F.col("s").isNull(), F.lit(0).cast("long")).otherwise(
            F.round(
                F.col("s").cast("double") * F.lit(float(SCALE)) / F.lit(float(mx))
            ).cast("long")
        )

    if deg.V == 0:
        return s0.select("id", x().alias("eig_e6"))
    blocks, rep, E = build_blocks(e, P, deg)

    def step(state: DataFrame, obs, it: int) -> DataFrame:
        return (
            gather(state, blocks, rep, F.sum, _s=x())
            .select("id", F.col("_s").alias("s"))
            .observe(obs, F.max("s").alias("mx"))
            .repartition(P, "id")
        )

    def record(got: dict) -> tuple[dict, bool]:
        nonlocal mx
        mx = got["mx"]
        return {"max_sum": mx}, False

    state, _ = iterate(e, lambda _: pin_checkpoint(s0), step, record, "eig", P, E, iters)
    return state.select("id", x().alias("eig_e6"))
