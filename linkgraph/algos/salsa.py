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

Each half-step is one superstep of the gcommon kernel, over the
self-loop-free, deduplicated edges (``pin_sym``): the authority
half-step ``propagate``s hub scores to blocks built on the edges, the hub
half-step authority scores to blocks built on the reversed edges, and
outdeg / indeg are the two block sets' ``out_degree``.  One degree table
(``degree_table``, with in-degrees) gives both block sets their hubs.
round(score / degree) is taken once per block row; a half-step is one
Spark job, and the state's L1 change rides its pin.

New web-ranking capability alongside PageRank/HITS (no reference
analogue; /root/reference is a pattern-counting engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import (
    build_blocks,
    degree_table,
    flip,
    iterate,
    l1_change,
    gather,
    pin_checkpoint,
    pin_sym,
)

SCALE = 1_000_000


def salsa(
    edges: DataFrame,
    num_iters: int = 3,
    partitions: int | None = None,
) -> DataFrame:
    """Returns (id, hub_e6, auth_e6) after ``num_iters`` quantized rounds."""
    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    e, _ = pin_sym(edges, P, "salsa", directed=True)
    deg = degree_table(e, P, "salsa", in_degree=True)
    one = F.lit(SCALE).cast("long")
    state0 = deg.table.select("id", one.alias("h"), one.alias("a"))
    out = lambda s: s.select("id", F.col("h").alias("hub_e6"), F.col("a").alias("auth_e6"))  # noqa: E731
    if deg.V == 0:
        return out(state0)
    fwd, frep, E = build_blocks(e, P, deg)
    bwd, brep, _ = build_blocks(flip(e), P, deg, "in_degree")
    # a superstep is one half-step: (blocks, rep, sent score, updated score)
    halves = [(fwd, frep, "h", "a"), (bwd, brep, "a", "h")]

    def step(state: DataFrame, obs, it: int) -> DataFrame:
        blocks, rep, sent, upd = halves[it % 2]
        # Σ round(sent(src) / out_degree(src)) over each vertex's in-edges
        m = F.round(F.col(sent) / F.col("out_degree")).cast("long")
        new = F.coalesce("n", F.lit(0)).cast("long")
        return (
            gather(state, blocks, rep, F.sum, n=m)
            .select("id", sent, new.alias(upd), F.abs(new - F.col(upd)).alias("_d"))
            .observe(obs, F.sum("_d").alias("delta"))
            .select("id", "h", "a")
            .repartition(P, "id")
        )

    state, _ = iterate(
        e, lambda _: pin_checkpoint(state0), step, l1_change, "salsa", P, E, 2 * num_iters
    )
    return out(state)
