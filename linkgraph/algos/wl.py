"""1-dimensional Weisfeiler–Leman color refinement.

Iteratively refines vertex colors by the multiset of neighbor colors:
``color'(v) = relabel(color(v), sorted multiset of neighbor colors)``.
The stable coloring is a structural fingerprint — two vertices sharing a
final color are 1-WL-indistinguishable — used for template/boilerplate
page-structure dedup and as the classic graph-isomorphism invariant.

Scale design: per-round relabeling is ``xxhash64(color, signature)`` — a
pure column expression, collision-free w.h.p., with NO global sort and NO
window (the round-1 dense_rank relabel moved all V rows through a single
partition every round).  Because hash labels are engine-specific, the
RETURNED colors are canonicalized once at the end to the minimum vertex id
of each color class — a single groupBy + broadcast join back, deterministic
and portable, so the DuckDB oracle (which refines with its own per-round
labels) lands on byte-identical output.  The refinement join/agg structure
(one adjacency⋈state join + one grouped sort_array/collect_list per round,
both partial-aggregable) carries to 10^10 vertices unchanged.

Oracle: the identical refinement computed sequentially (pytest) and a
round-unrolled SQL twin with the same min-id canonicalization (suite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import gather_edges, iterate, pin_checkpoint, pin_sym


def wl_refinement(
    edges: DataFrame,
    rounds: int = 3,
    partitions: int | None = None,
) -> DataFrame:
    """Returns ``(id, color)`` after ``rounds`` refinement steps over the
    undirected view of ``edges`` (vertices with ≥1 neighbor).  ``color`` is
    the minimum vertex id sharing the vertex's final WL class."""
    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sym, E = pin_sym(edges, P, "wl_refinement")
    start = pin_checkpoint(
        sym.select(F.col("src").alias("id")).distinct()
        .select("id", F.lit(1).cast("long").alias("color"))
        .repartition(P, "id")
    )
    sig = F.concat_ws(",", F.sort_array("nc").cast("array<string>"))

    def step(state: DataFrame, obs, it: int) -> DataFrame:
        # hash relabel: equal (old color, signature) -> equal new color;
        # distinct classes collide with prob ~V^2/2^64 (negligible, and any
        # collision would only MERGE classes — caught by the oracle gate)
        return (
            gather_edges(state, sym, F.collect_list, nc=F.col("color"))
            .select("id", F.xxhash64(F.concat_ws("|", "color", sig)).alias("color"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .repartition(P, "id")
        )

    state, _ = iterate(edges, lambda _: start, step, lambda got: ({}, False),
                       "wl", P, E, rounds)
    # canonicalize: engine-portable label = min vertex id in the class
    canon = state.groupBy("color").agg(F.min("id").alias("canon"))
    return state.join(F.broadcast(canon), "color") \
        .select("id", F.col("canon").alias("color"))
