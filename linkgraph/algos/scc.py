"""Strongly connected components of the DIRECTED link graph.

Trim + forward-coloring + backward-membership (the Orzan coloring scheme,
the standard distributed SCC construction):

  1. **Trim**: iteratively peel vertices whose in- or out-degree within the
     active subgraph is 0 — each is its own singleton SCC.  This collapses
     chains/DAG tails that would otherwise cost one coloring round each.
  2. **Color**: propagate min vertex id FORWARD along edges to fixpoint:
     ``c(v) = min({v} ∪ {c(u) : u→v})``.  Every SCC ends up monochromatic,
     and each color class contains exactly one root r with c(r)=r.  This
     is ``gcommon.relax`` from ``(id, c = id)`` with message ``c`` over
     the active edges.
  3. **Membership**: the SCC of root r = vertices of color r that can reach
     r through edges staying inside color r — ``gcommon.frontier`` from
     the roots over the reversed edges whose endpoints share a color.  All
     colors run concurrently in one DataFrame.
  4. Assign ``scc = color`` to members, drop them from the active subgraph,
     repeat from 1 until no vertices remain.

Steps 2 and 3 run on the kernel's sparse-state supersteps over the active
edges pinned once a round (``gcommon.pin_edges``): one Spark job a
superstep, the change count riding the pin.  The trim and the outer round
shrink the edge set, so they stay off the kernel; their vertex and edge
pins count the active set as an Observation.  Labels are exact: scc = min
vertex id in the component (validated against a pure-Python Tarjan oracle
and a transitive-closure recursive-CTE SQL twin).

New capability relative to the reference (which is undirected-only,
/root/reference/src/Graph.cpp:295-310); the web link graph is directed, so
SCC is the natural companion to the north rule's connected components.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import (
    flip,
    frontier,
    pin_checkpoint,
    pin_edges,
    pin_sym,
    pin_vertices,
    relax,
    vertex_set,
)


def strongly_connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 50,
    max_iter: int = 200,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Returns (labels(id, scc), per-round metrics); scc = min id in the SCC."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    algo = "strongly_connected_components"

    def pin_active(e: DataFrame) -> tuple[DataFrame, int]:
        return pin_edges(e, lambda e: e.repartition(P, "src"), algo)

    def drop(e: DataFrame, v: DataFrame, how: str) -> DataFrame:
        """The edges of ``e`` whose endpoints both are (semi) or both are
        not (anti) in ``v``."""
        for k in ("src", "dst"):
            e = e.join(v.withColumnRenamed("id", k).hint("shuffle_hash"), k, how)
        return e

    active_e, E = pin_sym(edges, P, algo, directed=True)
    if vertices is None:
        vertices = vertex_set(edges)
    active_v, n_active = pin_vertices(vertices.select("id").distinct(), P, algo)
    done_parts: list[DataFrame] = []
    metrics: list[dict] = []

    for rnd in range(max_rounds):
        t0 = time.time()
        # ---- 1. trim: vertices with no in- or no out-edge are singleton SCCs
        while True:
            srcs = active_e.select(F.col("src").alias("id")).distinct()
            dsts = active_e.select(F.col("dst").alias("id")).distinct()
            keep = srcs.join(dsts.hint("shuffle_hash"), "id", "left_semi")
            kept, n_kept = pin_vertices(
                active_v.join(keep.hint("shuffle_hash"), "id", "left_semi"), P, algo)
            if n_kept == n_active:
                break
            # the trimmed layer is an anti-join of two pinned tables —
            # appended lazily, no checkpoint job of its own
            done_parts.append(active_v.join(kept.hint("shuffle_hash"), "id", "left_anti")
                              .select("id", F.col("id").alias("scc")))
            active_v, n_active = kept, n_kept
            active_e, E = pin_active(drop(active_e, active_v, "left_semi"))
        if n_active == 0:
            metrics.append({"round": rnd, "trimmed_to": 0, "seconds": time.time() - t0})
            break

        # ---- 2. forward min-label coloring to fixpoint
        colors, cm = relax(active_e, E, active_v.select("id", F.col("id").alias("c")),
                           "c", F.col("c"), "recolored", algo, P, max_iter)

        # ---- 3. backward membership: reach the color root within the color
        # (edge u -> w carries membership backward w => u when both share a color)
        def inner(e: DataFrame) -> DataFrame:
            return flip(
                e.join(colors.select(F.col("id").alias("src"), F.col("c").alias("cs"))
                       .hint("shuffle_hash"), "src")
                .join(colors.select(F.col("id").alias("dst"), F.col("c").alias("cd"))
                      .hint("shuffle_hash"), "dst")
                .filter(F.col("cs") == F.col("cd"))
            ).repartition(P, "src")

        ce, n_ce = pin_edges(active_e, inner, algo)
        roots = colors.filter(F.col("id") == F.col("c")).select(
            "id", F.lit(0).alias("dist"))
        member, mm = frontier(ce, n_ce, roots, (), algo, P, max_iter)
        member = member.select("id")

        done_parts.append(member.join(colors, "id").select("id", F.col("c").alias("scc")))
        active_v, n_left = pin_vertices(
            active_v.join(member.hint("shuffle_hash"), "id", "left_anti"), P, algo)
        active_e, E = pin_active(drop(active_e, member, "left_anti"))
        metrics.append(
            {"round": rnd, "assigned": n_active - n_left, "active_after": n_left,
             "supersteps": len(cm) + len(mm), "seconds": time.time() - t0}
        )
        n_active = n_left
        if n_active == 0:
            break

    if not done_parts:  # empty vertex set
        out = spark.createDataFrame([], "id long, scc long")
        return out, metrics
    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.union(p)
    return pin_checkpoint(out.repartition(P, "id")), metrics


def condensation_levels(
    edges: DataFrame,
    max_rounds: int = 60,
    partitions: int | None = None,
) -> DataFrame:
    """Topological levels of the SCC condensation DAG — the web-graph
    hierarchy map (level = longest path from any source component).

    Contracts each SCC to its label, keeps the distinct inter-component
    edges (a DAG by construction, pinned once with ``gcommon.pin_edges``),
    then runs synchronous longest-path relaxation
    level(c) ← max(level(c), max_{p→c} level(p)+1) as ``gcommon.relax`` on
    the negated level (start 0, message ``nl - 1``, the least wins), one
    Spark job per superstep, until fixpoint (≤ DAG-depth supersteps —
    O(log)-ish for web bow-ties whose condensation is shallow).

    Returns (scc, level, n_vertices).  Exact; SQL twin unrolls the
    relaxation (12 rounds: measured depth ≤ 6 on every derived graph).
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    algo = "condensation_levels"

    lab, _ = strongly_connected_components(edges, partitions=P)
    sizes = lab.groupBy("scc").agg(F.count(F.lit(1)).alias("n_vertices"))

    def contract(e: DataFrame) -> DataFrame:
        return (
            e.select("src", "dst")
            .join(lab.withColumnRenamed("id", "src")
                  .withColumnRenamed("scc", "cs").hint("shuffle_hash"), "src")
            .join(lab.withColumnRenamed("id", "dst")
                  .withColumnRenamed("scc", "cd").hint("shuffle_hash"), "dst")
            .filter(F.col("cs") != F.col("cd"))
            .select(F.col("cs").alias("src"), F.col("cd").alias("dst"))
            .dropDuplicates(["src", "dst"])
            .repartition(P, "src")
        )

    cond, E = pin_edges(edges, contract, algo)
    start = sizes.select(F.col("scc").alias("id"), F.lit(0).cast("long").alias("nl"))
    lvl, _ = relax(cond, E, start, "nl", F.col("nl") - 1, "deepened", algo, P, max_rounds)
    return lvl.select(F.col("id").alias("scc"), (-F.col("nl")).alias("level")).join(
        sizes, "scc"
    ).select("scc", "level", F.col("n_vertices").cast("long").alias("n_vertices"))
