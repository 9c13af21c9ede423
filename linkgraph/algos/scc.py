"""Strongly connected components of the DIRECTED link graph.

Trim + forward-coloring + backward-membership (the Orzan coloring scheme,
the standard distributed SCC construction):

  1. **Trim**: iteratively peel vertices whose in- or out-degree within the
     active subgraph is 0 — each is its own singleton SCC.  This collapses
     chains/DAG tails that would otherwise cost one coloring round each.
  2. **Color**: propagate min vertex id FORWARD along edges to fixpoint:
     ``c(v) = min({v} ∪ {c(u) : u→v})``.  Every SCC ends up monochromatic,
     and each color class contains exactly one root r with c(r)=r.
  3. **Membership**: the SCC of root r = vertices of color r that can reach
     r through edges staying inside color r — found by propagating a flag
     BACKWARD from the roots within each color class to fixpoint.  All
     colors run concurrently in one DataFrame.
  4. Assign ``scc = color`` to members, drop them from the active subgraph,
     repeat from 1 until no vertices remain.

Every fixpoint superstep is a V-row state join against the (pinned) active
edge table plus a grouped min/max — the same join-agg shape as the
engine's CC loop — with per-superstep ``localCheckpoint`` lineage
truncation.  Labels are exact: scc = min vertex id in the component
(validated against a pure-Python Tarjan oracle and a transitive-closure
recursive-CTE SQL twin).

New capability relative to the reference (which is undirected-only,
/root/reference/src/Graph.cpp:295-310); the web link graph is directed, so
SCC is the natural companion to the north rule's connected components.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import vertex_set


def _ckpt(df: DataFrame, P: int, *keys: str) -> DataFrame:
    return df.repartition(P, *keys).localCheckpoint(eager=True)


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

    if vertices is None:
        vertices = vertex_set(edges)
    active_v = _ckpt(vertices.select("id").distinct(), P, "id")
    active_e = _ckpt(
        edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"]),
        P, "src",
    )
    done_parts: list[DataFrame] = []
    metrics: list[dict] = []

    for rnd in range(max_rounds):
        t0 = time.time()
        # ---- 1. trim: vertices with no in- or no out-edge are singleton SCCs
        while True:
            srcs = active_e.select(F.col("src").alias("id")).distinct()
            dsts = active_e.select(F.col("dst").alias("id")).distinct()
            keep = srcs.join(dsts.hint("shuffle_hash"), "id", "left_semi")
            trimmed = active_v.join(keep.hint("shuffle_hash"), "id", "left_anti")
            n_trim = trimmed.count()
            if n_trim == 0:
                break
            # trimmed has 2-step lineage over checkpointed inputs — append
            # it lazily (no per-peel-layer checkpoint job)
            done_parts.append(trimmed.select("id", F.col("id").alias("scc")))
            active_v = _ckpt(
                active_v.join(trimmed.hint("shuffle_hash"), "id", "left_anti"), P, "id"
            )
            keep2 = active_v
            active_e = _ckpt(
                active_e.join(
                    keep2.withColumnRenamed("id", "src").hint("shuffle_hash"),
                    "src", "left_semi",
                ).join(
                    keep2.withColumnRenamed("id", "dst").hint("shuffle_hash"),
                    "dst", "left_semi",
                ),
                P, "src",
            )
        n_active = active_v.count()
        if n_active == 0:
            metrics.append({"round": rnd, "trimmed_to": 0, "seconds": time.time() - t0})
            break

        # ---- 2. forward min-label coloring to fixpoint
        colors = _ckpt(active_v.select("id", F.col("id").alias("c")), P, "id")
        for _ in range(max_iter):
            upd = (
                active_e.join(
                    colors.withColumnRenamed("id", "src").hint("shuffle_hash"), "src"
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("c").alias("nc"))
            )
            new_colors = _ckpt(
                colors.join(upd.hint("shuffle_hash"), "id", "left")
                .select("id", F.least("c", F.coalesce("nc", "c")).alias("c")),
                P, "id",
            )
            changed = (
                new_colors.alias("n")
                .join(colors.alias("o"), "id")
                .filter(F.col("n.c") != F.col("o.c"))
                .count()
            )
            colors = new_colors
            if changed == 0:
                break

        # ---- 3. backward membership: reach the color root within the color
        # edge (u -> w) carries flag backward w=>u when both share a color
        ce = _ckpt(
            active_e.join(colors.withColumnRenamed("id", "src")
                          .withColumnRenamed("c", "cs").hint("shuffle_hash"), "src")
            .join(colors.withColumnRenamed("id", "dst")
                  .withColumnRenamed("c", "cd").hint("shuffle_hash"), "dst")
            .filter(F.col("cs") == F.col("cd"))
            .select("src", "dst"),
            P, "dst",
        )
        member = _ckpt(
            colors.filter(F.col("id") == F.col("c")).select("id"), P, "id"
        )  # roots
        for _ in range(max_iter):
            grown = (
                ce.join(member.withColumnRenamed("id", "dst").hint("shuffle_hash"),
                        "dst", "left_semi")
                .select(F.col("src").alias("id"))
                .dropDuplicates(["id"])
                .join(member.hint("shuffle_hash"), "id", "left_anti")
            )
            n_grown = grown.count()
            if n_grown == 0:
                break
            member = _ckpt(member.union(grown), P, "id")

        scc_now = _ckpt(
            member.join(colors.hint("shuffle_hash"), "id").select(
                "id", F.col("c").alias("scc")
            ),
            P, "id",
        )
        done_parts.append(scc_now)
        n_assigned = scc_now.count()
        active_v = _ckpt(
            active_v.join(member.hint("shuffle_hash"), "id", "left_anti"), P, "id"
        )
        active_e = _ckpt(
            active_e.join(
                member.withColumnRenamed("id", "src").hint("shuffle_hash"),
                "src", "left_anti",
            ).join(
                member.withColumnRenamed("id", "dst").hint("shuffle_hash"),
                "dst", "left_anti",
            ),
            P, "src",
        )
        metrics.append(
            {"round": rnd, "assigned": n_assigned, "active_after": n_active - n_assigned,
             "seconds": time.time() - t0}
        )
        if active_v.count() == 0:
            break

    if not done_parts:  # empty vertex set
        out = spark.createDataFrame([], "id long, scc long")
        return out, metrics
    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.union(p)
    return _ckpt(out, P, "id"), metrics


def condensation_levels(
    edges: DataFrame,
    max_rounds: int = 60,
    partitions: int | None = None,
) -> DataFrame:
    """Topological levels of the SCC condensation DAG — the web-graph
    hierarchy map (level = longest path from any source component).

    Contracts each SCC to its label, keeps the distinct inter-component
    edges (a DAG by construction), then runs synchronous longest-path
    relaxation:  level(c) ← max(level(c), max_{p→c} level(p)+1), one
    grouped-max join per superstep, until fixpoint (≤ DAG-depth rounds —
    O(log)-ish for web bow-ties whose condensation is shallow).

    Returns (scc, level, n_vertices).  Exact; SQL twin unrolls the
    relaxation (12 rounds: measured depth ≤ 6 on every derived graph).
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    labels, _ = strongly_connected_components(edges, partitions=P)
    lab = _ckpt(labels, P, "id")
    sizes = lab.groupBy("scc").agg(F.count(F.lit(1)).alias("n_vertices"))
    cond = _ckpt(
        edges.select("src", "dst")
        .join(lab.withColumnRenamed("id", "src")
              .withColumnRenamed("scc", "cs").hint("shuffle_hash"), "src")
        .join(lab.withColumnRenamed("id", "dst")
              .withColumnRenamed("scc", "cd").hint("shuffle_hash"), "dst")
        .filter(F.col("cs") != F.col("cd"))
        .select(F.col("cs").alias("src"), F.col("cd").alias("dst"))
        .dropDuplicates(["src", "dst"]),
        P, "src",
    )
    lvl = _ckpt(
        sizes.select(F.col("scc").alias("id"), F.lit(0).cast("long").alias("lvl")),
        P, "id",
    )
    for _ in range(max_rounds):
        upd = (
            cond.join(lvl.withColumnRenamed("id", "src").hint("shuffle_hash"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg((F.max("lvl") + 1).alias("nl"))
        )
        new_lvl = _ckpt(
            lvl.join(upd.hint("shuffle_hash"), "id", "left")
            .select("id", F.greatest("lvl", F.coalesce("nl", F.lit(0))).alias("lvl")),
            P, "id",
        )
        changed = (
            new_lvl.alias("n").join(lvl.alias("o"), "id")
            .filter(F.col("n.lvl") != F.col("o.lvl")).count()
        )
        lvl = new_lvl
        if changed == 0:
            break
    return lvl.select(F.col("id").alias("scc"), F.col("lvl").alias("level")).join(
        sizes, "scc"
    ).select("scc", "level", F.col("n_vertices").cast("long").alias("n_vertices"))
