"""Synchronous Louvain-style modularity-gain clustering (one level).

Classic Louvain's local-move phase is inherently sequential (vertices move
one at a time, visiting order changes the result).  For a distributed,
deterministic engine we run the standard *synchronous* variant: every
round, every vertex simultaneously joins the candidate community with the
highest modularity gain, ties broken by the smallest community label —
the same gain formula, evaluated against the previous round's communities
(this is the local-move scheme of distributed Louvain implementations,
e.g. Spark-native GraphX ports; quality is measured separately by the
engine's modularity query).

The gain of moving v into community C (with v removed from its own),
ΔQ ∝ k_{v,C}/m − deg_v·Σtot(C∖v)/(2m²), is compared via the scaled
INTEGER score  2m·k_{v,C} − deg_v·(Σtot(C) − deg_v·[C = cur(v)])  — all
BIGINT, no float accumulation, so a SQL twin reproduces every round
bit-for-bit (the engine's deterministic-tie-break discipline, same as
label propagation).

Scale: one round = three hash joins over the pinned edge table (labels
onto dst for k_{v,C}; degree and community-total lookups) and two grouped
sums; the argmax is a grouped max over a struct (score, −label) — no
window sort.  State is one (id, label) row per vertex.  Both levels run
their fixed rounds as ``gcommon.iterate`` supersteps (``_local_moves``):
one Spark job a round, whose count of moved vertices rides the pin as
``labels_changed``.  The symmetric view and the degree table are pinned
once a call (``gcommon.pin_sym``, ``gcommon.degree_table``); the view's
row count is 2m.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .gcommon import degree_table, iterate, pin_checkpoint, pin_sym, pin_vertices


def _local_moves(
    e: DataFrame, m2: int, labels: DataFrame, rounds: int, P: int, tag: str,
) -> DataFrame:
    """``rounds`` synchronous modularity-gain moves; returns (id, label).

    ``e`` (src, dst, w): the symmetric weighted edges between distinct
    vertices; ``m2``: 2m, the total weight; ``labels`` (id, label, deg):
    the start, pinned on id, with each vertex's weighted degree (0 or
    null without edges), which rides in the state.
    """
    def step(labels: DataFrame, obs: Observation, it: int) -> DataFrame:
        # id is unique in the state; the dedup says so to the planner, which
        # otherwise estimates a join of two frames read from the state as
        # the product of its sides, doubling the size estimate every round
        uniq = labels.dropDuplicates(["id"])
        # Σtot(C): total degree of each community (vertices with no edges
        # contribute 0 and always stay singleton)
        tot = labels.groupBy("label").agg(F.sum("deg").alias("tot"))
        # k_{v,C}: edge weight from v into community C.  ``e`` is symmetric,
        # so the edge u -> v carries u's label to v: the labels join the
        # view's src side, co-partitioned, and no edge row shuffles
        kvc = (
            e.join(
                uniq.select(F.col("id").alias("src"),
                            F.col("label").alias("clab")).hint("shuffle_hash"),
                "src",
            )
            .groupBy(F.col("dst").alias("id"), "clab")
            .agg(F.sum("w").alias("kvc"))
        )
        # the current community is always a candidate (k may be 0 there)
        cand = kvc.unionByName(
            labels.select("id", F.col("label").alias("clab"),
                          F.lit(0).cast("long").alias("kvc"))
        ).groupBy("id", "clab").agg(F.sum("kvc").alias("kvc"))
        d = F.coalesce(F.col("deg"), F.lit(0))
        scored = (
            cand.join(uniq.withColumnRenamed("label", "cur").hint("shuffle_hash"),
                      "id")
            # left: an isolated vertex's singleton community has no
            # degree-carrying members — Σtot is 0 there
            .join(tot.withColumnRenamed("label", "clab").hint("shuffle_hash"),
                  "clab", "left")
            .select(
                "id", "clab", "cur", "deg",
                (
                    F.lit(m2) * F.col("kvc")
                    - d * (F.coalesce(F.col("tot"), F.lit(0))
                           - F.when(F.col("clab") == F.col("cur"), d).otherwise(F.lit(0)))
                ).alias("score"),
            )
        )
        return (
            scored.groupBy("id")
            .agg(
                (-F.max(F.struct(F.col("score"), (-F.col("clab")).alias("nl")))
                 .getField("nl")).alias("label"),
                F.min("cur").alias("cur"),
                F.min("deg").alias("deg"),
            )
            .observe(obs, F.coalesce(F.sum(
                (F.col("label") != F.col("cur")).cast("long")), F.lit(0)).alias("c"))
            .select("id", "label", "deg")
            .repartition(P, "id")
        )

    out, _ = iterate(
        e, lambda _: labels, step,
        lambda got: ({"labels_changed": int(got["c"])}, False),
        tag, P, m2, rounds, output=lambda s: s.select("id", "label"),
    )
    return out


def louvain_sync(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    num_rounds: int = 4,
    partitions: int | None = None,
) -> DataFrame:
    """Run ``num_rounds`` synchronous modularity-gain label updates over the
    undirected simple graph; returns (id, label).  Starts from singleton
    communities (label = id)."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    e, m2 = pin_sym(edges, P, "louvain_sync")  # symmetric: 2m rows
    deg = degree_table(e, P, "louvain_sync", vertices).table
    labels = deg.select("id", F.col("id").alias("label"), F.col("out_degree").alias("deg"))
    return _local_moves(e.select("src", "dst", F.lit(1).cast("long").alias("w")), m2,
                        labels, num_rounds, P, "louvain_sync")


def louvain_multilevel(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    rounds_level1: int = 4,
    rounds_level2: int = 4,
    partitions: int | None = None,
) -> DataFrame:
    """Two-level Louvain: synchronous local-move phase, community-contraction
    (quotient graph with integer edge weights), then a second synchronous
    local-move phase on the weighted coarse graph; returns the original
    vertices with their final (level-2) community label.

    This is the full Louvain lifecycle (Blondel et al.'08) in its
    deterministic synchronous form: the contraction keeps self-loop weight
    inside the coarse vertex's weighted degree (so Σtot and 2m are
    preserved exactly — m2 of the quotient graph equals m2 of the input),
    while the gain's k_{v,C} sums only cross-community coarse edges (the
    self-loop term is choice-invariant).  All quantities stay BIGINT —
    weights are edge multiplicities — so every round is bit-equal across
    engines (same integer-score discipline as ``louvain_sync``).

    Scale: the contraction is two hash joins + one grouped count, pinned
    once; the coarse graph is typically orders of magnitude smaller than E
    (web graphs: ~100x), so level-2 rounds run on a contracted table.
    State is one row per coarse vertex.
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    algo = "louvain_multilevel"

    labels0 = louvain_sync(edges, vertices=vertices,
                           num_rounds=rounds_level1, partitions=P)
    e, _ = pin_sym(edges, P, algo)  # symmetric, 2m rows
    # quotient graph: symmetric weighted coarse edges incl. self-loops
    obs = Observation()
    ce = pin_checkpoint(
        e.join(labels0.select(F.col("id").alias("src"),
                              F.col("label").alias("ls")).hint("shuffle_hash"),
               "src")
        .join(labels0.select(F.col("id").alias("dst"),
                             F.col("label").alias("ld")).hint("shuffle_hash"),
              "dst")
        .groupBy(F.col("ls").alias("src"), F.col("ld").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
        .observe(obs, F.sum("w").alias("m2"))
        .repartition(P, "src")
    )
    m2 = obs.get["m2"] or 0
    # the coarse vertices with their weighted degree (self-loops included)
    clabels, _ = pin_vertices(
        labels0.select(F.col("label").alias("id")).distinct()
        .join(ce.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("deg")), "id", "left")
        .select("id", F.col("id").alias("label"), "deg"), P, algo)
    clabels = _local_moves(ce.filter(F.col("src") != F.col("dst")), m2, clabels,
                           rounds_level2, P, algo)
    out = (
        labels0.join(
            clabels.select(F.col("id").alias("label"),
                           F.col("label").alias("flabel")).hint("shuffle_hash"),
            "label",
        )
        .select("id", F.col("flabel").alias("label"))
    )
    return pin_checkpoint(out.repartition(P, "id"))
