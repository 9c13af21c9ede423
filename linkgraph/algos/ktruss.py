"""k-truss decomposition of the undirected link graph.

The k-truss is the maximal subgraph in which every edge participates in at
least k-2 triangles — the edge-level analogue of the k-core and the
standard cohesive-subgraph operator for web/community graphs (Cohen 2008).

Iterative support peeling as DataFrame joins:

  1. canonicalize edges by id (a < b) for the peel state, but generate
     wedges under the DEGREE-ordered orientation (triangles.
     degree_ranked_oriented) — out-degrees bounded by O(√m), so a hub
     never emits C(d, 2) wedge rows;
  2. per round, count each edge's triangle support with the degree-ordered
     two-path + closing-edge join, then project every found triangle back
     onto its three id-canonical edges and take one grouped count;
  3. drop edges with support < k-2; repeat until the edge set is stable.

The edge set only shrinks, so round cost is monotonically decreasing; the
support join is the engine's triangle plan (shuffle-hash, no sort-merge),
and the per-round state is the edge list hash-partitioned on ``a``.
Termination: at most E rounds, in practice a handful (each round removes
at least one edge or stops).  The peel shrinks its edge set every round,
so it stays off the gcommon superstep kernel.

``truss_numbers`` (every edge's trussness) does not peel: it is an
edge-H-index fixpoint over one static triangle-edge incidence table,
pinned once, and runs on ``gcommon.iterate`` — one Spark job per round,
the H-index one array expression (``gcommon.h_index``, shared with
``kcore.core_numbers``).

Oracle: unrolled peel SQL (MATERIALIZED per round — each round is
referenced by the next) in suite.py plus a brute-force pytest oracle.

New capability relative to the reference (which counts triangles but has
no truss/peeling operator; /root/reference/naive_implementation/
TriangleCounting.cpp:44-70 is the exact-count analogue).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import ckpt, h_index, iterate, pin_checkpoint, pin_edges


def _canonical(edges: DataFrame) -> DataFrame:
    """(a, b): each undirected simple edge once, id-canonical (a < b)."""
    return (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def _rank_table(e: DataFrame, P: int) -> DataFrame:
    """(id, d) degree table of the id-canonical edge set ``e`` — the
    STATIC (degree, id) total order used to orient wedges.  Computed once
    on the initial graph and reused across every peel round: any FIXED
    total order generates each triangle exactly once, and initial-degree
    rank keeps out-degrees O(√m₀) as the edge set shrinks, so the peel
    loop pays the ranking's two E-row joins but never re-aggregates
    degrees per round."""
    return ckpt(
        e.select(F.col("a").alias("id"))
        .union(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d")),
        P,
        "id",
    )


def _tri_id_sorted(e: DataFrame, rank: DataFrame | None = None) -> DataFrame:
    """Triangles (x < y < z BY ID) of the id-canonical edge set ``e``
    (columns a < b) — delegates to triangles.triangles() (the shared
    degree-ordered wedge + closure plan: hub-safe O(m^1.5) wedge rows,
    id-sorted output matching the id-canonical edge keys), renaming the
    output columns.  ``rank`` (from _rank_table) supplies a precomputed
    static order; None computes degrees of ``e`` itself."""
    from .triangles import triangles

    tri = triangles(
        e.select(F.col("a").alias("src"), F.col("b").alias("dst")), rank=rank
    )
    return tri.select(
        F.col("a").alias("x"), F.col("b").alias("y"), F.col("c").alias("z")
    )


def _support(e: DataFrame, rank: DataFrame | None = None) -> DataFrame:
    """Per-edge triangle support over id-canonical edges (a < b).

    Triangles found by the degree-ordered wedge + closure join
    (_tri_id_sorted over the static initial-degree rank); each triangle
    is projected onto its three member edges, one grouped count gives
    support.
    """
    tri = _tri_id_sorted(e, rank)
    per_edge = (
        tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
        .union(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
        .union(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
    )
    return per_edge.groupBy("a", "b").agg(F.count(F.lit(1)).alias("supp"))


def ktruss_edges(
    edges: DataFrame,
    k: int,
    max_rounds: int = 50,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Edges (a, b) of the k-truss; returns (edge DataFrame, metrics)."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    e = ckpt(_canonical(edges), P, "a")
    n = e.count()
    rank = _rank_table(e, P)  # static (degree, id) order, built once
    metrics: list[dict] = []
    for rnd in range(max_rounds):
        t0 = time.time()
        keep = _support(e, rank).filter(F.col("supp") >= k - 2).select("a", "b")
        e2 = ckpt(e.join(keep.hint("shuffle_hash"), ["a", "b"], "left_semi"), P, "a")
        n2 = e2.count()
        metrics.append(
            {"round": rnd, "edges": n2, "removed": n - n2, "seconds": time.time() - t0}
        )
        e, done = e2, n2 == n
        n = n2
        if done or n == 0:
            break
    return e, metrics


def truss_numbers(
    edges: DataFrame,
    max_rounds: int = 64,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Full truss decomposition: the max k such that each edge belongs to
    the k-truss (every edge has trussness >= 2; triangle-free edges get
    exactly 2).  Returns ((a, b, trussness), per-round metrics).

    Edge-h-index fixpoint iteration — the edge analogue of the node
    h-index -> coreness convergence (Lu, Zhou, Zhang & Stanley, PNAS'16):
    t_0(e) = support(e); t_{i+1}(e) = h-index of the multiset
    { min(t_i(e'), t_i(e'')) : triangles (e, e', e'') }.  The sequence is
    monotone non-increasing per edge and converges to trussness(e) - 2,
    so no peeling loop nesting: ONE static triangle-edge incidence table
    (the exact counter's degree-ordered wedge+closure join), pinned once,
    and one ``gcommon.iterate`` superstep per round: the state (a, b, t)
    joins the H-index (``gcommon.h_index``) of each edge's collected
    ``least(t1, t2)`` values, and the changed count rides the pin as
    ``changed``.

    Scale: per-round state is one t row per edge, pinned on (a, b), so the
    grouped H-index joins it with no exchange; an edge's collected array
    holds its support — bounded by the max hub-pair support, never by |E|.
    Rounds to fixpoint are small in practice (single digits on web-ish
    fixtures; the unrolled SQL twin's depth is regression-asserted
    against the engine's measured round count).
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    algo = "truss_numbers"

    e, E = pin_edges(edges, lambda e: _canonical(e).repartition(P, "a"), algo)
    tri = _tri_id_sorted(e)
    # one incidence row per (triangle, member edge), carrying the OTHER
    # two member edges' keys; pinned on the first of them, which the state
    # (pinned on (a, b)) then joins with no exchange
    inc = pin_checkpoint(
        tri.select(
            F.col("x").alias("ea"), F.col("y").alias("eb"),
            F.col("x").alias("o1a"), F.col("z").alias("o1b"),
            F.col("y").alias("o2a"), F.col("z").alias("o2b"),
        ).union(tri.select(
            F.col("x").alias("ea"), F.col("z").alias("eb"),
            F.col("x").alias("o1a"), F.col("y").alias("o1b"),
            F.col("y").alias("o2a"), F.col("z").alias("o2b"),
        )).union(tri.select(
            F.col("y").alias("ea"), F.col("z").alias("eb"),
            F.col("x").alias("o1a"), F.col("y").alias("o1b"),
            F.col("x").alias("o2a"), F.col("z").alias("o2b"),
        )).repartition(P, "o1a", "o1b")
    )
    supp = inc.groupBy(F.col("ea").alias("a"), F.col("eb").alias("b")).agg(
        F.count(F.lit(1)).alias("t"))
    start = pin_checkpoint(
        e.join(supp, ["a", "b"], "left")
        .select("a", "b", F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("t"))
        .repartition(P, "a", "b")
    )
    out = F.col("t") + 2
    if E == 0:
        return start.select("a", "b", out.alias("trussness")), []

    def other(cur: DataFrame, i: str) -> DataFrame:
        """(o{i}a, o{i}b, t{i}): the state as the i-th other member edge.
        (a, b) is unique in the state; the dedup says so to the planner,
        which otherwise estimates each join as the product of its sides,
        doubling the state's size estimate (in bits) every round."""
        return cur.select(F.col("a").alias(f"o{i}a"), F.col("b").alias(f"o{i}b"),
                          F.col("t").alias(f"t{i}")).dropDuplicates([f"o{i}a", f"o{i}b"])

    def step(cur: DataFrame, obs, it: int) -> DataFrame:
        vals = (
            inc.join(other(cur, "1").hint("shuffle_hash"), ["o1a", "o1b"])
            .join(other(cur, "2").hint("shuffle_hash"), ["o2a", "o2b"])
            .groupBy(F.col("ea").alias("a"), F.col("eb").alias("b"))
            .agg(h_index(F.collect_list(F.least("t1", "t2"))).alias("h"))
        )
        h = F.coalesce(F.col("h"), F.lit(0)).cast("long")
        return (
            cur.join(vals.hint("shuffle_hash"), ["a", "b"], "left")
            .select("a", "b", h.alias("t"), (h != F.col("t")).alias("_chg"))
            .observe(obs, F.coalesce(
                F.sum(F.col("_chg").cast("long")), F.lit(0)).alias("c"))
            .select("a", "b", "t")
            .repartition(P, "a", "b")
        )

    return iterate(
        edges, lambda _: start, step,
        lambda got: ({"changed": int(got["c"])}, got["c"] == 0),
        algo, P, E, max_rounds, output=lambda cur: cur.select("a", "b", out.alias("trussness")),
    )
