"""k-truss decomposition of the undirected link graph.

The k-truss is the maximal subgraph in which every edge participates in at
least k-2 triangles — the edge-level analogue of the k-core and the
standard cohesive-subgraph operator for web/community graphs (Cohen 2008).

Both programs read ONE static triangle-edge incidence table
(``_incidence``): the triangles of the id-canonical edge set (a < b),
found once by the exact counter's degree-ordered wedge + closure join
(``triangles.triangles``: a hub never emits C(d, 2) wedge rows), one row
per (triangle, member edge) carrying the other two member edges' keys,
pinned once.  A triangle of a peeled edge set is a triangle of the start
graph whose three edges are all still there, so no round recounts.

``ktruss_edges`` peels on ``gcommon.iterate``: the state (a, b, alive)
is pinned on (a, b); each round an edge's support is the number of its
incidence rows whose two other edges are alive, and an edge stays alive
only if its support is at least k - 2.  The alive and removed counts
ride the pin; the loop stops when a round removes nothing or nothing is
left.  Triangle-free edges have support 0, so k <= 2 keeps every simple
edge (the 2-truss).

``truss_numbers`` (every edge's trussness) is an edge-H-index fixpoint
over the same table, one Spark job per round, the H-index one array
expression (``gcommon.h_index``, shared with ``kcore.core_numbers``).

Oracle: unrolled peel SQL (MATERIALIZED per round — each round is
referenced by the next) in suite.py plus a brute-force pytest oracle.

New capability relative to the reference (which counts triangles but has
no truss/peeling operator; /root/reference/naive_implementation/
TriangleCounting.cpp:44-70 is the exact-count analogue).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import canonical, h_index, iterate, pin_canonical, pin_checkpoint, pin_edges


def _incidence(e: DataFrame, P: int) -> DataFrame:
    """The triangle-edge incidence table of the id-canonical edge set
    ``e`` (a < b), pinned: one row per (triangle, member edge (ea, eb)),
    carrying the OTHER two member edges' keys (o1a, o1b) and (o2a, o2b);
    pinned on the first of them, which a state pinned on (a, b) then
    joins with no exchange."""
    from .triangles import _closed, _degrees, _orient

    tri = _closed(_orient(e, _degrees(e, P, "k-truss incidence")))
    x, y, z = "a", "b", "c"  # x < y < z by id
    cols = ["ea", "eb", "o1a", "o1b", "o2a", "o2b"]
    rows = [(x, y, x, z, y, z), (x, z, x, y, y, z), (y, z, x, y, x, z)]
    return pin_checkpoint(reduce(DataFrame.union, [
        tri.select(*(F.col(c).alias(n) for c, n in zip(r, cols))) for r in rows
    ]).repartition(P, "o1a", "o1b"))


def _other(cur: DataFrame, i: str, *vals: str) -> DataFrame:
    """(o{i}a, o{i}b, vals{i}…): the state as the i-th other member edge.
    (a, b) is unique in the state; the dedup says so to the planner,
    which otherwise estimates each join as the product of its sides,
    doubling the state's size estimate (in bits) every round."""
    return cur.select(
        F.col("a").alias(f"o{i}a"), F.col("b").alias(f"o{i}b"),
        *(F.col(v).alias(f"{v}{i}") for v in vals),
    ).dropDuplicates([f"o{i}a", f"o{i}b"])


def _incident(inc: DataFrame, cur: DataFrame, *vals: str) -> DataFrame:
    """The incidence rows whose two other edges are in ``cur``, with
    their ``vals`` suffixed 1 and 2."""
    return (
        inc.join(_other(cur, "1", *vals).hint("shuffle_hash"), ["o1a", "o1b"])
        .join(_other(cur, "2", *vals).hint("shuffle_hash"), ["o2a", "o2b"])
    )


def ktruss_edges(
    edges: DataFrame,
    k: int,
    max_rounds: int = 50,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Edges (a, b) of the k-truss; returns (edge DataFrame, per-round
    metrics with the surviving ``edges`` and the ``removed`` count)."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    algo = "ktruss_edges"

    e, E = pin_edges(edges, lambda e: canonical(e).repartition(P, "a", "b"), algo)
    if E == 0:
        return e, []
    inc = _incidence(e, P)

    def step(cur: DataFrame, obs, it: int) -> DataFrame:
        # round 0 starts with every edge alive: each incidence row counts
        rows = inc if it == 0 else _incident(inc, cur.filter("alive"))
        supp = (
            rows
            .groupBy(F.col("ea").alias("a"), F.col("eb").alias("b"))
            .agg(F.count(F.lit(1)).alias("s"))
        )
        keep = F.col("alive") & (F.coalesce(F.col("s"), F.lit(0)) >= k - 2)
        return (
            cur.join(supp.hint("shuffle_hash"), ["a", "b"], "left")
            .select("a", "b", F.col("alive").alias("_was"), keep.alias("alive"))
            .observe(obs, F.count(F.when(F.col("alive"), 1)).alias("e"),
                     F.count(F.when(F.col("_was") & ~F.col("alive"), 1)).alias("r"))
            .select("a", "b", "alive")
            .repartition(P, "a", "b")
        )

    def record(got: dict) -> tuple[dict, bool]:
        return ({"edges": int(got["e"]), "removed": int(got["r"])},
                got["r"] == 0 or got["e"] == 0)

    return iterate(edges, lambda _: e.withColumn("alive", F.lit(True)), step, record,
                   algo, P, E, max_rounds,
                   output=lambda cur: cur.filter("alive").select("a", "b"))


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

    e, E = pin_canonical(edges, P, algo)
    inc = _incidence(e, P)
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

    def step(cur: DataFrame, obs, it: int) -> DataFrame:
        vals = (
            _incident(inc, cur, "t")
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
