"""Exact small-pattern counters: chains, stars, motifs, cliques.

Spark forms of the reference's exact counters
(/root/reference/sampling/Graph.cpp:169-291 and
/root/reference/naive_implementation/): grouped aggregations over degrees
where a closed form exists (chains/stars), self-joins otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import canonical
from .triangles import (
    triangle_count,
    _rank_lt,
    degree_ranked_oriented,
)


def _und_degrees(edges: DataFrame) -> DataFrame:
    o = canonical(edges)
    return (
        o.select(F.col("a").alias("id"))
        .union(o.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def three_chain_count(edges: DataFrame) -> int:
    """Unordered paths on 3 distinct vertices = sum_v C(deg_v, 2).

    (/root/reference/sampling/Graph.cpp:212-239 counts the same quantity by
    enumeration; the closed form is one grouped agg + one scalar agg.)
    """
    row = (
        _und_degrees(edges)
        .agg(F.sum(F.col("degree") * (F.col("degree") - 1) / 2).alias("n"))
        .collect()[0]
    )
    return int(row["n"] or 0)


def k_star_count(edges: DataFrame, k: int = 5) -> int:
    """k-stars = sum_v C(deg_v, k) (5-star: /root/reference/sampling/Graph.cpp:281-291)."""
    deg = _und_degrees(edges)
    # C(d, k) computed in-column to stay JVM-side
    num = F.lit(1.0)
    for i in range(k):
        num = num * (F.col("degree") - i)
    import math

    expr = F.when(F.col("degree") >= k, num / math.factorial(k)).otherwise(F.lit(0.0))
    row = deg.agg(F.sum(expr).alias("n")).collect()[0]
    return int(round(row["n"] or 0))


def three_motif_counts(edges: DataFrame) -> dict[str, int]:
    """Counts of both connected 3-vertex motifs (triangle + 3-chain).

    The reference computes these together sharing the 2-edge partial sample
    (/root/reference/applications/ThreeMotif.cpp:42-122); exactly we share
    the oriented edge list via caching.
    """
    o = canonical(edges).persist()
    try:
        tri = triangle_count(o.select(F.col("a").alias("src"), F.col("b").alias("dst")))
        chains = three_chain_count(
            o.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        )
        # a 3-chain that closes is a triangle; open chains = chains - 3*tri
        return {"triangle": tri, "three_chain_open": chains - 3 * tri,
                "three_chain_total": chains}
    finally:
        o.unpersist()


def four_chain_count(edges: DataFrame) -> int:
    """Unordered simple paths on 4 distinct vertices (3 edges).

    Chained equi-joins with distinctness theta-filters — the Spark form of
    /root/reference/sampling/Graph.cpp:241-270 (ordered enumeration / 2).
    """
    o = canonical(edges)
    sym = o.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        o.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    e1 = sym.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = sym.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = sym.select(F.col("u").alias("c"), F.col("v").alias("d"))
    paths = (
        e1.join(e2, "b")
        .filter(F.col("a") != F.col("c"))
        .join(e3, "c")
        .filter((F.col("d") != F.col("b")) & (F.col("d") != F.col("a")))
    )
    return int(paths.count() // 2)


def four_clique_count(edges: DataFrame) -> int:
    """Exact 4-cliques: extend each triangle (a<b<c) by d>c adjacent to all.

    Join-shape analogue of /root/reference/applications/FourClique.cpp:17-77
    (sample 3 edges, close the other 3) — exactly, via three closure joins.
    """
    from .triangles import triangles

    o = canonical(edges)
    tri = triangles(o.select(F.col("a").alias("src"), F.col("b").alias("dst")))
    ext = o.select(F.col("a").alias("c"), F.col("b").alias("d"))  # d > c adjacency
    cand = tri.join(ext, "c")
    close_ab = o.select(F.col("a"), F.col("b").alias("d"))
    close_bc = o.select(F.col("a").alias("b"), F.col("b").alias("d"))
    quads = cand.join(close_ab, ["a", "d"], "left_semi").join(
        close_bc, ["b", "d"], "left_semi"
    )
    return int(quads.count())


def four_cycle_count(edges: DataFrame) -> int:
    """Exact 4-cycle (rectangle) count via vertex-priority wedges — the
    hub-safe form of Σ_pairs C(common_neighbors, 2) (Chiba–Nishizeki
    rectangle counting; vertex-priority variant per Wang et al.,
    VLDB'19 butterfly counting).

    A wedge (start u, center x, end w) is generated only when
    rank(x) < rank(u) and rank(w) < rank(u) under the (degree, id) total
    order; grouping by (u, w) and summing C(c, 2) then counts every
    rectangle exactly once, anchored at its maximum-rank vertex u and its
    diagonal partner w (the start must out-rank BOTH its center and its
    end, which only the global max of the cycle's four vertices does).

    Scale: a wedge centered at x costs (#higher-rank neighbors of x) ×
    deg(x) rows, and #higher-rank neighbors is O(√m) under degree order —
    a 10^7-degree hub as center emits ~0 wedges instead of C(d, 2).
    Works on bipartite encodings too (rectangles = butterflies).
    """
    # lazy localCheckpoint: both wedge sides read the ranked orientation;
    # materialize the ranking subtree once (see triangles.triangles)
    o = degree_ranked_oriented(edges).localCheckpoint(eager=False)
    # center→start pairs: start out-ranks center by construction (lo→hi)
    cs = o.select(
        F.col("lo").alias("x"), F.col("hi").alias("u"), F.col("dhi").alias("du")
    )
    # center→end pairs: any incident edge, with the end's degree attached
    sym = o.select(
        F.col("lo").alias("x"), F.col("hi").alias("w"), F.col("dhi").alias("dw")
    ).union(
        o.select(
            F.col("hi").alias("x"), F.col("lo").alias("w"), F.col("dlo").alias("dw")
        )
    )
    wedges = (
        cs.join(sym.hint("shuffle_hash"), "x")
        .filter(_rank_lt(F.col("dw"), F.col("w"), F.col("du"), F.col("u")))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    row = wedges.agg(
        F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("n")
    ).collect()[0]
    return int(row["n"] or 0)


def five_house_count(edges: DataFrame) -> int:
    """Exact 5-house count (triangle roof sharing an edge with a 4-cycle).

    Pattern per /root/reference/applications/FiveHouse.cpp:18-27: edges
    (0,1),(0,2),(1,2),(1,3),(2,4),(3,4); |Aut| = 2 (mirror 1<->2, 3<->4).
    Counted as injective homomorphisms over a spanning join tree with the
    two remaining edges checked via semi-joins, divided by |Aut|.
    """
    o = canonical(edges)
    sym = o.select(F.col("a").alias("u"), F.col("b").alias("v"))
    sym = sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))

    e01 = sym.select(F.col("u").alias("v0"), F.col("v").alias("v1"))
    e02 = sym.select(F.col("u").alias("v0"), F.col("v").alias("v2"))
    e12 = sym.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    e13 = sym.select(F.col("u").alias("v1"), F.col("v").alias("v3"))
    e24 = sym.select(F.col("u").alias("v2"), F.col("v").alias("v4"))
    e34 = sym.select(F.col("u").alias("v3"), F.col("v").alias("v4"))
    # close the roof triangle FIRST (semi-join) so the walls only extend
    # triangle-anchored tuples — the intermediate is O(#triangles), not
    # O(sum deg^2): the selective predicate runs earliest (scale-critical)
    roof = (
        e01.join(e02, "v0")
        .filter(F.col("v1") != F.col("v2"))
        .join(e12, ["v1", "v2"], "left_semi")
    )
    t = (
        roof.join(e13, "v1")
        .filter((F.col("v3") != F.col("v0")) & (F.col("v3") != F.col("v2")))
        .join(e24, "v2")
        .filter(
            (F.col("v4") != F.col("v0"))
            & (F.col("v4") != F.col("v1"))
            & (F.col("v4") != F.col("v3"))
        )
    )
    houses = t.join(e34, ["v3", "v4"], "left_semi")
    return int(houses.count() // 2)


def at_least_one_predicate_triangle_count(edges: DataFrame, pred) -> int:
    """Triangles with >= 1 edge satisfying ``pred`` (a Column predicate on
    the edge rows), by inclusion-exclusion: count(all) - count(none match).

    The reference's AtLeastOnePredicateWeightedTriangle
    (/root/reference/applications/AtLeastOnePredicateWeightedTriangle.cpp:135-153)
    runs the same two-job subtraction with pred = weight >= 50.
    """
    total = triangle_count(edges)
    none_match = triangle_count(edges.filter(~pred))
    return total - none_match


def k_chain_count(edges: DataFrame, k: int) -> int:
    """Unordered simple paths on k distinct vertices (k-1 edges), k in 3..6.

    Runtime-parameterized like the reference's ChainMining
    (/root/reference/applications/ChainMining.cpp:18-106).
    """
    if k < 2:
        raise ValueError("k >= 2")
    o = canonical(edges)
    sym = o.select(F.col("a").alias("u"), F.col("b").alias("v"))
    sym = sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
    cols = [f"v{i}" for i in range(k)]
    cur = sym.select(F.col("u").alias(cols[0]), F.col("v").alias(cols[1]))
    for i in range(2, k):
        step = sym.select(F.col("u").alias(cols[i - 1]), F.col("v").alias(cols[i]))
        cur = cur.join(step, cols[i - 1])
        for j in range(i - 1):
            cur = cur.filter(F.col(cols[i]) != F.col(cols[j]))
    if k == 2:
        return int(cur.count() // 2)
    return int(cur.count() // 2)


def graphlet_orbits(edges: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """Per-vertex 3-node graphlet orbit counts (the GDV-3 signature of
    Przulj, Bioinformatics'07 — orbits 0-3): o0 = degree, o1 = end of an
    induced 2-path, o2 = center of an induced 2-path, o3 = triangles the
    vertex belongs to.  The role-mining / network-alignment feature vector.

    Closed forms over two linear passes — never a per-graphlet
    enumeration beyond the oriented triangle self-joins:
      o2 = C(deg(v), 2) - o3
      o1 = sum_{u in N(v)} (deg(u) - 1) - 2*o3
    (each triangle at v closes exactly one wedge centered at v and two
    2-paths ending at v).  Cost: one degree groupBy, one neighbor-degree
    join re-using the same src-hash shuffle key, plus
    per_vertex_triangle_counts — all map-side combinable; scales with
    edges + triangles, not with the (quadratic) wedge mass.
    """
    from .triangles import per_vertex_triangle_counts

    o = canonical(edges)
    und = o.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    und = und.union(und.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nbr_deg = (
        und.join(deg.select(F.col("src").alias("dst"),
                            F.col("deg").alias("ddeg")), "dst")
        .groupBy("src")
        .agg(F.sum(F.col("ddeg") - 1).alias("nd1"))
    )
    tri = per_vertex_triangle_counts(edges).withColumnRenamed("id", "src")
    base = (
        deg.join(nbr_deg, "src", "left")
        .join(tri, "src", "left")
        .select(
            F.col("src").alias("id"),
            F.col("deg").cast("long").alias("o0_degree"),
            (F.coalesce(F.col("nd1"), F.lit(0))
             - 2 * F.coalesce(F.col("triangles"), F.lit(0)))
            .cast("long").alias("o1_path_end"),
            ((F.col("deg") * (F.col("deg") - 1) / 2).cast("long")
             - F.coalesce(F.col("triangles"), F.lit(0)))
            .cast("long").alias("o2_path_center"),
            F.coalesce(F.col("triangles"), F.lit(0))
            .cast("long").alias("o3_triangle"),
        )
    )
    if vertices is None:
        return base
    zero = F.lit(0).cast("long")
    return vertices.join(base, "id", "left").select(
        "id",
        F.coalesce(F.col("o0_degree"), zero).alias("o0_degree"),
        F.coalesce(F.col("o1_path_end"), zero).alias("o1_path_end"),
        F.coalesce(F.col("o2_path_center"), zero).alias("o2_path_center"),
        F.coalesce(F.col("o3_triangle"), zero).alias("o3_triangle"),
    )
