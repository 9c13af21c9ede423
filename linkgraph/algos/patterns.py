"""Generic small-pattern counting: a declarative pattern -> join-chain plan.

The Spark analogue of the reference's ONLY declarative query surface:
``SamplerGenerator`` takes an arbitrary small pattern (edge list over
vertices 0..k-1), dedups its vertex permutations by automorphism, and
derives an estimator (/root/reference/src/SamplerGenerator.cpp:262-464;
automorphism dedup at :312-363, isomorphism test at :225-242).  Apps
Triangle2 / FiveStar / FiveHouse / FourClique2 are one-liners over it
(/root/reference/applications/Triangle2.cpp:18-24).

Here the same declarative input compiles to an EXACT distributed count:

  * ``automorphisms`` — |Aut(pattern)| by factorial enumeration driver-side
    (patterns have <= ~6 vertices; this is the reference's own approach).
  * ``plan_pattern`` — greedy closure-first join order: grow a connected
    vertex cover one extension edge at a time, and the moment both
    endpoints of a remaining pattern edge are bound, check it with a
    LEFT SEMI join (EXISTS) *before* extending further.  Cycle-closing
    predicates therefore run at the earliest possible join depth, keeping
    intermediates near the final result size (the hand-tuned five-house
    plan in motifs.py falls out automatically).
  * ``pattern_count`` — executes the plan as chained equi-joins over the
    symmetric edge view; injective-homomorphism count / |Aut|.
  * ``pattern_count_sql`` — the SAME plan rendered as ANSI SQL (JOIN/ON +
    EXISTS + pairwise distinctness) for the DuckDB parity oracle.

Scale notes: every join keys on a single vertex column of the symmetric
edge view (persisted once); Spark's map-side partial agg absorbs the final
count; AQE handles skewed hub vertices for the extension joins.
"""

from __future__ import annotations

from itertools import permutations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import canonical
from .triangles import _indexed, _pick_mod, _sym, _u

Edge = tuple[int, int]


def _norm(pattern: list[Edge]) -> list[Edge]:
    es = sorted({(min(u, v), max(u, v)) for u, v in pattern})
    if any(u == v for u, v in es):
        raise ValueError("pattern must have no self-loops")
    k = max(max(u, v) for u, v in es) + 1
    verts = {x for e in es for x in e}
    if verts != set(range(k)):
        raise ValueError("pattern vertices must be 0..k-1 with no gaps")
    return es


def automorphisms(pattern: list[Edge]) -> int:
    """|Aut(pattern)| — permutations of vertices preserving the edge set
    (reference: /root/reference/src/SamplerGenerator.cpp:225-242)."""
    es = set(_norm(pattern))
    k = max(max(u, v) for u, v in es) + 1
    n = 0
    for p in permutations(range(k)):
        if all((min(p[u], p[v]), max(p[u], p[v])) in es for u, v in es):
            n += 1
    return n


def plan_pattern(pattern: list[Edge]) -> list[tuple[str, int, int]]:
    """Join order as steps ('root'|'extend'|'close', u, v).

    'root' binds (u, v); 'extend' has u already bound and binds v;
    'close' has both bound.  Closure edges are emitted eagerly; the next
    extension picks the new vertex with the most edges into the bound set
    (most immediate closures), tie-broken by vertex index.
    """
    es = _norm(pattern)
    deg: dict[int, int] = {}
    for u, v in es:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    # root edge: between the two highest-degree vertices available
    root = max(es, key=lambda e: (deg[e[0]] + deg[e[1]],
                                  max(deg[e[0]], deg[e[1]]), (-e[0], -e[1])))
    u0, v0 = (root if deg[root[0]] >= deg[root[1]] else (root[1], root[0]))
    steps: list[tuple[str, int, int]] = [("root", u0, v0)]
    bound = {u0, v0}
    remaining = [e for e in es if e != root]
    while remaining:
        closures = [e for e in remaining if e[0] in bound and e[1] in bound]
        if closures:
            e = min(closures)
            steps.append(("close", e[0], e[1]))
            remaining.remove(e)
            continue
        ext = [e for e in remaining if (e[0] in bound) != (e[1] in bound)]
        if not ext:
            raise ValueError("pattern must be connected")

        def gain(e: Edge) -> tuple[int, int, int]:
            new = e[1] if e[0] in bound else e[0]
            into = sum(1 for a, b in remaining
                       if (a == new and b in bound) or (b == new and a in bound))
            return (into, deg[new], -new)

        e = max(ext, key=gain)
        u, new = (e[0], e[1]) if e[0] in bound else (e[1], e[0])
        steps.append(("extend", u, new))
        bound.add(new)
        remaining.remove(e)
    return steps


def pattern_count(edges: DataFrame, pattern: list[Edge]) -> int:
    """Exact occurrences of ``pattern`` in the undirected simple graph of
    ``edges`` = injective homomorphisms / |Aut|."""
    aut = automorphisms(pattern)
    steps = plan_pattern(pattern)
    o = canonical(edges)
    sym = o.select(F.col("a").alias("u"), F.col("b").alias("v"))
    sym = sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v"))).persist()
    try:
        kind, u0, v0 = steps[0]
        cur = sym.select(F.col("u").alias(f"v{u0}"), F.col("v").alias(f"v{v0}"))
        bound = [u0, v0]
        for kind, a, b in steps[1:]:
            if kind == "close":
                probe = sym.select(F.col("u").alias(f"v{a}"), F.col("v").alias(f"v{b}"))
                cur = cur.join(probe, [f"v{a}", f"v{b}"], "left_semi")
            else:  # extend: a bound, b new
                step_df = sym.select(F.col("u").alias(f"v{a}"), F.col("v").alias(f"v{b}"))
                cur = cur.join(step_df, f"v{a}")
                for x in bound:
                    if x != a:
                        cur = cur.filter(F.col(f"v{b}") != F.col(f"v{x}"))
                bound.append(b)
        homs = cur.count()
    finally:
        sym.unpersist()
    assert homs % aut == 0, (homs, aut)
    return homs // aut


def pattern_count_sql(pattern: list[Edge], und_cte: str, alias: str) -> str:
    """ANSI-SQL rendering of the same plan (DuckDB parity oracle): chained
    JOIN/ON for extensions, EXISTS for closures, pairwise <> distinctness."""
    aut = automorphisms(pattern)
    steps = plan_pattern(pattern)
    kind, u0, v0 = steps[0]
    from_sql = f"{und_cte} e0"
    sel = {u0: "e0.src", v0: "e0.dst"}
    joins: list[str] = []
    wheres: list[str] = []
    bound = [u0, v0]
    i = 1
    for kind, a, b in steps[1:]:
        if kind == "close":
            wheres.append(
                f"EXISTS (SELECT 1 FROM {und_cte} x WHERE x.src = {sel[a]} "
                f"AND x.dst = {sel[b]})"
            )
        else:
            joins.append(f"JOIN {und_cte} e{i} ON e{i}.src = {sel[a]}")
            sel[b] = f"e{i}.dst"
            for x in bound:
                if x != a:
                    wheres.append(f"{sel[b]} <> {sel[x]}")
            bound.append(b)
            i += 1
    where_sql = ("WHERE " + "\n  AND ".join(wheres)) if wheres else ""
    return (
        f"SELECT CAST(count(*) / {aut} AS BIGINT) AS {alias}\n"
        f"FROM {from_sql}\n" + "\n".join(joins) + ("\n" if joins else "") + where_sql
    )


def _pattern_encodings(pattern: list[Edge]) -> list[str]:
    """All distinct edge-set encodings of vertex-permuted copies of the
    pattern — the Spark-side twin of the reference's ``unique_patterns``
    automorphism dedup (/root/reference/src/SamplerGenerator.cpp:336-363).

    An encoding is the sorted list of ``i*8+j`` codes (i<j, vertices
    relabeled 0..k-1); a sampled subgraph is pattern-automorphic iff its
    encoding is in this set (== the final ``is_automorphic`` membership
    test at /root/reference/src/SamplerGenerator.cpp:451-457).
    """
    es = _norm(pattern)
    k = max(max(u, v) for u, v in es) + 1
    encs = set()
    for p in permutations(range(k)):
        codes = sorted(min(p[u], p[v]) * 8 + max(p[u], p[v]) for u, v in es)
        encs.add(",".join(str(c) for c in codes))
    return sorted(encs)


def pattern_count_sampled(
    edges: DataFrame,
    pattern: list[Edge],
    num_estimators: int,
    seed: int = 42,
    partitions: int | None = None,
    rb_depth: int | None = None,
) -> float:
    """Generic ASAP sampled-pattern estimator — the Spark twin of the
    reference's flagship ``SamplerGenerator::estimate``
    (/root/reference/src/SamplerGenerator.cpp:379-464), the engine behind
    Triangle2 / FiveStar / FiveHouse / FourClique2
    (/root/reference/applications/FiveHouse.cpp:18-27).

    Per estimator (all N carried as ONE DataFrame through E-1 join rounds,
    no per-row Python):

      1. e1 = uniform edge, prob 1/m.
      2. E-1 conditional samples anchored on e1
         (core_conditional_sample_edge,
         /root/reference/src/ZGraphInstance.cpp:127-222): candidates are
         all adjacency slots of the sampled vertex set with
         edge_id > id(e1); pick uniformly among the s slots; an edge with
         both endpoints sampled occupies 2 slots, so its pick probability
         is appear/s — weight *= s/appear.
      3. Canonicality (SamplerGenerator.cpp:287-303): scanning previously
         sampled edges in order, every edge AFTER the first one adjacent
         to the new edge must have a smaller edge_id — rejects duplicate
         discovery orders so each instance is sampled via exactly one
         accepting sequence.
      4. Accept iff |vertices| == k and the relabeled edge set is
         automorphic to the pattern (membership in the precomputed
         permuted-encoding set).  Weight m * prod(s_i/appear_i), else 0.

    ``rb_depth``: the last ``rb_depth`` conditional steps are
    Rao-Blackwellized — instead of picking ONE candidate, the estimator
    enumerates ALL candidates (each new state row weighted wprod/appear;
    the s/appear pick-weight times the 1/s pick-probability cancel), which
    preserves the expectation exactly while removing the final hit-or-miss
    draws — the dominant variance for dense patterns (a 4-clique's last 2
    edges close 2 specific pairs; one-in-s picks almost never find both).
    State-row growth is bounded: candidates that break canonicality or
    exceed k vertices are pruned in the same expression, so for clique-like
    patterns (all k vertices already bound) only edges inside the bound set
    survive.  rb_depth=0 is the reference's literal pick-only semantics.
    Default (None) auto-sizes: clamp(E - k + 2, 0, 2) — edge-dense patterns
    (cliques/houses, E >= k) get 2 enumeration rounds (their k-vertex bound
    prunes the blow-up), tree-like patterns (chains/stars, E = k - 1) get
    at most 1 (their enumeration rounds DON'T prune on vertex count, but
    they also don't need deep RB — their hit rates are already high).

    E[sum(weights)/N] = exact pattern count.  Randomness is hash-derived
    (see algos/triangles.py): a fixed seed reproduces the same estimate at
    any parallelism, so the driver gate can hash-check the ε-bound output.

    Scale path: per round, the frontier (≤ k·N rows) equi-joins the
    symmetric edge view on one vertex key (AQE salts skewed hubs), then a
    grouped partial agg picks the winner per estimator — graph size enters
    only through that join, never through a cross product; estimator count
    is independent of |E|.
    """
    es = _norm(pattern)
    k = max(max(u, v) for u, v in es) + 1
    n_edges = len(es)
    encs = _pattern_encodings(pattern)

    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    o, m = _indexed(edges, P, seed)
    sym = _sym(o, "eid")

    edge_t = "array<struct<p:bigint,q:bigint,eid:bigint>>"
    cached: list[DataFrame] = []
    state = (
        spark.range(num_estimators)
        .select(F.col("id").alias("est_id"), _pick_mod("id", m, seed).alias("id"))
        .join(o, "id")
        .select(
            "est_id",
            F.col("eid").alias("eid1"),
            F.array("a", "b").alias("verts"),
            F.array(
                F.struct(
                    F.col("a").alias("p"), F.col("b").alias("q"),
                    F.col("eid").alias("eid"),
                )
            ).cast(edge_t).alias("sampled"),
            F.lit(1.0).alias("wprod"),
        )
    )

    # canonicality: fold over previously sampled edges IN ORDER; the
    # accumulator's `found` is the value BEFORE the current element,
    # exactly the reference's loop (SamplerGenerator.cpp:287-303)
    def _canon() -> F.Column:
        adj_e = lambda e: (  # noqa: E731
            e["p"].isin(F.col("x"), F.col("w")) | e["q"].isin(F.col("x"), F.col("w"))
        )
        return F.aggregate(
            "sampled",
            F.struct(F.lit(False).alias("found"), F.lit(True).alias("ok")),
            lambda acc, e: F.struct(
                (acc["found"] | adj_e(e)).alias("found"),
                F.when(acc["found"], acc["ok"] & (e["eid"] < F.col("neid")))
                .otherwise(acc["ok"]).alias("ok"),
            ),
            lambda acc: acc["ok"],
        )

    _appear = F.lit(1) + F.array_contains("verts", F.col("w")).cast("int")

    def _advance(st: DataFrame, wmul) -> DataFrame:
        """Apply canonicality + state update to rows carrying (x, w, neid);
        wmul = extra weight multiplier column (s for picked, 1 for
        enumerated)."""
        return (
            st.filter(_canon())
            .select(
                "est_id", "eid1",
                F.when(
                    F.array_contains("verts", F.col("w")), F.col("verts")
                ).otherwise(F.concat("verts", F.array("w"))).alias("verts"),
                F.concat(
                    "sampled",
                    F.array(
                        F.struct(
                            F.least("x", "w").alias("p"),
                            F.greatest("x", "w").alias("q"),
                            F.col("neid").alias("eid"),
                        )
                    ),
                ).alias("sampled"),
                (F.col("wprod") * wmul / _appear).alias("wprod"),
            )
            .filter(F.size("verts") <= k)
        )

    if rb_depth is None:
        rb_depth = max(0, min(n_edges - k + 2, 2))
    rb = max(0, min(int(rb_depth), n_edges - 1))
    n_pick = n_edges - 1 - rb

    def _cands(st: DataFrame) -> DataFrame:
        return (
            st.select(
                "est_id", "eid1", "verts", "sampled", "wprod",
                F.explode("verts").alias("x"),
            )
            .join(sym, "x")
            .filter(F.col("eid") > F.col("eid1"))
            .withColumnRenamed("eid", "neid")
        )

    for step in range(1, 1 + n_pick):
        # state is consumed twice per round (frontier explode + state join):
        # persist so the growing lineage is evaluated once per round, not
        # 2^rounds times
        state = state.persist()
        cached.append(state)
        cand = (
            state.select("est_id", "eid1", F.explode("verts").alias("x"))
            .join(sym, "x")
            .filter(F.col("eid") > F.col("eid1"))
            # (est_id, x, eid) is unique per candidate slot: verts is a
            # set, so each adjacency slot of each sampled vertex appears
            # exactly once -> one independent uniform per slot
            .withColumn("_r", _u("est_id", "x", "eid", seed=seed + 100 + step))
        )
        picked = (
            cand.groupBy("est_id")
            .agg(
                F.count(F.lit(1)).alias("s"),
                F.max(
                    F.struct(
                        F.col("_r").alias("r"), F.col("x"), F.col("w"),
                        F.col("eid").alias("neid"),
                    )
                ).alias("pick"),
            )
            .select(
                "est_id", "s",
                F.col("pick.x").alias("x"), F.col("pick.w").alias("w"),
                F.col("pick.neid").alias("neid"),
            )
        )
        state = _advance(state.join(picked, "est_id"), F.col("s").cast("double"))

    for _ in range(rb):
        # Rao-Blackwell round: every candidate becomes a state row with
        # weight wprod/appear (enumeration = exact conditional expectation
        # of the pick; the s-weight and 1/s pick probability cancel)
        state = _advance(_cands(state), F.lit(1.0))

    # final acceptance: k distinct vertices + automorphism membership of
    # the relabeled edge set (duplicate sampled edges encode as duplicate
    # codes and fail membership, matching the reference's is_automorphic)
    vs = F.array_sort("verts")
    code = lambda e: (  # noqa: E731
        (F.array_position(vs, e["p"]) - 1) * 8 + (F.array_position(vs, e["q"]) - 1)
    )
    enc = F.concat_ws(
        ",", F.transform(F.array_sort(F.transform("sampled", code)), lambda c: c.cast("string"))
    )
    accepted = state.filter(F.size("verts") == k).filter(enc.isin(encs))
    total = accepted.agg(
        F.coalesce(F.sum("wprod"), F.lit(0.0)).alias("t")
    ).collect()[0]["t"]
    for df in cached:
        df.unpersist()
    o.unpersist()
    return float(m) * float(total) / float(num_estimators)


# named patterns (vertex ids per the reference's application headers)
PATTERNS: dict[str, list[Edge]] = {
    "triangle": [(0, 1), (0, 2), (1, 2)],
    "three_chain": [(0, 1), (1, 2)],
    "four_chain": [(0, 1), (1, 2), (2, 3)],
    "four_cycle": [(0, 1), (1, 2), (2, 3), (3, 0)],
    "four_clique": [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)],
    "tailed_triangle": [(0, 1), (0, 2), (1, 2), (2, 3)],
    # 4-clique minus one edge (0-3 missing): the dense near-clique motif
    "diamond": [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)],
    "five_cycle": [(0, 1), (1, 2), (2, 3), (3, 4), (4, 0)],
    # two triangles sharing vertex 0
    "bowtie": [(0, 1), (0, 2), (1, 2), (0, 3), (0, 4), (3, 4)],
    # /root/reference/applications/FiveHouse.cpp:18-27
    "five_house": [(0, 1), (0, 2), (1, 2), (1, 3), (2, 4), (3, 4)],
    "five_star": [(0, 1), (0, 2), (0, 3), (0, 4)],
}
