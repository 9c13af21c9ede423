"""linkgraph.suite.round1b — mechanical split of the former monolithic suite.py.

round-1b extensions: paths/SCC/k-core/link-prediction/weighted PR, TPC-H rollups, butterfly/stress/top-k, incremental PR, hyperball, louvain, truss, MIS, katz, streaming distinct.

Imported (in order) by suite/__init__.py; registers its queries into the
shared REGISTRY defined in _base.  Pure move: definitions and registration
order are byte-identical to the monolith.
"""

from __future__ import annotations

from ._base import *  # noqa: F401,F403

# ---------------------------------------------------------------------------
# round-1b extensions: paths / SCC / k-core / link-prediction / weighted PR /
# dedup clustering — each with a DuckDB SQL twin (recursive CTE or unrolled
# fixpoint), keeping every new operator inside the driver's value-hash gate
# ---------------------------------------------------------------------------


def q_bfs_distances(spark, sf_dir):
    """Hop distance from vertex 0 over the undirected derived graph
    (frontier-expansion BFS; bounded recursive-CTE SQL twin)."""
    from ..algos.paths import bfs_distances

    dist, _ = bfs_distances(
        edges_b(spark, sf_dir),
        sources=spark.createDataFrame([(0,)], "id long"),
        directed=False,
        partitions=8,
    )
    return dist.select("id", F.col("dist").cast("long").alias("dist"))


BFS_SQL = f"""
WITH RECURSIVE {EDGES_B_SQL}, {UND_B_SQL},
walk(id, d) AS (
  SELECT CAST(0 AS BIGINT) AS id, 0 AS d
  UNION
  SELECT e.dst, w.d + 1 FROM walk w JOIN und_b e ON e.src = w.id WHERE w.d < 40
)
SELECT id, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY id
"""


def q_scc(spark, sf_dir):
    """Strongly connected components of the DIRECTED derived graph
    (trim + forward-coloring + backward-membership; label = min id in SCC;
    transitive-closure recursive-CTE SQL twin)."""
    from ..algos.scc import strongly_connected_components

    labels, _ = strongly_connected_components(
        edges_b(spark, sf_dir), vertices=verts(spark, V_B), partitions=8
    )
    return labels.select("id", F.col("scc").cast("long").alias("scc"))


SCC_SQL = f"""
WITH RECURSIVE {EDGES_B_SQL}, {VERTS_B_SQL},
reach(u, v) AS (
  SELECT id AS u, id AS v FROM verts_b
  UNION
  SELECT r.u, e.dst FROM reach r JOIN edges_b e ON e.src = r.v
)
SELECT r1.u AS id, CAST(min(r1.v) AS BIGINT) AS scc
FROM reach r1 JOIN reach r2 ON r1.u = r2.v AND r1.v = r2.u
GROUP BY r1.u
"""


def q_kcore3(spark, sf_dir):
    """3-core of the undirected derived graph by iterative peeling
    (unrolled-peel SQL twin)."""
    from ..algos.kcore import kcore_vertices

    return kcore_vertices(edges_b(spark, sf_dir), k=3, partitions=8)


def _kcore_sql(k: int, rounds: int) -> str:
    # MATERIALIZED is load-bearing: each p_i is referenced 3x (k_{i+1} and
    # both join sides of p_{i+1}); inlining would expand 3^rounds subtrees
    parts = [EDGES_B_SQL, UND_B_SQL, "p0 AS MATERIALIZED (SELECT src, dst FROM und_b)"]
    for i in range(1, rounds + 1):
        parts.append(
            f"k{i} AS MATERIALIZED (SELECT src FROM p{i - 1} GROUP BY src HAVING count(*) >= {k})"
        )
        parts.append(
            f"""p{i} AS MATERIALIZED (SELECT e.src, e.dst FROM p{i - 1} e
                 JOIN k{i} a ON e.src = a.src JOIN k{i} b ON e.dst = b.src)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT DISTINCT src AS id FROM p{rounds}"
    )


KCORE3_SQL = _kcore_sql(3, 24)


def q_jaccard_neighbors(spark, sf_dir):
    """Neighborhood Jaccard similarity of every adjacent pair (a<b) in the
    undirected derived graph: |N(a)∩N(b)| / |N(a)∪N(b)|, e6-scaled.
    The wedge self-join + degree join plan (exact ints, then one rounding)."""
    ea = edges_a(spark, sf_dir)
    und = (
        ea.union(ea.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    e1 = und.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    e2 = und.select(F.col("src").alias("c"), F.col("dst").alias("b"))
    cn = (
        e1.join(e2, "c")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    pairs = und.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    j = (
        pairs.join(cn, ["a", "b"], "left")
        .na.fill({"cn": 0})
        .join(deg.withColumnRenamed("src", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("src", "b").withColumnRenamed("d", "db"), "b")
    )
    return j.select(
        "a", "b",
        F.round(F.col("cn") * 1e6 / (F.col("da") + F.col("db") - F.col("cn")))
        .cast("long").alias("jaccard_e6"),
    )


JACCARD_SQL = f"""
WITH {EDGES_A_SQL}, {UND_A_SQL},
deg AS (SELECT src, count(*) AS d FROM und_a GROUP BY src),
cn AS (
  SELECT e1.src AS a, e2.dst AS b, count(*) AS cn
  FROM und_a e1 JOIN und_a e2 ON e1.dst = e2.src
  WHERE e1.src < e2.dst
  GROUP BY e1.src, e2.dst
)
SELECT p.src AS a, p.dst AS b,
       CAST(round(coalesce(cn.cn, 0) * 1e6 /
                  (da.d + db.d - coalesce(cn.cn, 0))) AS BIGINT) AS jaccard_e6
FROM und_a p
LEFT JOIN cn ON cn.a = p.src AND cn.b = p.dst
JOIN deg da ON da.src = p.src
JOIN deg db ON db.src = p.dst
WHERE p.src < p.dst
"""


def q_adamic_adar_topk(spark, sf_dir):
    """Link prediction: top-20 non-adjacent pairs by quantized Adamic–Adar
    score Σ_c round(1e6/ln(deg(c))) over common neighbors c — integer-sum
    formulation so the result is exactly reproducible in any engine.
    Deterministic total order (score desc, a, b)."""
    eb = edges_b(spark, sf_dir)
    und = (
        eb.union(eb.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # per-neighbor quantized weight — integer, so the final sum is order-free;
    # degree-1 vertices (ln d = 0) can never be common neighbors: drop them
    w = deg.filter(F.col("d") >= 2).select(
        F.col("src").alias("c"),
        F.round(F.lit(1e6) / F.log(F.col("d").cast("double"))).cast("long").alias("w"),
    )
    e1 = und.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    e2 = und.select(F.col("src").alias("c"), F.col("dst").alias("b"))
    scores = (
        e1.join(e2, "c")
        .filter(F.col("a") < F.col("b"))
        .join(w, "c")
        .groupBy("a", "b")
        .agg(F.sum("w").alias("score_e6"))
        .join(
            und.select(F.col("src").alias("a"), F.col("dst").alias("b")),
            ["a", "b"], "left_anti",
        )
    )
    return (
        scores.orderBy(F.col("score_e6").desc(), "a", "b")
        .limit(20)
        .select("a", "b", "score_e6")
    )


ADAMIC_ADAR_SQL = f"""
WITH {EDGES_B_SQL}, {UND_B_SQL},
deg AS (SELECT src, count(*) AS d FROM und_b GROUP BY src),
w AS (SELECT src AS c, CAST(round(1e6 / ln(CAST(d AS DOUBLE))) AS BIGINT) AS w FROM deg WHERE d >= 2),
sc AS (
  SELECT e1.src AS a, e2.dst AS b, sum(w.w) AS score_e6
  FROM und_b e1 JOIN und_b e2 ON e1.dst = e2.src JOIN w ON w.c = e1.dst
  WHERE e1.src < e2.dst
    AND NOT EXISTS (SELECT 1 FROM und_b u WHERE u.src = e1.src AND u.dst = e2.dst)
  GROUP BY e1.src, e2.dst
)
SELECT a, b, CAST(score_e6 AS BIGINT) AS score_e6
FROM sc ORDER BY score_e6 DESC, a, b LIMIT 20
"""


def q_four_cycle_count(spark, sf_dir):
    """Exact 4-cycle (rectangle) count — the engine runs the hub-safe
    vertex-priority wedge plan (motifs.four_cycle_count: wedges only where
    the start out-ranks center AND end under (degree, id) order, so no
    C(d, 2) blow-up at a hub center); the oracle keeps the textbook
    Σ_{{u<v}} C(common(u,v), 2) / 2 form — same number, different plan."""
    from ..algos.motifs import four_cycle_count

    return _scalar_df(
        spark, "four_cycles", four_cycle_count(edges_b(spark, sf_dir))
    )


FOUR_CYCLE_SQL = f"""
WITH {EDGES_B_SQL}, {UND_B_SQL},
cn AS (
  SELECT e1.src AS u, e2.dst AS v, count(*) AS w
  FROM und_b e1 JOIN und_b e2 ON e1.dst = e2.src
  WHERE e1.src < e2.dst
  GROUP BY e1.src, e2.dst
)
SELECT CAST(sum(w * (w - 1) / 2) / 2 AS BIGINT) AS four_cycles FROM cn
"""


def q_degree_assortativity(spark, sf_dir):
    """Degree assortativity (Pearson r of endpoint degrees over the
    symmetric edge list), computed from exact integer sums so the one
    double-precision expression is bit-identical across engines; e6."""
    ea = edges_a(spark, sf_dir)
    und = (
        ea.union(ea.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    j = (
        und.join(deg.hint("shuffle_hash"), "src")
        .withColumnRenamed("d", "dx")
        .join(
            deg.withColumnRenamed("src", "dst").withColumnRenamed("d", "dy")
            .hint("shuffle_hash"),
            "dst",
        )
    )
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"), F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    ).collect()[0]
    n, sx, sy = float(s["n"]), float(s["sx"]), float(s["sy"])
    sxy, sxx, syy = float(s["sxy"]), float(s["sxx"]), float(s["syy"])
    import math

    r = (n * sxy - sx * sy) / (
        math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
    )
    return _scalar_df(spark, "assortativity_e6", int(round(r * 1e6)))


ASSORT_SQL = f"""
WITH {EDGES_A_SQL}, {UND_A_SQL},
deg AS (SELECT src, count(*) AS d FROM und_a GROUP BY src),
j AS (
  SELECT da.d AS dx, db.d AS dy
  FROM und_a e JOIN deg da ON da.src = e.src JOIN deg db ON db.src = e.dst
),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(dx) AS DOUBLE) AS sx, CAST(sum(dy) AS DOUBLE) AS sy,
         CAST(sum(dx * dy) AS DOUBLE) AS sxy,
         CAST(sum(dx * dx) AS DOUBLE) AS sxx,
         CAST(sum(dy * dy) AS DOUBLE) AS syy
  FROM j
)
SELECT CAST(round(1e6 * (n * sxy - sx * sy) /
            (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))) AS BIGINT)
       AS assortativity_e6
FROM s
"""


WPR_WEIGHT_SQL = "(src * 7 + dst * 3) % 19 + 1"


def q_weighted_pagerank5(spark, sf_dir):
    """Edge-weighted PageRank, 5 fixed supersteps over weighted adjacency
    blocks (contribution ∝ w/Σw); deterministic derived weights; e8."""
    from ..algos.pagerank import pagerank_weighted

    ea = edges_a(spark, sf_dir).withColumn(
        "weight",
        ((F.col("src") * 7 + F.col("dst") * 3) % 19 + 1).cast("double"),
    )
    ranks = pagerank_weighted(
        ea, vertices=verts(spark, V_A), num_iters=5, partitions=8
    )
    return ranks.select(
        "id", F.round(F.col("rank") * 1e8).cast("long").alias("rank_e8")
    )


def _weighted_pagerank_sql(num_iters: int, V: int) -> str:
    d = 0.85
    parts = [
        EDGES_A_SQL, VERTS_A_SQL,
        f"we AS (SELECT src, dst, CAST({WPR_WEIGHT_SQL} AS DOUBLE) AS w FROM edges_a)",
        "wout AS (SELECT src AS id, sum(w) AS w_out FROM we GROUP BY src)",
        f"r0 AS (SELECT id, 1.0 / {V} AS rank FROM verts_a)",
    ]
    for i in range(1, num_iters + 1):
        p = f"r{i - 1}"
        parts.append(
            f"""live{i} AS MATERIALIZED (
                 SELECT coalesce(sum(r.rank), 0) AS s FROM {p} r
                 JOIN wout o ON r.id = o.id)"""
        )
        parts.append(
            f"""c{i} AS MATERIALIZED (
                 SELECT e.dst AS id, sum(r.rank * e.w / o.w_out) AS contrib
                 FROM we e JOIN {p} r ON e.src = r.id JOIN wout o ON e.src = o.id
                 GROUP BY e.dst)"""
        )
        parts.append(
            f"""r{i} AS MATERIALIZED (
                 SELECT v.id,
                        {(1.0 - d) / V} + {d} * (coalesce(c.contrib, 0)
                            + (1.0 - l.s) / {V}) AS rank
                 FROM verts_a v
                 LEFT JOIN c{i} c ON v.id = c.id CROSS JOIN live{i} l)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, CAST(round(rank * 1e8) AS BIGINT) AS rank_e8 FROM r{num_iters}"
    )


WEIGHTED_PAGERANK5_SQL = _weighted_pagerank_sql(5, V_A)


def q_dedup_clusters(spark, sf_dir):
    """Near-duplicate CLUSTERS: connected components over the MinHash-LSH
    duplicate-pair graph — the standard web-corpus dedup pipeline (pair
    generation feeding a graph algorithm); cluster id = min doc_id."""
    from .. import dedup
    from ..algos import connected_components
    from ..algos.gcommon import vertex_set

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=16, bands=8, jaccard_threshold=0.5
    )
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    labels, _ = connected_components(e, vertices=vertex_set(e), partitions=8)
    return labels.select(
        F.col("id").alias("doc_id"), F.col("component").cast("long").alias("cluster")
    )


def _dedup_clusters_sql() -> str:
    from .. import dedup

    pairs_sql = dedup.minhash_lsh_pairs_sql(
        num_hashes=16, bands=8, jaccard_threshold=0.5
    )
    return f"""
WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({pairs_sql}) t),
du AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
dv AS (SELECT DISTINCT src AS id FROM du),
reach(id, comp) AS (
  SELECT id, id FROM dv
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN du e ON e.src = r.id
)
SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS cluster FROM reach GROUP BY id
"""


def _register_round1b() -> None:
    REGISTRY.update(
        {
            "bfs_distances": (q_bfs_distances, BFS_SQL),
            "scc": (q_scc, SCC_SQL),
            "k_core_3": (q_kcore3, KCORE3_SQL),
            "jaccard_neighbors": (q_jaccard_neighbors, JACCARD_SQL),
            "adamic_adar_topk": (q_adamic_adar_topk, ADAMIC_ADAR_SQL),
            "four_cycle_count": (q_four_cycle_count, FOUR_CYCLE_SQL),
            "degree_assortativity": (q_degree_assortativity, ASSORT_SQL),
            "weighted_pagerank_5iter": (q_weighted_pagerank5, WEIGHTED_PAGERANK5_SQL),
            "dedup_clusters": (q_dedup_clusters, _dedup_clusters_sql()),
        }
    )


_register_round1b()


def q_components_star(spark, sf_dir):
    """Connected components via alternating large-star/small-star rounds
    (O(log V) rounds — the large-diameter scale path); output identical to
    `connected_components`, so it shares that oracle."""
    from ..algos.components import connected_components_star

    labels = connected_components_star(
        edges_b(spark, sf_dir), vertices=verts(spark, V_B), partitions=8
    )
    return labels.select("id", F.col("component").cast("long").alias("component"))


REGISTRY["connected_components_star"] = (q_components_star, COMPONENTS_SQL)


# symmetric integer weight for the undirected derived graph: identical for
# (u,v) and (v,u), BIGINT-exact in both engines
SYM_W = "((CASE WHEN src < dst THEN src ELSE dst END) * 7 + (CASE WHEN src < dst THEN dst ELSE src END) * 3) % 19 + 1"


def q_sssp_distances(spark, sf_dir):
    """Weighted single-source shortest paths from vertex 0 (Bellman–Ford
    relaxation supersteps; integer weights → exact long distances)."""
    from ..algos.paths import sssp_distances

    eb = edges_b(spark, sf_dir)
    lo, hi = F.least("src", "dst"), F.greatest("src", "dst")
    we = eb.withColumn("weight", (lo * 7 + hi * 3) % 19 + 1)
    dist, _ = sssp_distances(
        we, sources=spark.createDataFrame([(0,)], "id long"),
        directed=False, partitions=8,
    )
    return dist.select("id", F.col("dist").cast("long").alias("dist"))


def _sssp_sql(rounds: int) -> str:
    parts = [
        EDGES_B_SQL, UND_B_SQL,
        f"we AS MATERIALIZED (SELECT src, dst, CAST({SYM_W} AS BIGINT) AS w FROM und_b)",
        "d0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist)",
    ]
    for i in range(1, rounds + 1):
        p = f"d{i - 1}"
        parts.append(
            f"""d{i} AS MATERIALIZED (
                 SELECT id, min(dist) AS dist FROM (
                   SELECT id, dist FROM {p}
                   UNION ALL
                   SELECT e.dst AS id, x.dist + e.w AS dist
                   FROM we e JOIN {p} x ON e.src = x.id
                 ) u GROUP BY id)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, dist FROM d{rounds}"
    )


SSSP_SQL = _sssp_sql(25)


def q_random_walks(spark, sf_dir):
    """Deterministic hash-walk corpus: 20 walks of length 8 over the
    undirected derived graph — bit-reproducible in any engine (DeepWalk-
    style training-data generation)."""
    from ..algos.paths import random_walks

    walks = random_walks(
        edges_b(spark, sf_dir),
        starts=spark.createDataFrame([(i,) for i in range(20)], "id long"),
        length=8, directed=False, partitions=8,
    )
    return walks.select(
        F.col("walk_id").cast("long").alias("walk_id"),
        F.col("step").cast("long").alias("step"),
        F.col("v").cast("long").alias("v"),
    )


def _random_walks_sql(n_starts: int, length: int) -> str:
    from ..algos.paths import WALK_A, WALK_B, WALK_C

    parts = [
        EDGES_B_SQL, UND_B_SQL,
        """adj AS MATERIALIZED (
             SELECT src, dst,
                    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
                    count(*) OVER (PARTITION BY src) AS deg
             FROM und_b)""",
        f"""w0 AS MATERIALIZED (
             SELECT CAST(range AS BIGINT) AS walk_id, 0 AS step,
                    CAST(range AS BIGINT) AS v
             FROM range({n_starts}))""",
    ]
    for s in range(1, length + 1):
        p = f"w{s - 1}"
        parts.append(
            f"""w{s} AS MATERIALIZED (
                 SELECT c.walk_id, {s} AS step, a.dst AS v
                 FROM {p} c JOIN adj a ON a.src = c.v
                  AND a.idx = (c.walk_id * {WALK_A} + c.v * {WALK_B}
                               + {s} * {WALK_C}) % a.deg)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT walk_id, step, v FROM w{s}" for s in range(length + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT CAST(walk_id AS BIGINT) AS walk_id, CAST(step AS BIGINT) AS step,"
          f" CAST(v AS BIGINT) AS v FROM ({union}) t"
    )


RANDOM_WALKS_SQL = _random_walks_sql(20, 8)

REGISTRY["sssp_distances"] = (q_sssp_distances, SSSP_SQL)
REGISTRY["random_walks"] = (q_random_walks, RANDOM_WALKS_SQL)


def q_core_numbers(spark, sf_dir):
    """Full core decomposition (coreness per vertex) via synchronous H-index
    iteration — exact vs sequential peeling; unrolled SQL twin."""
    from ..algos.kcore import core_numbers

    core, _ = core_numbers(edges_b(spark, sf_dir), partitions=8)
    return core.select("id", F.col("core").cast("long").alias("core"))


def _core_numbers_sql(rounds: int) -> str:
    parts = [
        EDGES_B_SQL, UND_B_SQL,
        "c0 AS MATERIALIZED (SELECT src AS id, count(*) AS core FROM und_b GROUP BY src)",
    ]
    for i in range(1, rounds + 1):
        p = f"c{i - 1}"
        parts.append(
            f"""h{i} AS MATERIALIZED (
                 SELECT src, max(CASE WHEN rn < nc THEN rn ELSE nc END) AS h FROM (
                   SELECT e.src, c.core AS nc,
                          row_number() OVER (PARTITION BY e.src
                                             ORDER BY c.core DESC) AS rn
                   FROM und_b e JOIN {p} c ON c.id = e.dst
                 ) t GROUP BY src)"""
        )
        parts.append(
            f"""c{i} AS MATERIALIZED (
                 SELECT c.id, CASE WHEN h.h < c.core THEN h.h ELSE c.core END AS core
                 FROM {p} c JOIN h{i} h ON h.src = c.id)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, CAST(core AS BIGINT) AS core FROM c{rounds}"
    )


CORE_NUMBERS_SQL = _core_numbers_sql(20)

REGISTRY["core_numbers"] = (q_core_numbers, CORE_NUMBERS_SQL)


CLOSENESS_SOURCES = tuple(range(10))


def q_closeness_centrality(spark, sf_dir):
    """Exact closeness for a 10-source sample — all sources advance through
    one composite-key BFS loop (the sampled-centrality scale pattern)."""
    from ..algos.paths import closeness_centrality

    return closeness_centrality(
        edges_b(spark, sf_dir),
        sources=spark.createDataFrame([(s,) for s in CLOSENESS_SOURCES], "id long"),
        directed=False, partitions=8,
    ).select("s", "reached", "total_dist", "closeness_e6", "harmonic_e6", "ecc")


CLOSENESS_SQL = f"""
WITH RECURSIVE {EDGES_B_SQL}, {UND_B_SQL},
srcs AS (SELECT CAST(range AS BIGINT) AS s FROM range({len(CLOSENESS_SOURCES)})),
walk(s, v, d) AS (
  SELECT s, s AS v, 0 AS d FROM srcs
  UNION
  SELECT w.s, e.dst, w.d + 1 FROM walk w JOIN und_b e ON e.src = w.v WHERE w.d < 40
),
dist AS (SELECT s, v, min(d) AS d FROM walk GROUP BY s, v)
SELECT s, CAST(count(*) - 1 AS BIGINT) AS reached,
       CAST(sum(d) AS BIGINT) AS total_dist,
       CAST(CASE WHEN sum(d) > 0
                 THEN round((count(*) - 1) * 1e6 / sum(d)) ELSE 0 END AS BIGINT)
         AS closeness_e6,
       CAST(sum(CASE WHEN d > 0 THEN CAST(round(1e6 / d) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS harmonic_e6,
       CAST(max(d) AS BIGINT) AS ecc
FROM dist GROUP BY s
"""

REGISTRY["closeness_centrality"] = (q_closeness_centrality, CLOSENESS_SQL)


def q_modularity(spark, sf_dir):
    """Modularity of the 3-iteration label-propagation clustering — computed
    integer-exactly: Q = Σ_c (e_c·2m − d_c²) / (2m)², one double division at
    the end (engine-independent), e6-quantized."""
    from ..algos import label_propagation

    eb = edges_b(spark, sf_dir)
    labels, _ = label_propagation(
        eb, vertices=verts(spark, V_B), max_iter=3, partitions=8
    )
    und = (
        eb.union(eb.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    lab = labels.select(F.col("id"), F.col("label"))
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    m2 = und.count()  # = 2m (symmetric rows)
    ec = (
        und.join(lab.withColumnRenamed("id", "src")
                 .withColumnRenamed("label", "ls"), "src")
        .join(lab.withColumnRenamed("id", "dst")
              .withColumnRenamed("label", "ld"), "dst")
        .filter(F.col("ls") == F.col("ld"))
        .groupBy(F.col("ls").alias("c"))
        .agg(F.count(F.lit(1)).alias("e"))
    )
    dc = (
        lab.join(deg.withColumnRenamed("src", "id"), "id", "left")
        .na.fill({"d": 0})
        .groupBy(F.col("label").alias("c"))
        .agg(F.sum("d").alias("dsum"))
    )
    num = (
        dc.join(ec, "c", "left")
        .na.fill({"e": 0})
        .agg(
            F.sum(
                F.col("e") * F.lit(m2) - F.col("dsum") * F.col("dsum")
            ).alias("num")
        )
        .collect()[0]["num"]
    )
    q = float(num) / float(m2 * m2) if m2 else 0.0
    return _scalar_df(spark, "modularity_e6", int(round(q * 1e6)))


MODULARITY_SQL = f"""
WITH lp AS ({_labelprop_sql(3)}),
{EDGES_B_SQL},
mu AS (
  SELECT src, dst FROM edges_b
  UNION
  SELECT dst AS src, src AS dst FROM edges_b
),
mdeg AS (SELECT src, count(*) AS d FROM mu GROUP BY src),
m2 AS (SELECT count(*) AS m2 FROM mu),
ec AS (
  SELECT l1.label AS c, count(*) AS e
  FROM mu e JOIN lp l1 ON l1.id = e.src JOIN lp l2 ON l2.id = e.dst
  WHERE l1.label = l2.label
  GROUP BY l1.label
),
dc AS (
  SELECT l.label AS c, sum(coalesce(d.d, 0)) AS dsum
  FROM lp l LEFT JOIN mdeg d ON d.src = l.id
  GROUP BY l.label
)
SELECT CAST(round(1e6 * CAST(sum(coalesce(ec.e, 0) * m2.m2 - dc.dsum * dc.dsum) AS DOUBLE)
            / CAST(m2.m2 * m2.m2 AS DOUBLE)) AS BIGINT) AS modularity_e6
FROM dc LEFT JOIN ec ON ec.c = dc.c CROSS JOIN m2
GROUP BY m2.m2
"""

REGISTRY["modularity"] = (q_modularity, MODULARITY_SQL)


def q_pricing_rollup(spark, sf_dir):
    """ROLLUP aggregation over (returnflag, linestatus) — subtotal + grand
    total rows; exact integer measures for engine-independent hashing."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("l_linestatus"),
            "n_rows", "sum_qty",
        )
    )


PRICING_ROLLUP_SQL = """
SELECT coalesce(l_returnflag, '(all)') AS l_returnflag,
       coalesce(l_linestatus, '(all)') AS l_linestatus,
       count(*) AS n_rows,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_customers_without_orders(spark, sf_dir):
    """Anti-join: customers with no URGENT-priority order, counted per
    nation (broadcast dimension join on the nation name)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        c.join(urgent, "c_custkey", "left_anti")
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT n.n_name, count(*) AS n_customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY n.n_name
"""


def q_order_priority_counts(spark, sf_dir):
    """TPC-H Q4 shape: order counts per priority for orders having at least
    one lineitem shipped >30 days after the order date — a CORRELATED
    EXISTS, executed as a theta semi-join on (orderkey, date condition)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cond = (o["o_orderkey"] == li["l_orderkey"]) & (
        li["l_shipdate"] > F.date_add(F.col("o_orderdate"), 30)
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


ORDER_PRIORITY_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
"""

REGISTRY["pricing_rollup"] = (q_pricing_rollup, PRICING_ROLLUP_SQL)
REGISTRY["customers_without_orders"] = (
    q_customers_without_orders, CUSTOMERS_WITHOUT_ORDERS_SQL,
)
REGISTRY["order_priority_counts"] = (q_order_priority_counts, ORDER_PRIORITY_SQL)


def q_degree_histogram(spark, sf_dir):
    """Log2-bucketed degree distribution of the undirected derived graph —
    the power-law sanity check every link-graph pipeline ships."""
    ea = edges_a(spark, sf_dir)
    und = (
        ea.union(ea.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    return (
        deg.select(F.floor(F.log2("d")).cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


DEGREE_HISTOGRAM_SQL = f"""
WITH {EDGES_A_SQL}, {UND_A_SQL},
deg AS (SELECT src, count(*) AS d FROM und_a GROUP BY src)
SELECT CAST(floor(log2(d)) AS BIGINT) AS bucket, count(*) AS n_vertices
FROM deg GROUP BY 1
"""


def q_event_transition_counts(spark, sf_dir):
    """Per-user event-type transition graph (Markov edge counts): lag()
    window over the time-ordered event stream, then grouped count — the
    sequential-pattern shape (clickstream → transition matrix)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


EVENT_TRANSITION_SQL = """
SELECT prev_type, next_type, count(*) AS n_transitions FROM (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_type AS next_type
  FROM events
) t WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
"""

REGISTRY["degree_histogram"] = (q_degree_histogram, DEGREE_HISTOGRAM_SQL)
REGISTRY["event_transition_counts"] = (
    q_event_transition_counts, EVENT_TRANSITION_SQL,
)


def q_butterfly_count(spark, sf_dir):
    """Bipartite butterfly (2x2 biclique) count over the customer–part
    purchase graph: Σ over customer pairs of C(|common parts|, 2) — the
    bipartite analogue of rectangle counting (co-purchase density)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bip = (
        o.filter(F.col("o_orderkey") % 20 == 0)
        .select("o_orderkey", "o_custkey")
        .join(li.select("l_orderkey", "l_partkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    # side-disambiguated vertex ids (2c / 2p+1): butterflies are exactly
    # the rectangles of the encoded graph, counted by the hub-safe
    # vertex-priority plan (motifs.four_cycle_count) — the hot customer /
    # hot part wedge blow-up of the naive per-side self-join disappears
    from ..algos.motifs import four_cycle_count

    enc = bip.select(
        (F.col("c") * 2).alias("src"), (F.col("p") * 2 + 1).alias("dst")
    )
    return _scalar_df(spark, "butterflies", four_cycle_count(enc))


BUTTERFLY_SQL = """
WITH bip AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderkey % 20 = 0
),
wedge AS (
  SELECT a.c AS c1, b.c AS c2, count(*) AS w
  FROM bip a JOIN bip b ON a.p = b.p
  WHERE a.c < b.c
  GROUP BY a.c, b.c
)
SELECT CAST(sum(w * (w - 1) / 2) AS BIGINT) AS butterflies FROM wedge
"""

REGISTRY["butterfly_count"] = (q_butterfly_count, BUTTERFLY_SQL)


STRESS_SOURCES = tuple(range(10))
STRESS_LEVELS = 12  # ≥ max source eccentricity of edges_b at every sf (7 at
                    # sf0.001, 3 at sf0.01, 2 at sf0.1 — measured; see
                    # tests/test_paths_scc.py budget test)


def q_stress_centrality(spark, sf_dir):
    """Brandes stress centrality for a 10-source sample — integer-exact
    forward σ + backward suffix-count passes (betweenness's BIGINT sibling)."""
    from ..algos.paths import stress_centrality

    return stress_centrality(
        edges_b(spark, sf_dir),
        sources=spark.createDataFrame([(s,) for s in STRESS_SOURCES], "id long"),
        directed=False, partitions=8,
    )


def _stress_sql(levels: int) -> str:
    parts = [
        EDGES_B_SQL, UND_B_SQL,
        f"srcs AS (SELECT CAST(range AS BIGINT) AS s FROM range({len(STRESS_SOURCES)}))",
        "lvl0 AS MATERIALIZED (SELECT s, s AS v, CAST(1 AS BIGINT) AS sig FROM srcs)",
        "set0 AS MATERIALIZED (SELECT s, v FROM lvl0)",
    ]
    for i in range(1, levels + 1):
        parts.append(
            f"""lvl{i} AS MATERIALIZED (
  SELECT p.s, e.dst AS v, CAST(sum(p.sig) AS BIGINT) AS sig
  FROM lvl{i - 1} p JOIN und_b e ON e.src = p.v
  WHERE NOT EXISTS (SELECT 1 FROM set{i - 1} st WHERE st.s = p.s AND st.v = e.dst)
  GROUP BY p.s, e.dst)"""
        )
        parts.append(
            f"set{i} AS MATERIALIZED (SELECT s, v FROM set{i - 1} "
            f"UNION ALL SELECT s, v FROM lvl{i})"
        )
    parts.append(
        f"c{levels} AS MATERIALIZED "
        f"(SELECT s, v, sig, CAST(0 AS BIGINT) AS cv FROM lvl{levels})"
    )
    for i in range(levels - 1, -1, -1):
        parts.append(
            f"""c{i} AS MATERIALIZED (
  SELECT p.s, p.v, p.sig, COALESCE(x.cv, 0) AS cv
  FROM lvl{i} p LEFT JOIN (
    SELECT p2.s, p2.v, CAST(sum(1 + cn.cv) AS BIGINT) AS cv
    FROM lvl{i} p2 JOIN und_b e ON e.src = p2.v
    JOIN c{i + 1} cn ON cn.s = p2.s AND cn.v = e.dst
    GROUP BY p2.s, p2.v) x ON x.s = p.s AND x.v = p.v)"""
        )
    union = " UNION ALL ".join(
        f"SELECT s, v, sig, cv FROM c{i}" for i in range(levels + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT v AS id, CAST(sum(sig * cv) AS BIGINT) AS stress"
        + f"\nFROM ({union}) WHERE v <> s GROUP BY v HAVING sum(sig * cv) > 0"
    )


STRESS_SQL = _stress_sql(STRESS_LEVELS)

REGISTRY["stress_centrality"] = (q_stress_centrality, STRESS_SQL)


def q_pagerank_top20(spark, sf_dir):
    """Top-20 vertices by 5-iteration PageRank — deterministic total order
    (rank_e8 desc, id): the ranking/limit stage over an iterative result."""
    ranks = q_pagerank5(spark, sf_dir)
    return ranks.orderBy(F.col("rank_e8").desc(), "id").limit(20)


PAGERANK_TOP20_SQL = (
    "WITH pr AS (" + PAGERANK5_SQL + ")\n"
    "SELECT id, rank_e8 FROM pr ORDER BY rank_e8 DESC, id LIMIT 20"
)

REGISTRY["pagerank_top20"] = (q_pagerank_top20, PAGERANK_TOP20_SQL)


def q_incremental_pagerank(spark, sf_dir):
    """Incremental PageRank over an edge-delta batch: converge 5 iterations
    on the base graph (~90% of edges), then ingest the remaining edges and
    warm-start 3 more iterations from the previous vector (L1-renormalized)
    — the cheap-recompute path for a continuously-crawled link graph."""
    from ..algos import pagerank

    full = edges_a(spark, sf_dir)
    base = full.filter((F.col("src") * 5 + F.col("dst")) % 10 != 7)
    base_ranks, _ = pagerank(
        base, vertices=verts(spark, V_A), num_iters=5, partitions=16
    )
    ranks, _ = pagerank(
        full, vertices=verts(spark, V_A), num_iters=3, partitions=16,
        initial_ranks=base_ranks,
    )
    return ranks.select(
        "id", F.round(F.col("rank") * 1e8).cast("long").alias("rank_e8")
    )


def _pr_iters_sql(parts: list, prefix: str, edges_name: str, outd_name: str,
                  start_name: str, n: int, v: int) -> str:
    """Append n damped-iteration CTEs (dangling mass + contribution + update)
    starting from rank vector ``start_name``; returns the final CTE name."""
    d = 0.85
    prev = start_name
    for i in range(1, n + 1):
        parts.append(
            f"""{prefix}d{i} AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0) AS dm
      FROM {prev} r LEFT JOIN {outd_name} o ON r.id = o.id WHERE o.id IS NULL)"""
        )
        parts.append(
            f"""{prefix}c{i} AS MATERIALIZED (SELECT e.dst AS id, sum(r.rank / o.od) AS contrib
      FROM {edges_name} e JOIN {prev} r ON e.src = r.id
      JOIN {outd_name} o ON e.src = o.id GROUP BY e.dst)"""
        )
        parts.append(
            f"""{prefix}r{i} AS MATERIALIZED (SELECT vv.id,
      {(1.0 - d) / v!r} + {d} * (coalesce(c.contrib, 0) + dd.dm / {v}) AS rank
      FROM verts_a vv LEFT JOIN {prefix}c{i} c ON vv.id = c.id
      CROSS JOIN {prefix}d{i} dd)"""
        )
        prev = f"{prefix}r{i}"
    return prev


def _incremental_pagerank_sql() -> str:
    parts = [
        EDGES_A_SQL, VERTS_A_SQL,
        "base_e AS MATERIALIZED "
        "(SELECT src, dst FROM edges_a WHERE (src * 5 + dst) % 10 <> 7)",
        "boutd AS MATERIALIZED (SELECT src AS id, CAST(count(*) AS DOUBLE) AS od "
        "FROM base_e GROUP BY src)",
        f"br0 AS (SELECT id, 1.0/{V_A} AS rank FROM verts_a)",
    ]
    last = _pr_iters_sql(parts, "b", "base_e", "boutd", "br0", 5, V_A)
    parts.append(f"tot AS MATERIALIZED (SELECT sum(rank) AS t FROM {last})")
    parts.append(
        "foutd AS MATERIALIZED (SELECT src AS id, CAST(count(*) AS DOUBLE) AS od "
        "FROM edges_a GROUP BY src)"
    )
    # warm start: L1-normalize the base vector (mirrors pagerank(initial_ranks=))
    parts.append(
        f"fr0 AS MATERIALIZED (SELECT r.id, r.rank / tt.t AS rank "
        f"FROM {last} r CROSS JOIN tot tt)"
    )
    last = _pr_iters_sql(parts, "f", "edges_a", "foutd", "fr0", 3, V_A)
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, CAST(round(rank * 100000000) AS BIGINT) AS rank_e8 FROM {last}"
    )


INCREMENTAL_PAGERANK_SQL = _incremental_pagerank_sql()

REGISTRY["incremental_pagerank"] = (q_incremental_pagerank, INCREMENTAL_PAGERANK_SQL)


def q_hyperball_ball3(spark, sf_dir):
    """HyperBall radius-3 ball-size estimate per vertex — HLL register
    max-merge supersteps with BIGINT-exact register math, so the sketch
    itself (not just its inputs) is value-checked against the SQL twin."""
    from ..algos.hyperball import hyperball

    return hyperball(
        edges_b(spark, sf_dir), vertices=verts(spark, V_B),
        radius=3, directed=False, partitions=8,
    )


def _hyperball_sql(radius: int) -> str:
    from ..algos.hyperball import EST_NUM_E6, HASH_A, HASH_B, HASH_MOD

    rho_case = (
        "CASE "
        + " ".join(
            f"WHEN (m >> 4) % {1 << k} = {1 << (k - 1)} THEN {k}"
            for k in range(1, 17)
        )
        + " ELSE 17 END"
    )
    parts = [
        EDGES_B_SQL, UND_B_SQL, VERTS_B_SQL,
        f"hbm AS (SELECT id AS v, (id * {HASH_A} + {HASH_B}) % {HASH_MOD} AS m "
        "FROM verts_b)",
        f"hb0 AS MATERIALIZED (SELECT v, CAST(m % 16 AS BIGINT) AS j, "
        f"CAST({rho_case} AS BIGINT) AS r FROM hbm)",
    ]
    for t in range(1, radius + 1):
        parts.append(
            f"""hb{t} AS MATERIALIZED (
  SELECT v, j, max(r) AS r FROM (
    SELECT e.src AS v, p.j, p.r FROM und_b e JOIN hb{t - 1} p ON p.v = e.dst
    UNION ALL SELECT v, j, r FROM hb{t - 1}) u GROUP BY v, j)"""
        )
    # registers are sparse rows here (absent j ⇒ M_j = 0 ⇒ term 2^32);
    # the engine's dense 16-column layout computes the identical sum
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT v AS id,
       CAST(sum(4294967296 >> r) + (16 - count(*)) * 4294967296 AS BIGINT)
         AS sum_int,
       CAST(round({EST_NUM_E6!r} /
            (sum(4294967296 >> r) + (16 - count(*)) * 4294967296)) AS BIGINT)
         AS ball_e6
FROM hb{radius} GROUP BY v"""
    )


HYPERBALL_SQL = _hyperball_sql(3)

REGISTRY["hyperball_ball3"] = (q_hyperball_ball3, HYPERBALL_SQL)


def q_louvain_sync4(spark, sf_dir):
    """Synchronous Louvain-style clustering, 4 rounds — integer-exact
    modularity-gain scores with min-label tie-break (deterministic across
    engines; quality measured by the separate modularity query)."""
    from ..algos.louvain import louvain_sync

    return louvain_sync(
        edges_b(spark, sf_dir), vertices=verts(spark, V_B),
        num_rounds=4, partitions=8,
    )


def _louvain_sql(num_rounds: int) -> str:
    parts = [
        EDGES_B_SQL, UND_B_SQL, VERTS_B_SQL,
        "ldeg AS MATERIALIZED (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg "
        "FROM und_b GROUP BY src)",
        "lm2 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m2 FROM und_b)",
        "lv0 AS MATERIALIZED (SELECT id, id AS label FROM verts_b)",
    ]
    for r in range(1, num_rounds + 1):
        p = f"lv{r - 1}"
        parts.append(
            f"tot{r} AS MATERIALIZED (SELECT l.label, CAST(sum(d.deg) AS BIGINT) "
            f"AS tot FROM {p} l JOIN ldeg d ON d.id = l.id GROUP BY l.label)"
        )
        parts.append(
            f"kvc{r} AS MATERIALIZED (SELECT e.src AS id, l.label AS clab, "
            f"CAST(count(*) AS BIGINT) AS kvc FROM und_b e "
            f"JOIN {p} l ON l.id = e.dst GROUP BY e.src, l.label)"
        )
        parts.append(
            f"cand{r} AS MATERIALIZED (SELECT id, clab, CAST(sum(kvc) AS BIGINT) "
            f"AS kvc FROM (SELECT id, clab, kvc FROM kvc{r} "
            f"UNION ALL SELECT id, label AS clab, 0 FROM {p}) u GROUP BY id, clab)"
        )
        parts.append(
            f"""scored{r} AS MATERIALIZED (
  SELECT c.id, c.clab,
         (SELECT m2 FROM lm2) * c.kvc
         - COALESCE(d.deg, 0) * (COALESCE(t.tot, 0)
             - CASE WHEN c.clab = l.label THEN COALESCE(d.deg, 0) ELSE 0 END)
           AS score
  FROM cand{r} c
  JOIN {p} l ON l.id = c.id
  LEFT JOIN ldeg d ON d.id = c.id
  LEFT JOIN tot{r} t ON t.label = c.clab)"""
        )
        parts.append(
            f"""lv{r} AS MATERIALIZED (SELECT id, clab AS label FROM (
  SELECT id, clab, row_number() OVER (PARTITION BY id
         ORDER BY score DESC, clab ASC) AS rn
  FROM scored{r}) z WHERE rn = 1)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, label FROM lv{num_rounds}"
    )


LOUVAIN_SQL = _louvain_sql(4)

REGISTRY["louvain_sync4"] = (q_louvain_sync4, LOUVAIN_SQL)


def q_collocations_top20(spark, sf_dir):
    """Top-20 bigram collocations by Dice coefficient (integer-exact counts,
    e6-quantized score, total order) — corpus collocation extraction for a
    training-data pipeline."""
    from .. import text

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text.collocations_topk(d, min_count=5, k=20)


from .. import text as _text

REGISTRY["collocations_top20"] = (q_collocations_top20, _text.collocations_sql())


def q_tfidf_top3(spark, sf_dir):
    """Top-3 TF-IDF terms per document (per-term-quantized idf, exact
    BIGINT scores, window top-k) — feature extraction for a training-data
    pipeline."""
    from .. import text

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text.tfidf_topk(d, k=3)


REGISTRY["tfidf_top3"] = (q_tfidf_top3, _text.tfidf_sql(k=3))


def q_reciprocity(spark, sf_dir):
    """Link reciprocity of the directed derived graph: the fraction of
    edges (u,v) whose reverse (v,u) also exists — a standard web-graph
    shape statistic (exact counts, e6-quantized ratio)."""
    e = edges_a(spark, sf_dir)
    recip = e.join(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ["src", "dst"],
        "left_semi",
    )
    return (
        e.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(recip.agg(F.count(F.lit(1)).alias("n_recip")))
        .select(
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_recip").cast("long").alias("n_recip"),
            F.round(F.lit(1e6) * F.col("n_recip") / F.col("n_edges"))
            .cast("long")
            .alias("reciprocity_e6"),
        )
    )


RECIPROCITY_SQL = f"""
WITH {EDGES_A_SQL},
r AS (SELECT count(*) AS c FROM edges_a e
      JOIN edges_a x ON x.src = e.dst AND x.dst = e.src),
n AS (SELECT count(*) AS c FROM edges_a)
SELECT CAST(n.c AS BIGINT) AS n_edges, CAST(r.c AS BIGINT) AS n_recip,
       CAST(round(1e6 * r.c / n.c) AS BIGINT) AS reciprocity_e6
FROM n, r
"""

REGISTRY["reciprocity"] = (q_reciprocity, RECIPROCITY_SQL)


def q_bowtie(spark, sf_dir):
    """Broder bow-tie decomposition of the directed derived graph:
    core / in / out / tendril / disc per vertex (SCC + three BFS
    reachability passes; transitive-closure recursive-CTE SQL twin)."""
    from ..algos.components import bowtie_regions

    return bowtie_regions(edges_b(spark, sf_dir), partitions=8)


BOWTIE_SQL = f"""
WITH RECURSIVE {EDGES_B_SQL}, {UND_B_SQL},
vb AS (SELECT DISTINCT id FROM (
  SELECT src AS id FROM edges_b UNION ALL SELECT dst AS id FROM edges_b)),
reach(u, v) AS (
  SELECT id AS u, id AS v FROM vb
  UNION
  SELECT r.u, e.dst FROM reach r JOIN edges_b e ON e.src = r.v
),
scc AS (
  SELECT r1.u AS id, min(r1.v) AS scc
  FROM reach r1 JOIN reach r2 ON r1.u = r2.v AND r1.v = r2.u
  GROUP BY r1.u
),
core AS (
  SELECT id FROM scc WHERE scc = (
    SELECT scc FROM scc GROUP BY scc ORDER BY count(*) DESC, scc ASC LIMIT 1)
),
fwd AS (SELECT DISTINCT r.v AS id FROM reach r JOIN core c ON r.u = c.id),
bwd AS (SELECT DISTINCT r.u AS id FROM reach r JOIN core c ON r.v = c.id),
wreach(id) AS (
  SELECT id FROM core
  UNION
  SELECT e.dst FROM wreach w JOIN und_b e ON e.src = w.id
)
SELECT vb.id,
  CASE WHEN c.id IS NOT NULL THEN 'core'
       WHEN b.id IS NOT NULL THEN 'in'
       WHEN f.id IS NOT NULL THEN 'out'
       WHEN w.id IS NOT NULL THEN 'tendril'
       ELSE 'disc' END AS region
FROM vb
LEFT JOIN core c ON c.id = vb.id
LEFT JOIN bwd b ON b.id = vb.id
LEFT JOIN fwd f ON f.id = vb.id
LEFT JOIN wreach w ON w.id = vb.id
"""

REGISTRY["bowtie_regions"] = (q_bowtie, BOWTIE_SQL)


def q_ktruss5(spark, sf_dir):
    """5-truss of the undirected derived graph (every edge in ≥3
    triangles within the subgraph) by iterative support peeling;
    unrolled-peel SQL twin."""
    from ..algos.ktruss import ktruss_edges

    e, _ = ktruss_edges(edges_b(spark, sf_dir), k=5, partitions=8)
    return e.select(F.col("a").cast("long").alias("a"),
                    F.col("b").cast("long").alias("b"))


def _ktruss_sql(k: int, rounds: int) -> str:
    # MATERIALIZED is load-bearing (see _kcore_sql): e{i} is referenced by
    # three join sides of the next round's wedge+closure plan.
    # Round budget validated empirically: sf0.01 needs 14 rounds at k=5
    # (sf0.001 collapses to empty in 2, sf0.1 is already a 5-truss).
    parts = [
        EDGES_B_SQL,
        "e0 AS MATERIALIZED (SELECT DISTINCT least(src,dst) AS a, "
        "greatest(src,dst) AS b FROM edges_b)",
    ]
    for i in range(1, rounds + 1):
        p = f"e{i - 1}"
        parts.append(f"""t{i} AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM {p} e1 JOIN {p} e2 ON e1.a = e2.a AND e1.b < e2.b
  WHERE EXISTS (SELECT 1 FROM {p} e3 WHERE e3.a = e1.b AND e3.b = e2.b))""")
        parts.append(f"""s{i} AS MATERIALIZED (
  SELECT a, b, count(*) AS supp FROM (
    SELECT x AS a, y AS b FROM t{i}
    UNION ALL SELECT x AS a, z AS b FROM t{i}
    UNION ALL SELECT y AS a, z AS b FROM t{i}) GROUP BY a, b)""")
        parts.append(f"""e{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM {p} e JOIN s{i} s ON s.a = e.a AND s.b = e.b
  WHERE s.supp >= {k - 2})""")
    return "WITH " + ",\n".join(parts) + f"\nSELECT a, b FROM e{rounds}"


KTRUSS5_SQL = _ktruss_sql(5, 20)

REGISTRY["ktruss_5"] = (q_ktruss5, KTRUSS5_SQL)


def q_luby_mis(spark, sf_dir):
    """Maximal independent set (Luby, deterministic hash priorities) on
    the undirected derived graph; 8-round unrolled SQL twin."""
    from ..algos.mis import maximal_independent_set

    mis, _ = maximal_independent_set(edges_b(spark, sf_dir), partitions=8)
    return mis.select(F.col("id").cast("long").alias("id"))


def _luby_sql(rounds: int) -> str:
    # Round budget validated empirically: 3 rounds at sf0.001, 2 at
    # sf0.01/sf0.1; 8 gives margin.  MATERIALIZED: a{i}/u{i} feed three
    # references each in round i+1.
    from ..algos.gcommon import PRI_A, PRI_B, PRI_M

    pri = lambda c: f"(({c} * {PRI_A} + {PRI_B}) % {PRI_M})"  # noqa: E731
    parts = [
        EDGES_B_SQL, UND_B_SQL,
        "u0 AS MATERIALIZED (SELECT src, dst FROM und_b)",
        "a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM und_b)",
        "m0 AS (SELECT CAST(NULL AS BIGINT) AS id WHERE FALSE)",
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""nm{i} AS MATERIALIZED (
  SELECT src AS id, min({pri("dst")}) AS nmin FROM u{i - 1} GROUP BY src)""")
        parts.append(f"""w{i} AS MATERIALIZED (
  SELECT a.id FROM a{i - 1} a LEFT JOIN nm{i} n ON n.id = a.id
  WHERE n.nmin IS NULL OR {pri("a.id")} < n.nmin)""")
        parts.append(f"""a{i} AS MATERIALIZED (
  SELECT id FROM a{i - 1}
  WHERE id NOT IN (SELECT id FROM w{i})
    AND id NOT IN (SELECT u.dst FROM u{i - 1} u JOIN w{i} w ON u.src = w.id))""")
        parts.append(f"""u{i} AS MATERIALIZED (
  SELECT u.src, u.dst FROM u{i - 1} u
  JOIN a{i} x ON u.src = x.id JOIN a{i} y ON u.dst = y.id)""")
        parts.append(
            f"m{i} AS (SELECT id FROM m{i - 1} UNION ALL SELECT id FROM w{i})"
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT id FROM m{rounds}"


LUBY_SQL = _luby_sql(8)

REGISTRY["luby_mis"] = (q_luby_mis, LUBY_SQL)


def q_katz_4iter(spark, sf_dir):
    """Katz centrality, 4 e6-quantized supersteps (α=0.15) over the
    directed derived graph; 4-step unrolled SQL twin."""
    from ..algos.katz import katz_centrality

    return katz_centrality(edges_a(spark, sf_dir), alpha=0.15, iters=4,
                           partitions=8)


def _katz_sql(alpha: float, iters: int) -> str:
    parts = [
        EDGES_A_SQL,
        "va AS MATERIALIZED (SELECT DISTINCT id FROM ("
        "SELECT src AS id FROM edges_a UNION ALL SELECT dst AS id FROM edges_a))",
        "x0 AS MATERIALIZED (SELECT id, CAST(1000000 AS BIGINT) AS x FROM va)",
    ]
    for i in range(1, iters + 1):
        parts.append(f"""c{i} AS MATERIALIZED (
  SELECT e.dst AS id, sum(x.x) AS s
  FROM edges_a e JOIN x{i - 1} x ON x.id = e.src GROUP BY e.dst)""")
        parts.append(f"""x{i} AS MATERIALIZED (
  SELECT v.id,
         1000000 + CAST(round({alpha} * coalesce(c.s, 0)) AS BIGINT) AS x
  FROM va v LEFT JOIN c{i} c ON c.id = v.id)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, x AS katz_e6 FROM x{iters}"
    )


KATZ_SQL = _katz_sql(0.15, 4)

REGISTRY["katz_4iter"] = (q_katz_4iter, KATZ_SQL)


def q_two_hop_sizes(spark, sf_dir):
    """Exact 2-hop neighborhood size per vertex (friend-of-friend count)
    over the undirected derived graph — the classic audience-estimation
    query; wedge self-join + distinct aggregation."""
    ea = edges_a(spark, sf_dir)
    # no persist: the table is consumed twice inside ONE job, so Spark's
    # shuffle reuse covers it without pinning executor storage afterwards
    und = (
        ea.union(ea.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition(8, "src")
    )
    two = und.alias("e1").join(
        und.select(F.col("src").alias("mid"), F.col("dst").alias("w"))
        .alias("e2"),
        F.col("e1.dst") == F.col("mid"),
    ).select(F.col("e1.src").alias("src"), F.col("w").alias("dst"))
    return (
        und.select("src", "dst").union(two)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("n2hop"))
        .select("id", F.col("n2hop").cast("long").alias("n2hop"))
    )


TWO_HOP_SQL = f"""
WITH {EDGES_A_SQL}, {UND_A_SQL},
r AS (
  SELECT src, dst FROM und_a
  UNION
  SELECT e1.src, e2.dst FROM und_a e1 JOIN und_a e2 ON e1.dst = e2.src
)
SELECT src AS id, CAST(count(*) AS BIGINT) AS n2hop
FROM r WHERE src <> dst GROUP BY src
"""

REGISTRY["two_hop_sizes"] = (q_two_hop_sizes, TWO_HOP_SQL)


def q_train_test_split(spark, sf_dir):
    """Deterministic stratified train/test split of the documents table:
    arithmetic-hash 80/20 per doc, counts per (lang, split) — the
    training-data partitioning primitive (no RNG, reproducible in any
    engine)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = F.when(
        (F.col("doc_id") * 2654435761) % 1000 < 800, "train"
    ).otherwise("test")
    return (
        d.select("lang", split.alias("split"), "n_chars")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


TRAIN_TEST_SQL = """
SELECT lang,
       CASE WHEN (doc_id * 2654435761) % 1000 < 800
            THEN 'train' ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY 1, 2
"""

REGISTRY["train_test_split"] = (q_train_test_split, TRAIN_TEST_SQL)


def q_rmat_degree_histogram(spark, sf_dir):
    """Deterministic R-MAT benchmark-graph generator (50k edge draws, 2^12
    vertices) + out-degree log2 histogram — the in-engine synthetic-graph
    path for scale testing (edge i is a pure integer function of i:
    embarrassingly parallel, zero shuffle to generate)."""
    from ..datagen import rmat_edges

    e = (
        rmat_edges(spark, 50_000, 12, partitions=8)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    return (
        deg.groupBy(
            F.floor(F.log2("d")).cast("long").alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("n_vertices"),
             F.sum("d").cast("long").alias("n_edges"))
    )


def _rmat_hist_sql() -> str:
    from ..datagen import rmat_edges_sql

    return f"""
WITH gen AS ({rmat_edges_sql(50_000, 12)}),
e AS (SELECT DISTINCT src, dst FROM gen WHERE src <> dst),
deg AS (SELECT src, count(*) AS d FROM e GROUP BY src)
SELECT CAST(floor(log2(d)) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_vertices,
       CAST(sum(d) AS BIGINT) AS n_edges
FROM deg GROUP BY 1
"""


REGISTRY["rmat_degree_histogram"] = (q_rmat_degree_histogram, _rmat_hist_sql())


EXACT_DIAG_MAX_SOURCES = 20_000


def _guard_exact_all_sources(n_sources: int, what: str) -> None:
    """All-sources BFS diagnostics are O(V·E) — exact small-graph
    companions of the HyperBall sketch (q_hyperball_ball3), never to be
    pointed at a full web graph.  Hard guard so a misconfigured run fails
    fast with the sketch pointer instead of melting the cluster."""
    if n_sources > EXACT_DIAG_MAX_SOURCES:
        raise ValueError(
            f"{what}: {n_sources} BFS sources exceeds the exact-diagnostic "
            f"cap {EXACT_DIAG_MAX_SOURCES} (O(V*E) all-sources BFS). Use "
            f"the HyperBall sketch (hyperball_ball3 / algos.hyperball) at "
            f"scale, or pass a sampled source set."
        )


def q_effective_diameter(spark, sf_dir):
    """Exact diameter + effective diameter (d90) of the undirected derived
    graph from the all-sources distance histogram (the exact counterpart
    of the HyperBall/HyperANF sketch; integer-exact percentile rule
    10·cum ≥ 9·total).  Guarded: refuses > EXACT_DIAG_MAX_SOURCES sources
    (the scale path is the HyperBall sketch)."""
    from ..algos.gcommon import vertex_set
    from ..algos.paths import distance_histogram

    eb = edges_b(spark, sf_dir)
    vb = vertex_set(eb)
    _guard_exact_all_sources(vb.count(), "effective_diameter")
    hist = distance_histogram(eb, sources=vb, directed=False, partitions=8)
    w_cum = Window.orderBy("dist").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    return (
        hist.select(
            "dist", "n_pairs",
            F.sum("n_pairs").over(w_cum).alias("cum"),
            F.sum("n_pairs").over(w_all).alias("tot"),
        )
        .agg(
            F.max("dist").cast("long").alias("diameter"),
            F.min(
                F.when(10 * F.col("cum") >= 9 * F.col("tot"), F.col("dist"))
            ).cast("long").alias("eff_diam_d90"),
            F.max("tot").cast("long").alias("n_pairs"),
        )
    )


EFF_DIAM_SQL = f"""
WITH RECURSIVE {EDGES_B_SQL}, {UND_B_SQL},
vb AS (SELECT DISTINCT id FROM (
  SELECT src AS id FROM edges_b UNION ALL SELECT dst AS id FROM edges_b)),
walk(s, v, d) AS (
  SELECT id AS s, id AS v, 0 AS d FROM vb
  UNION
  SELECT w.s, e.dst, w.d + 1 FROM walk w JOIN und_b e ON e.src = w.v
  WHERE w.d < 40
),
dists AS (SELECT s, v, min(d) AS dist FROM walk GROUP BY s, v HAVING min(d) > 0),
hist AS (SELECT dist, count(*) AS n_pairs FROM dists GROUP BY dist),
c AS (SELECT dist, n_pairs,
             sum(n_pairs) OVER (ORDER BY dist) AS cum,
             sum(n_pairs) OVER () AS tot
      FROM hist)
SELECT CAST(max(dist) AS BIGINT) AS diameter,
       CAST(min(CASE WHEN 10 * cum >= 9 * tot THEN dist END) AS BIGINT)
         AS eff_diam_d90,
       CAST(max(tot) AS BIGINT) AS n_pairs
FROM c
"""

REGISTRY["effective_diameter"] = (q_effective_diameter, EFF_DIAM_SQL)


def q_lp_conductance(spark, sf_dir):
    """Conductance φ(c) = cut(c) / min(vol(c), 2m−vol(c)) of every
    3-iteration label-propagation community (integer-exact cut/volume,
    e6-quantized ratio) — the community-quality metric complementing
    modularity."""
    from ..algos import label_propagation

    eb = edges_b(spark, sf_dir)
    labels, _ = label_propagation(
        eb, vertices=verts(spark, V_B), max_iter=3, partitions=8
    )
    und = (
        eb.union(eb.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    lab = labels.select("id", "label")
    m2 = und.count()
    sides = (
        und.join(lab.withColumnRenamed("id", "src")
                 .withColumnRenamed("label", "ls"), "src")
        .join(lab.withColumnRenamed("id", "dst")
              .withColumnRenamed("label", "ld"), "dst")
    )
    per_c = (
        sides.groupBy(F.col("ls").alias("c"))
        .agg(
            F.count(F.lit(1)).alias("vol"),
            F.sum((F.col("ls") != F.col("ld")).cast("long")).alias("cut"),
        )
        .filter((F.col("vol") > 0) & (F.lit(m2) - F.col("vol") > 0))
    )
    return per_c.select(
        F.col("c").cast("long").alias("c"),
        F.col("cut").cast("long").alias("cut"),
        F.col("vol").cast("long").alias("vol"),
        F.round(
            F.lit(1e6) * F.col("cut")
            / F.least(F.col("vol"), F.lit(m2) - F.col("vol"))
        ).cast("long").alias("conductance_e6"),
    )


LP_CONDUCTANCE_SQL = f"""
WITH lp AS ({_labelprop_sql(3)}),
{EDGES_B_SQL},
mu AS (
  SELECT src, dst FROM edges_b
  UNION
  SELECT dst AS src, src AS dst FROM edges_b
),
m2 AS (SELECT count(*) AS m2 FROM mu),
sides AS (
  SELECT l1.label AS ls, l2.label AS ld
  FROM mu e JOIN lp l1 ON l1.id = e.src JOIN lp l2 ON l2.id = e.dst
),
per_c AS (
  SELECT ls AS c, count(*) AS vol,
         sum(CASE WHEN ls <> ld THEN 1 ELSE 0 END) AS cut
  FROM sides GROUP BY ls
)
SELECT CAST(c AS BIGINT) AS c, CAST(cut AS BIGINT) AS cut,
       CAST(vol AS BIGINT) AS vol,
       CAST(round(1e6 * cut / least(vol, m2.m2 - vol)) AS BIGINT)
         AS conductance_e6
FROM per_c CROSS JOIN m2
WHERE vol > 0 AND m2.m2 - vol > 0
"""

REGISTRY["lp_conductance"] = (q_lp_conductance, LP_CONDUCTANCE_SQL)


def q_salsa_3iter(spark, sf_dir):
    """SALSA hub/authority scores, 3 e6-quantized degree-normalized
    supersteps over the directed derived graph; unrolled SQL twin."""
    from ..algos.salsa import salsa

    return salsa(edges_a(spark, sf_dir), num_iters=3, partitions=8)


def _salsa_sql(iters: int) -> str:
    parts = [
        EDGES_A_SQL,
        "sod AS MATERIALIZED (SELECT src, count(*) AS od FROM edges_a GROUP BY src)",
        "sidg AS MATERIALIZED (SELECT dst, count(*) AS idg FROM edges_a GROUP BY dst)",
        "sva AS MATERIALIZED (SELECT DISTINCT id FROM ("
        "SELECT src AS id FROM edges_a UNION ALL SELECT dst AS id FROM edges_a))",
        "s0 AS MATERIALIZED (SELECT id, CAST(1000000 AS BIGINT) AS h, "
        "CAST(1000000 AS BIGINT) AS a FROM sva)",
    ]
    for i in range(1, iters + 1):
        parts.append(f"""sa{i} AS MATERIALIZED (
  SELECT e.dst AS id, CAST(sum(CAST(round(s.h / o.od) AS BIGINT)) AS BIGINT) AS a
  FROM edges_a e JOIN s{i - 1} s ON s.id = e.src JOIN sod o ON o.src = e.src
  GROUP BY e.dst)""")
        parts.append(f"""sm{i} AS MATERIALIZED (
  SELECT v.id, s.h, coalesce(a.a, 0) AS a
  FROM sva v JOIN s{i - 1} s ON s.id = v.id LEFT JOIN sa{i} a ON a.id = v.id)""")
        parts.append(f"""sh{i} AS MATERIALIZED (
  SELECT e.src AS id, CAST(sum(CAST(round(s.a / d.idg) AS BIGINT)) AS BIGINT) AS h
  FROM edges_a e JOIN sm{i} s ON s.id = e.dst JOIN sidg d ON d.dst = e.dst
  GROUP BY e.src)""")
        parts.append(f"""s{i} AS MATERIALIZED (
  SELECT v.id, coalesce(h.h, 0) AS h, s.a
  FROM sva v JOIN sm{i} s ON s.id = v.id LEFT JOIN sh{i} h ON h.id = v.id)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, h AS hub_e6, a AS auth_e6 FROM s{iters}"
    )


SALSA_SQL = _salsa_sql(3)

REGISTRY["salsa_3iter"] = (q_salsa_3iter, SALSA_SQL)


def q_bipartite_components(spark, sf_dir):
    """Per-component bipartiteness (odd-cycle detection) of the undirected
    derived graph: BFS-parity 2-coloring from each component's min-label
    root — component is bipartite iff no edge joins same-parity levels.
    Composition of the CC and multi-source-BFS loops."""
    from ..algos.components import connected_components
    from ..algos.paths import bfs_distances

    eb = edges_b(spark, sf_dir)
    labels, _ = connected_components(eb, partitions=8)
    roots = labels.select(F.col("component").alias("id")).distinct()
    dist, _ = bfs_distances(eb, sources=roots, directed=False, partitions=8)
    par = dist.select("id", (F.col("dist") % 2).alias("par"))
    und = (
        eb.union(eb.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    bad = (
        und.join(par.withColumnRenamed("id", "src")
                 .withColumnRenamed("par", "ps"), "src")
        .join(par.withColumnRenamed("id", "dst")
              .withColumnRenamed("par", "pd"), "dst")
        .filter(F.col("ps") == F.col("pd"))
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select("component")
        .distinct()
    )
    return (
        roots.select(F.col("id").alias("component"))
        .join(bad.withColumn("b", F.lit(True)), "component", "left")
        .select(
            F.col("component").cast("long").alias("component"),
            F.col("b").isNull().alias("is_bipartite"),
        )
    )


BIPARTITE_SQL = f"""
WITH RECURSIVE {EDGES_B_SQL}, {UND_B_SQL},
vb AS (SELECT DISTINCT id FROM (
  SELECT src AS id FROM edges_b UNION ALL SELECT dst AS id FROM edges_b)),
wreach(u, v) AS (
  SELECT id AS u, id AS v FROM vb
  UNION
  SELECT w.u, e.dst FROM wreach w JOIN und_b e ON e.src = w.v
),
comp AS (SELECT u AS id, min(v) AS component FROM wreach GROUP BY u),
roots AS (SELECT DISTINCT component AS id FROM comp),
walk(id, d) AS (
  SELECT id, 0 AS d FROM roots
  UNION
  SELECT e.dst, w.d + 1 FROM walk w JOIN und_b e ON e.src = w.id WHERE w.d < 40
),
par AS (SELECT id, min(d) % 2 AS par FROM walk GROUP BY id),
bad AS (
  SELECT DISTINCT c.component
  FROM und_b e JOIN par p1 ON p1.id = e.src JOIN par p2 ON p2.id = e.dst
  JOIN comp c ON c.id = e.src
  WHERE p1.par = p2.par
)
SELECT CAST(r.id AS BIGINT) AS component, b.component IS NULL AS is_bipartite
FROM roots r LEFT JOIN bad b ON b.component = r.id
"""

REGISTRY["bipartite_components"] = (q_bipartite_components, BIPARTITE_SQL)


PPR_SEEDS = (0, 17, 42)


def q_multi_seed_ppr(spark, sf_dir):
    """Batch personalized PageRank for 3 seeds concurrently (sparse
    composite-key state, e6-quantized push, bit-equal across engines);
    4-step unrolled SQL twin."""
    from ..algos.pprmulti import multi_seed_ppr

    return multi_seed_ppr(edges_a(spark, sf_dir), seeds=list(PPR_SEEDS),
                          damping=0.85, num_iters=4, partitions=8)


def _multi_ppr_sql(seeds: tuple[int, ...], damping: float, iters: int) -> str:
    teleport = int(round((1.0 - damping) * 1_000_000))
    seed_rows = ", ".join(f"({s})" for s in sorted(seeds))
    parts = [
        EDGES_A_SQL,
        f"seeds(s) AS (VALUES {seed_rows})",
        "pod AS MATERIALIZED (SELECT src, count(*) AS od FROM edges_a GROUP BY src)",
        "p0 AS MATERIALIZED (SELECT CAST(s AS BIGINT) AS s, CAST(s AS BIGINT) AS v, "
        "CAST(1000000 AS BIGINT) AS r FROM seeds)",
    ]
    for i in range(1, iters + 1):
        parts.append(f"""pc{i} AS MATERIALIZED (
  SELECT p.s, e.dst AS v,
         CAST(sum(CAST(round({damping} * p.r / o.od) AS BIGINT)) AS BIGINT) AS c
  FROM p{i - 1} p JOIN edges_a e ON e.src = p.v JOIN pod o ON o.src = p.v
  GROUP BY p.s, e.dst)""")
        parts.append(f"""p{i} AS MATERIALIZED (
  SELECT coalesce(c.s, t.s) AS s, coalesce(c.v, t.v) AS v,
         coalesce(c.c, 0)
           + CASE WHEN t.s IS NOT NULL THEN {teleport} ELSE 0 END AS r
  FROM pc{i} c FULL JOIN (
    SELECT CAST(s AS BIGINT) AS s, CAST(s AS BIGINT) AS v FROM seeds) t
    ON t.s = c.s AND t.v = c.v)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT s, v, CAST(r AS BIGINT) AS rank_e6 FROM p{iters} WHERE r > 0"
    )


MULTI_PPR_SQL = _multi_ppr_sql(PPR_SEEDS, 0.85, 4)

REGISTRY["multi_seed_ppr"] = (q_multi_seed_ppr, MULTI_PPR_SQL)


def q_stream_distinct_users(spark, sf_dir):
    """Streaming exact distinct-user count per event type (chained
    stateful dropDuplicates → grouped count, availableNow drain) — must
    equal the batch COUNT(DISTINCT …) oracle."""
    from .. import streaming

    return streaming.stream_distinct_users(
        spark, f"{sf_dir}/events.parquet", sink_table="q_stream_distinct"
    )


STREAM_DISTINCT_SQL = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users
FROM events GROUP BY event_type
"""

REGISTRY["stream_distinct_users"] = (q_stream_distinct_users, STREAM_DISTINCT_SQL)


def q_condensation_levels(spark, sf_dir):
    """Topological levels of the SCC condensation DAG of the directed
    derived graph (level = longest path from source components) —
    the web-graph hierarchy; transitive-closure SCC + unrolled
    max-relaxation SQL twin."""
    from ..algos.scc import condensation_levels

    return condensation_levels(edges_b(spark, sf_dir), partitions=8)


def _cond_levels_sql(rounds: int) -> str:
    # Relaxation depth ≤ 6 on every derived graph (measured); 12 = margin.
    parts = [f"""reach(u, v) AS (
  SELECT id AS u, id AS v FROM cvb
  UNION
  SELECT r.u, e.dst FROM reach r JOIN edges_b e ON e.src = r.v
)""", """cscc AS (
  SELECT r1.u AS id, min(r1.v) AS scc
  FROM reach r1 JOIN reach r2 ON r1.u = r2.v AND r1.v = r2.u
  GROUP BY r1.u
)""", "csizes AS (SELECT scc, count(*) AS n_vertices FROM cscc GROUP BY scc)",
        """ccond AS MATERIALIZED (
  SELECT DISTINCT a.scc AS src, b.scc AS dst
  FROM edges_b e JOIN cscc a ON a.id = e.src JOIN cscc b ON b.id = e.dst
  WHERE a.scc <> b.scc
)""", "l0 AS (SELECT scc AS id, CAST(0 AS BIGINT) AS lvl FROM csizes)"]
    for i in range(1, rounds + 1):
        parts.append(f"""l{i} AS MATERIALIZED (
  SELECT l.id, greatest(l.lvl, coalesce(u.nl, 0)) AS lvl
  FROM l{i - 1} l LEFT JOIN (
    SELECT e.dst AS id, max(p.lvl) + 1 AS nl
    FROM ccond e JOIN l{i - 1} p ON p.id = e.src GROUP BY e.dst) u
  ON u.id = l.id)""")
    return (
        f"WITH RECURSIVE {EDGES_B_SQL},\n"
        "cvb AS (SELECT DISTINCT id FROM (\n"
        "  SELECT src AS id FROM edges_b UNION ALL SELECT dst AS id FROM edges_b)),\n"
        + ",\n".join(parts)
        + f"""
SELECT l.id AS scc, l.lvl AS level, CAST(s.n_vertices AS BIGINT) AS n_vertices
FROM l{rounds} l JOIN csizes s ON s.scc = l.id"""
    )


COND_LEVELS_SQL = _cond_levels_sql(12)

REGISTRY["condensation_levels"] = (q_condensation_levels, COND_LEVELS_SQL)


def q_maximal_matching(spark, sf_dir):
    """Greedy maximal matching (local-min edge priorities, total-order
    struct keys, bit-reproducible) on the undirected derived graph;
    14-round unrolled SQL twin."""
    from ..algos.matching import maximal_matching

    m, _ = maximal_matching(edges_b(spark, sf_dir), partitions=8)
    return m.select(F.col("a").cast("long").alias("a"),
                    F.col("b").cast("long").alias("b"))


def _matching_sql(rounds: int) -> str:
    # Measured fixpoint: 4 rounds at sf0.001, 6 at sf0.01, 8 at sf0.1;
    # 14 = margin.  Struct min is lexicographic in DuckDB exactly as in
    # Spark, so the (p, a, b) key gives the identical total order.
    from ..algos.gcommon import PRI_A, PRI_B, PRI_M

    key = (f"{{'p': (((a * {PRI_A} + b) % {PRI_M}) * {PRI_A} + {PRI_B}) "
           f"% {PRI_M}, 'ka': a, 'kb': b}}")
    parts = [
        EDGES_B_SQL,
        "g0 AS MATERIALIZED (SELECT DISTINCT least(src,dst) AS a, "
        "greatest(src,dst) AS b FROM edges_b)",
        "acc0 AS (SELECT CAST(NULL AS BIGINT) AS a, CAST(NULL AS BIGINT) AS b "
        "WHERE FALSE)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"ke{i} AS MATERIALIZED (SELECT a, b, {key} AS key FROM g{i - 1})"
        )
        parts.append(f"""vm{i} AS MATERIALIZED (
  SELECT v, min(key) AS mk FROM (
    SELECT a AS v, key FROM ke{i} UNION ALL SELECT b AS v, key FROM ke{i})
  GROUP BY v)""")
        parts.append(f"""w{i} AS MATERIALIZED (
  SELECT k.a, k.b FROM ke{i} k
  JOIN vm{i} x ON x.v = k.a AND x.mk = k.key
  JOIN vm{i} y ON y.v = k.b AND y.mk = k.key)""")
        parts.append(f"""g{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM g{i - 1} e
  WHERE e.a NOT IN (SELECT a FROM w{i} UNION ALL SELECT b FROM w{i})
    AND e.b NOT IN (SELECT a FROM w{i} UNION ALL SELECT b FROM w{i}))""")
        parts.append(
            f"acc{i} AS (SELECT a, b FROM acc{i - 1} "
            f"UNION ALL SELECT a, b FROM w{i})"
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT a, b FROM acc{rounds}"


MATCHING_SQL = _matching_sql(14)

REGISTRY["maximal_matching"] = (q_maximal_matching, MATCHING_SQL)




# re-export everything (incl. underscore helpers) to the next
# module in the suite package chain and to suite/__init__.py
__all__ = [_n for _n in dir() if not _n.startswith('__')]
