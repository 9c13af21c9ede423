"""linkgraph.suite.round1e — mechanical split of the former monolithic suite.py.

round-1e extensions: betweenness/eigenvector/multilevel louvain/coloring/MSF, host-graph rollups, crawl ops, sketches, voronoi/ego/WL, text/dedup/event additions.

Imported (in order) by suite/__init__.py; registers its queries into the
shared REGISTRY defined in _base.  Pure move: definitions and registration
order are byte-identical to the monolith.
"""

from __future__ import annotations

from ._base import *  # noqa: F401,F403
from ._round1b import *  # noqa: F401,F403

# ---------------------------------------------------------------------------
# round-1e extensions
# ---------------------------------------------------------------------------


def q_betweenness_centrality(spark, sf_dir):
    """Source-sampled fractional betweenness (Brandes two-pass), dependency
    terms quantized e6 before exact BIGINT summation — bit-equal across
    engines (completes the centrality family beside integer stress)."""
    from ..algos.paths import betweenness_centrality

    return betweenness_centrality(
        edges_b(spark, sf_dir),
        sources=spark.createDataFrame([(s,) for s in STRESS_SOURCES], "id long"),
        directed=False, partitions=8,
    )


def _betweenness_sql(levels: int) -> str:
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
        f"(SELECT s, v, sig, CAST(0 AS BIGINT) AS dv FROM lvl{levels})"
    )
    for i in range(levels - 1, -1, -1):
        parts.append(
            f"""c{i} AS MATERIALIZED (
  SELECT p.s, p.v, p.sig, COALESCE(x.dv, 0) AS dv
  FROM lvl{i} p LEFT JOIN (
    SELECT p2.s, p2.v, CAST(sum(CAST(round(
        CAST(p2.sig AS DOUBLE) * CAST(1000000 + cn.dv AS DOUBLE)
        / CAST(cn.sig AS DOUBLE)) AS BIGINT)) AS BIGINT) AS dv
    FROM lvl{i} p2 JOIN und_b e ON e.src = p2.v
    JOIN c{i + 1} cn ON cn.s = p2.s AND cn.v = e.dst
    GROUP BY p2.s, p2.v) x ON x.s = p.s AND x.v = p.v)"""
        )
    union = " UNION ALL ".join(
        f"SELECT s, v, dv FROM c{i}" for i in range(levels + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT v AS id, CAST(sum(dv) AS BIGINT) AS betweenness_e6"
        + f"\nFROM ({union}) WHERE v <> s GROUP BY v HAVING sum(dv) > 0"
    )


BETWEENNESS_SQL = _betweenness_sql(STRESS_LEVELS)

REGISTRY["betweenness_centrality"] = (q_betweenness_centrality, BETWEENNESS_SQL)


def q_eigenvector_4iter(spark, sf_dir):
    """Eigenvector centrality, 4 max-normalized power supersteps over the
    undirected derived graph — e6-quantized per step, bit-equal across
    engines (spectral sibling of PageRank/Katz/SALSA)."""
    from ..algos.eigenvector import eigenvector_centrality

    return eigenvector_centrality(edges_b(spark, sf_dir), iters=4, partitions=8)


def _eigenvector_sql(iters: int) -> str:
    parts = [
        EDGES_B_SQL, UND_B_SQL,
        "vb AS MATERIALIZED (SELECT DISTINCT src AS id FROM und_b)",
        "x0 AS MATERIALIZED (SELECT id, CAST(1000000 AS BIGINT) AS x FROM vb)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""s{i} AS MATERIALIZED (
  SELECT e.dst AS id, CAST(sum(x.x) AS BIGINT) AS s
  FROM und_b e JOIN x{i - 1} x ON x.id = e.src GROUP BY e.dst)"""
        )
        parts.append(f"m{i} AS (SELECT max(s) AS mx FROM s{i})")
        parts.append(
            f"""x{i} AS MATERIALIZED (
  SELECT v.id,
         CAST(CASE WHEN s.s IS NULL THEN 0
              ELSE round(CAST(s.s AS DOUBLE) * 1000000.0 / CAST(m.mx AS DOUBLE))
              END AS BIGINT) AS x
  FROM vb v LEFT JOIN s{i} s ON v.id = s.id CROSS JOIN m{i} m)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, x AS eig_e6 FROM x{iters}"
    )


EIGENVECTOR_SQL = _eigenvector_sql(4)

REGISTRY["eigenvector_4iter"] = (q_eigenvector_4iter, EIGENVECTOR_SQL)


def q_louvain_multilevel(spark, sf_dir):
    """Full two-level Louvain lifecycle: 3 synchronous local-move rounds,
    community contraction to a weighted quotient graph, 3 more weighted
    rounds — integer-exact scores, deterministic across engines."""
    from ..algos.louvain import louvain_multilevel

    return louvain_multilevel(
        edges_b(spark, sf_dir), vertices=verts(spark, V_B),
        rounds_level1=3, rounds_level2=3, partitions=8,
    )


def _louvain_multilevel_sql(r1: int, r2: int) -> str:
    parts = [
        EDGES_B_SQL, UND_B_SQL, VERTS_B_SQL,
        "ldeg AS MATERIALIZED (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg "
        "FROM und_b GROUP BY src)",
        "lm2 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m2 FROM und_b)",
        "lv0 AS MATERIALIZED (SELECT id, id AS label FROM verts_b)",
    ]
    for r in range(1, r1 + 1):
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
    parts.append(
        f"""ce AS MATERIALIZED (
  SELECT l1.label AS s, l2.label AS d, CAST(count(*) AS BIGINT) AS w
  FROM und_b e
  JOIN lv{r1} l1 ON l1.id = e.src
  JOIN lv{r1} l2 ON l2.id = e.dst
  GROUP BY l1.label, l2.label)"""
    )
    parts.append(
        "cdeg AS MATERIALIZED (SELECT s AS id, CAST(sum(w) AS BIGINT) AS deg "
        "FROM ce GROUP BY s)"
    )
    parts.append("cm2 AS (SELECT CAST(sum(w) AS BIGINT) AS m2 FROM ce)")
    parts.append(
        f"cv0 AS MATERIALIZED (SELECT DISTINCT label AS id, label FROM lv{r1})"
    )
    for r in range(1, r2 + 1):
        p = f"cv{r - 1}"
        parts.append(
            f"ctot{r} AS MATERIALIZED (SELECT l.label, CAST(sum(d.deg) AS BIGINT) "
            f"AS tot FROM {p} l JOIN cdeg d ON d.id = l.id GROUP BY l.label)"
        )
        parts.append(
            f"ckvc{r} AS MATERIALIZED (SELECT e.s AS id, l.label AS clab, "
            f"CAST(sum(e.w) AS BIGINT) AS kvc FROM ce e "
            f"JOIN {p} l ON l.id = e.d WHERE e.s <> e.d GROUP BY e.s, l.label)"
        )
        parts.append(
            f"ccand{r} AS MATERIALIZED (SELECT id, clab, CAST(sum(kvc) AS BIGINT) "
            f"AS kvc FROM (SELECT id, clab, kvc FROM ckvc{r} "
            f"UNION ALL SELECT id, label AS clab, 0 FROM {p}) u GROUP BY id, clab)"
        )
        parts.append(
            f"""cscored{r} AS MATERIALIZED (
  SELECT c.id, c.clab,
         (SELECT m2 FROM cm2) * c.kvc
         - COALESCE(d.deg, 0) * (COALESCE(t.tot, 0)
             - CASE WHEN c.clab = l.label THEN COALESCE(d.deg, 0) ELSE 0 END)
           AS score
  FROM ccand{r} c
  JOIN {p} l ON l.id = c.id
  LEFT JOIN cdeg d ON d.id = c.id
  LEFT JOIN ctot{r} t ON t.label = c.clab)"""
        )
        parts.append(
            f"""cv{r} AS MATERIALIZED (SELECT id, clab AS label FROM (
  SELECT id, clab, row_number() OVER (PARTITION BY id
         ORDER BY score DESC, clab ASC) AS rn
  FROM cscored{r}) z WHERE rn = 1)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT l.id, c.label FROM lv{r1} l JOIN cv{r2} c ON c.id = l.label"
    )


LOUVAIN_ML_SQL = _louvain_multilevel_sql(3, 3)

REGISTRY["louvain_multilevel"] = (q_louvain_multilevel, LOUVAIN_ML_SQL)


def q_graph_coloring(spark, sf_dir):
    """Jones–Plassmann greedy coloring, 6 supersteps, on the undirected
    derived graph B; 6-round unrolled SQL twin computes the identical
    partial coloring (pytest runs the loop to fixpoint vs a sequential
    oracle — 6 rounds keeps the DuckDB unroll tractable at sf0.1 where
    fixpoint needs ~118 rounds on the dense core)."""
    from ..algos.coloring import jones_plassmann_coloring

    colors, _ = jones_plassmann_coloring(
        edges_b(spark, sf_dir), max_rounds=6, partitions=8)
    return colors.select(
        F.col("id").cast("long").alias("id"),
        F.col("color").cast("long").alias("color"),
    )


def _coloring_sql(rounds: int) -> str:
    # Same superstep shape as the Luby unroll plus a mex stage: winners'
    # used neighbor-colors (DISTINCT join vs colored state), candidate
    # colors 0..k from a nums table, smallest candidate not used.
    from ..algos.gcommon import PRI_A, PRI_B, PRI_M

    pri = lambda c: f"(({c} * {PRI_A} + {PRI_B}) % {PRI_M})"  # noqa: E731
    parts = [
        EDGES_B_SQL, UND_B_SQL,
        "nums AS MATERIALIZED (SELECT CAST(unnest(range(0, 512)) AS INT) AS n)",
        "u0 AS MATERIALIZED (SELECT src, dst FROM und_b)",
        "a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM und_b)",
        "c0 AS (SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS INT) AS color"
        " WHERE FALSE)",
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""nm{i} AS MATERIALIZED (
  SELECT src AS id, min({pri("dst")}) AS nmin FROM u{i - 1} GROUP BY src)""")
        parts.append(f"""w{i} AS MATERIALIZED (
  SELECT a.id FROM a{i - 1} a LEFT JOIN nm{i} n ON n.id = a.id
  WHERE n.nmin IS NULL OR {pri("a.id")} < n.nmin)""")
        parts.append(f"""used{i} AS MATERIALIZED (
  SELECT DISTINCT u.src AS id, c.color FROM und_b u
  JOIN w{i} w ON u.src = w.id JOIN c{i - 1} c ON c.id = u.dst)""")
        parts.append(f"""k{i} AS MATERIALIZED (
  SELECT id, count(*) AS k FROM used{i} GROUP BY id)""")
        parts.append(f"""newc{i} AS MATERIALIZED (
  SELECT w.id, min(n.n) AS color
  FROM w{i} w
  LEFT JOIN k{i} kk ON kk.id = w.id
  JOIN nums n ON n.n <= coalesce(kk.k, 0)
  LEFT JOIN used{i} x ON x.id = w.id AND x.color = n.n
  WHERE x.color IS NULL GROUP BY w.id)""")
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT id, color FROM c{i - 1} "
            f"UNION ALL SELECT id, color FROM newc{i})"
        )
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT id FROM a{i - 1} "
            f"WHERE id NOT IN (SELECT id FROM w{i}))"
        )
        parts.append(f"""u{i} AS MATERIALIZED (
  SELECT u.src, u.dst FROM u{i - 1} u
  JOIN a{i} x ON u.src = x.id JOIN a{i} y ON u.dst = y.id)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, CAST(color AS BIGINT) AS color FROM c{rounds}"
    )


COLORING_SQL = _coloring_sql(6)

REGISTRY["graph_coloring"] = (q_graph_coloring, COLORING_SQL)


def q_boruvka_msf(spark, sf_dir):
    """Minimum spanning forest (Borůvka, total-order (w,a,b) tie-break)
    of the weighted undirected derived graph B; weights are the
    deterministic integer hash (a*31+b*17)%997+1, so the MSF is unique
    and the SQL twin (unrolled Borůvka with recursive-CTE contraction)
    and the pytest Kruskal oracle agree bit-for-bit."""
    from ..algos.msf import boruvka_msf

    we = (
        edges_b(spark, sf_dir)
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .distinct()
        .withColumn("w", (F.col("a") * 31 + F.col("b") * 17) % 997 + 1)
    )
    forest, _ = boruvka_msf(we, max_rounds=6, partitions=8)
    return forest.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("w").cast("long").alias("w"),
    )


def _msf_sql(rounds: int) -> str:
    # Measured fixpoint: 4 rounds at every sf (contraction is full CC of
    # the chosen-edge graph, so components collapse to one label per
    # round-component); 6 = margin.  Struct min is lexicographic in both
    # engines; per-round contraction is a stratified recursive closure
    # (DuckDB supports recursive CTEs referencing completed ones).
    key = "{'w': w, 'ka': a, 'kb': b, 'ca': ca, 'cb': cb}"
    parts = [
        EDGES_B_SQL,
        """we AS MATERIALIZED (
  SELECT a, b, (a * 31 + b * 17) % 997 + 1 AS w FROM (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM edges_b))""",
        "lab0 AS MATERIALIZED (SELECT DISTINCT id, id AS comp FROM ("
        "SELECT a AS id FROM we UNION ALL SELECT b FROM we))",
        "f0 AS (SELECT CAST(NULL AS BIGINT) AS a, CAST(NULL AS BIGINT) AS b,"
        " CAST(NULL AS BIGINT) AS w WHERE FALSE)",
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""el{i} AS MATERIALIZED (
  SELECT e.a, e.b, e.w, la.comp AS ca, lb.comp AS cb
  FROM we e JOIN lab{i - 1} la ON la.id = e.a
  JOIN lab{i - 1} lb ON lb.id = e.b
  WHERE la.comp <> lb.comp)""")
        parts.append(f"""ch{i} AS MATERIALIZED (
  SELECT comp, min(key) AS e FROM (
    SELECT ca AS comp, {key} AS key FROM el{i}
    UNION ALL SELECT cb AS comp, {key} AS key FROM el{i})
  GROUP BY comp)""")
        parts.append(f"""che{i} AS MATERIALIZED (
  SELECT DISTINCT e.w AS w, e.ka AS a, e.kb AS b, e.ca AS ca, e.cb AS cb
  FROM ch{i})""")
        parts.append(f"""cg{i} AS MATERIALIZED (
  SELECT DISTINCT x, y FROM (
    SELECT ca AS x, cb AS y FROM che{i}
    UNION ALL SELECT cb AS x, ca AS y FROM che{i}))""")
        parts.append(
            f"rc{i} AS (SELECT x, y FROM cg{i} "
            f"UNION SELECT r.x, g.y FROM rc{i} r JOIN cg{i} g ON g.x = r.y)"
        )
        parts.append(
            f"nl{i} AS MATERIALIZED (SELECT x AS comp, least(x, min(y)) "
            f"AS newc FROM rc{i} GROUP BY x)"
        )
        parts.append(f"""lab{i} AS MATERIALIZED (
  SELECT l.id, coalesce(n.newc, l.comp) AS comp
  FROM lab{i - 1} l LEFT JOIN nl{i} n ON n.comp = l.comp)""")
        parts.append(
            f"f{i} AS (SELECT a, b, w FROM f{i - 1} "
            f"UNION ALL SELECT a, b, w FROM che{i})"
        )
    return (
        "WITH RECURSIVE " + ",\n".join(parts)
        + f"\nSELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,"
        f" CAST(w AS BIGINT) AS w FROM f{rounds}"
    )


MSF_SQL = _msf_sql(6)

REGISTRY["boruvka_msf"] = (q_boruvka_msf, MSF_SQL)


def q_powerlaw_alpha(spark, sf_dir):
    """Power-law exponent MLE of the in-degree distribution (Clauset
    continuous approximation, d_min = 2): alpha = 1 + n / sum ln(d/1.5).
    Each ln term is e6-quantized BEFORE summing, so the sum is an exact
    BIGINT in both engines and the final alpha is one double expression
    over two exact integers — the web-graph "is it scale-free" check."""
    deg = (
        edges_a(spark, sf_dir)
        .groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") >= 2)
    )
    agg = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.log(F.col("d") / 1.5) * 1e6).cast("long"))
        .cast("long").alias("sum_ln_e6"),
    )
    return agg.select(
        "n", "sum_ln_e6",
        (F.lit(1_000_000)
         + F.round(F.col("n").cast("double") * 1e12 / F.col("sum_ln_e6")))
        .cast("long").alias("alpha_e6"),
    )


POWERLAW_SQL = f"""
WITH {EDGES_A_SQL},
deg AS (SELECT dst, count(*) AS d FROM edges_a GROUP BY dst
        HAVING count(*) >= 2),
q AS (SELECT CAST(round(ln(d / 1.5) * 1e6) AS BIGINT) AS t FROM deg),
s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(t) AS BIGINT) AS sum_ln_e6
      FROM q)
SELECT n, sum_ln_e6,
       CAST(1000000 + round(CAST(n AS DOUBLE) * 1e12 / sum_ln_e6) AS BIGINT)
         AS alpha_e6
FROM s
"""

REGISTRY["powerlaw_alpha"] = (q_powerlaw_alpha, POWERLAW_SQL)


def q_host_graph(spark, sf_dir):
    """Weighted host-graph rollup of the derived page graph: synthesize
    deterministic urls for graph-A vertices (host = id mod 40), contract
    with ingest.host_graph (regexp host extraction + grouped count) —
    the Common-Crawl page→host contraction."""
    from ..ingest import host_graph

    def url(c):
        return F.concat(
            F.lit("https://host"), (F.col(c) % 40).cast("string"),
            F.lit(".example/p"), F.col(c).cast("string"),
        )

    pages = edges_a(spark, sf_dir).select(
        url("src").alias("src_url"), url("dst").alias("dst_url"))
    return host_graph(pages).select(
        "src_host", "dst_host", F.col("weight").cast("long").alias("weight"))


HOST_GRAPH_SQL = f"""
WITH {EDGES_A_SQL},
pages AS (
  SELECT 'https://host' || CAST(src % 40 AS VARCHAR) || '.example/p'
           || CAST(src AS VARCHAR) AS src_url,
         'https://host' || CAST(dst % 40 AS VARCHAR) || '.example/p'
           || CAST(dst AS VARCHAR) AS dst_url
  FROM edges_a)
SELECT regexp_extract(src_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]+)', 1)
         AS src_host,
       regexp_extract(dst_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]+)', 1)
         AS dst_host,
       CAST(count(*) AS BIGINT) AS weight
FROM pages GROUP BY 1, 2
"""

REGISTRY["host_graph_rollup"] = (q_host_graph, HOST_GRAPH_SQL)


def q_host_locality(spark, sf_dir):
    """Per-host intra-host link share (e6 ratio of self-loop weight to
    out-weight) over the host-graph rollup."""
    from ..ingest import host_locality

    return host_locality(q_host_graph(spark, sf_dir))


HOST_LOCALITY_SQL = f"""
WITH {EDGES_A_SQL},
hg AS (
  SELECT src % 40 AS sh, dst % 40 AS dh, count(*) AS weight
  FROM edges_a GROUP BY 1, 2)
SELECT 'host' || CAST(sh AS VARCHAR) || '.example' AS host,
       CAST(sum(weight) AS BIGINT) AS out_weight,
       CAST(sum(CASE WHEN sh = dh THEN weight ELSE 0 END) AS BIGINT)
         AS intra_weight,
       CAST(round(CAST(sum(CASE WHEN sh = dh THEN weight ELSE 0 END)
                       AS DOUBLE) * 1e6 / sum(weight)) AS BIGINT)
         AS locality_e6
FROM hg GROUP BY 1
"""

REGISTRY["host_locality"] = (q_host_locality, HOST_LOCALITY_SQL)


def q_host_pagerank(spark, sf_dir):
    """Host-level weighted PageRank: page graph → host_graph rollup →
    drop intra-host self-loops → pagerank_weighted over link-count
    weights, 3 supersteps; e8.  The standard Common-Crawl host ranking,
    exercising contraction → iterative-algorithm composition."""
    from ..algos.pagerank import pagerank_weighted

    hg = q_host_graph(spark, sf_dir).filter(
        F.col("src_host") != F.col("dst_host"))
    ranks = pagerank_weighted(
        hg.select(F.col("src_host").alias("src"),
                  F.col("dst_host").alias("dst"),
                  F.col("weight").cast("double").alias("weight")),
        num_iters=3, partitions=8,
    )
    return ranks.select(
        F.col("id").alias("host"),
        F.round(F.col("rank") * 1e8).cast("long").alias("rank_e8"),
    )


def _host_pagerank_sql(num_iters: int) -> str:
    # The weighted-PR template (gate-proven at V_A) with a dynamic vertex
    # count: hosts come from the rollup, self-loops dropped before PR.
    d = 0.85
    parts = [
        EDGES_A_SQL,
        "hg AS MATERIALIZED (SELECT src % 40 AS sh, dst % 40 AS dh, "
        "count(*) AS w FROM edges_a GROUP BY 1, 2)",
        """he AS MATERIALIZED (
  SELECT 'host' || CAST(sh AS VARCHAR) || '.example' AS src,
         'host' || CAST(dh AS VARCHAR) || '.example' AS dst,
         CAST(w AS DOUBLE) AS w
  FROM hg WHERE sh <> dh)""",
        "hv AS MATERIALIZED (SELECT DISTINCT id FROM ("
        "SELECT src AS id FROM he UNION ALL SELECT dst FROM he))",
        "nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM hv)",
        "wout AS MATERIALIZED (SELECT src AS id, sum(w) AS w_out "
        "FROM he GROUP BY src)",
        "r0 AS (SELECT id, 1.0 / n AS rank FROM hv CROSS JOIN nv)",
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
  FROM he e JOIN {p} r ON e.src = r.id JOIN wout o ON e.src = o.id
  GROUP BY e.dst)"""
        )
        parts.append(
            f"""r{i} AS MATERIALIZED (
  SELECT v.id,
         (1.0 - {d}) / x.n + {d} * (coalesce(c.contrib, 0)
             + (1.0 - l.s) / x.n) AS rank
  FROM hv v LEFT JOIN c{i} c ON v.id = c.id
  CROSS JOIN live{i} l CROSS JOIN nv x)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id AS host, CAST(round(rank * 1e8) AS BIGINT) AS rank_e8"
        f" FROM r{num_iters}"
    )


HOST_PAGERANK_SQL = _host_pagerank_sql(3)

REGISTRY["host_pagerank"] = (q_host_pagerank, HOST_PAGERANK_SQL)


def q_crawl_delta(spark, sf_dir):
    """Crawl-to-crawl link delta: two deterministic edge snapshots from
    the orders table (o_orderkey%10<2 vs %10 IN (1,2) — overlapping, so
    all three statuses occur), classified added/removed/kept by one
    full-outer join (graph.edge_delta)."""
    from ..graph import edge_delta

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    s = (F.col("o_orderkey").cast("long") * 13 + 7) % V_B
    d = (F.col("o_custkey").cast("long") * 17 + 5) % V_B

    def snap(pred):
        return (o.filter(pred).select(s.alias("src"), d.alias("dst"))
                .filter(F.col("src") != F.col("dst")))

    old = snap(F.col("o_orderkey") % 10 < 2)
    new = snap((F.col("o_orderkey") % 10 >= 1) & (F.col("o_orderkey") % 10 <= 2))
    return edge_delta(old, new).select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"), "status")


CRAWL_DELTA_SQL = f"""
WITH o_snap AS (
  SELECT DISTINCT CAST((o_orderkey * 13 + 7) % {V_B} AS BIGINT) AS src,
         CAST((o_custkey * 17 + 5) % {V_B} AS BIGINT) AS dst
  FROM orders
  WHERE o_orderkey % 10 < 2
    AND (o_orderkey * 13 + 7) % {V_B} <> (o_custkey * 17 + 5) % {V_B}),
n_snap AS (
  SELECT DISTINCT CAST((o_orderkey * 13 + 7) % {V_B} AS BIGINT) AS src,
         CAST((o_custkey * 17 + 5) % {V_B} AS BIGINT) AS dst
  FROM orders
  WHERE o_orderkey % 10 BETWEEN 1 AND 2
    AND (o_orderkey * 13 + 7) % {V_B} <> (o_custkey * 17 + 5) % {V_B})
SELECT coalesce(o.src, n.src) AS src, coalesce(o.dst, n.dst) AS dst,
       CASE WHEN o.src IS NULL THEN 'added'
            WHEN n.src IS NULL THEN 'removed'
            ELSE 'kept' END AS status
FROM o_snap o FULL OUTER JOIN n_snap n
  ON o.src = n.src AND o.dst = n.dst
"""

REGISTRY["crawl_delta"] = (q_crawl_delta, CRAWL_DELTA_SQL)


def q_trustrank_spam_mass(spark, sf_dir):
    """TrustRank (personalized PageRank teleporting to a deterministic
    trust-seed whitelist, id%29==3) vs global PageRank on graph B, and
    the relative spam mass (pr - tr)/pr per vertex — the classic
    web-spam demotion signal (Gyöngyi et al.).  Both vectors e8-quantized
    first, so the spam ratio is one double expression over exact ints;
    seeds can have tr > pr, so spam mass may be negative (trust-rich)."""
    from ..algos.pagerank import pagerank, personalized_pagerank

    eb = edges_b(spark, sf_dir)
    vb = verts(spark, V_B)
    pr, _ = pagerank(eb, vertices=vb, num_iters=4, partitions=8)
    tr = personalized_pagerank(
        eb, sources=vb.filter(F.col("id") % 29 == 3), vertices=vb,
        num_iters=4, partitions=8,
    )
    j = (
        pr.select("id", F.round(F.col("rank") * 1e8).cast("long").alias("pr_e8"))
        .join(tr.select(
            "id", F.round(F.col("rank") * 1e8).cast("long").alias("tr_e8")),
            "id")
    )
    return j.select(
        "id", "pr_e8", "tr_e8",
        F.round((F.col("pr_e8") - F.col("tr_e8")).cast("double") * 1e6
                / F.col("pr_e8")).cast("long").alias("spam_e6"),
    )


def _trustrank_sql(num_iters: int) -> str:
    d = 0.85
    v = V_B
    parts = [
        EDGES_B_SQL, VERTS_B_SQL,
        "outd AS (SELECT src AS id, CAST(count(*) AS DOUBLE) AS od "
        "FROM edges_b GROUP BY src)",
        f"ns AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM verts_b "
        f"WHERE id % 29 = 3)",
        f"pr0 AS (SELECT id, 1.0/{v} AS rank FROM verts_b)",
        "reset AS (SELECT v.id, CASE WHEN v.id % 29 = 3 THEN 1.0/s.c "
        "ELSE 0.0 END AS p FROM verts_b v CROSS JOIN ns s)",
        "tr0 AS (SELECT id, p AS rank FROM reset)",
    ]
    for i in range(1, num_iters + 1):
        parts.append(
            f"""pd{i} AS (SELECT coalesce(sum(r.rank), 0) AS dm FROM pr{i - 1} r
  LEFT JOIN outd o ON r.id = o.id WHERE o.id IS NULL)"""
        )
        parts.append(
            f"""pc{i} AS (SELECT e.dst AS id, sum(r.rank / o.od) AS contrib
  FROM edges_b e JOIN pr{i - 1} r ON e.src = r.id
  JOIN outd o ON e.src = o.id GROUP BY e.dst)"""
        )
        parts.append(
            f"""pr{i} AS (SELECT v.id,
  {(1.0 - d) / v!r} + {d} * (coalesce(c.contrib, 0) + (SELECT dm FROM pd{i})/{v}) AS rank
  FROM verts_b v LEFT JOIN pc{i} c ON v.id = c.id)"""
        )
        parts.append(
            f"""td{i} AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0) AS dm FROM tr{i - 1} r
  LEFT JOIN outd o ON r.id = o.id WHERE o.id IS NULL)"""
        )
        parts.append(
            f"""tc{i} AS MATERIALIZED (SELECT e.dst AS id, sum(r.rank / o.od) AS contrib
  FROM edges_b e JOIN tr{i - 1} r ON e.src = r.id
  JOIN outd o ON e.src = o.id GROUP BY e.dst)"""
        )
        parts.append(
            f"""tr{i} AS MATERIALIZED (SELECT v.id,
  {1.0 - d} * rs.p + {d} * (coalesce(c.contrib, 0) + dd.dm * rs.p) AS rank
  FROM verts_b v JOIN reset rs ON v.id = rs.id
  LEFT JOIN tc{i} c ON v.id = c.id CROSS JOIN td{i} dd)"""
        )
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT p.id,
       CAST(round(p.rank * 1e8) AS BIGINT) AS pr_e8,
       CAST(round(t.rank * 1e8) AS BIGINT) AS tr_e8,
       CAST(round(CAST(CAST(round(p.rank * 1e8) AS BIGINT)
                       - CAST(round(t.rank * 1e8) AS BIGINT) AS DOUBLE)
                  * 1e6 / CAST(round(p.rank * 1e8) AS BIGINT)) AS BIGINT)
         AS spam_e6
FROM pr{num_iters} p JOIN tr{num_iters} t ON t.id = p.id"""
    )


TRUSTRANK_SQL = _trustrank_sql(4)

REGISTRY["trustrank_spam_mass"] = (q_trustrank_spam_mass, TRUSTRANK_SQL)


def q_seed_voronoi(spark, sf_dir):
    """Nearest-seed Voronoi partition (multi-source BFS, (dist, seed)
    struct-min) on the undirected derived graph B; seeds = vertices with
    id%37==1.  Crawl-shard assignment: every host labeled by its closest
    anchor; 8-round unrolled SQL twin (measured fixpoint ≤5 rounds)."""
    from ..algos.gcommon import vertex_set
    from ..algos.voronoi import nearest_seed_partition

    eb = edges_b(spark, sf_dir)
    seeds = vertex_set(eb).filter(F.col("id") % 37 == 1)
    res, _ = nearest_seed_partition(eb, seeds, max_rounds=8, partitions=8)
    return res.select(
        F.col("id").cast("long").alias("id"),
        F.col("dist").cast("long").alias("dist"),
        F.col("seed").cast("long").alias("seed"),
    )


def _voronoi_sql(rounds: int) -> str:
    parts = [
        EDGES_B_SQL, UND_B_SQL,
        """st0 AS MATERIALIZED (
  SELECT id, {'d': CAST(0 AS BIGINT), 'l': id} AS m FROM (
    SELECT DISTINCT src AS id FROM und_b) WHERE id % 37 = 1)""",
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""cb{i} AS MATERIALIZED (
  SELECT u.dst AS id, min({{'d': s.m.d + 1, 'l': s.m.l}}) AS c
  FROM und_b u JOIN st{i - 1} s ON s.id = u.src GROUP BY u.dst)""")
        parts.append(f"""st{i} AS MATERIALIZED (
  SELECT coalesce(s.id, c.id) AS id,
         CASE WHEN s.m IS NULL THEN c.c WHEN c.c IS NULL THEN s.m
              WHEN s.m <= c.c THEN s.m ELSE c.c END AS m
  FROM st{i - 1} s FULL OUTER JOIN cb{i} c ON c.id = s.id)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, m.d AS dist, m.l AS seed FROM st{rounds}"
    )


VORONOI_SQL = _voronoi_sql(8)

REGISTRY["seed_voronoi"] = (q_seed_voronoi, VORONOI_SQL)


def q_ego_network(spark, sf_dir):
    """2-hop ego network of vertex 7 on the undirected derived graph B
    (graph.ego_network: capped Voronoi ball + two induced semi-joins)."""
    from ..graph import ego_network

    return ego_network(edges_b(spark, sf_dir), seed=7, radius=2).select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )


EGO_SQL = f"""
WITH {EDGES_B_SQL}, {UND_B_SQL},
b1 AS (SELECT DISTINCT id FROM (
  SELECT CAST(7 AS BIGINT) AS id
  UNION ALL SELECT dst FROM und_b WHERE src = 7)),
b2 AS (SELECT DISTINCT id FROM (
  SELECT id FROM b1
  UNION ALL SELECT u.dst FROM und_b u JOIN b1 b ON u.src = b.id))
SELECT u.src, u.dst FROM und_b u
JOIN b2 x ON u.src = x.id JOIN b2 y ON u.dst = y.id
"""

REGISTRY["ego_network_2hop"] = (q_ego_network, EGO_SQL)


def q_wl_colors(spark, sf_dir):
    """1-WL color refinement, 3 rounds, on the undirected derived graph
    B — structural fingerprint classes (template dedup / isomorphism
    invariant).  Per-round relabeling is a hash (no global sort, no
    window); output colors are canonicalized to the min vertex id of the
    final class, which the SQL twin reproduces exactly (algos/wl.py)."""
    from ..algos.wl import wl_refinement

    return wl_refinement(edges_b(spark, sf_dir), rounds=3, partitions=8) \
        .select(F.col("id").cast("long").alias("id"),
                F.col("color").cast("long").alias("color"))


def _wl_sql(rounds: int) -> str:
    parts = [
        EDGES_B_SQL, UND_B_SQL,
        "c0 AS MATERIALIZED (SELECT DISTINCT src AS id, CAST(1 AS BIGINT) "
        "AS color FROM und_b)",
    ]
    # per-round label = min vertex id of the (old color, signature) class —
    # injective across classes (classes are disjoint vertex sets), so the
    # refinement matches Spark's hash-relabel classes; the final labels are
    # already the min-id canonical form wl_refinement returns
    for i in range(1, rounds + 1):
        parts.append(f"""g{i} AS MATERIALIZED (
  SELECT u.src AS id,
         array_to_string(list_sort(list(s.color)), ',') AS sig
  FROM und_b u JOIN c{i - 1} s ON s.id = u.dst GROUP BY u.src)""")
        parts.append(f"""c{i} AS MATERIALIZED (
  SELECT v.id,
         CAST(min(v.id) OVER (PARTITION BY v.color, g.sig) AS BIGINT) AS color
  FROM c{i - 1} v JOIN g{i} g ON g.id = v.id)""")
    return "WITH " + ",\n".join(parts) + f"\nSELECT id, color FROM c{rounds}"


WL_SQL = _wl_sql(3)

REGISTRY["wl_colors"] = (q_wl_colors, WL_SQL)


def q_ngram_containment(spark, sf_dir):
    """Benchmark-decontamination containment: probes = documents with
    doc_id%41==5, corpus = all documents; word-3-gram containment ≥ 0.1
    (asymmetric — catches probe-inside-longer-doc that Jaccard misses)."""
    from ..dedup import ngram_containment_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    probes = docs.filter(F.col("doc_id") % 41 == 5)
    return ngram_containment_pairs(docs, probes, threshold=0.1).select(
        F.col("pid").cast("long").alias("pid"),
        F.col("did").cast("long").alias("did"),
        "containment_e6",
    )


def _containment_sql() -> str:
    from ..dedup import word_shingles_sql

    sh = word_shingles_sql("text", 3)
    return f"""
WITH sh AS (SELECT doc_id, {sh} AS sh FROM documents),
nz AS MATERIALIZED (SELECT * FROM sh WHERE len(sh) > 0),
pex AS MATERIALIZED (
  SELECT doc_id AS pid, unnest(sh) AS s FROM nz WHERE doc_id % 41 = 5),
psz AS MATERIALIZED (
  SELECT doc_id AS pid, len(sh) AS np FROM nz WHERE doc_id % 41 = 5),
dex AS MATERIALIZED (SELECT doc_id AS did, unnest(sh) AS s FROM nz),
m AS MATERIALIZED (
  SELECT pid, did, count(*) AS inter FROM dex JOIN pex USING (s)
  GROUP BY 1, 2)
SELECT m.pid, m.did,
       CAST(round(inter * 1e6 / np) AS BIGINT) AS containment_e6
FROM m JOIN psz USING (pid)
WHERE m.did <> m.pid AND round(inter * 1e6 / np) >= 100000
"""


CONTAINMENT_SQL = _containment_sql()

REGISTRY["ngram_containment"] = (q_ngram_containment, CONTAINMENT_SQL)


def q_snm_pairs(spark, sf_dir):
    """Sorted-neighborhood near-dup pairs on documents (block = 4-char
    normalized-text prefix, window 3, exact-Jaccard verify ≥ 0.2) — the
    third dedup blocking family beside MinHash-LSH and SimHash."""
    from ..dedup import snm_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return snm_pairs(docs, window=3, threshold=0.2)


def _snm_sql() -> str:
    from ..dedup import word_shingles_sql

    sh = word_shingles_sql("text", 3)
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id AS id, substring(trim(lower(text)), 1, 12) AS k,
         {sh} AS sh
  FROM documents),
nz AS MATERIALIZED (SELECT * FROM base WHERE len(sh) > 0),
r AS MATERIALIZED (
  SELECT id, k, sh, substring(k, 1, 4) AS blk,
         row_number() OVER (PARTITION BY substring(k, 1, 4)
                            ORDER BY k, id) AS rn
  FROM nz)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(round(len(list_intersect(a.sh, b.sh)) * 1e6
                  / len(list_distinct(a.sh || b.sh))) AS BIGINT) AS jaccard_e6
FROM r a JOIN r b
  ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 3
WHERE round(len(list_intersect(a.sh, b.sh)) * 1e6
            / len(list_distinct(a.sh || b.sh))) >= 200000
"""


SNM_SQL = _snm_sql()

REGISTRY["snm_dedup_pairs"] = (q_snm_pairs, SNM_SQL)


def q_degree_percentiles(spark, sf_dir):
    """Exact p50/p90/p99 of the undirected degree distribution (graph A)
    via histogram-CDF rank math (percentile = min degree whose cumulative
    count ≥ ceil(q·n)) — no global sort of vertices, the window runs on
    the tiny distinct-degree histogram."""
    ea = edges_a(spark, sf_dir)
    und = (
        ea.union(ea.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("d", F.sum("c").over(wcum).alias("cum"))
    n = deg.agg(F.count(F.lit(1)).alias("n"))
    j = cum.crossJoin(F.broadcast(n))
    pick = lambda q: F.min(F.when(  # noqa: E731
        F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("d")))
    return j.agg(
        F.max("n").cast("long").alias("n"),
        pick(0.5).cast("long").alias("p50"),
        pick(0.9).cast("long").alias("p90"),
        pick(0.99).cast("long").alias("p99"),
    )


DEGREE_PCT_SQL = f"""
WITH {EDGES_A_SQL}, {UND_A_SQL},
deg AS (SELECT src, count(*) AS d FROM und_a GROUP BY src),
hist AS (SELECT d, count(*) AS c FROM deg GROUP BY d),
cum AS (SELECT d, sum(c) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
        AND CURRENT ROW) AS cum FROM hist),
n AS (SELECT count(*) AS n FROM deg)
SELECT CAST(max(n.n) AS BIGINT) AS n,
       CAST(min(CASE WHEN cum >= ceil(0.5 * n.n) THEN d END) AS BIGINT) AS p50,
       CAST(min(CASE WHEN cum >= ceil(0.9 * n.n) THEN d END) AS BIGINT) AS p90,
       CAST(min(CASE WHEN cum >= ceil(0.99 * n.n) THEN d END) AS BIGINT) AS p99
FROM cum CROSS JOIN n
"""

REGISTRY["degree_percentiles"] = (q_degree_percentiles, DEGREE_PCT_SQL)


def q_repetition_stats(spark, sf_dir):
    """Intra-document word-3-gram repetition ratio (C4-style boilerplate
    gate) over documents; zero-shuffle per-row array expressions."""
    from ..text import repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_stats(docs)


def _repetition_sql() -> str:
    from ..dedup import word_shingles_sql

    w = "regexp_split_to_array(trim(lower(text)), '\\s+')"
    sh = word_shingles_sql("text", 3)
    return f"""
WITH base AS (
  SELECT doc_id AS id,
         greatest(len({w}) - 2, 0) AS total_grams,
         len({sh}) AS distinct_grams
  FROM documents)
SELECT id, CAST(total_grams AS BIGINT) AS total_grams,
       CAST(distinct_grams AS BIGINT) AS distinct_grams,
       CAST(CASE WHEN total_grams > 0 THEN
              round((total_grams - distinct_grams) * 1e6 / total_grams)
            ELSE 0 END AS BIGINT) AS rep_e6
FROM base
"""


REPETITION_SQL = _repetition_sql()

REGISTRY["repetition_stats"] = (q_repetition_stats, REPETITION_SQL)


def q_hourly_retention(spark, sf_dir):
    """Hour-over-hour user retention: per hour h, distinct active users,
    how many are also active in h+1, and the retention ratio (e6) —
    cohort-style engagement analytics on the events table."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hu = ev.select(
        F.date_trunc("hour", F.col("ts")).alias("h"), "user_id").distinct()
    nxt = hu.select(
        (F.col("h") - F.expr("INTERVAL 1 HOUR")).alias("h"),
        F.col("user_id").alias("u2"))
    j = hu.join(nxt, (hu.h == nxt.h) & (hu.user_id == nxt.u2), "left")
    return (
        j.groupBy(hu.h.alias("hour"))
        .agg(F.count(F.lit(1)).cast("long").alias("actives"),
             F.count("u2").cast("long").alias("retained"))
        .select(
            "hour", "actives", "retained",
            F.round(F.col("retained").cast("double") * 1e6
                    / F.col("actives")).cast("long").alias("retention_e6"),
        )
    )


HOURLY_RETENTION_SQL = """
WITH hu AS (SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events)
SELECT a.h AS hour,
       CAST(count(*) AS BIGINT) AS actives,
       CAST(count(b.user_id) AS BIGINT) AS retained,
       CAST(round(count(b.user_id) * 1e6 / count(*)) AS BIGINT)
         AS retention_e6
FROM hu a LEFT JOIN hu b
  ON b.user_id = a.user_id AND b.h = a.h + INTERVAL 1 HOUR
GROUP BY a.h
"""

REGISTRY["hourly_retention"] = (q_hourly_retention, HOURLY_RETENTION_SQL)


def _urls_a(spark, sf_dir):
    """Deterministic url table for graph A vertices (host = id mod 40)."""
    from ..algos.gcommon import vertex_set

    return vertex_set(edges_a(spark, sf_dir)).select(
        F.concat(F.lit("https://host"), (F.col("id") % 40).cast("string"),
                 F.lit(".example/p"), F.col("id").cast("string")).alias("url"),
        F.concat(F.lit("host"), (F.col("id") % 40).cast("string"),
                 F.lit(".example")).alias("host"),
    )


URLS_A_SQL = f"""
urls_a AS (
  SELECT 'https://host' || CAST(id % 40 AS VARCHAR) || '.example/p'
           || CAST(id AS VARCHAR) AS url,
         'host' || CAST(id % 40 AS VARCHAR) || '.example' AS host
  FROM (SELECT DISTINCT id FROM (
    SELECT src AS id FROM edges_a UNION ALL SELECT dst FROM edges_a)))"""


def q_rendezvous_assign(spark, sf_dir):
    """Rendezvous-hash (HRW) crawl-node assignment of every page url by
    its HOST (same-host pages co-locate on one of 8 nodes; a node loss
    remaps only that node's hosts)."""
    from ..ingest import rendezvous_assign

    return rendezvous_assign(_urls_a(spark, sf_dir), "host", 8) \
        .select("url", "host", "node")


RENDEZVOUS_SQL = f"""
WITH {EDGES_A_SQL}, {URLS_A_SQL},
c AS (
  SELECT url, host, k,
         {{'h': CAST(('0x' || substr(md5(host || '#' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT), 'k': k}} AS s
  FROM urls_a CROSS JOIN (SELECT unnest(range(0, 8)) AS k))
SELECT url, host, CAST((max(s)).k AS BIGINT) AS node
FROM c GROUP BY url, host
"""

REGISTRY["rendezvous_assign"] = (q_rendezvous_assign, RENDEZVOUS_SQL)


def q_per_host_cap(spark, sf_dir):
    """Per-domain cap: keep ≤10 urls per host in deterministic H60 hash
    order — corpus domain-balancing before training."""
    from ..ingest import per_host_cap

    return per_host_cap(_urls_a(spark, sf_dir), 10).select("url", "host")


PER_HOST_CAP_SQL = f"""
WITH {EDGES_A_SQL}, {URLS_A_SQL},
r AS (
  SELECT url, host,
         row_number() OVER (
           PARTITION BY host
           ORDER BY CAST(('0x' || substr(md5(url), 1, 15)) AS BIGINT), url)
           AS rn
  FROM urls_a)
SELECT url, host FROM r WHERE rn <= 10
"""

REGISTRY["per_host_cap"] = (q_per_host_cap, PER_HOST_CAP_SQL)


def q_component_size_histogram(spark, sf_dir):
    """Component-size histogram (size → how many components) of graph B —
    the fragmentation fingerprint of a web crawl (giant component +
    dust), composed from the engine's min-label CC."""
    from ..algos.components import connected_components

    labels, _ = connected_components(
        edges_b(spark, sf_dir), vertices=verts(spark, V_B), partitions=8)
    return (
        labels.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size").agg(F.count(F.lit(1)).cast("long").alias("n_components"))
        .select(F.col("size").cast("long").alias("size"), "n_components")
    )


COMPONENT_SIZES_SQL = f"""
WITH RECURSIVE {EDGES_B_SQL}, {VERTS_B_SQL}, {UND_B_SQL},
reach(id, comp) AS (
  SELECT id, id FROM verts_b
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN und_b e ON e.src = r.id
),
lab AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
cs AS (SELECT component, count(*) AS size FROM lab GROUP BY component)
SELECT CAST(size AS BIGINT) AS size,
       CAST(count(*) AS BIGINT) AS n_components
FROM cs GROUP BY size
"""

REGISTRY["component_size_histogram"] = (
    q_component_size_histogram, COMPONENT_SIZES_SQL)


def q_url_normalize(spark, sf_dir):
    """Value-gates the ingest URL-normalization UDF itself: deterministic
    dirty urls (uppercase scheme/host, fragments, padding) from graph-A
    ids, normalized by the vectorized pandas UDF; the oracle reimplements
    the same spec (strip → drop fragment → lowercase scheme+host) in
    pure SQL."""
    from ..ingest import normalize_urls

    ids = (
        edges_a(spark, sf_dir).select(F.col("src").alias("id")).distinct())
    dirty = ids.select(
        "id",
        F.concat(
            F.lit("  HTTPS://HOST"), (F.col("id") % 40).cast("string"),
            F.lit(".Example/Path"), F.col("id").cast("string"),
            F.when(F.col("id") % 3 == 0, F.lit("#Fragment"))
            .otherwise(F.lit("")),
        ).alias("url"),
    )
    return dirty.select(
        F.col("id").cast("long").alias("id"), "url",
        normalize_urls(F.col("url")).alias("norm"),
    )


URL_NORMALIZE_SQL = f"""
WITH {EDGES_A_SQL},
ids AS (SELECT DISTINCT src AS id FROM edges_a),
dirty AS (
  SELECT id,
         '  HTTPS://HOST' || CAST(id % 40 AS VARCHAR) || '.Example/Path'
           || CAST(id AS VARCHAR)
           || CASE WHEN id % 3 = 0 THEN '#Fragment' ELSE '' END AS url
  FROM ids),
s AS (SELECT id, url, trim(url) AS u FROM dirty),
f AS (SELECT id, url,
             CASE WHEN position('#' IN u) > 0
                  THEN substr(u, 1, position('#' IN u) - 1) ELSE u END AS u
      FROM s)
SELECT id, url,
       CASE WHEN regexp_matches(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://')
            THEN lower(regexp_extract(u,
                   '^([a-zA-Z][a-zA-Z0-9+.-]*://)([^/]*)(.*)$', 1))
              || lower(regexp_extract(u,
                   '^([a-zA-Z][a-zA-Z0-9+.-]*://)([^/]*)(.*)$', 2))
              || regexp_extract(u,
                   '^([a-zA-Z][a-zA-Z0-9+.-]*://)([^/]*)(.*)$', 3)
            ELSE u END AS norm
FROM f
"""

REGISTRY["url_normalize"] = (q_url_normalize, URL_NORMALIZE_SQL)


def q_vertex_reciprocity(spark, sf_dir):
    """Per-vertex link reciprocity: fraction of a vertex's out-links
    whose reverse edge exists (link-farm / mutual-admiration signal —
    the per-vertex refinement of the global `reciprocity` query)."""
    ea = edges_a(spark, sf_dir)
    rev = ea.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    rec = (
        ea.join(rev.hint("shuffle_hash"), ["src", "dst"], "left_semi")
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("recip"))
    )
    outd = ea.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("outd"))
    return (
        outd.join(rec, "id", "left")
        .select(
            "id", F.col("outd").cast("long").alias("outd"),
            F.coalesce("recip", F.lit(0)).cast("long").alias("recip"),
            F.round(F.coalesce("recip", F.lit(0)).cast("double") * 1e6
                    / F.col("outd")).cast("long").alias("recip_e6"),
        )
    )


VERTEX_RECIPROCITY_SQL = f"""
WITH {EDGES_A_SQL},
rec AS (
  SELECT e.src AS id, count(*) AS recip
  FROM edges_a e
  WHERE EXISTS (SELECT 1 FROM edges_a r
                WHERE r.src = e.dst AND r.dst = e.src)
  GROUP BY e.src),
outd AS (SELECT src AS id, count(*) AS outd FROM edges_a GROUP BY src)
SELECT o.id, CAST(o.outd AS BIGINT) AS outd,
       CAST(coalesce(r.recip, 0) AS BIGINT) AS recip,
       CAST(round(coalesce(r.recip, 0) * 1e6 / o.outd) AS BIGINT)
         AS recip_e6
FROM outd o LEFT JOIN rec r ON r.id = o.id
"""

REGISTRY["vertex_reciprocity"] = (q_vertex_reciprocity, VERTEX_RECIPROCITY_SQL)


def q_host_entropy(spark, sf_dir):
    """Out-link entropy per host over the host-graph rollup (intra-host
    self-loops excluded): H = Σ (w/W)·ln(W/w), each term e6-quantized
    BEFORE summing so the sum is an exact BIGINT — the crawl-frontier
    diversity signal (low entropy = host links to one place only)."""
    hg = q_host_graph(spark, sf_dir).filter(
        F.col("src_host") != F.col("dst_host"))
    tot = hg.groupBy(F.col("src_host").alias("host")).agg(
        F.sum("weight").alias("W"))
    term = F.round(
        (F.col("weight").cast("double") / F.col("W"))
        * F.log(F.col("W").cast("double") / F.col("weight")) * 1e6
    ).cast("long")
    return (
        hg.join(tot, hg.src_host == tot.host)
        .select(F.col("host"), term.alias("t"))
        .groupBy("host")
        .agg(F.sum("t").cast("long").alias("entropy_e6"))
    )


HOST_ENTROPY_SQL = f"""
WITH {EDGES_A_SQL},
hg AS (
  SELECT 'host' || CAST(src % 40 AS VARCHAR) || '.example' AS src_host,
         'host' || CAST(dst % 40 AS VARCHAR) || '.example' AS dst_host,
         count(*) AS weight
  FROM edges_a GROUP BY 1, 2),
he AS (SELECT * FROM hg WHERE src_host <> dst_host),
tot AS (SELECT src_host AS host, sum(weight) AS W FROM he GROUP BY src_host)
SELECT t.host,
       CAST(sum(CAST(round((e.weight / (1.0 * t.W))
                 * ln(t.W / (1.0 * e.weight)) * 1e6) AS BIGINT)) AS BIGINT)
         AS entropy_e6
FROM he e JOIN tot t ON t.host = e.src_host
GROUP BY t.host
"""

REGISTRY["host_entropy"] = (q_host_entropy, HOST_ENTROPY_SQL)


def q_inverted_index(spark, sf_dir):
    """Inverted index (term → df + sorted posting list) over documents —
    the search-index construction pass."""
    from ..text import inverted_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return inverted_index(docs)


INVERTED_INDEX_SQL = """
WITH t AS (
  SELECT DISTINCT doc_id AS id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents)
SELECT term, CAST(count(*) AS BIGINT) AS df,
       array_to_string(list_sort(list(id)), ',') AS postings
FROM t WHERE term <> '' GROUP BY term
"""

REGISTRY["inverted_index"] = (q_inverted_index, INVERTED_INDEX_SQL)


V_D = 500  # sparser derived graph (orders, 1-in-20): SimRank pair-state ops


def edges_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    s = (F.col("o_orderkey").cast("long") * 23 + 11) % V_D
    d = (F.col("o_custkey").cast("long") * 29 + 3) % V_D
    return (
        o.filter(F.col("o_orderkey") % 20 == 3)
        .select(s.alias("src"), d.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


EDGES_D_SQL = f"""
edges_d AS (
  SELECT DISTINCT
    CAST((o_orderkey * 23 + 11) % {V_D} AS BIGINT) AS src,
    CAST((o_custkey * 29 + 3) % {V_D} AS BIGINT) AS dst
  FROM orders
  WHERE o_orderkey % 20 = 3
    AND (o_orderkey * 23 + 11) % {V_D} <> (o_custkey * 29 + 3) % {V_D}
)"""


def q_simrank(spark, sf_dir):
    """Truncated SimRank (C=0.8, 2 quantized supersteps, τ=0.01) on the
    sparse derived graph D — the structural related-pages metric; the
    τ-pruning is what bounds the classic pair-state blowup."""
    from ..algos.simrank import simrank_truncated

    return simrank_truncated(edges_d(spark, sf_dir), c=0.8, iters=2,
                             tau_e6=10_000, partitions=8)


def _simrank_sql(iters: int, c: float, tau: int) -> str:
    parts = [
        EDGES_D_SQL,
        "ind AS MATERIALIZED (SELECT dst AS v, count(*) AS n FROM edges_d "
        "GROUP BY dst)",
        """dg AS MATERIALIZED (
  SELECT e1.dst AS a, e2.dst AS b,
         count(*) * 1000000 AS dsum
  FROM edges_d e1 JOIN edges_d e2 ON e1.src = e2.src AND e1.dst <> e2.dst
  GROUP BY e1.dst, e2.dst)""",
    ]
    prev = None
    for i in range(1, iters + 1):
        if prev is None:
            parts.append(
                f"t{i} AS MATERIALIZED (SELECT a, b, dsum AS tsum FROM dg)"
            )
        else:
            parts.append(f"""o{i} AS MATERIALIZED (
  SELECT e1.dst AS a, e2.dst AS b, sum(s.v) AS osum
  FROM {prev} s JOIN edges_d e1 ON e1.src = s.x
  JOIN edges_d e2 ON e2.src = s.y
  WHERE e1.dst <> e2.dst
  GROUP BY e1.dst, e2.dst)""")
            parts.append(f"""t{i} AS MATERIALIZED (
  SELECT coalesce(d.a, o.a) AS a, coalesce(d.b, o.b) AS b,
         CAST(coalesce(d.dsum, 0) + coalesce(o.osum, 0) AS BIGINT) AS tsum
  FROM dg d FULL OUTER JOIN o{i} o ON o.a = d.a AND o.b = d.b)""")
        parts.append(f"""s{i} AS MATERIALIZED (
  SELECT t.a AS x, t.b AS y,
         CAST(round({c}e0 * t.tsum / (ia.n * ib.n)) AS BIGINT) AS v
  FROM t{i} t JOIN ind ia ON ia.v = t.a JOIN ind ib ON ib.v = t.b
  WHERE round({c}e0 * t.tsum / (ia.n * ib.n)) >= {tau})""")
        prev = f"s{i}"
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT x AS a, y AS b, v AS sim_e6 FROM {prev}"
    )


SIMRANK_SQL = _simrank_sql(2, 0.8, 10_000)

REGISTRY["simrank_2iter"] = (q_simrank, SIMRANK_SQL)


def q_harmonic_labels(spark, sf_dir):
    """Harmonic-function label spreading (Zhu et al. semi-supervised):
    spam seeds (id%53==2) clamp at 1e6, ham seeds (id%53==7) at 0,
    interior starts at 5e5 and becomes the neighbor average each
    superstep (4 rounds, re-quantized e6 every step) — soft spam scores
    complementing TrustRank's ratio."""
    eb = edges_b(spark, sf_dir)
    und = (
        eb.union(eb.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst")).distinct()
        .repartition(8, "src").localCheckpoint(eager=True)
    )
    v = und.select(F.col("src").alias("id")).distinct()
    seedv = F.when(F.col("id") % 53 == 2, F.lit(1_000_000)) \
        .when(F.col("id") % 53 == 7, F.lit(0))
    state = v.select(
        "id", F.coalesce(seedv, F.lit(500_000)).cast("long").alias("x"),
        seedv.isNotNull().alias("seed"),
    ).repartition(8, "id").localCheckpoint(eager=True)
    for _ in range(4):
        nbr = (
            und.join(state.select(F.col("id").alias("dst"),
                                  F.col("x").alias("nx")).hint("shuffle_hash"),
                     "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("nx").alias("s"), F.count(F.lit(1)).alias("d"))
        )
        state = (
            state.join(nbr.hint("shuffle_hash"), "id")
            .select(
                "id",
                F.when(F.col("seed"), F.col("x"))
                .otherwise(F.round(F.col("s").cast("double") / F.col("d"))
                           .cast("long")).alias("x"),
                "seed",
            )
            .repartition(8, "id").localCheckpoint(eager=True)
        )
    return state.select("id", F.col("x").alias("spam_e6"))


def _harmonic_sql(rounds: int) -> str:
    parts = [
        EDGES_B_SQL, UND_B_SQL,
        """x0 AS MATERIALIZED (
  SELECT id,
         CAST(CASE WHEN id % 53 = 2 THEN 1000000
                   WHEN id % 53 = 7 THEN 0
                   ELSE 500000 END AS BIGINT) AS x,
         (id % 53 = 2 OR id % 53 = 7) AS seed
  FROM (SELECT DISTINCT src AS id FROM und_b))""",
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""nb{i} AS MATERIALIZED (
  SELECT u.src AS id, sum(s.x) AS s, count(*) AS d
  FROM und_b u JOIN x{i - 1} s ON s.id = u.dst GROUP BY u.src)""")
        parts.append(f"""x{i} AS MATERIALIZED (
  SELECT v.id,
         CASE WHEN v.seed THEN v.x
              ELSE CAST(round(n.s / (1.0 * n.d)) AS BIGINT) END AS x,
         v.seed
  FROM x{i - 1} v JOIN nb{i} n ON n.id = v.id)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, x AS spam_e6 FROM x{rounds}"
    )


HARMONIC_SQL = _harmonic_sql(4)

REGISTRY["harmonic_labels"] = (q_harmonic_labels, HARMONIC_SQL)


def q_kmeans_assign(spark, sf_dir):
    """Deterministic integer-exact Lloyd k-means (k=4, 2 iterations) over
    the embeddings table — the trainer whose centroids feed ivf_topk's
    coarse quantizer; returns final (vec_id, cluster, dist)."""
    from ..ann import kmeans_lloyd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kmeans_lloyd(emb, k=4, iters=2)


def _kmeans_sql(k: int, iters: int) -> str:
    parts = [
        "xq AS MATERIALIZED (SELECT vec_id AS vid, "
        "list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 1e6)"
        " AS BIGINT)) AS x FROM embeddings)",
        f"c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vid) AS cid,"
        f" x AS c FROM (SELECT vid, x FROM xq ORDER BY vid LIMIT {k}))",
        "dims AS MATERIALIZED (SELECT unnest(range(1, "
        "(SELECT max(len(x)) FROM xq) + 1)) AS i)",
    ]
    dist = ("CAST(list_sum(list_transform(range(1, len(a.x) + 1), "
            "i -> (a.x[i] - c.c[i]) * (a.x[i] - c.c[i]))) AS BIGINT)")
    for i in range(1, iters + 1):
        parts.append(f"""asg{i} AS MATERIALIZED (
  SELECT a.vid, min({{'d': {dist}, 'cid': c.cid}}) AS s
  FROM xq a CROSS JOIN c{i - 1} c GROUP BY a.vid)""")
        parts.append(f"""ex{i} AS MATERIALIZED (
  SELECT g.s.cid AS cluster, d.i AS dim, a.x[d.i] AS val
  FROM asg{i} g JOIN xq a ON a.vid = g.vid CROSS JOIN dims d)""")
        parts.append(f"""up{i} AS MATERIALIZED (
  SELECT cluster, dim,
         CAST(round(CAST(sum(val) AS DOUBLE) / count(*)) AS BIGINT) AS cv
  FROM ex{i} GROUP BY 1, 2)""")
        parts.append(
            f"cn{i} AS MATERIALIZED (SELECT cluster AS cid, "
            f"list(cv ORDER BY dim) AS c FROM up{i} GROUP BY cluster)")
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT o.cid, coalesce(n.c, o.c) AS c "
            f"FROM c{i - 1} o LEFT JOIN cn{i} n ON n.cid = o.cid)")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT g.vid AS vec_id, g.s.cid AS cluster, g.s.d AS dist "
        f"FROM asg{iters} g"
    )


KMEANS_SQL = _kmeans_sql(4, 2)

REGISTRY["kmeans_assign"] = (q_kmeans_assign, KMEANS_SQL)


def q_densest_subgraph(spark, sf_dir):
    """Densest subgraph (ε=0 batch peeling, exact integer density key)
    on the sparse derived graph D — link-farm detection."""
    from ..algos.densest import densest_subgraph

    best, _ = densest_subgraph(edges_d(spark, sf_dir), max_rounds=8,
                               partitions=8)
    return best


def _densest_sql(rounds: int) -> str:
    parts = [
        EDGES_D_SQL,
        "s0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, "
        "greatest(src, dst) AS b FROM edges_d)",
    ]
    for i in range(rounds):
        parts.append(
            f"v{i} AS MATERIALIZED (SELECT DISTINCT id FROM ("
            f"SELECT a AS id FROM s{i} UNION ALL SELECT b FROM s{i}))")
        parts.append(
            f"k{i} AS MATERIALIZED (SELECT {i} AS r, "
            f"(SELECT count(*) FROM s{i}) AS e, "
            f"(SELECT count(*) FROM v{i}) AS v)")
        if i < rounds - 1:
            parts.append(f"""deg{i} AS MATERIALIZED (
  SELECT id, count(*) AS d FROM (
    SELECT a AS id FROM s{i} UNION ALL SELECT b AS id FROM s{i})
  GROUP BY id)""")
            parts.append(f"""keep{i} AS MATERIALIZED (
  SELECT g.id FROM deg{i} g CROSS JOIN k{i} kk
  WHERE g.d * kk.v > 2 * kk.e)""")
            parts.append(f"""s{i + 1} AS MATERIALIZED (
  SELECT e.a, e.b FROM s{i} e
  JOIN keep{i} x ON e.a = x.id JOIN keep{i} y ON e.b = y.id)""")
    meta_union = " UNION ALL ".join(f"SELECT r, e, v FROM k{i}"
                                    for i in range(rounds))
    v_union = " UNION ALL ".join(f"SELECT {i} AS r, id FROM v{i}"
                                 for i in range(rounds))
    parts.append(f"""meta AS MATERIALIZED (
  SELECT r, CASE WHEN v > 0 THEN e * 1000000000 // v ELSE -1 END AS key
  FROM ({meta_union}))""")
    parts.append(
        "bestr AS (SELECT r, key FROM meta ORDER BY key DESC, r ASC LIMIT 1)")
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT u.id, CAST((SELECT key FROM bestr) AS BIGINT) AS density_e9
FROM ({v_union}) u WHERE u.r = (SELECT r FROM bestr)"""
    )


DENSEST_SQL = _densest_sql(8)

REGISTRY["densest_subgraph"] = (q_densest_subgraph, DENSEST_SQL)


def q_kmeans_label_confusion(spark, sf_dir):
    """Cluster-purity contingency: k-means cluster × ground-truth label
    counts over embeddings — the clustering-evaluation pass."""
    from ..ann import kmeans_lloyd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    asg = kmeans_lloyd(emb, k=4, iters=2)
    return (
        asg.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cluster", F.col("label").cast("long").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


KMEANS_CONFUSION_SQL = (
    _kmeans_sql(4, 2).replace(
        "SELECT g.vid AS vec_id, g.s.cid AS cluster, g.s.d AS dist "
        "FROM asg2 g",
        """SELECT g.s.cid AS cluster, CAST(e.label AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n
FROM asg2 g JOIN embeddings e ON e.vec_id = g.vid
GROUP BY 1, 2""")
)

REGISTRY["kmeans_label_confusion"] = (
    q_kmeans_label_confusion, KMEANS_CONFUSION_SQL)


def q_event_funnel(spark, sf_dir):
    """Funnel conversions: for each ordered event-type pair (a, b), how
    many users did a and then later b (first-a strictly before last-b) —
    the product-analytics staple over the events table."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ut = (
        ev.groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
    )
    a = ut.select("user_id", F.col("event_type").alias("step_a"),
                  F.col("first_ts").alias("fa"))
    b = ut.select("user_id", F.col("event_type").alias("step_b"),
                  F.col("last_ts").alias("lb"))
    return (
        a.join(b, "user_id")
        .filter((F.col("step_a") != F.col("step_b"))
                & (F.col("fa") < F.col("lb")))
        .groupBy("step_a", "step_b")
        .agg(F.count(F.lit(1)).cast("long").alias("converted_users"))
    )


EVENT_FUNNEL_SQL = """
WITH ut AS (
  SELECT user_id, event_type, min(ts) AS first_ts, max(ts) AS last_ts
  FROM events GROUP BY 1, 2)
SELECT a.event_type AS step_a, b.event_type AS step_b,
       CAST(count(*) AS BIGINT) AS converted_users
FROM ut a JOIN ut b ON b.user_id = a.user_id
WHERE a.event_type <> b.event_type AND a.first_ts < b.last_ts
GROUP BY 1, 2
"""

REGISTRY["event_funnel"] = (q_event_funnel, EVENT_FUNNEL_SQL)


def q_corpus_summary(spark, sf_dir):
    """One-row corpus health card over documents: doc/char counts,
    language count, exact-duplicate text count (n_docs − distinct
    texts), and mean doc length (e2) — the dataset datasheet numbers."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        (F.count(F.lit(1)) - F.countDistinct("text")).cast("long")
        .alias("exact_dup_docs"),
        F.round(F.sum("n_chars").cast("double") * 100
                / F.count(F.lit(1))).cast("long").alias("mean_chars_e2"),
    )


CORPUS_SUMMARY_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(count(*) - count(DISTINCT text) AS BIGINT) AS exact_dup_docs,
       CAST(round(CAST(sum(n_chars) AS DOUBLE) * 100 / count(*)) AS BIGINT)
         AS mean_chars_e2
FROM documents
"""

REGISTRY["corpus_summary"] = (q_corpus_summary, CORPUS_SUMMARY_SQL)


def q_bfs_parents(spark, sf_dir):
    """BFS shortest-path tree with parent pointers from vertex 7 on the
    undirected derived graph B: parent(v) = min-id neighbor at dist-1
    (deterministic tree, enables path reconstruction); root parent = -1."""
    from ..algos.voronoi import nearest_seed_partition

    eb = edges_b(spark, sf_dir)
    seeds = spark.createDataFrame([(7,)], "id long")
    ball, _ = nearest_seed_partition(eb, seeds, max_rounds=30, partitions=8)
    und = (
        eb.union(eb.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst")).distinct()
    )
    d_of = ball.select(F.col("id").alias("nbr"), F.col("dist").alias("nd"))
    parents = (
        und.join(ball.select(F.col("id").alias("src"),
                             F.col("dist").alias("d")), "src")
        .join(d_of, und.dst == d_of.nbr)
        .filter(F.col("nd") == F.col("d") - 1)
        .groupBy(F.col("src").alias("id"), F.col("d").alias("dist"))
        .agg(F.min("nbr").alias("parent"))
    )
    return (
        ball.select("id", F.col("dist").cast("long").alias("dist"))
        .join(parents.select("id", "parent"), "id", "left")
        .select("id", "dist",
                F.coalesce("parent", F.lit(-1)).cast("long").alias("parent"))
    )


BFS_PARENTS_SQL = f"""
WITH RECURSIVE {EDGES_B_SQL}, {UND_B_SQL},
reach(id, dist) AS (
  SELECT CAST(7 AS BIGINT), 0
  UNION
  SELECT e.dst, r.dist + 1 FROM reach r JOIN und_b e ON e.src = r.id
  WHERE r.dist < 40
),
d AS (SELECT id, min(dist) AS dist FROM reach GROUP BY id),
p AS (
  SELECT v.id, v.dist, min(u.dst) AS parent
  FROM d v JOIN und_b u ON u.src = v.id
  JOIN d w ON w.id = u.dst AND w.dist = v.dist - 1
  GROUP BY v.id, v.dist)
SELECT v.id, CAST(v.dist AS BIGINT) AS dist,
       CAST(coalesce(p.parent, -1) AS BIGINT) AS parent
FROM d v LEFT JOIN p ON p.id = v.id
"""

REGISTRY["bfs_parents"] = (q_bfs_parents, BFS_PARENTS_SQL)


def q_bipartite_projection(spark, sf_dir):
    """Bipartite projection of the user×event-type graph onto event
    types: co-occurrence weight = #users having done both (the classic
    two-mode → one-mode projection, e.g. query co-click graphs)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ut = ev.select("user_id", "event_type").distinct()
    a = ut.withColumnRenamed("event_type", "type_a")
    b = ut.withColumnRenamed("event_type", "type_b")
    return (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_users"))
    )


BIPARTITE_PROJ_SQL = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(count(*) AS BIGINT) AS shared_users
FROM ut a JOIN ut b ON b.user_id = a.user_id
WHERE a.event_type < b.event_type
GROUP BY 1, 2
"""

REGISTRY["bipartite_projection"] = (q_bipartite_projection, BIPARTITE_PROJ_SQL)


def q_source_profile(spark, sf_dir):
    """Per-source corpus profile: docs, chars, distinct languages and
    exact-dup docs per `source` — the per-provider data-quality ledger
    used to decide source-level inclusion/weights."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        (F.count(F.lit(1)) - F.countDistinct("text")).cast("long")
        .alias("exact_dup_docs"),
    )


SOURCE_PROFILE_SQL = """
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(count(*) - count(DISTINCT text) AS BIGINT) AS exact_dup_docs
FROM documents GROUP BY source
"""

REGISTRY["source_profile"] = (q_source_profile, SOURCE_PROFILE_SQL)


def q_walk_visit_counts(spark, sf_dir):
    """Per-vertex visit histogram of the deterministic hash-walk corpus
    (the DeepWalk negative-sampling frequency table): vertex → how many
    times the 20×8 walk corpus visits it."""
    from ..algos.paths import random_walks

    walks = random_walks(
        edges_b(spark, sf_dir),
        starts=spark.createDataFrame([(i,) for i in range(20)], "id long"),
        length=8, directed=False, partitions=8,
    )
    return (
        walks.groupBy(F.col("v").cast("long").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("visits"))
    )


WALK_VISITS_SQL = (
    "WITH visits_base AS (\n" + _random_walks_sql(20, 8) + "\n)\n"
    "SELECT v, CAST(count(*) AS BIGINT) AS visits FROM visits_base GROUP BY v"
)

REGISTRY["walk_visit_counts"] = (q_walk_visit_counts, WALK_VISITS_SQL)


def q_ngram_novelty(spark, sf_dir):
    """Train/test n-gram novelty: splitting documents by doc_id parity,
    what fraction of the test half's distinct word-3-grams never occur
    in the train half (high novelty = low leakage; the complement of
    contamination).  One semi-join of two distinct-shingle sets."""
    from ..dedup import word_shingles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("s"))
    test = sh.filter(F.col("doc_id") % 2 == 1).select("s").distinct()
    train = sh.filter(F.col("doc_id") % 2 == 0).select("s").distinct()
    covered = test.join(train, "s", "left_semi")
    n_test = test.count()
    n_cov = covered.count()
    return spark.createDataFrame(
        [(n_test, n_cov)], "test_grams long, covered_grams long"
    ).select(
        "test_grams", "covered_grams",
        F.round((F.col("test_grams") - F.col("covered_grams"))
                .cast("double") * 1e6 / F.col("test_grams"))
        .cast("long").alias("novelty_e6"),
    )


def _novelty_sql() -> str:
    from ..dedup import word_shingles_sql

    sh = word_shingles_sql("text", 3)
    return f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id, unnest({sh}) AS s FROM documents),
test AS MATERIALIZED (SELECT DISTINCT s FROM sh WHERE doc_id % 2 = 1),
train AS MATERIALIZED (SELECT DISTINCT s FROM sh WHERE doc_id % 2 = 0),
m AS (SELECT CAST((SELECT count(*) FROM test) AS BIGINT) AS test_grams,
             CAST((SELECT count(*) FROM test t
                   WHERE EXISTS (SELECT 1 FROM train x WHERE x.s = t.s))
                  AS BIGINT) AS covered_grams)
SELECT test_grams, covered_grams,
       CAST(round(CAST(test_grams - covered_grams AS DOUBLE) * 1e6
                  / test_grams) AS BIGINT) AS novelty_e6
FROM m
"""


NOVELTY_SQL = _novelty_sql()

REGISTRY["ngram_novelty"] = (q_ngram_novelty, NOVELTY_SQL)


def q_partition_balance(spark, sf_dir):
    """Partition-balance diagnostic: rows per hash bucket (H60(src) mod
    32) of the derived edge table, plus each bucket's permille of total —
    the skew report consulted before pinning a partitioning."""
    from ..dedup import h60

    ea = edges_a(spark, sf_dir)
    b = ea.select((h60(F.col("src").cast("string")) % 32).alias("bucket"))
    tot = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("rows"))
    return tot.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("rows").cast("long").alias("rows"),
        F.round(F.col("rows").cast("double") * 1000
                / F.sum("rows").over(Window.partitionBy()))
        .cast("long").alias("permille"),
    )


PARTITION_BALANCE_SQL = f"""
WITH {EDGES_A_SQL},
b AS (SELECT CAST(('0x' || substr(md5(CAST(src AS VARCHAR)), 1, 15))
             AS BIGINT) % 32 AS bucket FROM edges_a),
t AS (SELECT bucket, count(*) AS rows_ FROM b GROUP BY bucket)
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(rows_ AS BIGINT) AS rows,
       CAST(round(rows_ * 1000.0 / (SELECT sum(rows_) FROM t)) AS BIGINT)
         AS permille
FROM t
"""

REGISTRY["partition_balance"] = (q_partition_balance, PARTITION_BALANCE_SQL)


def _hist_cdf(hist: DataFrame, val: str, cnt: str, shift: int = 20) -> DataFrame:
    """Exact cumulative counts ``(val, cum)`` over an integer histogram via
    the TWO-LEVEL CDF pattern: cumulative sums run inside windows
    PARTITIONED by a coarse value bucket (``val >> shift``), and the
    cross-bucket offsets come from a bucket-totals self-join broadcast back
    in.  No per-value row ever crosses a single-partition global window —
    the level-2 table has ~range/2^shift rows regardless of data size."""
    h = hist.withColumn(
        "_b", F.floor(F.col(val) / F.lit(1 << shift)).cast("long"))
    win = (Window.partitionBy("_b").orderBy(val)
           .rowsBetween(Window.unboundedPreceding, 0))
    within = h.withColumn("_wc", F.sum(cnt).over(win))
    btot = h.groupBy("_b").agg(F.sum(cnt).alias("_bc"))
    off = (
        btot.select(F.col("_b").alias("_ba"))
        .join(btot.select(F.col("_b").alias("_bb"), "_bc"),
              F.col("_bb") < F.col("_ba"), "left")
        .groupBy(F.col("_ba").alias("_b"))
        .agg(F.coalesce(F.sum("_bc"), F.lit(0)).alias("_off"))
    )
    return (
        within.join(F.broadcast(off), "_b")
        .select(val, (F.col("_wc") + F.col("_off")).alias("cum"))
    )


def q_interarrival_percentiles(spark, sf_dir):
    """Exact p50/p90/p99 of per-user event inter-arrival gaps (µs),
    via the engine's two-level histogram-CDF percentile pattern — latency/
    behavior distribution without a global sort or global window."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("gap", F.unix_micros(F.col("ts").cast("timestamp"))
                    - F.unix_micros(F.lag("ts").over(w).cast("timestamp")))
        .filter(F.col("gap").isNotNull())
        .select(F.col("gap").cast("long").alias("g"))
    )
    hist = gaps.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    cum = _hist_cdf(hist, "g", "c")
    n = gaps.agg(F.count(F.lit(1)).alias("n"))
    j = cum.crossJoin(F.broadcast(n))
    pick = lambda q: F.min(F.when(  # noqa: E731
        F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("g")))
    return j.agg(
        F.max("n").cast("long").alias("n"),
        pick(0.5).cast("long").alias("p50"),
        pick(0.9).cast("long").alias("p90"),
        pick(0.99).cast("long").alias("p99"),
    )


INTERARRIVAL_SQL = """
WITH g AS (
  SELECT epoch_us(ts) - epoch_us(lag(ts) OVER w) AS g
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
gaps AS (SELECT g FROM g WHERE g IS NOT NULL),
hist AS (SELECT g, count(*) AS c FROM gaps GROUP BY g),
cum AS (SELECT g, sum(c) OVER (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING
        AND CURRENT ROW) AS cum FROM hist),
n AS (SELECT count(*) AS n FROM gaps)
SELECT CAST(max(n.n) AS BIGINT) AS n,
       CAST(min(CASE WHEN cum >= ceil(0.5 * n.n) THEN g END) AS BIGINT) AS p50,
       CAST(min(CASE WHEN cum >= ceil(0.9 * n.n) THEN g END) AS BIGINT) AS p90,
       CAST(min(CASE WHEN cum >= ceil(0.99 * n.n) THEN g END) AS BIGINT) AS p99
FROM cum CROSS JOIN n
"""

REGISTRY["interarrival_percentiles"] = (
    q_interarrival_percentiles, INTERARRIVAL_SQL)


def q_dedup_agreement(spark, sf_dir):
    """Dedup-method agreement: of the MinHash-LSH near-dup pairs whose
    both documents have embeddings, what fraction the banded
    embedding-cosine detector also flags — the cross-validation number
    quoted when choosing a dedup stack."""
    from .. import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mh = dedup.minhash_lsh_pairs(
        docs, num_hashes=16, bands=8, jaccard_threshold=0.5
    ).select("id_a", "id_b")
    en = dedup.embedding_near_dup_banded(emb, threshold=0.45) \
        .select("id_a", "id_b")
    ids = emb.select(F.col("vec_id").alias("id")).distinct()
    mh_emb = (
        mh.join(ids.withColumnRenamed("id", "id_a"), "id_a", "left_semi")
        .join(ids.withColumnRenamed("id", "id_b"), "id_b", "left_semi")
    )
    n_mh = mh_emb.count()
    n_both = mh_emb.join(en, ["id_a", "id_b"], "left_semi").count()
    return spark.createDataFrame(
        [(n_mh, n_both)], "mh_pairs_with_emb long, both_flagged long"
    ).select(
        "mh_pairs_with_emb", "both_flagged",
        F.when(F.col("mh_pairs_with_emb") > 0,
               F.round(F.col("both_flagged").cast("double") * 1e6
                       / F.col("mh_pairs_with_emb")))
        .otherwise(F.lit(0)).cast("long").alias("agree_e6"),
    )


def _dedup_agreement_sql() -> str:
    from .. import dedup

    mh = dedup.minhash_lsh_pairs_sql(num_hashes=16, bands=8,
                                     jaccard_threshold=0.5)
    en = dedup.embedding_near_dup_banded_sql(threshold=0.45)
    return f"""
WITH mh AS MATERIALIZED ({mh}),
en AS MATERIALIZED ({en}),
ids AS (SELECT DISTINCT vec_id AS id FROM embeddings),
mhe AS MATERIALIZED (
  SELECT m.id_a, m.id_b FROM mh m
  WHERE EXISTS (SELECT 1 FROM ids i WHERE i.id = m.id_a)
    AND EXISTS (SELECT 1 FROM ids i WHERE i.id = m.id_b)),
m AS (SELECT CAST((SELECT count(*) FROM mhe) AS BIGINT) AS mh_pairs_with_emb,
             CAST((SELECT count(*) FROM mhe x
                   WHERE EXISTS (SELECT 1 FROM en e
                                 WHERE e.id_a = x.id_a AND e.id_b = x.id_b))
                  AS BIGINT) AS both_flagged)
SELECT mh_pairs_with_emb, both_flagged,
       CAST(CASE WHEN mh_pairs_with_emb > 0 THEN
              round(CAST(both_flagged AS DOUBLE) * 1e6 / mh_pairs_with_emb)
            ELSE 0 END AS BIGINT) AS agree_e6
FROM m
"""


DEDUP_AGREEMENT_SQL = _dedup_agreement_sql()

REGISTRY["dedup_agreement"] = (q_dedup_agreement, DEDUP_AGREEMENT_SQL)


def q_stream_attribution(spark, sf_dir):
    """Stream-stream interval join (view→purchase attribution within 1h,
    both sides watermarked, append mode) drained with availableNow —
    must equal the batch interval join exactly."""
    from .. import streaming

    return streaming.stream_attribution(
        spark, f"{sf_dir}/events.parquet", sink_table="q_stream_attr")


STREAM_ATTRIBUTION_SQL = """
SELECT b.user_id, v.event_id AS view_event, b.event_id AS buy_event
FROM events v JOIN events b
  ON v.user_id = b.user_id
 AND v.event_type = 'view' AND b.event_type = 'purchase'
 AND v.ts BETWEEN b.ts - INTERVAL 1 HOUR AND b.ts
"""

REGISTRY["stream_attribution"] = (q_stream_attribution, STREAM_ATTRIBUTION_SQL)


def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5-shaped 6-table star join: revenue by nation where the
    customer's and supplier's nations match, restricted to one region —
    dimension tables (region, nation) broadcast, facts shuffle on their
    join keys.  Revenue terms e2-quantized per row before the integer
    sum (engine-order-proof)."""
    rd = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")  # noqa: E731
    rev = F.round(F.col("l_extendedprice")
                  * (1 - F.col("l_discount")) * 100).cast("long")
    j = (
        rd("customer")
        .join(rd("orders"), F.col("o_custkey") == F.col("c_custkey"))
        .join(rd("lineitem"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(rd("supplier"),
              (F.col("s_suppkey") == F.col("l_suppkey"))
              & (F.col("s_nationkey") == F.col("c_nationkey")))
        .join(F.broadcast(rd("nation")),
              F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(rd("region")),
              F.col("r_regionkey") == F.col("n_regionkey"))
        .filter(F.col("r_name") == "ASIA")
    )
    return (
        j.groupBy("n_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_items"),
             F.sum(rev).cast("long").alias("revenue_e2"))
    )


LOCAL_SUPPLIER_SQL = """
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_e2
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
              AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
"""

REGISTRY["local_supplier_volume"] = (
    q_local_supplier_volume, LOCAL_SUPPLIER_SQL)


def q_graph_center(spark, sf_dir):
    """Graph center + radius of the undirected derived graph B: run the
    composite-key multi-source BFS from EVERY vertex, restrict to the
    giant component (max reached count), output the vertices whose
    eccentricity equals the radius — "the most central hosts".  Guarded:
    refuses > EXACT_DIAG_MAX_SOURCES sources (scale path: HyperBall)."""
    from ..algos.gcommon import vertex_set
    from ..algos.paths import closeness_centrality

    eb = edges_b(spark, sf_dir)
    verts_all = vertex_set(eb)
    _guard_exact_all_sources(verts_all.count(), "graph_center")
    cc = closeness_centrality(eb, sources=verts_all, directed=False,
                              partitions=8).select("s", "reached", "ecc")
    mx = cc.agg(F.max("reached").alias("m"))
    giant = cc.crossJoin(F.broadcast(mx)).filter(F.col("reached") == F.col("m"))
    rad = giant.agg(F.min("ecc").alias("radius"))
    return (
        giant.crossJoin(F.broadcast(rad))
        .filter(F.col("ecc") == F.col("radius"))
        .select(F.col("s").cast("long").alias("id"),
                F.col("radius").cast("long").alias("radius"))
    )


GRAPH_CENTER_SQL = f"""
WITH RECURSIVE {EDGES_B_SQL}, {UND_B_SQL},
srcs AS (SELECT DISTINCT src AS s FROM und_b),
walk(s, v, d) AS (
  SELECT s, s AS v, 0 AS d FROM srcs
  UNION
  SELECT w.s, e.dst, w.d + 1 FROM walk w JOIN und_b e ON e.src = w.v
  WHERE w.d < 40
),
md AS (SELECT s, v, min(d) AS d FROM walk GROUP BY s, v),
ecc AS (SELECT s, count(*) AS reached, max(d) AS ecc FROM md GROUP BY s),
m AS (SELECT max(reached) AS m FROM ecc),
giant AS (SELECT e.s, e.ecc FROM ecc e CROSS JOIN m WHERE e.reached = m.m),
rad AS (SELECT min(ecc) AS radius FROM giant)
SELECT g.s AS id, CAST(r.radius AS BIGINT) AS radius
FROM giant g CROSS JOIN rad r WHERE g.ecc = r.radius
"""

REGISTRY["graph_center"] = (q_graph_center, GRAPH_CENTER_SQL)


def _median_hist(df, col):
    """Exact median of an integer column via the two-level histogram-CDF
    pattern (_hist_cdf) — no single-partition window at any size."""
    hist = df.groupBy(F.col(col).alias("x")).agg(F.count(F.lit(1)).alias("c"))
    cum = _hist_cdf(hist, "x", "c")
    n = df.count()
    import math
    pos = math.ceil(0.5 * n)
    return (
        cum.filter(F.col("cum") >= pos)
        .agg(F.min("x").alias("m")).collect()[0]["m"]
    ), n


def q_length_outliers(spark, sf_dir):
    """Robust doc-length outlier filter: median + MAD via two exact
    histogram-CDF passes (no global sort, no mean/stddev fragility),
    flagging docs with |n_chars − med| > 3·1.4826·MAD (integer-exact
    comparison: |x−med|·1e6 > 4447800·MAD) — the C4-style
    length-anomaly gate."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    med, _ = _median_hist(docs.select("n_chars"), "n_chars")
    dev = docs.select(F.abs(F.col("n_chars") - F.lit(med)).alias("d"))
    mad, _ = _median_hist(dev, "d")
    return docs.select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"),
        F.lit(int(med)).cast("long").alias("median"),
        F.lit(int(mad)).cast("long").alias("mad"),
        (F.abs(F.col("n_chars") - F.lit(med)) * 1_000_000
         > F.lit(4_447_800) * F.lit(int(mad))).alias("outlier"),
    )


LENGTH_OUTLIERS_SQL = """
WITH n AS (SELECT count(*) AS n FROM documents),
h1 AS (SELECT n_chars AS x, count(*) AS c FROM documents GROUP BY 1),
c1 AS (SELECT x, sum(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
       AND CURRENT ROW) AS cum FROM h1),
med AS (SELECT min(x) AS m FROM c1 CROSS JOIN n WHERE cum >= ceil(0.5 * n.n)),
dev AS (SELECT abs(n_chars - (SELECT m FROM med)) AS d FROM documents),
h2 AS (SELECT d AS x, count(*) AS c FROM dev GROUP BY 1),
c2 AS (SELECT x, sum(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
       AND CURRENT ROW) AS cum FROM h2),
mad AS (SELECT min(x) AS m FROM c2 CROSS JOIN n WHERE cum >= ceil(0.5 * n.n))
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST((SELECT m FROM med) AS BIGINT) AS median,
       CAST((SELECT m FROM mad) AS BIGINT) AS mad,
       abs(n_chars - (SELECT m FROM med)) * 1000000
         > 4447800 * (SELECT m FROM mad) AS outlier
FROM documents
"""

REGISTRY["length_outliers"] = (q_length_outliers, LENGTH_OUTLIERS_SQL)


def q_dedup_keep_list(spark, sf_dir):
    """The dedup ACTION: one canonical representative (min doc_id) per
    near-dup cluster, all singleton docs kept — emits every kept doc_id
    plus the corpus sizes, i.e. the actual filtered-corpus manifest."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    clusters = q_dedup_clusters(spark, sf_dir)  # (doc_id, cluster)
    drop = (
        clusters.groupBy("cluster").agg(F.min("doc_id").alias("keep"))
        .join(clusters, "cluster")
        .filter(F.col("doc_id") != F.col("keep"))
        .select("doc_id")
    )
    return (
        docs.select("doc_id")
        .join(drop, "doc_id", "left_anti")
        .select(F.col("doc_id").cast("long").alias("doc_id"))
    )


def _dedup_keep_sql() -> str:
    inner = _dedup_clusters_sql()
    return f"""
WITH cl AS MATERIALIZED ({inner}),
keepers AS (SELECT cluster, min(doc_id) AS keep FROM cl GROUP BY cluster),
drop_ AS (SELECT c.doc_id FROM cl c JOIN keepers k ON k.cluster = c.cluster
          WHERE c.doc_id <> k.keep)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM drop_)
"""


DEDUP_KEEP_SQL = _dedup_keep_sql()

REGISTRY["dedup_keep_list"] = (q_dedup_keep_list, DEDUP_KEEP_SQL)


def q_cocitation_coupling(spark, sf_dir):
    """Co-citation (shared in-neighbors) and bibliographic coupling
    (shared out-neighbors) pair strengths ≥ 5 on the directed graph A —
    the classic directed related-page measures (Kessler 1963 / Small
    1973), full-outer merged so a pair strong on either axis appears."""
    ea = edges_a(spark, sf_dir)
    e1 = ea.select(F.col("src").alias("s"), F.col("dst").alias("x"))
    e2 = ea.select(F.col("src").alias("s2"), F.col("dst").alias("y"))
    cocite = (
        e1.join(e2, (F.col("s") == F.col("s2")) & (F.col("x") < F.col("y")))
        .groupBy(F.col("x").alias("a"), F.col("y").alias("b"))
        .agg(F.count(F.lit(1)).alias("cocitation"))
        .filter(F.col("cocitation") >= 5)
    )
    f1 = ea.select(F.col("src").alias("x"), F.col("dst").alias("d"))
    f2 = ea.select(F.col("src").alias("y"), F.col("dst").alias("d2"))
    coup = (
        f1.join(f2, (F.col("d") == F.col("d2")) & (F.col("x") < F.col("y")))
        .groupBy(F.col("x").alias("a"), F.col("y").alias("b"))
        .agg(F.count(F.lit(1)).alias("coupling"))
        .filter(F.col("coupling") >= 5)
    )
    return (
        cocite.join(coup, ["a", "b"], "full_outer")
        .select(
            "a", "b",
            F.coalesce("cocitation", F.lit(0)).cast("long").alias("cocitation"),
            F.coalesce("coupling", F.lit(0)).cast("long").alias("coupling"),
        )
    )


COCITATION_SQL = f"""
WITH {EDGES_A_SQL},
cocite AS (
  SELECT e1.dst AS a, e2.dst AS b, count(*) AS cocitation
  FROM edges_a e1 JOIN edges_a e2
    ON e1.src = e2.src AND e1.dst < e2.dst
  GROUP BY 1, 2 HAVING count(*) >= 5),
coup AS (
  SELECT e1.src AS a, e2.src AS b, count(*) AS coupling
  FROM edges_a e1 JOIN edges_a e2
    ON e1.dst = e2.dst AND e1.src < e2.src
  GROUP BY 1, 2 HAVING count(*) >= 5)
SELECT coalesce(c.a, p.a) AS a, coalesce(c.b, p.b) AS b,
       CAST(coalesce(c.cocitation, 0) AS BIGINT) AS cocitation,
       CAST(coalesce(p.coupling, 0) AS BIGINT) AS coupling
FROM cocite c FULL OUTER JOIN coup p ON p.a = c.a AND p.b = c.b
"""

REGISTRY["cocitation_coupling"] = (q_cocitation_coupling, COCITATION_SQL)


def q_embedding_norms(spark, sf_dir):
    """Embedding health: integer-exact squared L2 norm (e6-quantized
    coords → BIGINT sum of squares) + zero-vector flag per vector — the
    sanity pass run before any similarity work."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    xq = F.transform(F.col("embedding"),
                     lambda e: F.round(e.cast("double") * 1e6).cast("long"))
    sq = F.aggregate(xq, F.lit(0).cast("long"),
                     lambda acc, v: acc + v * v)
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        sq.alias("sq_norm_e12"),
        (sq == 0).alias("is_zero"),
    )


EMBEDDING_NORMS_SQL = """
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(list_sum(list_transform(embedding,
              e -> CAST(round(CAST(e AS DOUBLE) * 1e6) AS BIGINT)
                   * CAST(round(CAST(e AS DOUBLE) * 1e6) AS BIGINT)))
            AS BIGINT) AS sq_norm_e12,
       CAST(list_sum(list_transform(embedding,
              e -> CAST(round(CAST(e AS DOUBLE) * 1e6) AS BIGINT)
                   * CAST(round(CAST(e AS DOUBLE) * 1e6) AS BIGINT)))
            AS BIGINT) = 0 AS is_zero
FROM embeddings
"""

REGISTRY["embedding_norms"] = (q_embedding_norms, EMBEDDING_NORMS_SQL)


def q_walk_counts_from_seed(spark, sf_dir):
    """Number of directed walks of length exactly 3 from vertex 10 to
    every reachable vertex (graph B) — path-multiplicity relatedness
    (the A^k·e_s matrix power), exact integer supersteps."""
    eb = edges_b(spark, sf_dir)
    x = spark.createDataFrame([(10, 1)], "id long, w long")
    for _ in range(3):
        x = (
            eb.join(x.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("w").alias("w"))
        )
    return x.select("id", F.col("w").cast("long").alias("walks3"))


WALK_COUNTS_SQL = f"""
WITH {EDGES_B_SQL},
x0 AS (SELECT CAST(10 AS BIGINT) AS id, CAST(1 AS BIGINT) AS w),
x1 AS (SELECT e.dst AS id, sum(x.w) AS w FROM edges_b e
       JOIN x0 x ON x.id = e.src GROUP BY e.dst),
x2 AS (SELECT e.dst AS id, sum(x.w) AS w FROM edges_b e
       JOIN x1 x ON x.id = e.src GROUP BY e.dst),
x3 AS (SELECT e.dst AS id, sum(x.w) AS w FROM edges_b e
       JOIN x2 x ON x.id = e.src GROUP BY e.dst)
SELECT id, CAST(w AS BIGINT) AS walks3 FROM x3
"""

REGISTRY["walk_counts_from_seed"] = (
    q_walk_counts_from_seed, WALK_COUNTS_SQL)


# ---------------------------------------------------------------------------


# re-export everything (incl. underscore helpers) to the next
# module in the suite package chain and to suite/__init__.py
__all__ = [_n for _n in dir() if not _n.startswith('__')]
