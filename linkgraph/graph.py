"""LinkGraph: the engine's graph abstraction over an edge DataFrame.

The reference's ``Graph<EdgeData>`` (/root/reference/include/Graph.hpp:148-166)
is a partitioned edge array + bitmap-assisted CSR.  Here the edge table IS
the graph: a ``(src: long, dst: long [, weight: double])`` DataFrame
hash-partitioned on ``src``; the CSR overlay becomes an on-demand
"adjacency block" DataFrame (``groupBy(src).collect_list``), and degrees /
max-degree are grouped aggregations (reference: atomic-add degree pass,
/root/reference/src/Graph.cpp:450-474).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .algos.gcommon import canonical, norm_edges, vertex_set


class LinkGraph:
    """Directed edge table + cached derived structures.

    ``partitions`` pins the shuffle partitioning reused by every superstep
    join (the Spark analogue of the reference's fixed 1-D vertex-range
    partitioning, /root/reference/src/Graph.cpp:26-111).
    """

    def __init__(self, edges: DataFrame, vertices: DataFrame | None = None,
                 partitions: int = 32, weighted: bool = False):
        self.partitions = partitions
        self.weighted = weighted
        self.edges = edges.repartition(partitions, "src")
        self._vertices = vertices  # (id [, url]) or None -> derive from edges
        self._cache: dict[str, DataFrame] = {}

    # -- construction -----------------------------------------------------

    @classmethod
    def from_pages(cls, pages: DataFrame, partitions: int = 32) -> "LinkGraph":
        from . import ingest

        vmap, edges = ingest.ingest_pages(pages, partitions)
        return cls(edges, vertices=vmap, partitions=partitions)

    @classmethod
    def from_parquet(cls, spark, path: str, partitions: int = 32) -> "LinkGraph":
        return cls(spark.read.parquet(path), partitions=partitions)

    # -- derived structures ----------------------------------------------

    def vertices(self) -> DataFrame:
        """(id) — all vertex ids (explicit dictionary, else src ∪ dst)."""
        if "vertices" not in self._cache:
            if self._vertices is not None:
                v = self._vertices.select("id")
            else:
                v = vertex_set(self.edges)
            self._cache["vertices"] = v.persist()
        return self._cache["vertices"]

    def num_vertices(self) -> int:
        return self.vertices().count()

    def num_edges(self) -> int:
        return self.edges.count()

    def undirected_edges(self) -> DataFrame:
        """Symmetric closure (both directions), self-loops dropped, deduped.

        Mirrors the reference's both-directions CSR materialization
        (/root/reference/src/Graph.cpp:295-310).
        """
        if "und" not in self._cache:
            self._cache["und"] = norm_edges(self.edges, self.partitions).persist()
        return self._cache["und"]

    def oriented_edges(self) -> DataFrame:
        """Canonical undirected edge list with src < dst (each edge once)."""
        return canonical(self.edges).select(
            F.col("a").alias("src"), F.col("b").alias("dst"))

    def out_degrees(self) -> DataFrame:
        """(id, out_degree) over directed edges — groupBy partial-agg."""
        return self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("out_degree")
        )

    def in_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count(F.lit(1)).alias("in_degree")
        )

    def degrees(self) -> DataFrame:
        """(id, out_degree, in_degree, degree) for every vertex (0-filled)."""
        v = self.vertices()
        und_deg = self.undirected_edges().groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("degree")
        )
        return (
            v.join(self.out_degrees(), "id", "left")
            .join(self.in_degrees(), "id", "left")
            .join(und_deg, "id", "left")
            .select(
                "id",
                F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
                F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
                F.coalesce("degree", F.lit(0)).alias("degree"),
            )
        )

    def max_degree(self) -> int:
        row = self.degrees().agg(F.max("degree").alias("m")).collect()[0]
        return int(row["m"] or 0)

    # -- reference "table operators" --------------------------------------

    def sample_edges(self, fraction: float, seed: int = 1234) -> "LinkGraph":
        """Bernoulli edge sample — GraphSampler equivalent
        (/root/reference/src/Graph.cpp:624-780, default rate 0.05)."""
        return LinkGraph(
            self.edges.sample(fraction=fraction, seed=seed),
            vertices=self._vertices,
            partitions=self.partitions,
            weighted=self.weighted,
        )

    def vertex_induced_sample(self, num: int, seed: int = 1234) -> "LinkGraph":
        """Uniform sample of ``num`` distinct vertices + their induced edges
        — the sampling subsystem's ``Graph::sample``
        (/root/reference/sampling/Graph.cpp:128-156).

        The sampled vertex set is tiny relative to the graph, so both
        endpoint membership tests are BROADCAST semi-joins (no shuffle of
        the edge table).  Deterministic for a given seed: vertices ranked
        by a seeded hash, not by ``rand()``.
        """
        sv = (
            self.vertices().select("id")
            .withColumn("_h", F.xxhash64(F.col("id"), F.lit(seed)))
            .orderBy("_h")
            .limit(num)
            .select("id")
        )
        b = F.broadcast(sv)
        induced = (
            self.edges.join(b.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(b.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select(self.edges.columns)
        )
        return LinkGraph(induced, vertices=sv, partitions=self.partitions,
                         weighted=self.weighted)

    def union_with(self, other: "LinkGraph") -> "LinkGraph":
        """Merge two partial graphs (the reference's zipgraph join,
        /root/reference/sampling/Graph.cpp:95-122): union of edge sets."""
        cols = ["src", "dst"] + (["weight"] if self.weighted and other.weighted else [])
        edges = (
            self.edges.select(cols).union(other.edges.select(cols)).distinct()
        )
        return LinkGraph(edges, partitions=self.partitions,
                         weighted="weight" in cols)

    def filter_edges(self, predicate) -> "LinkGraph":
        """Predicate-filtered graph — GraphFilter equivalent
        (/root/reference/src/GraphFilters.cpp:17-177); Catalyst pushes the
        predicate into the scan."""
        return LinkGraph(
            self.edges.filter(predicate),
            vertices=self._vertices,
            partitions=self.partitions,
            weighted=self.weighted,
        )

    def unpersist(self) -> None:
        for df in self._cache.values():
            df.unpersist()
        self._cache.clear()


def edge_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """Crawl-to-crawl link delta: classify every distinct edge of two
    snapshots as ``added`` (new only), ``removed`` (old only) or ``kept``.

    One full-outer join on the (src, dst) key — both sides deduped first
    so the join is key-unique and the output has one row per edge.  At
    web scale both snapshots are parquet edge tables bucketed on src, so
    the join co-locates without a shuffle; the status column is a pure
    projection (whole-stage codegen).  This is the input to incremental
    recomputation (warm-start ``algos.pagerank.pagerank(...,
    initial_ranks=prev)`` after folding the added/removed sets in —
    the `incremental_pagerank` suite query's delta path).
    """
    o = old.select("src", "dst").dropDuplicates(["src", "dst"]) \
        .withColumn("_o", F.lit(1))
    n = new.select("src", "dst").dropDuplicates(["src", "dst"]) \
        .withColumn("_n", F.lit(1))
    return (
        o.join(n, ["src", "dst"], "full_outer")
        .select(
            "src", "dst",
            F.when(F.col("_o").isNull(), F.lit("added"))
            .when(F.col("_n").isNull(), F.lit("removed"))
            .otherwise(F.lit("kept")).alias("status"),
        )
    )


def ego_network(edges: DataFrame, seed: int, radius: int = 2) -> DataFrame:
    """k-hop ego network: the subgraph induced by vertices within
    ``radius`` undirected hops of ``seed``.

    The ball comes from ``radius`` capped supersteps of the Voronoi
    struct-min loop with a single seed (after r rounds the state holds
    exactly the vertices at distance ≤ r, each with its true distance);
    the induced edge set is two semi-joins of the undirected adjacency
    against the ball — the subgraph-extraction primitive for
    neighborhood audits ("show me everything within 2 clicks of this
    host").  Returns edges ``(src, dst)`` of the induced undirected
    subgraph (both orientations).
    """
    from .algos.voronoi import nearest_seed_partition

    spark = edges.sparkSession
    seeds = spark.createDataFrame([(int(seed),)], "id long")
    ball, _ = nearest_seed_partition(edges, seeds, max_rounds=radius)
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    return (
        und.join(ball.select(F.col("id").alias("src")), "src", "left_semi")
        .join(ball.select(F.col("id").alias("dst")), "dst", "left_semi")
        .select("src", "dst")
    )


def conditional_sample_vertex(
    vertices: DataFrame, min_exclusive: int, seed: int = 1234
) -> tuple[int | None, float]:
    """Uniform vertex with id strictly greater than ``min_exclusive`` —
    the reference's ordering-trick primitive ``conditional_sample_vertex``
    (/root/reference/src/ZGraphInstance.cpp:336-350), which keeps
    multi-vertex samples canonical (ascending ids) so each unordered set
    is drawn exactly once.

    Returns ``(vertex, 1/|pool|)`` or ``(None, 0.0)`` on an empty pool.
    Deterministic for a given seed: the pick is the min seeded hash over
    the pool (same convention as LinkGraph.vertex_induced_sample), not
    an RNG.

    This is the DRIVER-SIDE one-shot form over an arbitrary vertex-id
    pool (one pick per call, exact 1/|pool| probability).  Its
    distributed twin — one pick PER ESTIMATOR ROW as a pure column draw
    over the dense id suffix [min_vid, V), for estimator pipelines —
    is ``algos.triangles.conditional_sample_vertex``; same reference
    primitive, different execution shape."""
    pool = vertices.select("id").filter(F.col("id") > min_exclusive)
    n = pool.count()
    if n == 0:
        return None, 0.0
    row = (
        pool.withColumn("_h", F.xxhash64(F.col("id"), F.lit(seed)))
        .orderBy("_h").limit(1).collect()[0]
    )
    return int(row["id"]), 1.0 / n


def link_prediction_pairs(
    edges: DataFrame,
    num_vertices: int,
    k: int = 3,
    seed: int = 9,
    oversample_extra: int = 4,
) -> DataFrame:
    """Training pairs for link prediction: every input edge with
    label 1 plus, per distinct source, ``k`` deterministic NEGATIVE
    examples (label 0) — vertices not adjacent to the source in either
    direction.  The negatives are hash draws (h60(seed||src||i) mod V,
    2k+oversample_extra candidates, first-i dedup, anti-join against the
    symmetric edge set, first k by draw index), so the output is
    bit-identical across engines, partitionings and reruns — the
    graph-to-training-data step of an embedding / GNN pipeline.

    Requires a DENSE 0..num_vertices-1 id space (what ingest.dense_ids
    produces) so the modulo draw lands on real vertices.

    100-TB plan: candidates = |sources|*(2k+extra) rows (explode, no
    Python); the anti-join is one shuffle on (src, dst) against the edge
    set; per-source windows hold <= 2k+extra rows.  A source adjacent to
    nearly all V can fall short of k — at that degree/V ratio negative
    sampling itself is ill-posed; callers check counts."""
    n_cand = 2 * k + oversample_extra
    from .dedup import h60

    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    srcs = edges.select("src").distinct()
    cand = srcs.withColumn(
        "i", F.explode(F.sequence(F.lit(1), F.lit(n_cand)))
    ).withColumn(
        "dst",
        h60(
            F.concat(
                F.lit(f"neg{seed}:"),
                F.col("src").cast("string"),
                F.lit(":"),
                F.col("i").cast("string"),
            )
        )
        % num_vertices,
    ).filter(F.col("dst") != F.col("src"))
    # first-i dedup of repeated draws, then keep the k earliest non-edges
    cd = cand.groupBy("src", "dst").agg(F.min("i").alias("i"))
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy("i")
    neg = (
        cd.join(sym, ["src", "dst"], "left_anti")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("src", "dst", F.lit(0).cast("long").alias("label"))
    )
    pos = edges.select(
        "src", "dst", F.lit(1).cast("long").alias("label")
    )
    return pos.unionByName(neg)


def feature_propagation(
    edges: DataFrame, vertices: DataFrame, hops: int = 2
) -> DataFrame:
    """GNN-preprocessing feature propagation: seed every vertex with its
    symmetric degree (x0), then ``hops`` rounds of neighbor-MEAN
    aggregation over the undirected adjacency, RE-QUANTIZED to e6
    integers after every hop (exactly like the PageRank superstep state)
    so no float ever accumulates in engine- or partition-specific order.
    Isolated vertices aggregate to 0.  Returns
    (id, x0, x1_e6, x2_e6, ...) — the input features a downstream
    GraphSAGE-style model trains on.

    100-TB plan: one shuffle per hop (neighbor join + grouped avg with
    map-side partials), state is one integer per vertex; hub skew is the
    same salted-adjacency territory as PageRank (gate uses the plain
    join — AQE splits the hot keys)."""
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=True)  # reused every hop: cut lineage
    x = vertices.select("id").join(
        sym.groupBy(F.col("src").alias("id")).agg(
            F.count("*").cast("long").alias("x")
        ),
        "id",
        "left",
    ).select("id", F.coalesce("x", F.lit(0)).alias("x"))
    out = x.select("id", F.col("x").alias("x0"))
    for h in range(1, hops + 1):
        nb = sym.join(
            x.select(F.col("id").alias("dst"), F.col("x").alias("_nx")), "dst"
        )
        agg = nb.groupBy(F.col("src").alias("id")).agg(
            F.round(F.avg("_nx") * (1_000_000 if h == 1 else 1))
            .cast("long")
            .alias("x")
        )
        x = vertices.select("id").join(agg, "id", "left").select(
            "id", F.coalesce("x", F.lit(0)).alias("x")
        ).localCheckpoint(eager=True)  # next hop + output read this twice
        out = out.join(x.select("id", F.col("x").alias(f"x{h}_e6")), "id")
    return out


def neighbor_sample(edges: DataFrame, k: int,
                    directed: bool = True) -> DataFrame:
    """Deterministic per-vertex k-neighbor sample — the GraphSAGE-style
    minibatch fan-out primitive (Hamilton et al., NeurIPS'17): each
    vertex keeps its k neighbors with the smallest h60(src:dst) draw, so
    the sample is a uniform-without-replacement choice that is stable
    across runs, partitionings, and engines.

    Returns (src, dst, draw_rank) with draw_rank in 1..k.

    Scale: one window keyed by src — per-key work is bounded by vertex
    degree; hub vertices are the same skew PageRank handles, and a
    production fan-out would pre-split hubs the way
    ``adjacency_blocks`` salts them.  No global sort, no collect."""
    from pyspark.sql import Window

    from .dedup import h60

    e = edges.select("src", "dst")
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    draw = h60(F.concat(F.col("src").cast("string"), F.lit(":"),
                        F.col("dst").cast("string")))
    w = Window.partitionBy("src").orderBy(draw.asc(), F.col("dst").asc())
    return (
        e.select("src", "dst", F.row_number().over(w).alias("draw_rank"))
        .filter(F.col("draw_rank") <= k)
        .select("src", "dst", F.col("draw_rank").cast("long").alias("draw_rank"))
    )


def neighbor_sample_sql(k: int, edges_cte: str = "edges_b") -> str:
    from .dedup import h60_sql

    draw = h60_sql("CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)")
    return f"""
SELECT src, dst, CAST(draw_rank AS BIGINT) AS draw_rank
FROM (SELECT src, dst,
             row_number() OVER (PARTITION BY src
                                ORDER BY {draw} ASC, dst ASC) AS draw_rank
      FROM {edges_cte})
WHERE draw_rank <= {k}
"""


def gnn_training_batch(
    edges: DataFrame, seeds: DataFrame, features: DataFrame, k: int = 5
) -> DataFrame:
    """Assemble per-seed GNN training minibatches: the sampled 2-hop
    neighborhood (:func:`neighbor_sample` at fan-out ``k``) joined with
    propagated vertex features (:func:`feature_propagation` output),
    flattened into the PADDED fixed-shape tensor a trainer consumes —
    exactly ``1 + k + k**2`` rows per seed:

      * hop 0, slot 0 — the seed itself;
      * hop 1, slot r (1..k) — the r-th sampled neighbor;
      * hop 2, slot (r1-1)*k + r2 (1..k*k) — the r2-th sampled neighbor
        of the hop-1 slot-r1 vertex.

    Slots with no sampled vertex (degree < k anywhere in the tree) carry
    ``nbr_id = -1`` and zero features, so every seed's rows reshape to
    the same [1 + k + k^2, n_features] tensor with -1 as the pad mask.
    Returns (seed, hop, slot, nbr_id, x0, x1_e6, x2_e6), deterministic
    (hash-draw sampling) across engines/partitionings/reruns.

    100-TB plan: the slot template is an explode over seeds (no Python);
    each hop is one equi-join against the degree-bounded neighbor-sample
    table; the feature join is one shuffle keyed by vertex id.  Output
    is exactly seeds x (1+k+k^2) rows regardless of graph size — the
    minibatch, not the graph, bounds every stage after the sample."""
    ns = neighbor_sample(edges, k, directed=False)
    s = seeds.select(F.col("id").cast("long").alias("seed"))
    h1 = s.join(ns, s["seed"] == ns["src"]).select(
        "seed", F.col("draw_rank").alias("r1"), F.col("dst").alias("n1")
    )
    h2 = h1.join(ns, h1["n1"] == ns["src"]).select(
        "seed", "r1", F.col("draw_rank").alias("r2"),
        F.col("dst").alias("n2"),
    )
    actual = (
        s.select("seed", F.lit(0).cast("long").alias("idx"),
                 F.col("seed").alias("nbr"))
        .unionByName(h1.select(
            "seed", F.col("r1").cast("long").alias("idx"),
            F.col("n1").alias("nbr")))
        .unionByName(h2.select(
            "seed",
            (F.lit(k) + (F.col("r1") - 1) * k + F.col("r2"))
            .cast("long").alias("idx"),
            F.col("n2").alias("nbr")))
    )
    tmpl = s.select(
        "seed",
        F.explode(F.sequence(F.lit(0).cast("long"),
                             F.lit(k + k * k).cast("long"))).alias("idx"),
    )
    f = features.select(
        F.col("id").alias("nbr"), "x0", "x1_e6", "x2_e6")
    return (
        tmpl.join(actual, ["seed", "idx"], "left")
        .join(f, "nbr", "left")
        .select(
            "seed",
            F.when(F.col("idx") == 0, 0)
            .when(F.col("idx") <= k, 1)
            .otherwise(2).cast("long").alias("hop"),
            F.when(F.col("idx") <= k, F.col("idx"))
            .otherwise(F.col("idx") - k).cast("long").alias("slot"),
            F.coalesce(F.col("nbr"), F.lit(-1)).cast("long")
            .alias("nbr_id"),
            F.coalesce(F.col("x0"), F.lit(0)).cast("long").alias("x0"),
            F.coalesce(F.col("x1_e6"), F.lit(0)).cast("long")
            .alias("x1_e6"),
            F.coalesce(F.col("x2_e6"), F.lit(0)).cast("long")
            .alias("x2_e6"),
        )
    )
