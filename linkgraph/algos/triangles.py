"""Triangle counting: exact (self-joins) and sampled (ASAP neighborhood sampling).

Exact: canonical-oriented edge list (src < dst, each undirected edge once),
two-way self-join on the middle vertex + closure semi-join — the Spark form
of /root/reference/naive_implementation/TriangleCounting.cpp:44-70 and
/root/reference/sampling/Graph.cpp:185-210.  Catalyst/AQE pick the join
strategy; the join keys are the natural hash-partitioning.

Sampled: the reference's core capability (ASAP estimators,
/root/reference/applications/Triangle.cpp:42-74).  Estimator semantics:
  1. e1 = uniform random edge (prob 1/m)              -> weight m
  2. e2 = uniform among adjacency entries of e1's endpoints with
     edge_id > id(e1), c candidates (prob 1/c)        -> weight m*c
     (core_conditional_sample_edge, /root/reference/src/ZGraphInstance.cpp:127-222)
  3. success iff the closing third edge exists with edge_id > id(e2)
     (conditional_close, /root/reference/src/ZGraphInstance.cpp:371-441)
Each triangle is counted exactly once (its edges in random-order sequence),
so E[estimate] = triangle count.  edge_id is a uniform random total order —
here a seeded xxhash64 of the canonical edge, replacing the reference's
shuffled-array position (/root/reference/src/Graph.cpp:218-231).

The whole estimator population is ONE DataFrame flowing through joins and
grouped aggregations — no per-row Python, no driver loop.

Determinism: ALL randomness is hash-derived (xxhash64 of the row's own
identifying columns + the seed) rather than ``F.rand`` — ``F.rand`` seeds
per PARTITION, so its draws change with the partition layout (core count,
AQE coalescing), while a hash of row content is a pure function of the
data.  A fixed seed therefore reproduces the exact same estimate on
local[4] and on a 1000-executor cluster, which is what lets the driver's
DuckDB gate hash-check the estimators' ``within_eps`` output
(the reference gets the same property from its globally-consistent seed,
/root/reference/applications/Triangle2.cpp:42-44).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .gcommon import DEFAULT_BLOCK_SIZE, hub_split

_U_DENOM = float(1 << 40)


def _u(*cols: Column | str, seed: int) -> Column:
    """Deterministic uniform in [0, 1): 40 low bits of xxhash64(cols, seed).
    A pure column function of the row — partition-layout independent."""
    h = F.xxhash64(*cols, F.lit(seed))
    return F.pmod(h, F.lit(1 << 40)).cast("double") / F.lit(_U_DENOM)


def _pick_mod(col: Column | str, m: int, seed: int) -> Column:
    """Deterministic uniform integer in [0, m): xxhash64 mod m (modulo bias
    ~m/2^64 — immaterial)."""
    return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(int(m))).cast("long")


def conditional_sample_vertex(
    est: DataFrame,
    num_vertices: int,
    key: str = "est_id",
    min_col: str = "min_vid",
    seed: int = 42,
) -> DataFrame:
    """Vertex-anchored conditional sample over the estimator DataFrame —
    the Spark twin of the reference's ``conditional_sample_vertex``
    (/root/reference/src/ZGraphInstance.cpp:336-350), closing SURVEY §2.3.

    Reference semantics: given a partial subgraph whose ordering constraint
    is ``min_valid_vertex_id``, draw a uniform vertex from the ordered
    id-suffix ``[min_valid_vertex_id, V)`` and return it with probability
    ``1/(V - min_valid_vertex_id)``; when the suffix is empty it returns
    probability -1, i.e. a zero-weight trial.

    Here: each ``est`` row carries its constraint in ``min_col``; the
    result keeps all input columns and adds ``v`` (the sampled vertex,
    uniform over ``[min_col, num_vertices)``) and ``inv_prob`` (the
    importance weight ``num_vertices - min_col``).  Empty-suffix rows are
    DROPPED — by the estimator convention used throughout this module,
    dropped trials contribute zero to the weighted sum while the divisor
    stays the estimator count, exactly the reference's -1 contract.

    Determinism: the draw is ``xxhash64(key, seed) mod range`` — a pure
    column function of the row (see the module docstring), so a fixed
    seed reproduces identical picks at any parallelism.  No shuffle: one
    narrow projection + filter.

    (No shipped estimator needs this — the reference's own applications
    are all edge-anchored via SamplerGenerator — but the primitive is the
    §2.3 inventory's last row; property-tested in tests/test_round5.py.)

    This is the DISTRIBUTED per-estimator-row form (one column draw per
    row, dense ids assumed).  The driver-side one-shot form over an
    arbitrary id pool is ``graph.conditional_sample_vertex`` — same
    reference primitive, different execution shape.
    """
    n = F.lit(int(num_vertices)).cast("long")
    rng = (n - F.col(min_col).cast("long"))
    picked = F.col(min_col).cast("long") + F.pmod(
        F.xxhash64(key, F.lit(seed)), rng
    )
    return (
        est.filter(rng > 0)
        .select("*", picked.alias("v"), rng.cast("double").alias("inv_prob"))
    )


def _oriented(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge list, oriented by vertex ID (a < b).

    This is the edge-IDENTITY canonicalization (each undirected edge
    exactly once) used by the sampled estimators for uniform edge picks
    and closure probes — NOT the wedge-generation orientation.  Wedge
    machinery must use :func:`degree_ranked_oriented` instead: id
    orientation gives a degree-d hub ~d/2 out-neighbors, so wedge
    generation costs Σ C(d/2, 2) — the classic O(d²) hub blow-up."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def degree_ranked_oriented(
    edges: DataFrame, rank: DataFrame | None = None
) -> DataFrame:
    """Each undirected edge once as (lo, hi, dlo, dhi), oriented low→high
    by the (degree, id) total order — the standard degree-ordered
    orientation for hub-safe wedge generation.

    With this orientation a vertex's OUT-degree (its count of higher-rank
    neighbors) is O(√m) on any graph: a vertex with h neighbors of rank
    above its own has degree ≥ h, and each such neighbor also has degree
    ≥ h, so h² ≤ Σ deg = 2m.  Wedge generation from the low endpoint
    therefore costs Σ_v C(out(v), 2) = O(m^1.5) total — versus the
    unbounded Σ C(d/2, 2) of id orientation on a power-law web graph
    (a 10^7-degree hub would otherwise emit ~10^13 wedge rows from one
    task's join key).  Same counting semantics: (degree, id) is a total
    order, so every triangle/wedge is still generated exactly once.

    Cost of the ranking itself: one V-row degree aggregation (map-side
    combinable) plus two E-row hash joins against it — a one-time linear
    pass, paid before the superlinear wedge stage it bounds.

    ``rank`` (id, d) supplies a precomputed STATIC order (e.g. the k-truss
    peel computes initial degrees once and reuses them every round — any
    fixed total order generates each wedge exactly once); None computes
    the degrees of ``edges`` itself.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    deg = rank
    if deg is None:
        deg = (
            und.select(F.col("a").alias("id"))
            .union(und.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("d"))
        )
    # shuffle-hash hints: measured faster than letting the planner choose
    # (interleaved A/B at sf0.1: ~5.1s vs ~6.9s per triangle count), and
    # at web scale they keep the two one-time E-row joins off the
    # sort-merge path; the build side is the V-row degree table
    j = und.join(
        deg.select(F.col("id").alias("a"), F.col("d").alias("da")).hint(
            "shuffle_hash"
        ),
        "a",
    ).join(
        deg.select(F.col("id").alias("b"), F.col("d").alias("db")).hint(
            "shuffle_hash"
        ),
        "b",
    )
    a_low = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return j.select(
        F.when(a_low, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_low, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(a_low, F.col("da")).otherwise(F.col("db")).alias("dlo"),
        F.when(a_low, F.col("db")).otherwise(F.col("da")).alias("dhi"),
    )


def _rank_lt(d1: Column, v1: Column, d2: Column, v2: Column) -> Column:
    """(degree, id) total-order comparison: rank(v1) < rank(v2)."""
    return (d1 < d2) | ((d1 == d2) & (v1 < v2))


def _blocked_sym_adjacency(
    sym: DataFrame, elem: Column, block_size: int = DEFAULT_BLOCK_SIZE
) -> DataFrame:
    """Hub-split blocked adjacency over a prepared symmetric view ``sym``
    (columns ``x`` = anchor vertex, ``w`` = neighbor id, plus any payload
    columns ``elem`` reads): returns ``(x, bi, nbrs sorted array)`` rows
    with per-row arrays bounded by ~``block_size`` — ``gcommon.hub_split``,
    the core ``adjacency_blocks`` is built on.

    ``elem`` is the per-neighbor element expression collected into the
    arrays — ``F.col("w")`` for plain neighbor lists,
    ``F.struct("eid", "w")`` for the multiplan sampler's edge-id-carrying
    variant; ONE implementation serves both.

    Determinism: arrays are sorted within a block and blocks are keyed by
    the deterministic ``bi``, so a two-level pick (global index ->
    bi-ordered block offsets, see _two_level_pick) is a pure function of
    the data at any partition layout.
    """
    return hub_split(sym, "x", "w", elem, block_size)[0].select("x", "bi", "nbrs")


def _blocked_adjacency(
    o: DataFrame, block_size: int = DEFAULT_BLOCK_SIZE
) -> DataFrame:
    """Plain-neighbor blocked adjacency of the canonical edge list ``o``
    (a, b): symmetric view + _blocked_sym_adjacency with ``elem = w``."""
    sym = o.select(F.col("a").alias("x"), F.col("b").alias("w")).union(
        o.select(F.col("b").alias("x"), F.col("a").alias("w"))
    )
    return _blocked_sym_adjacency(sym, F.col("w"), block_size)


def _two_level_pick(
    rows: DataFrame,
    key: str,
    cand_col: Column,
    r: Column,
    cname: str,
    ename: str,
    order_cols: tuple = ("bi",),
) -> DataFrame:
    """Shared two-level uniform-pick window core over per-block candidate
    arrays: total the per-block candidate counts, map one uniform draw to
    a global index j = floor(r*c), walk the (order_cols)-ordered
    cumulative block offsets to the owning block + element — pick block
    ∝ size, then element, in one window pass whose group size is the
    anchor vertex's BLOCK COUNT (<= degree/block_size), never its degree.

    ``rows`` is a (key × block) join against a blocked adjacency (one st
    row per key); ``cand_col`` computes that block's candidate array from
    ``nbrs``.  Returns one row per key with >= 1 candidate: input columns
    (minus block bookkeeping) plus ``cname`` (total candidates — the
    importance weight factor) and ``ename`` (the picked element).
    Zero-candidate trials drop out, matching the estimators'
    zero-weight-trial semantics.  Deterministic at any partition layout:
    block arrays are sorted, block order is the deterministic
    ``order_cols``, r is hash-derived.
    """
    from pyspark.sql import Window

    wall = Window.partitionBy(key)
    wrun = (
        Window.partitionBy(key)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    j = (
        rows.withColumn("_cand", cand_col)
        .withColumn("_cb", F.size("_cand"))
        .withColumn("_r", r)
        .withColumn(cname, F.sum("_cb").over(wall))
        .withColumn("_off", F.coalesce(F.sum("_cb").over(wrun), F.lit(0)))
        .withColumn("_j", F.floor(F.col("_r") * F.col(cname)).cast("long"))
    )
    hit = j.filter(
        (F.col(cname) > 0)
        & (F.col("_j") >= F.col("_off"))
        & (F.col("_j") < F.col("_off") + F.col("_cb"))
    )
    return hit.withColumn(
        ename,
        F.element_at("_cand", (F.col("_j") - F.col("_off") + 1).cast("int")),
    ).drop("nbrs", "_cand", "_cb", "_off", "_j", "_r", *order_cols)


def _blocked_uniform_pick(
    st: DataFrame,
    badj: DataFrame,
    key: str,
    x: str,
    excl: Column,
    r: Column,
    cname: str,
    pickname: str,
) -> DataFrame:
    """Two-level uniform pick over (neighbors of ``st[x]``) minus ``excl``
    against a plain blocked adjacency (_blocked_adjacency): join all
    blocks of x, drop excluded vertices per block, then the shared
    _two_level_pick window core."""
    rows = st.join(badj.withColumnRenamed("x", x), x)
    return _two_level_pick(
        rows, key, F.array_except(F.col("nbrs"), excl), r, cname, pickname
    )


def triangle_count(edges: DataFrame) -> int:
    """Exact number of undirected triangles (each once, a<b<c)."""
    return int(triangles(edges).count())


def triangles(edges: DataFrame, rank: DataFrame | None = None) -> DataFrame:
    """DataFrame of (a, b, c) triangle vertex triples with a < b < c.

    Degree-ordered wedge plan (hub-safe, O(m^1.5) wedge rows total): each
    triangle is generated once at its LOWEST-(degree, id)-rank vertex as
    the wedge center, its two higher-rank endpoints ordered by rank, and
    closed by a semi-join against the rank-oriented edge list.  Output
    triples are sorted by vertex ID, identical to the previous
    id-oriented plan (/root/reference/naive_implementation/
    TriangleCounting.cpp:44-70 is the semantics oracle).  ``rank``
    forwards a precomputed static order to degree_ranked_oriented (used
    by the k-truss peel)."""
    # lazy localCheckpoint: the ranking subtree (dedup + degree agg + two
    # E-row joins) feeds THREE join branches below; without it Spark
    # re-evaluates the whole subtree per branch (no common-subplan reuse
    # across joins), tripling the linear pre-pass.  Materializes once on
    # the first action, reused by all branches, freed by the
    # ContextCleaner when the result goes out of scope.
    o = (
        degree_ranked_oriented(edges, rank)
        .select("lo", "hi", "dhi")
        .localCheckpoint(eager=False)
    )
    w1 = o.select("lo", F.col("hi").alias("p"), F.col("dhi").alias("dp"))
    w2 = o.select("lo", F.col("hi").alias("q"), F.col("dhi").alias("dq"))
    wedges = (
        w1.join(w2, "lo")
        .filter(_rank_lt(F.col("dp"), F.col("p"), F.col("dq"), F.col("q")))
        .select("lo", "p", "q")
    )
    # the closing edge p—q has rank(p) < rank(q), so it is stored (lo=p, hi=q)
    closing = o.select(F.col("lo").alias("p"), F.col("hi").alias("q"))
    tri = wedges.join(closing, ["p", "q"], "left_semi")
    arr = F.array_sort(F.array("lo", "p", "q"))
    return tri.select(
        F.element_at(arr, 1).alias("a"),
        F.element_at(arr, 2).alias("b"),
        F.element_at(arr, 3).alias("c"),
    )


def per_vertex_triangle_counts(edges: DataFrame) -> DataFrame:
    """(id, triangles) — number of triangles each vertex participates in."""
    t = triangles(edges)
    return (
        t.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def three_chain_count_sampled(
    edges: DataFrame,
    num_estimators: int,
    seed: int = 42,
    partitions: int | None = None,
) -> float:
    """ASAP-style sampled 3-chain estimate
    (/root/reference/applications/ThreeChain.cpp:16-38).

    Estimator: e1 uniform (prob 1/m, weight m); e2 uniform among the c
    adjacency entries of e1's endpoints with edge_id > id(e1) (prob 1/c,
    weight m*c); no close step.  Every (e1,e2) pick succeeds, so the
    estimate reduces to m * c — ONE join + grouped count per batch, fully
    vectorized.  E[estimate] = number of adjacent unordered edge pairs =
    exact 3-chain count.
    """
    spark = edges.sparkSession
    o = _oriented(edges).withColumn(
        "eid", F.xxhash64(F.col("a"), F.col("b"), F.lit(seed))
    ).persist()
    m = o.count()

    from ..ingest import dense_ids

    ok = o.withColumn("_key", F.concat_ws("_", "a", "b"))
    idx = dense_ids(ok.select("_key"), "_key", partitions or 8)
    ok = ok.join(idx, "_key").drop("_key")

    est = spark.range(num_estimators).select(
        F.col("id").alias("est_id"),
        _pick_mod("id", m, seed).alias("id"),
    )
    e1 = est.join(ok, "id").select(
        "est_id", F.col("a").alias("u"), F.col("b").alias("v"),
        F.col("eid").alias("eid1"),
    )
    sym = o.select(F.col("a").alias("x"), F.col("b").alias("w"), "eid").union(
        o.select(F.col("b").alias("x"), F.col("a").alias("w"), "eid")
    )
    c_per_est = (
        e1.select("est_id", "eid1", F.explode(F.array("u", "v")).alias("x"))
        .join(sym, "x")
        .filter(F.col("eid") > F.col("eid1"))
        .groupBy("est_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total_c = c_per_est.agg(
        F.coalesce(F.sum(F.col("c").cast("double")), F.lit(0.0))
    ).collect()[0][0]
    o.unpersist()
    return float(m) * float(total_c) / float(num_estimators)


def four_chain_count_sampled(
    edges: DataFrame,
    num_estimators: int,
    seed: int = 42,
    partitions: int | None = None,
) -> float:
    """Sampled 4-chain (simple path on 4 vertices) estimate.

    The reference's FourChain estimator importance-samples one of 3
    edge-ordering orientations per trial
    (/root/reference/applications/FourChain.cpp:18-125).  Spark-first we use
    the equivalent middle-edge plan: sample a uniform edge (u, v)
    [prob 1/m], a uniform neighbor a of u excluding v [prob 1/(deg_u - 1)],
    a uniform neighbor d of v excluding u [prob 1/(deg_v - 1)]; accept iff
    a != d (else the walk is a triangle, not a simple path).  Weight
    m * (deg_u - 1) * (deg_v - 1); a chain's middle edge is unique and the
    edge list is canonically oriented, so every unordered chain maps to
    exactly ONE (edge, a, d) pick: E[sum/N] is exactly the 4-chain count.
    All steps are column expressions over two adjacency joins — no
    per-row Python.
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    o = _oriented(edges)
    from ..ingest import dense_ids

    ok = o.withColumn("_key", F.concat_ws("_", "a", "b"))
    idx = dense_ids(ok.select("_key"), "_key", P)
    ok = ok.join(idx, "_key").drop("_key").persist()
    m = ok.count()

    # hub-split blocked adjacency: no vertex's neighbor list ever
    # materializes as one array (see _blocked_adjacency); both neighbor
    # picks are two-level (block ∝ size, then element) uniform draws
    adj = _blocked_adjacency(o).persist()

    est = spark.range(num_estimators).select(
        F.col("id").alias("est_id"),
        _pick_mod("id", m, seed).alias("id"),
        _u("id", seed=seed + 1).alias("r1"),
        _u("id", seed=seed + 2).alias("r2"),
    )
    mid = est.join(ok, "id").select(
        "est_id", "r1", "r2", F.col("a").alias("u"), F.col("b").alias("v")
    )
    p1 = _blocked_uniform_pick(
        mid, adj, "est_id", "u", F.array("v"), F.col("r1"), "cu", "a3"
    ).select("est_id", "cu", "a3")
    p2 = _blocked_uniform_pick(
        mid, adj, "est_id", "v", F.array("u"), F.col("r2"), "cv", "d"
    ).select("est_id", "cv", "d")
    # inner join: trials where either endpoint had no other neighbor are
    # zero-weight and contribute nothing to the sum (the divisor stays N)
    both = p1.join(p2, "est_id")
    w = F.when(
        F.col("a3") != F.col("d"), F.col("cu").cast("double") * F.col("cv")
    ).otherwise(F.lit(0.0))
    total = both.agg(F.coalesce(F.sum(w), F.lit(0.0)).alias("s")).collect()[0]["s"]
    ok.unpersist()
    adj.unpersist()
    return float(m) * float(total) / float(num_estimators)


def four_chain_count_sampled_multiplan(
    edges: DataFrame,
    num_estimators: int,
    seed: int = 42,
    partitions: int | None = None,
    plan_only: int | None = None,
) -> float:
    """Sampled 4-chain estimate via the reference's THREE-ORIENTATION
    importance sampler (/root/reference/applications/FourChain.cpp:18-125)
    — its one genuinely novel estimator-design trick, twinned here as pure
    column expressions.

    The reference's ``conditional_sample_edge`` only admits edges with id
    strictly greater than every previously sampled edge's id
    (/root/reference/src/ZGraphInstance.cpp:128-140, the
    ``min_valid_edge_id`` fold), so its three sampling orders PARTITION
    the 4-chains by the id-rank of the middle edge among the chain's
    three edges:

    * plan 1 (``(0)<->(1)<->(2)``): e0 = end edge, e1 = middle
      (id > id0, candidates = both endpoints' id-suffixes), e2 = far end
      (id > id1)  ->  covers chains whose middle edge id is the MEDIAN;
    * plan 2 (``(0)<->(2)<->(1)``): same order but e2 constrained to
      id0 < id2 < id1 (the reference does NOT push e1 into the edge list
      and instead rejects ``id2 >= id1`` explicitly)  ->  middle id is
      the MAXIMUM;
    * plan 3 (``(1)<->(0)<->(2)``): e0 = middle edge first, e1 from the
      src side, e2 from the dst side, both only id > id0  ->  middle id
      is the MINIMUM.

    Each unordered 4-chain is therefore sampleable by EXACTLY ONE plan in
    exactly one configuration, so choosing a plan uniformly (the
    reference's ``sample_interger(1, 3)``) and weighting by
    3 * m * c1 * c2 is exactly unbiased — for ANY fixed edge-id order
    (randomness of ids affects variance only; we use the deterministic
    dense_ids rank so results are partition-invariant and re-runnable).

    ``plan_only`` restricts every trial to one plan with weight
    m * c1 * c2 (no 1/3 mixture): that alone unbiasedly estimates the
    count of chains in that plan's id-rank class — the class counts sum
    to the total (asserted in tests/test_multiplan.py).

    Physical shape: three broadcast-free equi-joins per estimator batch
    (edge pick, endpoint adjacency, anchor adjacency) over one persisted
    HUB-SPLIT blocked adjacency table (per-row arrays bounded by
    block_size; picks are two-level block-then-element draws over
    (tag, bi)-ordered windows); N estimators independent of |E|.
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    o = _oriented(edges)
    from ..ingest import dense_ids

    ok = o.withColumn("_key", F.concat_ws("_", "a", "b"))
    idx = dense_ids(ok.select("_key"), "_key", P)
    ok = ok.join(idx, "_key").drop("_key").persist()  # (a, b, id)
    m = ok.count()

    sym = ok.select(
        F.col("a").alias("x"), F.col("b").alias("w"), F.col("id").alias("eid")
    ).union(
        ok.select(
            F.col("b").alias("x"), F.col("a").alias("w"), F.col("id").alias("eid")
        )
    )
    # hub-split blocked struct adjacency: (x, bi, nbrs array<struct<eid,w>>)
    # — the shared _blocked_sym_adjacency build with a struct element, so
    # per-row arrays are bounded by ~block_size and structs sort by eid
    # within each block (deterministic two-level picks at any parallelism)
    adj = _blocked_sym_adjacency(sym, F.struct("eid", "w")).persist()

    if plan_only is not None:
        assert plan_only in (1, 2, 3)
        plan_col = F.lit(int(plan_only))
        mix = 1.0
    else:
        plan_col = _pick_mod("id", 3, seed + 90) + 1  # uniform in {1,2,3}
        mix = 3.0

    est = spark.range(num_estimators).select(
        F.col("id").alias("est_id"),
        plan_col.alias("plan"),
        _pick_mod("id", m, seed).alias("id"),
        _u("id", seed=seed + 1).alias("r1"),
        _u("id", seed=seed + 2).alias("r2"),
    )
    e0 = est.join(ok, "id").select(
        "est_id", "plan", "r1", "r2",
        F.col("a").alias("u"), F.col("b").alias("v"), F.col("id").alias("id0"),
    )

    def _suffix(arr):
        return F.filter(arr, lambda s: s["eid"] > F.col("id0"))

    # e1 candidates: plans 1/2 merge both endpoints' id-suffixes (the
    # reference sums both vertices' CSR suffixes); plan 3 anchors at the
    # src side only.  No candidate duplicates: the only edge incident to
    # both u and v is e0 itself, excluded by eid > id0.  Block rows from
    # the u side (tag 0) precede the v side (tag 1), matching the previous
    # concat(suffix(nu), suffix(nv)) candidate order.
    side_u = e0.join(adj.withColumnRenamed("x", "u"), "u").select(
        "est_id", "plan", "r1", "r2", "u", "v", "id0",
        F.lit(0).alias("_tag"), "bi", "nbrs",
    )
    side_v = (
        e0.filter(F.col("plan") != 3)
        .join(adj.withColumnRenamed("x", "v"), "v")
        .select(
            "est_id", "plan", "r1", "r2", "u", "v", "id0",
            F.lit(1).alias("_tag"), "bi", "nbrs",
        )
    )
    picked1 = _two_level_pick(
        side_u.union(side_v),
        "est_id",
        _suffix(F.col("nbrs")),
        F.col("r1"),
        "c1",
        "e1",
        ("_tag", "bi"),
    )
    # plans 1/2: e2 anchored at w = e1's far endpoint (w not in {u,v}: the
    # only u-v edge is e0); plan 3: e2 anchored at v.  Zero-candidate
    # trials (c1=0) never produce a hit row = zero-weight trials.
    anchored = picked1.withColumn(
        "anchor",
        F.when(F.col("plan") == 3, F.col("v")).otherwise(F.col("e1.w")),
    ).join(adj.withColumnRenamed("x", "anchor"), "anchor")

    cand2 = (
        F.when(
            F.col("plan") == 1,
            F.filter("nbrs", lambda s: s["eid"] > F.col("e1.eid")),
        )
        .when(
            F.col("plan") == 2,
            F.filter(
                "nbrs",
                lambda s: (s["eid"] > F.col("id0"))
                & (s["eid"] < F.col("e1.eid")),
            ),
        )
        .otherwise(_suffix(F.col("nbrs")))
    )
    picked2 = _two_level_pick(
        anchored, "est_id", cand2, F.col("r2"), "c2", "_e2"
    ).withColumn("t", F.col("_e2.w"))
    # acceptance (the reference's endpoint-distinctness checks): the new
    # vertex t must avoid all three previous vertices {u, v, e1.w}; for
    # plans 1/2 t != e1.w is automatic (t is a neighbor of w), for plan 3
    # t != v is automatic — checking all three unifies the plans.
    w = F.when(
        (F.col("c1") > 0)
        & (F.col("c2") > 0)
        & (F.col("t") != F.col("u"))
        & (F.col("t") != F.col("v"))
        & (F.col("t") != F.col("e1.w")),
        F.col("c1").cast("double") * F.col("c2"),
    ).otherwise(F.lit(0.0))
    total = picked2.agg(
        F.coalesce(F.sum(w), F.lit(0.0)).alias("s")
    ).collect()[0]["s"]
    ok.unpersist()
    adj.unpersist()
    return float(mix) * float(m) * float(total) / float(num_estimators)


def k_chain_count_sampled(
    edges: DataFrame,
    k: int,
    num_estimators: int,
    seed: int = 42,
    partitions: int | None = None,
) -> float:
    """Runtime-parameterized sampled k-chain (simple path on k vertices)
    estimate — the sampled twin of the reference's ChainMining app
    (/root/reference/applications/ChainMining.cpp:18-106).

    Estimator: sample a uniform (edge, direction) [prob 1/(2m)], then
    extend the moving end k-2 times, each step a uniform pick among the
    end's neighbors not already on the path [prob 1/c_j]; weight
    2m * prod(c_j).  Each ORDERED simple path corresponds to exactly one
    (edge, direction, picks) trajectory, and unordered = ordered / 2, so
    E[sum/N] / 2 is the k-chain count.  The loop is k-2 chained joins
    against the persisted adjacency — all column expressions
    (array_except / try_element_at), no per-row Python.
    """
    if k < 3:
        raise ValueError("k >= 3")
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    o = _oriented(edges)
    from ..ingest import dense_ids

    ok = o.withColumn("_key", F.concat_ws("_", "a", "b"))
    idx = dense_ids(ok.select("_key"), "_key", P)
    ok = ok.join(idx, "_key").drop("_key").persist()
    m = ok.count()

    # hub-split blocked adjacency + two-level picks (see _blocked_adjacency):
    # a mega-hub on the path never materializes its full neighbor list
    adj = _blocked_adjacency(o).persist()

    est = spark.range(num_estimators).select(
        F.col("id").alias("est_id"),
        _pick_mod("id", m, seed).alias("id"),
        (_u("id", seed=seed + 1) < 0.5).alias("fwd"),
    )
    cur = est.join(ok, "id").select(
        "est_id",
        F.when(F.col("fwd"), F.array("a", "b"))
        .otherwise(F.array("b", "a"))
        .alias("path"),
        F.lit(1.0).alias("wprod"),
    )
    for step in range(k - 2):
        cur = cur.withColumn("end", F.element_at("path", -1))
        cur = _blocked_uniform_pick(
            cur,
            adj,
            "est_id",
            "end",
            F.col("path"),
            _u("est_id", "end", seed=seed + 10 + step),
            "c",
            "nxt",
        ).select(
            "est_id",
            F.concat(F.col("path"), F.array(F.col("nxt"))).alias("path"),
            (F.col("wprod") * F.col("c")).alias("wprod"),
        )
    total = cur.agg(
        F.coalesce(F.sum("wprod"), F.lit(0.0)).alias("s")
    ).collect()[0]["s"]
    ok.unpersist()
    adj.unpersist()
    # weight 2m*prod(c) for an ordered path, / 2 for unordered: the twos
    # cancel to m * mean(prod(c))
    return float(m) * float(total) / float(num_estimators)


def three_motif_sampled(
    edges: DataFrame,
    num_estimators: int,
    seed: int = 42,
    partitions: int | None = None,
) -> tuple[float, float]:
    """Sampled 3-motif: (triangle_estimate, three_chain_estimate) sharing
    ONE persisted 2-edge partial-sample stage — the Spark twin of the
    reference's cached shared sub-pattern sampling
    (/root/reference/applications/ThreeMotif.cpp:42-122, cache machinery
    /root/reference/src/ZGraphInstance.cpp:596-833): there the 2-edge
    partial samples are stored in per-thread NUMA-local arrays and consumed
    by both the triangle and the 3-chain estimator; here the conditional
    candidate table is ``persist()``-ed and BOTH aggregations scan the same
    InMemoryTableScan.

    3-chain estimate = m * mean(candidate count c)   (every (e1, e2) pick
    succeeds; /root/reference/applications/ThreeChain.cpp:16-38).
    Triangle estimate = Rao-Blackwell closure probe over the same
    candidates: m * #(candidates whose closing edge exists with
    eid3 > eid2) / N   (same expectation as the pick-then-probe estimator,
    /root/reference/applications/Triangle.cpp:42-74).
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    o = _oriented(edges).withColumn(
        "eid", F.xxhash64(F.col("a"), F.col("b"), F.lit(seed))
    )
    from ..ingest import dense_ids

    o = o.withColumn("_key", F.concat_ws("_", "a", "b"))
    idx = dense_ids(o.select("_key"), "_key", P)
    o = o.join(idx, "_key").drop("_key").persist()
    m = o.count()

    est = spark.range(num_estimators).select(
        F.col("id").alias("est_id"),
        _pick_mod("id", m, seed).alias("id"),
    )
    e1 = est.join(o, "id").select(
        "est_id", F.col("a").alias("u"), F.col("b").alias("v"),
        F.col("eid").alias("eid1"),
    )
    sym = o.select(F.col("a").alias("x"), F.col("b").alias("w"), "eid").union(
        o.select(F.col("b").alias("x"), F.col("a").alias("w"), "eid")
    )
    # the SHARED 2-edge partial-sample stage
    cand = (
        e1.select("est_id", "eid1", "u", "v", F.explode(F.array("u", "v")).alias("x"))
        .join(sym, "x")
        .filter(F.col("eid") > F.col("eid1"))
        .persist()
    )
    chain_total = cand.groupBy().count().collect()[0][0]
    other = F.when(F.col("x") == F.col("u"), F.col("v")).otherwise(F.col("u"))
    closed = (
        cand.select(
            F.col("eid").alias("eid2"),
            F.least(F.col("w"), other).alias("a"),
            F.greatest(F.col("w"), other).alias("b"),
        )
        .join(o.select("a", "b", F.col("eid").alias("eid3")), ["a", "b"])
        .filter(F.col("eid3") > F.col("eid2"))
    )
    tri_matches = closed.count()
    cand.unpersist()
    o.unpersist()
    return (
        float(m) * float(tri_matches) / float(num_estimators),
        float(m) * float(chain_total) / float(num_estimators),
    )


def triangle_count_sampled(
    edges: DataFrame,
    num_estimators: int,
    seed: int = 42,
    partitions: int | None = None,
    rao_blackwell: bool = True,
) -> float:
    """ASAP-style sampled triangle estimate (unbiased; accuracy ~ 1/sqrt(N)).

    ``rao_blackwell=True`` (default) replaces the inner categorical draw
    (pick ONE of the c conditional candidates, then probe its closure) by
    its exact conditional expectation: for a fixed e1, E[contribution] =
    m * #(candidates whose closing edge exists with eid3 > eid2) — summing
    the closure probe over ALL candidates.  Same expectation as the
    reference's pick-then-probe estimator (each triangle is counted via
    exactly one (e1=min-eid edge, e2=middle-eid edge) pair), strictly lower
    variance, and a cheaper plan: the grouped max-pick disappears and the
    candidate table flows straight into one closure join + global count.
    ``rao_blackwell=False`` keeps the reference's literal pick-then-probe
    semantics (/root/reference/applications/Triangle.cpp:42-74).

    Scale path: estimator population sized independently of graph size; the
    dominant cost is one join of the estimator table against the adjacency
    table (skew-salted by Spark AQE), exactly the reference's
    estimator ⋈ adjacency step (/root/reference/src/ZGraphInstance.cpp:142-207).
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    o = _oriented(edges).withColumn(
        "eid", F.xxhash64(F.col("a"), F.col("b"), F.lit(seed))
    )
    # dense index for uniform edge sampling
    from ..ingest import dense_ids

    o = o.withColumn("_key", F.concat_ws("_", "a", "b"))
    idx = dense_ids(o.select("_key"), "_key", P)
    o = o.join(idx, "_key").drop("_key").persist()
    m = o.count()

    est = spark.range(num_estimators).select(
        F.col("id").alias("est_id"),
        _pick_mod("id", m, seed).alias("id"),
    )
    e1 = est.join(o, "id").select(
        "est_id", F.col("a").alias("u"), F.col("b").alias("v"), F.col("eid").alias("eid1")
    )

    # symmetric adjacency with canonical edge ids
    sym = o.select(F.col("a").alias("x"), F.col("b").alias("w"), "eid").union(
        o.select(F.col("b").alias("x"), F.col("a").alias("w"), "eid")
    )

    cand = (
        e1.select("est_id", "eid1", "u", "v", F.explode(F.array("u", "v")).alias("x"))
        .join(sym, "x")
        .filter(F.col("eid") > F.col("eid1"))
        # (est_id, eid) is unique within cand (the only edge incident to
        # both endpoints is e1 itself, excluded by eid > eid1), so this is
        # one independent uniform per candidate row
        .withColumn("_r", _u("est_id", "eid", seed=seed + 1))
    )
    if rao_blackwell:
        other_rb = F.when(F.col("x") == F.col("u"), F.col("v")).otherwise(F.col("u"))
        need_rb = cand.select(
            F.col("eid").alias("eid2"),
            F.least(F.col("w"), other_rb).alias("a"),
            F.greatest(F.col("w"), other_rb).alias("b"),
        )
        closed_rb = need_rb.join(
            o.select("a", "b", F.col("eid").alias("eid3")), ["a", "b"]
        ).filter(F.col("eid3") > F.col("eid2"))
        matches = closed_rb.count()
        o.unpersist()
        return float(m) * float(matches) / float(num_estimators)
    # uniform pick per estimator via max over a random key (one grouped agg,
    # map-side partial) — replaces the reference's per-thread RNG choice
    picked = (
        cand.groupBy("est_id")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.max(
                F.struct(
                    F.col("_r").alias("r"),
                    F.col("x"),
                    F.col("w"),
                    F.col("eid").alias("eid2"),
                    F.col("u"),
                    F.col("v"),
                )
            ).alias("pick"),
        )
        .select(
            "est_id",
            "c",
            F.col("pick.x").alias("x"),
            F.col("pick.w").alias("w"),
            F.col("pick.eid2").alias("eid2"),
            F.col("pick.u").alias("u"),
            F.col("pick.v").alias("v"),
        )
    )
    # closing edge: (w, other endpoint), canonical orientation
    other = F.when(F.col("x") == F.col("u"), F.col("v")).otherwise(F.col("u"))
    need = picked.select(
        "est_id",
        "c",
        "eid2",
        F.least(F.col("w"), other).alias("a"),
        F.greatest(F.col("w"), other).alias("b"),
    )
    closed = need.join(o.select("a", "b", F.col("eid").alias("eid3")), ["a", "b"]).filter(
        F.col("eid3") > F.col("eid2")
    )
    total_success = closed.agg(
        F.coalesce(F.sum(F.col("c").cast("double")), F.lit(0.0)).alias("s")
    ).collect()[0]["s"]
    o.unpersist()
    # mean over ALL estimators (failures contribute 0), scaled by m
    return float(m) * float(total_success) / float(num_estimators)
