"""Breadth-first hop distances (single- or multi-source) over the link graph.

Every loop here except the walks is a program on the gcommon kernel's
sparse-state supersteps, over the simple-graph view pinned once on src
(``gcommon.pin_sym``; a null src or dst raises ``ValueError``):

* ``bfs_distances`` is ``gcommon.frontier`` with no keys: superstep l
  sends the vertices found at level l along their edges, anti-joins the
  discovered set and appends the rest at level l + 1, so its work is
  O(edges touched by the frontier), not O(E);
* ``closeness_centrality`` and ``distance_histogram`` run one frontier
  keyed by source, ``(s, v)``, for all sampled sources at once;
* ``stress_centrality`` and ``betweenness_centrality`` share one forward
  sweep, that frontier carrying the shortest-path counts ``sig``, and
  one backward pass reading level l as ``state.filter(dist == l)``;
* ``sssp_distances`` is a min-relaxation (``gcommon.relax``) sending only
  the distances the last superstep improved.

Each superstep is one Spark job whose state keeps its hash partitioning
(the union of the old state and its new rows), and its frontier size,
or improved count, rides the pin as an Observation.

New link-graph capability (the reference has no path queries); oracle:
pure-Python BFS in tests + a bounded recursive-CTE SQL twin for the
parity gate.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .gcommon import (
    flip,
    frontier,
    iterate,
    norm_edges,
    pin_checkpoint,
    pin_edges,
    pin_sym,
    relax,
    send,
)


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    directed: bool = False,
    max_iter: int = 100,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Hop distance from the nearest source; returns (dist(id, dist), metrics).

    ``sources``: DataFrame with one ``id`` column.  Unreached vertices are
    absent from the result (dist would be +inf).  Empty ``sources`` give
    an empty frame and no metrics.
    """
    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sym, E = pin_sym(edges, P, "bfs_distances", directed)
    start = sources.select("id").distinct().select("id", F.lit(0).cast("int").alias("dist"))
    return frontier(sym, E, start, (), "bfs_distances", P, max_iter)


def sssp_distances(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str = "weight",
    directed: bool = False,
    max_iter: int = 100,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Single/multi-source shortest paths (Bellman–Ford relaxation).

    Integer edge weights → exact long distances; parallel edges keep their
    least weight.  Per superstep the distances the last one set or
    improved relax their out-edges (``gcommon.relax``); terminates when no
    distance improves (guaranteed: positive weights).  Returns
    (dist(id, dist), metrics); unreached vertices absent.
    """
    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    def view(edges: DataFrame) -> DataFrame:
        e = edges.select("src", "dst", F.col(weight_col).cast("long").alias("w"))
        if not directed:
            e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
        return (
            e.filter(F.col("src") != F.col("dst"))
            .groupBy("src", "dst").agg(F.min("w").alias("w"))  # parallel edges: keep min
            .repartition(P, "src")
        )

    e, E = pin_edges(edges, view, "sssp_distances")
    start = sources.select("id").distinct().select("id", F.lit(0).cast("long").alias("dist"))
    return relax(e, E, start, "dist", F.col("dist") + F.col("w"), "improved",
                 "sssp_distances", P, max_iter)


# deterministic-walk mixing constants (arbitrary primes; BIGINT-exact in
# any engine, so the walk corpus is bit-reproducible across Spark and SQL)
WALK_A, WALK_B, WALK_C = 7919, 104729, 1299709


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    length: int,
    directed: bool = False,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic pseudo-random walk corpus (node2vec/DeepWalk input).

    One walk per row of ``starts`` (column ``id``; walk_id = start id).  The
    step from v picks neighbor index ``(walk_id*A + v*B + step*C) mod deg(v)``
    over the dst-sorted adjacency — a hash-walk: reproducible bit-for-bit in
    any engine (no RNG state), the distributed analogue of the reference's
    seeded estimator sampling (/root/reference/src/ZGraphInstance.cpp:300-334,
    seed broadcast /root/reference/src/Utilities.cpp:39-51).  Walks stop
    early at sink vertices (no out-neighbors).  Returns
    (walk_id, step, v) for steps 0..length.

    Each step is one state ⋈ indexed-adjacency equi-join on (v, idx) —
    V-row state against the (src, idx)-keyed adjacency; at web scale the
    adjacency index is built once (one window per src) and reused by all
    steps.
    """
    from pyspark.sql import Window

    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    e = norm_edges(edges, P, directed=directed)
    w = Window.partitionBy("src").orderBy("dst")
    adj = (
        e.select(
            "src", "dst",
            (F.row_number().over(w) - 1).alias("idx"),
            F.count(F.lit(1)).over(Window.partitionBy("src")).alias("deg"),
        )
        .repartition(P, "src")
        .persist()
    )
    adj.count()

    cur = starts.select(
        F.col("id").alias("walk_id"), F.lit(0).alias("step"), F.col("id").alias("v")
    ).localCheckpoint(eager=True)
    out = [cur]
    for step in range(1, length + 1):
        pick = (
            F.col("walk_id") * WALK_A + F.col("v") * WALK_B + F.lit(step) * WALK_C
        ) % F.col("deg")
        cur = (
            cur.join(adj.withColumnRenamed("src", "v").hint("shuffle_hash"), "v")
            .filter(F.col("idx") == pick)
            .select("walk_id", F.lit(step).alias("step"), F.col("dst").alias("v"))
            .repartition(P, "v")
            .localCheckpoint(eager=True)
        )
        out.append(cur)

    res = out[0]
    for df in out[1:]:
        res = res.union(df)
    adj.unpersist()
    return res


def _sweep(
    edges: DataFrame,
    sources: DataFrame,
    directed: bool,
    max_iter: int,
    P: int,
    algo: str,
    sums: tuple[str, ...] = (),
    check: Callable[[int], None] | None = None,
) -> tuple[DataFrame, DataFrame, list[dict]]:
    """(sym, state, metrics): the BFS of every source at once, one
    ``gcommon.frontier`` keyed by source over the pinned view ``sym``.

    The state (s, id, dist[, sig]) holds each vertex reached from source
    s, bounded by |S|·V rows; the loop ends after the largest
    eccentricity.  With ``sums=("sig",)`` it carries the number of
    shortest paths from s (level-synchronous sum over the frontier — the
    sigma recurrence of Brandes'01).  ``check`` is run on the source count
    (``frontier``'s).
    """
    sym, E = pin_sym(edges, P, algo, directed)
    start = sources.select(F.col("id").alias("s")).distinct().select(
        "s", F.col("s").alias("id"), F.lit(0).cast("long").alias("dist"),
        *(F.lit(1).cast("long").alias(c) for c in sums),
    )
    state, metrics = frontier(sym, E, start, ("s",), algo, P, max_iter, sums, check)
    return sym, state, metrics


def _brandes(
    edges: DataFrame,
    sources: DataFrame,
    directed: bool,
    max_iter: int,
    partitions: int | None,
    algo: str,
    term: Column,
) -> DataFrame:
    """(s, id, sig, cv): the forward sweep (``_sweep`` carrying ``sig``)
    and the backward pass over its shortest-path DAG.

    Level by decreasing level, ``cv(v) = Σ_{w ∈ succ(v)} term``, where
    ``term`` reads the receiver's ``sig`` and the successor's ``sigw`` and
    ``cvw``; the deepest level has cv = 0.  Backward superstep ``it`` sets
    level l = deepest − 1 − it: it sends level l + 1 of the one pinned
    state (``state.filter(dist == l + 1)``) along the reversed edges,
    joins the messages, shuffled to hash(s, v), to the level-l rows of
    the state, which already are, sums the terms with a partial aggregate
    and sets cv on those rows: the kernel's superstep shape, one Spark
    job.  Every term is evaluated per successor on exact integers and
    summed as a BIGINT.  Level 0 (v = s) is no interior vertex and is not
    computed.
    """
    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sym, fwd, metrics = _sweep(edges, sources, directed, max_iter, P, algo, ("sig",))
    deepest = sum(1 for m in metrics if m["frontier"])
    back = pin_checkpoint(flip(sym).repartition(P, "src")) if directed else sym

    def step(state: DataFrame, obs, it: int) -> DataFrame:
        lvl = deepest - 1 - it
        sent = send(state.filter(F.col("dist") == lvl + 1), back, ("s",),
                    sigw=F.col("sig"), cvw=F.col("cv"))
        # (s, id) is unique in the state; the dedup says so to the planner,
        # which otherwise estimates the join as the product of its sides
        lv = (state.filter(F.col("dist") == lvl).select("s", "id", "sig")
              .dropDuplicates(["s", "id"]))
        got = (
            sent.join(lv.hint("shuffle_hash"), ["s", "id"])
            .groupBy("s", "id").agg(F.sum(term).alias("_cv"))
        )
        return (
            state.join(got.hint("shuffle_hash"), ["s", "id"], "left")
            .select("s", "id", "dist", "sig",
                    F.when(F.col("dist") == lvl, F.coalesce("_cv", F.lit(0).cast("long")))
                    .otherwise(F.col("cv")).alias("cv"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .repartition(P, "s", "id")
        )

    init = fwd.withColumn("cv", F.lit(0).cast("long"))
    out, _ = iterate(back, lambda _: init, step, lambda got: ({}, False),
                     f"{algo}_back", P, 0, max(deepest - 1, 0))
    return out.filter(F.col("id") != F.col("s"))  # endpoints are not interior


def stress_centrality(
    edges: DataFrame,
    sources: DataFrame,
    directed: bool = False,
    max_iter: int = 100,
    partitions: int | None = None,
) -> DataFrame:
    """Stress centrality (Shimbel) for a source sample — the integer-exact
    Brandes two-pass, distributed.

    Forward pass: composite-key multi-source BFS carrying per-(s, v) the
    number of shortest paths ``sigma``.  Backward pass over the
    shortest-path DAG: ``c(v) = Σ_{w ∈ succ(v)} (1 + c(w))`` — the number
    of shortest-path *suffixes* leaving v; then ``stress(v) = Σ_s
    σ(s,v)·c(s,v)``, the count of shortest paths from sampled sources
    passing THROUGH v.  This is the betweenness dependency recursion with
    the σ(s,t) division dropped, so every quantity stays a BIGINT — no
    float accumulation order to disagree on between engines (betweenness
    itself needs fractional δ; stress is its exact-integer sibling and
    ranks hubs the same way in practice).

    Scale: both passes are supersteps on the gcommon kernel (``_brandes``)
    over state bounded by |S|·V rows, pinned on ``partitions``;
    2·diameter supersteps total.  Sampling sources is the standard
    web-scale centrality approximation (same shape as the reference's
    sampled estimators, ZGraph's src/ZGraphInstance.cpp:257-297).
    Returns (id, stress) for vertices with stress > 0.
    """
    res = _brandes(edges, sources, directed, max_iter, partitions, "stress_centrality",
                   1 + F.col("cvw"))
    return (
        res.groupBy("id")
        .agg(F.sum(F.col("sig") * F.col("cv")).alias("stress"))
        .filter(F.col("stress") > 0)
    )


def _guard_sources(max_sources: int | None, what: str) -> Callable[[int], None]:
    """The check ``frontier`` runs on the pinned source count before the
    first superstep: refuse an exact all-sources O(|S|·E) sweep on a large
    source set.  These are small-graph / sampled-sources diagnostics; the
    web-scale path for neighbourhood functions is the HyperBall sketch
    (linkgraph.algos.hyperball).  Pass ``max_sources=None`` to force."""
    def check(n: int) -> None:
        if max_sources is not None and n > max_sources:
            raise ValueError(
                f"{what}: {n} sources exceeds max_sources={max_sources}; exact "
                "multi-source BFS is O(|S|*E) — sample the sources, raise "
                "max_sources explicitly, or use algos.hyperball for the sketch "
                "path at scale"
            )
    return check


def closeness_centrality(
    edges: DataFrame,
    sources: DataFrame,
    directed: bool = False,
    max_iter: int = 100,
    partitions: int | None = None,
    max_sources: int | None = 65536,
) -> DataFrame:
    """Exact closeness centrality for a source sample, one superstep loop.

    All sources run their BFS **concurrently** through a composite-key
    frontier ``(s, v)`` (``_sweep``) — per-superstep state is bounded by
    |S|·V rows and the loop still terminates in max-eccentricity
    supersteps, so sampling S sources costs one loop, not |S| loops (the
    standard approximation path for centrality at web scale: sample
    sources, aggregate).  ``max_sources`` guards against pointing the
    exact sweep at a full web-scale vertex set (see
    :func:`_guard_sources`).

    Returns (s, reached, total_dist, closeness_e6) with
    closeness = (reached-1) / total_dist (0 when no vertex is reached),
    e6-quantized from exact integers — engine-independent.
    """
    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    _, state, _ = _sweep(edges, sources, directed, max_iter, P, "closeness_centrality",
                         check=_guard_sources(max_sources, "closeness_centrality"))
    agg = state.groupBy("s").agg(
        (F.count(F.lit(1)) - 1).alias("reached"),
        F.sum("dist").alias("total_dist"),
        F.max("dist").alias("ecc"),  # eccentricity within the reachable set
        # harmonic centrality Σ 1/d, quantized PER TERM (integer sum — no
        # float-accumulation order dependence between engines)
        F.sum(
            F.when(F.col("dist") > 0,
                   F.round(F.lit(1e6) / F.col("dist")).cast("long"))
            .otherwise(F.lit(0))
        ).alias("harmonic_e6"),
    )
    return agg.select(
        "s", "reached", "total_dist",
        F.when(
            F.col("total_dist") > 0,
            F.round(F.col("reached") * F.lit(1e6) / F.col("total_dist")).cast("long"),
        ).otherwise(F.lit(0).cast("long")).alias("closeness_e6"),
        "harmonic_e6", "ecc",
    )


def distance_histogram(
    edges: DataFrame,
    sources: DataFrame,
    directed: bool = False,
    max_iter: int = 100,
    partitions: int | None = None,
    max_sources: int | None = 65536,
) -> DataFrame:
    """Exact pairwise-distance histogram (dist, n_pairs) for the sampled
    sources — the neighbourhood-function input for diameter / effective
    diameter (the exact counterpart of HyperANF; the engine's HyperBall
    sketch is the approximate path at web scale).  ``max_sources`` guards
    against an accidental full-graph O(V·E) sweep (see _guard_sources).

    Same composite-key (s, v) multi-source BFS as closeness_centrality
    (``_sweep``): |S|·V bounded state, max-eccentricity supersteps,
    O(frontier) work per superstep.  Self-pairs (d=0) are excluded.
    """
    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    _, state, _ = _sweep(edges, sources, directed, max_iter, P, "distance_histogram",
                         check=_guard_sources(max_sources, "distance_histogram"))
    return (
        state.filter(F.col("dist") > 0)
        .groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def betweenness_centrality(
    edges: DataFrame,
    sources: DataFrame,
    directed: bool = False,
    max_iter: int = 100,
    partitions: int | None = None,
) -> DataFrame:
    """Fractional betweenness centrality (Brandes'01) for a source sample,
    with the dependency accumulation quantized to e6-scaled BIGINTs so the
    result is bit-equal across engines.

    Forward pass: the same composite-key (s, v) level-synchronous BFS as
    ``stress_centrality``, carrying exact shortest-path counts ``sigma``.
    The backward pass over the shortest-path DAG computes the Brandes
    dependency
    ``delta(v) = sum_{w in succ(v)} sigma(v)/sigma(w) * (1 + delta(w))``
    with ``delta`` stored as ``dv = round(delta * 1e6)``: each term is ONE
    IEEE-double expression evaluated from exact integers —
    ``round(double(sigma_v) * double(1e6 + dv_w) / double(sigma_w))`` —
    then summed as BIGINTs, so there is no float accumulation order for
    engines to disagree on (per-term-quantization recipe shared with the
    engine's Katz / SALSA / Adamic-Adar operators).

    ``betweenness_e6(v) = sum_s dv_s(v)`` over the sampled sources, v != s
    (source-sampled betweenness, Brandes-Pich'07 — the standard web-scale
    approximation; exact when ``sources`` is all vertices).  Completes the
    centrality family next to its exact-integer sibling
    ``stress_centrality`` (reference oracle pattern:
    /root/reference/naive_implementation/ exact counters).

    Scale: the same two passes as ``stress_centrality`` (``_brandes``) —
    2*diameter supersteps on the gcommon kernel, |S|*V-bounded state.
    """
    term = F.round(
        F.col("sig").cast("double")
        * (F.lit(1000000).cast("long") + F.col("cvw")).cast("double")
        / F.col("sigw").cast("double")
    ).cast("long")

    res = _brandes(edges, sources, directed, max_iter, partitions,
                   "betweenness_centrality", term)
    return (
        res.groupBy("id")
        .agg(F.sum("cv").alias("betweenness_e6"))
        .filter(F.col("betweenness_e6") > 0)
    )


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram (center, context, cnt) training pairs from a walk corpus —
    the DeepWalk/node2vec step between ``random_walks`` and an embedding
    trainer (Perozzi et al. 2014 §4.2).  Context = any vertex within
    ``window`` steps of the center on the SAME walk, both directions;
    pairs aggregate across the corpus.

    Scale: the self-join key is walk_id — each join group is at most
    (length+1) rows regardless of graph size, so the join output is
    |walks|·2·window·length bounded (linear in the walk corpus, never in
    V²); one shuffle per side plus the map-side-combinable
    (center, context) groupBy.  The walk corpus itself streams from
    ``random_walks`` (deterministic hash-walks, reference seed-sampling
    analogue /root/reference/src/ZGraphInstance.cpp:300-334).
    """
    a = walks.select(
        "walk_id", F.col("step").alias("i"), F.col("v").alias("center")
    )
    b = walks.select(
        "walk_id", F.col("step").alias("j"), F.col("v").alias("context")
    )
    return (
        a.join(b, "walk_id")
        .filter(
            (F.col("i") != F.col("j"))
            & (F.abs(F.col("i") - F.col("j")) <= window)
        )
        .groupBy(
            F.col("center").cast("long").alias("center"),
            F.col("context").cast("long").alias("context"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


# second-order (node2vec) step weights — small integers so every cumulative
# weight is BIGINT-exact in any engine; defaults lean DFS-ward (q < 1)
N2V_RET_W, N2V_BFS_W, N2V_DFS_W = 1, 2, 4
WALK_D = 15485863  # prime mixing the predecessor vertex into the step hash


def node2vec_walks(
    edges: DataFrame,
    starts: DataFrame,
    length: int,
    directed: bool = False,
    partitions: int | None = None,
    ret_w: int = N2V_RET_W,
    bfs_w: int = N2V_BFS_W,
    dfs_w: int = N2V_DFS_W,
) -> DataFrame:
    """Deterministic node2vec-style SECOND-ORDER walks (Grover & Leskovec,
    KDD'16): the step out of ``v`` given predecessor ``prev`` weights each
    neighbor ``dst`` by ``ret_w`` if ``dst == prev`` (the 1/p return term),
    ``bfs_w`` if ``dst ∈ N(prev)`` (the distance-1 term), else ``dfs_w``
    (the 1/q in-out term), then picks the candidate whose cumulative-weight
    interval over the dst-sorted neighbor list contains
    ``hash(walk_id, v, prev, step) mod total_weight`` — a weighted hash-walk,
    bit-reproducible in any engine (integer weights, no RNG state; the
    distributed analogue of the reference's seeded estimator sampling,
    /root/reference/src/ZGraphInstance.cpp:300-334).  Step 1 sets
    ``prev = v`` so every first candidate scores ``bfs_w`` — a uniform
    first-order hop, no special case on either engine.

    One walk per DISTINCT start vertex (column ``id``; walk_id = start id
    — duplicate start rows are deduped up front, since a colliding walk_id
    would corrupt the per-walk cumulative-weight pick); walks stop early
    at sinks.  Returns (walk_id, step, v), steps 0..length.

    Scale: per step, the state joins the src-pinned adjacency (candidate
    rows = Σ deg(v) over the frontier — bounded by max degree per walk,
    the same bound as graphsage_fanout) and LEFT-joins the edge set on
    (prev, dst) for the distance-1 flag — both shuffle-hash equi-joins on
    pinned keys.  The cumulative-weight window is per (walk_id) over ONE
    vertex's neighbor list, never a global window.  Lineage is truncated
    every step (localCheckpoint), the engine's standard superstep pattern.
    """
    from pyspark.sql import Window

    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    adj = norm_edges(edges, P, directed=directed).persist()
    adj.count()
    nb = adj.select(
        F.col("src").alias("prev"), F.col("dst").alias("dst"),
        F.lit(1).alias("_nb"),
    ).repartition(P, "prev", "dst").persist()
    nb.count()

    # walk_id == start id, so duplicate start rows would COLLIDE: the
    # per-walk_id cumulative-weight window below would mix two frontiers'
    # candidate rows and double-count weights (picking zero or multiple
    # successors).  Dedupe up front — one walk per distinct start vertex.
    cur = starts.select(
        F.col("id").alias("walk_id"),
        F.col("id").alias("prev"),
        F.col("id").alias("v"),
    ).dropDuplicates(["walk_id"]).localCheckpoint(eager=True)
    out = [cur.select("walk_id", F.lit(0).cast("int").alias("step"), "v")]
    w_cum = Window.partitionBy("walk_id").orderBy("dst")
    w_tot = Window.partitionBy("walk_id")
    for step in range(1, length + 1):
        cand = (
            cur.join(
                adj.select(F.col("src").alias("v"), "dst").hint("shuffle_hash"),
                "v",
            )
            .join(nb.hint("shuffle_hash"), ["prev", "dst"], "left")
            .withColumn(
                "_w",
                F.when(F.col("dst") == F.col("prev"), F.lit(ret_w))
                .when(F.col("_nb").isNotNull(), F.lit(bfs_w))
                .otherwise(F.lit(dfs_w))
                .cast("long"),
            )
        )
        picked = (
            cand.withColumn("_cum", F.sum("_w").over(w_cum))
            .withColumn("_tot", F.sum("_w").over(w_tot))
            .withColumn(
                "_r",
                (
                    F.col("walk_id") * WALK_A
                    + F.col("v") * WALK_B
                    + F.lit(step) * WALK_C
                    + F.col("prev") * WALK_D
                ) % F.col("_tot"),
            )
            .filter(
                (F.col("_cum") - F.col("_w") <= F.col("_r"))
                & (F.col("_r") < F.col("_cum"))
            )
        )
        cur = (
            picked.select(
                "walk_id", F.col("v").alias("prev"), F.col("dst").alias("v")
            )
            .repartition(P, "v")
            .localCheckpoint(eager=True)
        )
        out.append(cur.select("walk_id", F.lit(step).cast("int").alias("step"), "v"))

    res = out[0]
    for df in out[1:]:
        res = res.union(df)
    adj.unpersist()
    nb.unpersist()
    return res
