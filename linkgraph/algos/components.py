"""Connected components via iterative min-label propagation (north rule).

Undirected view of the edge table (gcommon.norm_edges); every vertex
starts labeled with its own id; each superstep takes the min over
{own label} ∪ {neighbor labels}; terminates when no label changes.
Converges in O(diameter) supersteps.  The superstep is this update rule on
the gcommon kernel: the V-row label state ``propagate``s to pinned
CSR-style adjacency blocks (``adjacency_blocks``: hubs split/salted, join
keys ~V rows not E), one map-side-combined grouped min, and the pinned
``iterate`` loop — one Spark job per superstep.

Exactness gate: labels equal the BFS oracle exactly (label = min vertex id
in the component) — the analogue of the reference's exact counters in
its naive_implementation/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .gcommon import (
    build_blocks,
    degree_table,
    gather,
    iterate,
    flip,
    labels_changed,
    norm_edges,
    pin_checkpoint,
    pin_edges,
    vertex_set,
)


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 100,
    partitions: int | None = None,
    checkpoint_dir: str | None = None,
    initial_labels: DataFrame | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Returns (labels(id, component), per-iteration metrics).

    ``initial_labels`` (id, component) warm-starts the min-label
    propagation — e.g. the converged labels of a previous crawl before a
    delta-edge batch.  The update is monotone (``least(own, min
    neighbor)``), so any start with component <= id per vertex converges
    to the same fixpoint (the component-min vertex id) in as many rounds
    as the delta moved the frontier, not the full graph diameter.
    Checkpoint resume takes precedence over ``initial_labels``.  An empty
    vertex set gives an empty frame and no metrics."""
    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # the symmetric view is pinned once: the degree table and the block build
    # then read it without re-running its dedup and partitioning shuffles
    sym = pin_checkpoint(norm_edges(edges, P))
    deg = degree_table(sym, P, "connected_components", vertices, edges)
    v = deg.table.select("id")
    if deg.V == 0:
        return v.select("id", F.col("id").alias("component")), []
    blocks, rep, E = build_blocks(sym, P, deg)
    del sym  # only the set-up reads it; let the cleaner free it

    def init(resumed: DataFrame | None) -> DataFrame:
        if resumed is not None:
            return resumed
        if initial_labels is None:
            return pin_checkpoint(v.select("id", F.col("id").alias("component")))
        # vertices absent from the warm labels (new pages in the delta)
        # start from their own id, same as a cold start
        return pin_checkpoint(
            v.join(initial_labels.select("id", F.col("component").alias("_w")),
                   "id", "left")
            .select("id", F.coalesce(F.least(F.col("_w"), F.col("id")),
                                     F.col("id")).alias("component"))
            .repartition(P, "id")
        )

    def step(labels: DataFrame, obs, it: int) -> DataFrame:
        return (
            gather(labels, blocks, rep, F.min, nb_component=F.col("component"))
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nb_component", F.col("component"))
                ).alias("component"),
                (F.col("nb_component") < F.col("component")).alias("_changed"),
            )
            .observe(obs, F.coalesce(
                F.sum(F.col("_changed").cast("long")), F.lit(0)).alias("c"))
            .select("id", "component")
            .repartition(P, "id")
        )

    return iterate(edges, init, step, labels_changed, "cc_changes", P, E, max_iter,
                   checkpoint_dir=checkpoint_dir)


def connected_components_star(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 60,
    partitions: int | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds.

    The O(log V)-round MapReduce CC construction (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — the scale path for graphs whose
    DIAMETER is large (a chain-of-hosts web graph can have diameter in the
    thousands, where min-label propagation needs one superstep per hop):

      * large-star: every node u links each strictly-larger neighbor to
        m(u) = min(Γ(u) ∪ {u});
      * small-star: every node u links each smaller-or-equal neighbor to
        m(u);
      * alternate until the edge multiset reaches a fixpoint — the graph is
        then a forest of stars whose centers are the component minima.

    Each round is one grouped min + one generate/dedup shuffle over the
    current edge set (which only SHRINKS toward V−#components rows), each
    phase's edge set a pin on src.  Fixpoint detection: (count,
    xor-of-hashes) signature equality — it rides each round's pin as an
    Observation, no EXCEPT-join and no job of its own.  Returns
    labels(id, component) identical to :func:`connected_components` (min
    id in the component); validated against it and the BFS oracle in
    tests.  A null src or dst raises ``ValueError`` (``pin_edges``).
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    sig = (F.count(F.lit(1)).alias("n"),
           F.expr("bit_xor(xxhash64(src, dst))").alias("h"))  # overflow-free

    first = Observation()
    e, _ = pin_edges(edges, lambda x: norm_edges(x, P).observe(first, *sig),
                     "connected_components_star")

    def _star(df: DataFrame, large: bool) -> tuple[DataFrame, Observation]:
        # m(u) over the symmetric neighbor list; u itself enters via least()
        m = (
            df.groupBy("src")
            .agg(F.least(F.min("dst"), F.col("src")).alias("m"))
        )
        j = df.join(m.hint("shuffle_hash"), "src")
        if large:
            pairs = j.filter(F.col("dst") > F.col("src")).select(
                F.col("dst").alias("a"), F.col("m").alias("b")
            )
        else:
            # small-star links the smaller neighbors AND u itself to m(u)
            pairs = j.filter(F.col("dst") < F.col("src")).select(
                F.col("dst").alias("a"), F.col("m").alias("b")
            ).union(m.select(F.col("src").alias("a"), F.col("m").alias("b")))
        out = (
            pairs.filter(F.col("a") != F.col("b"))
            .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        )
        # re-symmetrize: both star phases reason over full neighbor lists
        obs = Observation()
        out = out.union(flip(out)).dropDuplicates(["src", "dst"]).observe(obs, *sig)
        return pin_checkpoint(out.repartition(P, "src")), obs

    last = first.get
    converged = False
    for _ in range(max_rounds):
        e, _ = _star(e, large=True)
        e, obs = _star(e, large=False)
        if obs.get == last:
            converged = True
            break
        last = obs.get
    if not converged:
        # labeling a non-star graph would silently return garbage
        raise RuntimeError(
            f"connected_components_star: no fixpoint within {max_rounds} rounds"
        )

    # fixpoint: star forest — every edge points child -> center (min id);
    # component(u) = min neighbor if smaller than u else u
    centers = (
        e.groupBy("src").agg(F.min("dst").alias("nb"))
        .select("src", F.least("src", "nb").alias("component"))
    )
    if vertices is None:
        vertices = vertex_set(edges)
    labels = (
        vertices.select("id")
        .join(centers.withColumnRenamed("src", "id").hint("shuffle_hash"), "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
        .repartition(P, "id")
    )
    return pin_checkpoint(labels)


def bowtie_regions(
    edges: DataFrame,
    partitions: int | None = None,
) -> DataFrame:
    """Broder bow-tie decomposition of the directed web graph.

    Classifies every edge-participating vertex into the classic regions
    (Broder et al., "Graph structure in the Web", WWW 2000):

      * ``core`` — the largest SCC (ties broken by min SCC label),
      * ``in``   — reaches the core but is not in it,
      * ``out``  — reachable from the core but not in it,
      * ``tendril`` — in the core's weakly connected component but in
        none of the above (tendrils + tubes),
      * ``disc`` — weakly disconnected from the core.

    Composition of the engine's SCC (Orzan coloring) and frontier BFS:
    OUT = forward BFS from the core, IN = forward BFS over reversed
    edges, the WCC test = undirected BFS — each O(frontier) per
    superstep, state hash-partitioned on id.  Because in∩out = core by
    SCC maximality, the CASE ordering is unambiguous.

    New web-graph capability relative to the reference (undirected-only,
    /root/reference/src/Graph.cpp:295-310).
    """
    from .paths import bfs_distances
    from .scc import strongly_connected_components

    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    # pinned, not persisted: the ContextCleaner frees the checkpoints once
    # the call's frames are gone, so a call leaves no cached table behind
    e = pin_checkpoint(norm_edges(edges, P, directed=True))
    verts = pin_checkpoint(vertex_set(e).repartition(P, "id"))

    labels, _ = strongly_connected_components(e, vertices=verts, partitions=P)
    top = (
        labels.groupBy("scc")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("scc").asc())
        .limit(1)
        .collect()[0]["scc"]
    )
    core = pin_checkpoint(
        labels.filter(F.col("scc") == F.lit(top)).select("id").repartition(P, "id")
    )

    fwd, _ = bfs_distances(e, sources=core, directed=True, partitions=P)
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    bwd, _ = bfs_distances(rev, sources=core, directed=True, partitions=P)
    wcc, _ = bfs_distances(e, sources=core, directed=False, partitions=P)

    flag = lambda df, name: df.select("id", F.lit(True).alias(name))  # noqa: E731
    out = (
        verts.join(flag(core, "is_core"), "id", "left")
        .join(flag(bwd.select("id"), "in_bwd"), "id", "left")
        .join(flag(fwd.select("id"), "in_fwd"), "id", "left")
        .join(flag(wcc.select("id"), "in_wcc"), "id", "left")
        .select(
            "id",
            F.when(F.coalesce("is_core", F.lit(False)), "core")
            .when(F.coalesce("in_bwd", F.lit(False)), "in")
            .when(F.coalesce("in_fwd", F.lit(False)), "out")
            .when(F.coalesce("in_wcc", F.lit(False)), "tendril")
            .otherwise("disc")
            .alias("region"),
        )
    )
    return out
