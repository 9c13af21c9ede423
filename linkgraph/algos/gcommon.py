"""Superstep kernel shared by the iterative graph algorithms.

* ``vertex_set`` / ``norm_edges`` / ``canonical``: the ``src ∪ dst``
  vertex set, the simple-graph (optionally symmetric) edge view and the
  id-canonical one (each undirected edge once, a < b).
* ``pin_checkpoint`` / ``pin_rows`` / ``pin_vertices``: lineage-free
  state that keeps its hash partitioning, its row count riding the pin.
* ``degree_table``: a call's set-up, one pinned degree table (below).
* ``adjacency_blocks`` / ``build_blocks``: CSR-style blocks with hub
  splitting (salting), built on ``hub_split``, the core they share with
  the sampled estimators' adjacency (``triangles._blocked_sym_adjacency``).
* ``propagate``: joins the per-source state to its blocks under any
  replication layout (hub-free, salted, or the grid's destination buckets),
  given as ``rep``: None or (replication map, block key column).
* ``gather``: the superstep shape built on it (below); ``gather_edges``
  the same shape along a pinned E-row view.
* ``pin_edges`` / ``pin_sym`` / ``pin_canonical``: an E-row edge view
  pinned on src (or a), with its row count and a null-id check riding
  the pin.
* ``priority``: the injective priority hash of MIS, colouring and
  matching.
* ``send`` / ``frontier`` / ``relax``: the sparse-state supersteps on
  that view: a state's rows sent along their out-edges, and the
  level-synchronous BFS and the min-relaxation loops built on it.
* ``h_index``: the H-index of an array column (core and truss numbers).
* ``iterate``: the superstep loop (resume, timing, metrics, checkpoint
  save, stop test).

Set-up: every vertex program on the kernel (below) prepares its graph
once, in one ``degree_table`` job.  Its start state, hub set (``Degrees.hubs``),
PageRank's dangling flag (``out_degree == 0``) and mass (dangling / V)
and its empty-graph test (V == 0) read that table or its pin's
Observation; so does the sampled estimators' hub set.

Every vertex program on the kernel has one superstep shape: its pinned
state joins ``agg(propagate(blocks, rep, state))``, and that is its only
per-vertex input.  PageRank's three variants, connected components, label
propagation, Katz, eigenvector, SALSA, HITS and HyperBall run on it;
core numbers and WL refinement, whose ``collect_list`` does not combine
map-side, run it along the E-row view (``gather_edges``).  Global
scalars a superstep needs (a norm, a max, a deficit) ride its
Observation and enter the next superstep as literals.

The frontier programs keep a sparse state (the vertices reached so far,
or (source, vertex) pairs) and send it along the pinned E-row view
instead: a block build costs more than their few supersteps over a
static edge set save.  ``frontier`` runs the BFS family
(``paths.bfs_distances``, the (s, v) BFS of closeness and the distance
histogram, the sigma-carrying forward sweep of stress and betweenness)
and SCC's backward membership; ``relax`` runs SSSP, the Voronoi
partition, SCC's forward colouring and the condensation levels;
multi-seed PPR is an e6 push on ``send``.  Each superstep's state is a
union of the old state and its new rows, so it keeps its partitioning
and is one Spark job.

The other fixpoints over a static edge set run their own step on
``iterate``: truss numbers (the edge H-index over a pinned
triangle-edge incidence table), ACL push PPR and synchronous Louvain
(both levels).

The peelers pin like the kernel: ``kcore_vertices`` prunes the pinned
symmetric view on ``iterate``, and ``ktruss_edges`` peels an alive flag
over truss numbers' pinned triangle-edge incidence table on ``iterate``.
MIS, colouring, matching, MSF and densest subgraph keep their own round
(a round pins several tables), but each table is a pin that keeps its
partitioning (``pin_rows``, ``pin_vertices``, ``pin_checkpoint``) and
every count a round needs rides that pin's Observation.  Only SCC's
trim and outer round, Louvain multilevel's one contraction, MSF's
per-round CC call and the walks keep a loop of their own.

Reference parity: the loop replaces ZGraph's OpenMP reduction +
MPI_Allreduce superstep (ZGraph's src/ZGraphInstance.cpp:257-297);
block packing replaces its CSR build (src/Graph.cpp:215-377).
"""

from __future__ import annotations

import gc
import time
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..ckpt import CheckpointManager

DEFAULT_BLOCK_SIZE = 4096


def vertex_set(edges: DataFrame) -> DataFrame:
    """(id): the distinct ``src ∪ dst`` ids of an edge table."""
    return (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def flip(edges: DataFrame) -> DataFrame:
    """(src, dst) of the reversed edges."""
    return edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))


def norm_edges(edges: DataFrame, partitions: int, directed: bool = False) -> DataFrame:
    """Simple-graph view of the edge table, partitioned on ``src``.

    Undirected mode unions the reversed edges; self-loops are dropped and
    duplicates removed, then the result is hash-partitioned on src.  The
    caller pins it (``pin_sym``) so every superstep reuses one edge table.
    """
    e = edges.select("src", "dst")
    if not directed:
        e = e.union(flip(edges))
    return (
        e.filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .repartition(partitions, "src")
    )


def canonical(edges: DataFrame) -> DataFrame:
    """(a, b): each undirected simple edge once, id-canonical (a < b).
    It is an edge's identity, not a wedge orientation: id order gives a
    degree-d hub ~d/2 out-neighbours (``triangles.degree_ranked_oriented``
    orients by degree)."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )


# the injective arithmetic priority hash (M = 2^31 - 1 prime, A coprime to
# M): no RNG, the same order in any engine (MIS, colouring, matching)
PRI_A, PRI_B, PRI_M = 1_000_003, 12345, (1 << 31) - 1


def priority(*cols: str) -> Column:
    """The priority of the key ``cols``: h = cols[0], each further column
    folded in as h = (h·A + c) mod M, then p = (h·A + B) mod M."""
    h = F.col(cols[0])
    for c in cols[1:]:
        h = (h * PRI_A + F.col(c)) % PRI_M
    return (h * PRI_A + PRI_B) % PRI_M


def pin_checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` that keeps ``df``'s hash partitioning.

    Under AQE the checkpoint records ``UnknownPartitioning(0)``, so every
    later join against it re-shuffles it.  With AQE off for this one call
    the checkpoint keeps e.g. ``hashpartitioning(id, P)``: co-partitioned
    joins against it need no exchange, and the result is a plan leaf with
    no lineage.  The query that materializes ``df`` runs as one Spark job.
    The session's AQE setting is restored afterwards, also on error.
    """
    conf = df.sparkSession.conf
    key = "spark.sql.adaptive.enabled"
    old = conf.get(key)
    conf.set(key, "false")
    try:
        return df.localCheckpoint(eager=True)
    finally:
        conf.set(key, old)


def pin_rows(
    df: DataFrame, P: int, *keys: str,
    obs: Observation | None = None, aggs: tuple[Column, ...] = (),
) -> tuple[DataFrame, int]:
    """Pin ``df`` repartitioned on ``keys``; returns (df, its row count).
    The count, and the caller's ``aggs`` into ``obs``, ride the pin's one
    job as an Observation."""
    obs = obs or Observation()
    df = pin_checkpoint(df.repartition(P, *keys).observe(
        obs, F.count(F.lit(1)).alias("n"), *aggs))
    return df, int(obs.get["n"])


def pin_vertices(
    v: DataFrame, P: int, algo: str, *keys: str,
    obs: Observation | None = None, aggs: tuple[Column, ...] = (),
) -> tuple[DataFrame, int]:
    """Pin the vertex table on ``keys`` (default ``id``); returns (v, V).

    The vertex count and the null-id check ride the pin's job as an
    Observation (``obs``, with the caller's ``aggs`` too).  A null id
    raises ``ValueError`` naming the column: it would otherwise become a
    groupBy key that matches nothing.  A frontier program's start state
    (its sources or seeds) is pinned here too.
    """
    obs = obs or Observation()
    v, n = pin_rows(v, P, *(keys or ("id",)), obs=obs, aggs=(
        F.count(F.when(F.col("id").isNull(), 1)).alias("nulls"), *aggs))
    if obs.get["nulls"]:
        raise ValueError(
            f"{algo}: {obs.get['nulls']} null vertex ids in column 'id' "
            "(of the vertices, sources or seeds given, else of the edges' "
            "src and dst)"
        )
    return v, n


def pin_edges(
    edges: DataFrame, view: Callable[[DataFrame], DataFrame], algo: str
) -> tuple[DataFrame, int]:
    """Pin ``view(edges)``, an edge view partitioned on src; returns
    (view, E), E its row count.

    A null src or dst raises ``ValueError`` naming the id column: the
    view's ``src != dst`` filter would otherwise drop the edge silently.
    The check and E ride the pin's job as Observations.
    """
    nulls, rows = Observation(), Observation()
    checked = edges.observe(nulls, F.count(
        F.when(F.col("src").isNull() | F.col("dst").isNull(), 1)).alias("n"))
    e = pin_checkpoint(view(checked).observe(rows, F.count(F.lit(1)).alias("e")))
    if nulls.get["n"]:
        raise ValueError(
            f"{algo}: {nulls.get['n']} null vertex ids in column 'id' "
            "(an edge's src or dst)"
        )
    return e, int(rows.get["e"])


def pin_sym(
    edges: DataFrame, P: int, algo: str, directed: bool = False
) -> tuple[DataFrame, int]:
    """``pin_edges`` of the simple-graph view (``norm_edges``)."""
    return pin_edges(edges, lambda e: norm_edges(e, P, directed), algo)


def pin_canonical(edges: DataFrame, P: int, algo: str) -> tuple[DataFrame, int]:
    """``pin_edges`` of the id-canonical view (``canonical``) on ``a``."""
    return pin_edges(edges, lambda e: canonical(e).repartition(P, "a"), algo)


class Degrees(NamedTuple):
    """A call's degree table and what its pin observed (``degree_table``)."""

    table: DataFrame  # (id, out_degree[, in_degree]), pinned on id
    V: int
    dangling: int  # vertices of out_degree 0
    top: dict  # the largest value of each degree column

    def hubs(self, block_size: int, col: str = "out_degree") -> DataFrame | None:
        """(id, _d): the vertices whose ``col`` exceeds ``block_size``, or
        None when the pin saw none."""
        if self.top[col] <= block_size:
            return None
        return self.table.filter(F.col(col) > block_size).select(
            "id", F.col(col).alias("_d"))


def degree_table(
    view: DataFrame,
    P: int,
    algo: str,
    vertices: DataFrame | None = None,
    edges: DataFrame | None = None,
    in_degree: bool = False,
) -> Degrees:
    """Pin a call's degree table (``pin_vertices``): one row per vertex of
    its universe with its out- (and in-) degree in ``view``, the edge view
    its blocks are built on.  The largest degrees and the dangling count
    ride the pin's one job too.

    The universe is ``vertices`` when given, else the endpoints of
    ``edges``, the raw input, where the view drops some (a self-loop-only
    vertex), else those of ``view``, which then feed one grouped sum.
    Otherwise the universe's distinct ids left-join the view's per-src
    counts, which need no shuffle when the view is pinned on src.
    """
    cols = ["out_degree", "in_degree"][: 1 + in_degree]
    own = vertices is None and edges is None
    rows = [[F.col(k).alias("id"), *(F.lit(d).alias(c) for d, c in zip(ds, cols))]
            for k, *ds in [("src", 1, 0), ("dst", 0, 1)][: 1 + (own or in_degree)]]
    # plain projections: a view pinned on src then stays grouped on id, and
    # the start state's row order, so PageRank's and HITS's summation
    # order, is the one a vertex-set distinct gave
    deg = view.select(*rows[0])
    for r in rows[1:]:
        deg = deg.union(view.select(*r))
    deg = deg.groupBy("id").agg(*(F.sum(c).alias(c) for c in cols))
    if not own:
        ids = vertices.select("id") if vertices is not None else \
            edges.select(F.explode(F.array("src", "dst")).alias("id"))
        deg = ids.distinct().join(deg.hint("shuffle_hash"), "id", "left").select(
            "id", *(F.coalesce(c, F.lit(0)).alias(c) for c in cols))
    obs = Observation()
    table, V = pin_vertices(deg, P, algo, obs=obs, aggs=(
        *(F.coalesce(F.max(c), F.lit(0)).alias(c) for c in cols),
        F.count(F.when(F.col("out_degree") == 0, 1)).alias("dangling"),
    ))
    return Degrees(table, V, obs.get["dangling"], {c: obs.get[c] for c in cols})


def pin_blocks(blocks: DataFrame) -> tuple[DataFrame, int]:
    """Pin an adjacency-block table; returns (blocks, E).  E, the number of
    edges the blocks carry (Σ size(dsts)), rides the pin's job."""
    obs = Observation()
    blocks = pin_checkpoint(blocks.observe(obs, F.sum(F.size("dsts")).alias("e")))
    return blocks, int(obs.get["e"] or 0)


def hub_split(
    e: DataFrame, key: str, nbr: str, elem: Column, block_size: int,
    hubs: DataFrame | None,
) -> DataFrame:
    """Group ``e`` into hub-split blocks ``(key, bi, nbrs, _d)``.

    ``nbrs`` is the sorted ``collect_list(elem)`` of one block and ``_d``
    the degree of its ``key``.  ``hubs`` (id, _d) is the hub set, the
    vertices of degree > block_size (``Degrees.hubs``), or None when there
    are none.  A vertex outside it gets ONE block (bi = 0); a hub is split
    into ceil(d / block_size) blocks by ``pmod(xxhash64(nbr), ceil(d /
    block_size))``, NOT by sorted position: no window sort, and no task
    ever materializes a hub's whole adjacency in one array.  The hub set
    is small enough to broadcast, so the build needs no E-row join
    shuffle.  Sorted arrays keyed by the deterministic ``bi`` make the
    blocks a pure function of the data at any partition layout.
    """
    nbrs = F.sort_array(F.collect_list(elem)).alias("nbrs")

    def whole(df: DataFrame) -> DataFrame:
        # one block per key: one grouping shuffle, arrays <= block_size
        return df.groupBy(key).agg(nbrs, F.count(F.lit(1)).alias("_d")).select(
            key, F.lit(0).alias("bi"), "nbrs", "_d"
        )

    if hubs is None:
        return whole(e)
    hub_b = F.broadcast(hubs.withColumnRenamed("id", key))
    hub = (
        e.join(hub_b, key)  # broadcast: adds _d map-side
        .withColumn(
            "bi", F.pmod(F.xxhash64(nbr), F.ceil(F.col("_d") / block_size)).cast("int")
        )
        .groupBy(key, "bi", "_d")
        .agg(nbrs)
        .select(key, "bi", "nbrs", "_d")
    )
    return whole(e.join(hub_b.select(key), key, "left_anti")).union(hub)


def build_blocks(
    edges: DataFrame,
    partitions: int,
    deg: Degrees,
    col: str = "out_degree",
    block_size: int = DEFAULT_BLOCK_SIZE,
    num_salts: int = 8,
) -> tuple[DataFrame, tuple[DataFrame, str] | None, int]:
    """:func:`adjacency_blocks` as (blocks, rep, E), with the hub set read
    from ``deg``'s ``col`` (the degree of ``edges``' src there): rep is
    ``propagate``'s layout, None or (salt_map, "salt"); E is the edge
    count of the blocks."""
    hubs = deg.hubs(block_size, col)
    b = hub_split(edges.select("src", "dst"), "src", "dst", F.col("dst"), block_size, hubs)
    cols = [F.col("nbrs").alias("dsts"), F.col("_d").alias("out_degree")]
    # no src above block_size => no salting is needed; CRITICALLY the salt
    # column must then not exist at all: a constant salt would let Catalyst
    # rewrite the per-superstep (src, salt) equi-join into a src-only join
    # plus a pushed filter, which no longer matches the pinned (src, salt)
    # partitioning — re-shuffling every adjacency array each superstep
    if hubs is None:
        blocks, E = pin_blocks(b.select("src", *cols).repartition(partitions, "src"))
        return blocks, None, E
    # block i of a hub gets salt = i mod num_salts, so its adjacency
    # spreads across num_salts shuffle partitions
    salt = F.pmod(F.col("bi"), F.lit(num_salts)).cast("int").alias("salt")
    blocks, E = pin_blocks(
        b.select("src", salt, *cols).repartition(partitions, "src", "salt")
    )
    salt_map = pin_checkpoint(
        blocks.select("src", "salt")
        .distinct()
        .groupBy("src")
        .agg(F.collect_set("salt").alias("salts"))
        .repartition(partitions, "src")
    )
    return blocks, (salt_map, "salt"), E


def adjacency_blocks(
    edges: DataFrame,
    partitions: int,
    block_size: int = DEFAULT_BLOCK_SIZE,
    num_salts: int = 8,
) -> tuple[DataFrame, DataFrame | None]:
    """Pack edges into CSR-style blocks; returns (blocks, salt_map).

    blocks: (src, salt, dsts array<long>, out_degree long), pinned
    (``pin_checkpoint``) on (src, salt).  salt_map: (src, salts array<int>)
    — the distinct salts of each src's blocks, pinned on src; ``None`` when
    no src exceeds ``block_size``: the blocks then have no ``salt`` column
    and are pinned on src, and the per-superstep replication join is
    skipped.  Per superstep the scan touches V-ish block rows with packed
    arrays instead of E edge rows.
    """
    deg = degree_table(edges, partitions, "adjacency_blocks")
    blocks, rep, _ = build_blocks(edges, partitions, deg, block_size=block_size,
                                  num_salts=num_salts)
    return blocks, rep[0] if rep else None


def propagate(
    blocks: DataFrame, rep: tuple[DataFrame, str] | None, state: DataFrame
) -> DataFrame:
    """Join the per-source state ``(src, ...)`` to the blocks it feeds.

    ``rep`` is the block layout, as its builder returns it: ``None`` for
    hub-free blocks (partitioned on src like the state, so the join needs
    no exchange), else (replication map ``(src, array)``, block key
    column): the salt map and ``salt``, or the grid's bucket map and
    ``dstb``.  A replicated state row is copied to exactly the
    salts/buckets its blocks occupy; only those V-ish copies shuffle.
    """
    if rep is None:
        return blocks.join(state.hint("shuffle_hash"), "src")
    rep_map, key = rep
    repl = state.join(rep_map.hint("shuffle_hash"), "src").select(
        *state.columns, F.explode(rep_map.columns[1]).alias(key)
    )
    return blocks.join(repl.hint("shuffle_hash"), ["src", key])


def gather(
    state: DataFrame,
    blocks: DataFrame,
    rep: tuple[DataFrame, str] | None,
    agg: Callable[[str], Column],
    **vals: Column,
) -> DataFrame:
    """The superstep shape: the state (id, ...) left-joined with ``agg`` of
    each of ``vals`` over the vertex's in-edges.

    A value is a column of the source's state row and its block row
    (``out_degree``, ...), taken once per block row (below the explode)
    from the state ``propagate``d to the blocks.  Both sides are hash(id),
    so the join needs no exchange; the state is the only per-vertex input.
    """
    sent = propagate(blocks, rep, state.withColumnRenamed("id", "src")).select(
        "dsts", *(c.alias(k) for k, c in vals.items())
    )
    return _gathered(state, sent.select(F.explode("dsts").alias("id"), *vals), agg)


def gather_edges(
    state: DataFrame, edges: DataFrame, agg: Callable[[str], Column], **vals: Column
) -> DataFrame:
    """``gather`` along the E-row view ``edges`` pinned on src (``send``)
    instead of blocks.

    It is the side for an ``agg`` that does not combine map-side
    (``collect_list``): the shuffle then carries one message per edge on
    either side, so blocks save only the rows the state joins, and their
    build (degree table, salt map, packing) costs more than that.  Core
    numbers (18 supersteps) and WL (3) on ``expected_edges(20000, 1)`` at
    local[4], P=8 ran 23 % and 39 % faster warm on this view than on
    blocks.  A combining ``agg`` (sum, min, mode) keeps ``gather``."""
    return _gathered(state, send(state, edges, **vals), agg)


def _gathered(
    state: DataFrame, sent: DataFrame, agg: Callable[[str], Column]
) -> DataFrame:
    """The state left-joined with ``agg`` of each value ``sent`` (id, …)."""
    vals = [c for c in sent.columns if c != "id"]
    got = sent.groupBy("id").agg(*(agg(k).alias(k) for k in vals))
    return state.join(got.hint("shuffle_hash"), "id", "left")


def send(
    state: DataFrame, edges: DataFrame, keys: tuple[str, ...] = (), **vals: Column
) -> DataFrame:
    """(keys…, id, vals…): the state rows (keys…, id, …) sent along their
    out-edges in the E-row view ``edges`` (src, dst, …) pinned on src,
    each arriving at ``dst``.  A value may read the edge's columns (a
    weight, a degree).  The state is the hash join's build side."""
    return (
        state.withColumnRenamed("id", "src").hint("shuffle_hash")
        .join(edges, "src")
        .select(*keys, F.col("dst").alias("id"), *(c.alias(k) for k, c in vals.items()))
    )


def frontier(
    sym: DataFrame,
    E: int,
    start: DataFrame,
    keys: tuple[str, ...],
    algo: str,
    P: int,
    max_iter: int,
    sums: tuple[str, ...] = (),
    check: Callable[[int], None] | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Level-synchronous BFS over the pinned view ``sym``; returns (state,
    metrics).

    The state (keys…, id, dist, sums…) starts as ``start`` (at dist 0),
    pinned on (keys…, id); ``keys`` run concurrent BFSs, e.g. one per
    source ``s``.  Superstep l ``send``s the rows at dist l, groups them
    on (keys…, id), summing the ``sums`` columns (else deduplicating),
    anti-joins what the state holds and appends the rest at dist l + 1.
    The new frontier's size rides the pin as ``frontier``, and the loop
    stops when it is 0.  Level l is ``state.filter(dist == l)``.  An empty
    start gives (start, []).  ``check``, if given, is called with the
    start's row count, which its pin observes, before the first superstep.
    """
    k = [*keys, "id"]
    state, n = pin_vertices(start, P, algo, *k)
    if check is not None:
        check(n)
    if n == 0:
        return state, []
    dist_t = state.schema["dist"].dataType

    def step(state: DataFrame, obs: Observation, lvl: int) -> DataFrame:
        sent = send(state.filter(F.col("dist") == lvl), sym, keys,
                    **{c: F.col(c) for c in sums})
        new = sent.groupBy(*k).agg(*(F.sum(c).alias(c) for c in sums)) \
            if sums else sent.dropDuplicates(k)
        new = (
            new.join(state.select(*k).hint("shuffle_hash"), k, "left_anti")
            .select(*k, F.lit(lvl + 1).cast(dist_t).alias("dist"), *sums)
            .observe(obs, F.count(F.lit(1)).alias("frontier"))
        )
        # both sides hash(keys…, id): the union keeps it, no state shuffle
        return state.unionByName(new).repartition(P, *k)

    def record(got: dict) -> tuple[dict, bool]:
        return {"frontier": int(got["frontier"])}, got["frontier"] == 0

    return iterate(sym, lambda _: state, step, record, algo, P, E, max_iter)


def relax(
    view: DataFrame,
    E: int,
    start: DataFrame,
    col: str,
    msg: Column,
    field: str,
    algo: str,
    P: int,
    max_iter: int,
) -> tuple[DataFrame, list[dict]]:
    """The min-relaxation over the pinned E-row ``view``; returns
    (state(id, col), metrics).

    The state starts as ``start`` (id, col), pinned on id.  Each superstep
    the rows the last one set or improved ``send`` ``msg``, an expression
    of their state row and the edge, along ``view``; the least message
    per id, unioned with the co-partitioned state and grouped on id (no
    state shuffle), sets or improves ``col``.  How many it set or
    improved rides the pin as ``field``, with the state's ``size``; the
    loop stops when it is 0.  An empty start gives (start, []).
    """
    state, n = pin_vertices(start.withColumn("_new", F.lit(True)), P, algo)
    if n == 0:
        return state.select("id", col), []
    none = F.lit(None).cast(state.schema[col].dataType).alias("_old")

    def step(state: DataFrame, obs: Observation, it: int) -> DataFrame:
        sent = send(state.filter("_new"), view, **{col: msg})
        got = (
            state.select("id", col, F.col(col).alias("_old"))
            .unionByName(sent.groupBy("id").agg(F.min(col).alias(col)).select("id", col, none))
            .groupBy("id")
            .agg(F.min(col).alias(col), F.min("_old").alias("_old"))
        )
        new = F.col("_old").isNull() | (F.col(col) < F.col("_old"))
        return (
            got.select("id", col, new.alias("_new"))
            .observe(obs, F.coalesce(F.sum(F.col("_new").cast("long")), F.lit(0)).alias("c"),
                     F.count(F.lit(1)).alias("size"))
            .repartition(P, "id")
        )

    def record(got: dict) -> tuple[dict, bool]:
        return {field: int(got["c"]), "size": int(got["size"])}, got["c"] == 0

    return iterate(view, lambda _: state, step, record, algo, P, E, max_iter,
                   output=lambda s: s.select("id", col))


def h_index(values: Column) -> Column:
    """The H-index of the array column ``values``: the largest h such that
    h of its values are >= h.  Sorted descending, the values above their
    0-based position are a prefix, and its length is the H-index — one
    array expression, no window sort."""
    return F.size(F.filter(F.sort_array(values, asc=False), lambda x, i: x > i))


def labels_changed(got: dict) -> tuple[dict, bool]:
    """``iterate``'s record for label algorithms observing their change
    count as ``c``: stop when no label changed."""
    return {"labels_changed": int(got["c"])}, got["c"] == 0


def l1_change(got: dict) -> tuple[dict, bool]:
    """``iterate``'s record for fixed-superstep programs observing their
    state's L1 change as ``delta``: it never stops early."""
    return {"l1_delta": got["delta"]}, False


def iterate(
    edges: DataFrame,
    init: Callable[[DataFrame | None], DataFrame],
    step: Callable[[DataFrame, Observation, int], DataFrame],
    record: Callable[[dict], tuple[dict, bool]],
    tag: str,
    P: int,
    E: int,
    max_iter: int,
    checkpoint_dir: str | None = None,
    params: dict | None = None,
    output: Callable[[DataFrame], DataFrame] = lambda state: state,
) -> tuple[DataFrame, list[dict]]:
    """The superstep loop; returns (output(state), per-superstep metrics).

    ``init(resumed)`` gives the pinned start state, where ``resumed`` is
    the latest durable checkpoint's state pinned on id, or None.  Each
    superstep pins ``step(state, obs, it)``, which observes its
    convergence aggregates into ``obs`` (named ``{tag}_{it}``), so a
    superstep is one Spark job; ``it`` is the superstep's index, counted
    on across a resume.  ``record(obs.get)`` returns the algorithm's metric
    fields and whether to stop; the loop adds iteration, seconds,
    edges_processed (E), edges_per_sec and num_partitions.

    With ``checkpoint_dir`` every superstep's ``output(state)`` is saved.
    The directory is bound to the graph (edge count and
    ``bit_xor(xxhash64(src, dst))``) and to ``params``: resuming against
    another graph or other parameters raises ``ValueError``.
    """
    ckpt, resumed, metrics, start = None, None, [], 0
    if checkpoint_dir:
        ckpt = CheckpointManager(checkpoint_dir)
        ident = edges.agg(
            F.count(F.lit(1)).alias("edges"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("edge_hash"),
        ).collect()[0].asDict()
        ckpt.bind({**ident, **(params or {})})
        if (last := ckpt.latest()) is not None:
            state, _ = ckpt.load(edges.sparkSession, last)
            resumed = pin_checkpoint(state.repartition(P, "id"))
            metrics, start = ckpt.history(), last + 1
    state = init(resumed)
    for it in range(start, max_iter):
        t0 = time.time()
        obs = Observation(f"{tag}_{it}")
        state = pin_checkpoint(step(state, obs, it))
        fields, stop = record(obs.get)
        secs = time.time() - t0
        m = {
            "iteration": it,
            **fields,
            "seconds": secs,
            "edges_processed": E,
            "edges_per_sec": E / secs if secs > 0 else None,
            "num_partitions": P,
        }
        metrics.append(m)
        if ckpt is not None:
            ckpt.save(it, output(state), m)
        # drop py4j refs to the previous superstep's checkpoint RDD so the
        # ContextCleaner can free its memory and shuffle files
        gc.collect()
        if stop:
            break
    return output(state), metrics
