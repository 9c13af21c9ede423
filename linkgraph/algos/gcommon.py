"""Superstep kernel shared by the iterative graph algorithms.

* ``vertex_set`` / ``norm_edges``: the ``src ∪ dst`` vertex set and the
  simple-graph (optionally symmetric) edge view.
* ``pin_checkpoint`` / ``pin_vertices``: lineage-free state that keeps its
  hash partitioning.
* ``adjacency_blocks``: CSR-style blocks with hub splitting (salting),
  built on ``hub_split``, the core it shares with the sampled estimators'
  adjacency (``triangles._blocked_sym_adjacency``).
* ``propagate``: joins the per-source state to its blocks under any
  replication layout (hub-free, salted, or the grid's destination buckets),
  given as ``rep``: None or (replication map, block key column).
* ``gather``: the superstep shape built on it (below).
* ``iterate``: the superstep loop (resume, timing, metrics, checkpoint
  save, stop test).

Every vertex program on the kernel has one superstep shape: its pinned
state joins ``agg(propagate(blocks, rep, state))``, and that is its only
per-vertex input.  PageRank's three variants, connected components, label
propagation, Katz, eigenvector, SALSA, HITS and HyperBall run on it.
Global scalars a superstep needs (a norm, a max, a deficit) ride its
Observation and enter the next superstep as literals.

Reference parity: the loop replaces ZGraph's OpenMP reduction +
MPI_Allreduce superstep (ZGraph's src/ZGraphInstance.cpp:257-297);
block packing replaces its CSR build (src/Graph.cpp:215-377).
"""

from __future__ import annotations

import gc
import time
from typing import Callable

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


def norm_edges(
    edges: DataFrame,
    partitions: int,
    directed: bool = False,
    materialize: str = "persist",
) -> DataFrame:
    """Simple-graph view of the edge table, pinned on ``src``.

    Undirected mode unions the reversed edges; self-loops are dropped and
    duplicates removed, then the result is hash-partitioned on src and
    materialized (``persist`` + eager count, or ``checkpoint`` for
    lineage-truncated loops, or ``none``) so every superstep of the caller
    reuses one pinned edge table.
    """
    e = edges.select("src", "dst")
    if not directed:
        e = e.union(flip(edges))
    e = (
        e.filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .repartition(partitions, "src")
    )
    if materialize == "persist":
        e = e.persist()
        e.count()
    elif materialize == "checkpoint":
        e = e.localCheckpoint(eager=True)
    return e


def ckpt(df: DataFrame, P: int, *keys: str) -> DataFrame:
    """Eager ``localCheckpoint`` of ``df`` repartitioned on ``keys``: the
    lineage cut of the loops off the kernel (under AQE it forgets the
    partitioning; ``pin_checkpoint`` keeps it)."""
    return df.repartition(P, *keys).localCheckpoint(eager=True)


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


def pin_vertices(v: DataFrame, P: int, algo: str) -> tuple[DataFrame, int]:
    """Pin the vertex table on ``id``; returns (v, V).

    The vertex count and the null-id check ride the pin's job as an
    Observation.  A null id raises ``ValueError`` naming the column: it
    would otherwise become a groupBy key that matches nothing.
    """
    obs = Observation()
    v = pin_checkpoint(v.repartition(P, "id").observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("id").isNull(), 1)).alias("nulls"),
    ))
    got = obs.get
    if got["nulls"]:
        raise ValueError(
            f"{algo}: {got['nulls']} null vertex ids in column 'id' "
            "(taken from the edges' src and dst when no vertices are given)"
        )
    return v, int(got["n"])


def simple_graph(
    edges: DataFrame, P: int, algo: str, directed: bool = True
) -> tuple[DataFrame, DataFrame, int]:
    """(e, v, V): the self-loop-free, deduplicated edges (``norm_edges``)
    pinned on src, and their vertex set pinned on id (``pin_vertices``).
    The vertex set's self-loop test is null-safe, so a null id reaches
    ``pin_vertices``, which raises naming it."""
    loop = F.col("src").eqNullSafe(F.col("dst"))
    v, V = pin_vertices(vertex_set(edges.filter(~loop)), P, algo)
    return pin_checkpoint(norm_edges(edges, P, directed, materialize="none")), v, V


def pin_blocks(blocks: DataFrame) -> tuple[DataFrame, int]:
    """Pin an adjacency-block table; returns (blocks, E).  E, the number of
    edges the blocks carry (Σ size(dsts)), rides the pin's job."""
    obs = Observation()
    blocks = pin_checkpoint(blocks.observe(obs, F.sum(F.size("dsts")).alias("e")))
    return blocks, int(obs.get["e"] or 0)


def hub_split(
    e: DataFrame, key: str, nbr: str, elem: Column, block_size: int
) -> tuple[DataFrame, bool]:
    """Group ``e`` into hub-split blocks ``(key, bi, nbrs, _d)``; returns
    (blocks, has_hubs).

    ``nbrs`` is the sorted ``collect_list(elem)`` of one block and ``_d``
    the degree of its ``key``.  A vertex with degree <= block_size gets ONE
    block (bi = 0); a hub is split into ceil(d / block_size) blocks by
    ``pmod(xxhash64(nbr), ceil(d / block_size))``, NOT by sorted position:
    no window sort, and no task ever materializes a hub's whole adjacency
    in one array.  The degree pass is a count-only shuffle (map-side
    partial counts) and the hub set is small enough to broadcast, so the
    build needs no E-row join shuffle.  Sorted arrays keyed by the
    deterministic ``bi`` make the blocks a pure function of the data at
    any partition layout.
    """
    nbrs = F.sort_array(F.collect_list(elem)).alias("nbrs")

    def whole(df: DataFrame) -> DataFrame:
        # one block per key: one grouping shuffle, arrays <= block_size
        return df.groupBy(key).agg(nbrs, F.count(F.lit(1)).alias("_d")).select(
            key, F.lit(0).alias("bi"), "nbrs", "_d"
        )

    deg = e.groupBy(key).agg(F.count(F.lit(1)).alias("_d"))
    hubs = deg.filter(F.col("_d") > block_size)
    if hubs.limit(1).count() == 0:
        return whole(e), False
    hub_b = F.broadcast(hubs)
    hub = (
        e.join(hub_b, key)  # broadcast: adds _d map-side
        .withColumn(
            "bi", F.pmod(F.xxhash64(nbr), F.ceil(F.col("_d") / block_size)).cast("int")
        )
        .groupBy(key, "bi", "_d")
        .agg(nbrs)
        .select(key, "bi", "nbrs", "_d")
    )
    return whole(e.join(hub_b.select(key), key, "left_anti")).union(hub), True


def build_blocks(
    edges: DataFrame,
    partitions: int,
    block_size: int = DEFAULT_BLOCK_SIZE,
    num_salts: int = 8,
) -> tuple[DataFrame, tuple[DataFrame, str] | None, int]:
    """:func:`adjacency_blocks` as (blocks, rep, E): rep is ``propagate``'s
    layout, None or (salt_map, "salt"); E is the edge count of the
    blocks."""
    b, salted = hub_split(
        edges.select("src", "dst"), "src", "dst", F.col("dst"), block_size
    )
    cols = [F.col("nbrs").alias("dsts"), F.col("_d").alias("out_degree")]
    # no src above block_size => no salting is needed; CRITICALLY the salt
    # column must then not exist at all: a constant salt would let Catalyst
    # rewrite the per-superstep (src, salt) equi-join into a src-only join
    # plus a pushed filter, which no longer matches the pinned (src, salt)
    # partitioning — re-shuffling every adjacency array each superstep
    if not salted:
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
    blocks, rep, _ = build_blocks(edges, partitions, block_size, num_salts)
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
    got = (
        sent.select(F.explode("dsts").alias("id"), *vals)
        .groupBy("id")
        .agg(*(agg(k).alias(k) for k in vals))
    )
    return state.join(got.hint("shuffle_hash"), "id", "left")


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
    step: Callable[[DataFrame, Observation], DataFrame],
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
    superstep pins ``step(state, obs)``, which observes its convergence
    aggregates into ``obs`` (named ``{tag}_{iteration}``), so a superstep
    is one Spark job.  ``record(obs.get)`` returns the algorithm's metric
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
        state = pin_checkpoint(step(state, obs))
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
