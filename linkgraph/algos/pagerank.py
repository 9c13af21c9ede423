"""PageRank over hash-partitioned CSR-style adjacency blocks.

Semantics: damping 0.85, uniform dangling-mass redistribution, ranks sum
to 1, convergence when the L1 delta < tol.  This is the engine's headline
metric query (BASELINE.json: edges-processed/sec per superstep, wall-time
to 1e-6 convergence).

``pagerank``, ``personalized_pagerank`` and ``pagerank_weighted`` run one
superstep (``_supersteps``) on the kernel in ``gcommon``: pinned vertex
table, pinned adjacency blocks (``adjacency_blocks``: hubs split and
salted; the grid layout ``bucketed_adjacency_blocks``; or the weighted
variant's own ``(dsts, ws, w_out)`` blocks), ``propagate`` for the
rank-to-block join, and the ``iterate`` loop.  Two things differ between
the variants: the teleport term t (1/V, or personalized PageRank's reset
vector) and the per-edge contribution expression.

  * **The state is the superstep's only per-vertex input**: it carries
    the reset column and the dangling flag from the start, and the update
    is the rank state joined with its own contributions, so the L1 delta
    reads the old rank from the same row.  A join of the update back to
    the old ranks squared the pinned state's size estimate every
    superstep, and after ~15 tol-mode supersteps the planner spent
    minutes a superstep on that number.  The degree table is read only to
    start the state.
  * **Pinned partitioning**: the degree table, the blocks, the salt or
    bucket map and every superstep's rank state are eager local
    checkpoints taken with AQE off (gcommon.pin_checkpoint).  Each is a
    lineage-free plan leaf that keeps its hashpartitioning(key, P), so the
    joins between them need no exchange and no sort.  Per superstep only
    the map-side-combined contribution aggregation shuffles, plus the
    salted rank copies on a graph with hubs.
  * **Dangling mass needs no join**: the raw update
    r' = (1-d)·t + d·Σ contrib sums to S = 1 - d·dm, so the dangling mass
    returns through the teleport as c·t with c = 1 - S = d·dm, folded
    lazily into the next superstep as a literal times t.  Fixed-iteration
    PageRank and the weighted variant take c from the observed S;
    convergence mode and personalized PageRank carry a static dangling
    flag and sum dm over the dangling vertices alone (no cancellation,
    which a reset vector on a few sources would concentrate).  The flag
    is the degree table's ``out_degree == 0``, and t's own dangling mass
    an observed count over V (or over the sources): no pass of its own.
  * **One Spark job per superstep — tol mode included**: the mass sum or
    the dangling raw mass, and the L1 convergence delta, ride the pin via
    the Observation API (the delta needs the new deficit before the job
    runs: d times the input state's dangling mass, observed one superstep
    earlier).
  * Optional durable checkpoint (parquet + metrics.json) for mid-algorithm
    resume, bound to the graph and the damping (ckpt.CheckpointManager).

Reference parity: the superstep loop replaces ZGraph's OpenMP reduction +
MPI_Allreduce (ZGraph's src/ZGraphInstance.cpp:257-297); block
packing replaces its 1-D vertex-range partitioning + CSR build
(src/Graph.cpp:26-111,215-377).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .gcommon import (  # noqa: F401  (adjacency_blocks is re-exported)
    DEFAULT_BLOCK_SIZE,
    adjacency_blocks,
    build_blocks,
    degree_table,
    iterate,
    pin_blocks,
    pin_checkpoint,
    pin_vertices,
    propagate,
)


def bucketed_adjacency_blocks(
    edges: DataFrame,
    partitions: int,
    dst_buckets: int,
) -> tuple[DataFrame, tuple[DataFrame, str], int]:
    """2-D (grid) adjacency blocks: returns (blocks, (bucket_map, "dstb"), E).

    blocks: (src, dstb, dsts array<long>, out_degree long) where
    ``dstb = pmod(xxhash64(dst), K)``; pinned on ``dstb`` ALONE so one
    task owns one bucket-hash class.  bucket_map: (src, dstbs array<int>),
    pinned on src.  E is the edge count of the blocks.

    Why 2-D: with 1-D src blocks every map task of the contribution
    aggregation can touch ALL V destination keys — the partial-agg hash
    table is V-sized per task (cache-hostile at bench scale, impossible at
    V~1e10), and the shuffle carries up to V x P partially-aggregated rows.
    Aligning blocks to destination buckets bounds the per-task key space to
    ~V/K and makes each dst's partial sum complete within one task, so the
    contribution shuffle carries exactly <= V rows.  The price is rank
    replication: V x min(out_degree, K) state rows per superstep — the
    standard grid/GIM-V PageRank trade, which is what survives a 1000x
    scale-up.  Hub salting is subsumed: a hub's adjacency spreads across
    all K buckets by construction.
    """
    # single E-row grouping shuffle; per-(src, bucket) arrays are bounded by
    # ~degree/K (pick K >= degree_max/block_size to bound them absolutely).
    # out_degree falls out of the block sizes — no E-row degree join.
    grouped = (
        edges.select(
            "src", "dst",
            F.pmod(F.xxhash64("dst"), F.lit(dst_buckets)).cast("int").alias("dstb"),
        )
        .groupBy("src", "dstb")
        .agg(
            F.sort_array(F.collect_list("dst")).alias("dsts"),
            F.count(F.lit(1)).alias("_bsz"),
        )
    )
    deg = grouped.groupBy("src").agg(F.sum("_bsz").alias("out_degree"))
    blocks, E = pin_blocks(
        grouped.join(deg.hint("shuffle_hash"), "src")  # (V x K)-row join, not E
        .select("src", "dstb", "dsts", "out_degree")
        .repartition(partitions, "dstb")
    )
    bucket_map = pin_checkpoint(
        blocks.select("src", "dstb")
        .groupBy("src")
        .agg(F.collect_set("dstb").alias("dstbs"))
        .repartition(partitions, "src")
    )
    return blocks, (bucket_map, "dstb"), E


def _contribs(joined: DataFrame) -> DataFrame:
    """(id, contrib) per edge of unweighted blocks: rank / out_degree."""
    # divide once per block row (not per exploded edge): the weight
    # projection sits below the Generate operator
    return joined.select(
        (F.col("rank") / F.col("out_degree")).alias("contrib"), "dsts"
    ).select(F.explode("dsts").alias("id"), "contrib")


def _weighted_contribs(joined: DataFrame) -> DataFrame:
    """(id, contrib) per edge of weighted blocks: rank * w / w_out."""
    return joined.select(
        F.explode(F.arrays_zip("dsts", "ws")).alias("z"),
        (F.col("rank") / F.col("w_out")).alias("r_per_w"),
    ).select(
        F.col("z.dsts").alias("id"),
        (F.col("z.ws") * F.col("r_per_w")).alias("contrib"),
    )


def _supersteps(
    edges: DataFrame,
    v: DataFrame,
    V: int,
    E: int,
    P: int,
    blocks: DataFrame,
    rep: tuple[DataFrame, str] | None,
    contribs: Callable[[DataFrame], DataFrame],
    damping: float,
    tele: float | str,
    iters: int,
    start: Callable[[], DataFrame] | None = None,
    tol: float | None = None,
    checkpoint_dir: str | None = None,
    td: float = 0.0,
) -> tuple[DataFrame, list[dict]]:
    """The PageRank superstep shared by all three variants.

    ``tele`` is the teleport vector t: a per-vertex constant (1/V) or the
    name of a column of ``v`` (personalized PageRank's reset vector).
    Every column of ``v`` besides id (the reset vector, the ``dang`` flag)
    rides along in the state.  The state holds raw ranks
    r' = (1-d)·t + d·Σ contrib, whose total S falls short of 1 by exactly
    the mass that reached no vertex (dangling ranks); that deficit c
    returns through the teleport lazily, as r = r' + c·t in the next
    superstep.  With a uniform t, c is 1 - S.  With a reset vector, c is
    d times the input state's dangling mass, summed over the dangling
    vertices alone (the static ``dang`` flag) and known before
    the superstep runs: the rounding error of 1 - S, which 1/V spreads
    thin, would land on the few sources; ``td`` is Σ_dang t.  ``start()``
    gives the initial ranks (t if None).  ``tol`` switches to convergence
    mode, which needs the flag too: the L1 delta needs the new deficit
    before the job runs.
    """
    personal = isinstance(tele, str)
    t = F.col(tele) if personal else F.lit(tele)
    carry = v.columns[1:]  # the reset column and the dangling flag ride in the state
    dang = "dang" in carry
    c = 0.0  # the deficit of the current raw state
    sd = td  # its dangling raw mass Σ_dang r' (with the flag)
    nxt = 0.0  # the deficit of the superstep being run (with the flag)

    def init(resumed: DataFrame | None) -> DataFrame:
        nonlocal sd
        if resumed is None and start is None:
            return pin_checkpoint(v.select("id", t.alias("rank"), *carry))
        ranks = resumed if resumed is not None else start()
        ranks = pin_checkpoint(
            v.join(ranks.select("id", "rank"), "id").select("id", "rank", *carry)
            .repartition(P, "id")
        )
        if dang:
            # warm or resumed state: one aggregation (a start of t has td)
            sd = float(
                ranks.filter(F.col("dang"))
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
                .collect()[0][0]
            )
        return ranks

    def step(ranks: DataFrame, obs, it: int) -> DataFrame:
        nonlocal nxt
        src = ranks.select(F.col("id").alias("src"), (F.col("rank") + F.lit(c) * t).alias("rank"))
        contrib = (
            contribs(propagate(blocks, rep, src))
            .groupBy("id")
            .agg(F.sum("contrib").alias("contrib"))
        )
        new_rank = (
            F.lit(1.0 - damping) * t + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
        ).alias("rank")
        # the state joins its own contributions, co-partitioned (both sides
        # hash(id, P)): no exchange, and the old rank is read from the row
        upd = ranks.join(contrib.hint("shuffle_hash"), "id", "left").select(
            "id", new_rank, F.col("rank").alias("_old"), *carry
        )
        # ONE job per superstep, convergence check included: the mass sum,
        # the dangling raw mass and the L1 delta ride the pin as
        # Observation columns.  The new deficit is d times the input's
        # dangling mass Σ_dang (r' + c·t), which the flag gives up front
        aggs = [] if personal else [F.sum("rank").alias("s")]
        if dang:
            nxt = damping * (sd + c * td)
            aggs.append(
                F.sum(F.when(F.col("dang"), F.col("rank")).otherwise(F.lit(0.0))).alias("sd")
            )
        if tol is not None:
            aggs.append(F.sum(F.abs(
                F.col("rank") + F.lit(nxt) * t - F.col("_old") - F.lit(c) * t
            )).alias("delta"))
        # the join already leaves hash(id, P) when P is the session default
        # (the planner then drops this repartition); otherwise it re-pins P
        return upd.observe(obs, *aggs).select("id", "rank", *carry).repartition(P, "id")

    def record(got: dict) -> tuple[dict, bool]:
        nonlocal c, sd
        c = nxt if personal else 1.0 - float(got["s"])
        if dang:
            sd = float(got["sd"])
        fields = {"l1_delta": None, "dangling_mass": c / damping}
        if tol is None:
            return fields, False
        fields["l1_delta"] = float(got["delta"])
        return fields, fields["l1_delta"] < tol

    return iterate(
        edges, init, step, record, "mass", P, E, iters,
        checkpoint_dir=checkpoint_dir, params={"damping": damping},
        # durable and returned ranks carry the deficit folded in, so a
        # resume needs no side-channel
        output=lambda r: r.select("id", (F.col("rank") + F.lit(c) * t).alias("rank")),
    )


def pagerank(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 200,
    num_iters: int | None = None,
    partitions: int | None = None,
    checkpoint_dir: str | None = None,
    hub_degree_threshold: int | None = None,
    num_salts: int = 8,
    dst_buckets: int | None = None,
    initial_ranks: DataFrame | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Run PageRank; returns (ranks(id, rank), per-iteration metrics).

    ``initial_ranks`` (id, rank) warm-starts the iteration — the
    incremental-recompute path after small graph updates: converged ranks
    of the previous graph version reach tol in a fraction of the cold-start
    supersteps.  New vertices default to 1/V; the vector is L1-normalized
    so the mass invariant (Σrank = 1) holds regardless of drift.

    ``num_iters`` forces an exact iteration count (no convergence check) —
    used for fixed-iteration oracle comparisons; otherwise iterate until
    the L1 delta < ``tol`` or ``max_iter``.  ``hub_degree_threshold``
    doubles as the adjacency block size (vertices above it are split/salted
    across ``num_salts`` shuffle partitions).  ``dst_buckets`` switches to
    the 2-D grid layout (bucketed_adjacency_blocks): per-task aggregation
    state bounded by V/K and a <=V-row contribution shuffle, at the cost of
    replicating each rank to min(out_degree, K) buckets — the layout that
    survives V ~ 1e10.  Set it to ~the shuffle partition count.  An empty
    vertex set gives an empty (id, rank) frame and no metrics.
    """
    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    bs = hub_degree_threshold or DEFAULT_BLOCK_SIZE
    conv_mode = num_iters is None

    deg = degree_table(edges, P, "pagerank", vertices)
    V = deg.V
    if V == 0:
        return deg.table.select("id", F.lit(0.0).alias("rank")), []
    # convergence mode only: the static dangling flag rides in the state, so
    # each superstep observes its raw dangling mass in the update's job
    dang = [(F.col("out_degree") == 0).alias("dang")] if conv_mode else []
    v = deg.table.select("id", *dang)
    if dst_buckets:
        blocks, rep, E = bucketed_adjacency_blocks(edges, P, dst_buckets)
    else:
        blocks, rep, E = build_blocks(edges, P, deg, block_size=bs, num_salts=num_salts)

    warm = None
    if initial_ranks is not None:
        def warm():
            # warm start: left-join onto the vertex set (new vertices get
            # 1/V), then L1-normalize so Σrank = 1 exactly
            w = v.join(
                initial_ranks.select("id", F.col("rank").alias("_r0")), "id", "left"
            ).select("id", F.coalesce("_r0", F.lit(1.0 / V)).alias("rank"))
            total = float(w.agg(F.sum("rank")).collect()[0][0]) or 1.0
            return w.select("id", (F.col("rank") / total).alias("rank"))

    return _supersteps(
        edges, v, V, E, P, blocks, rep, _contribs, damping, 1.0 / V,
        max_iter if conv_mode else num_iters, warm,
        tol=tol if conv_mode else None, checkpoint_dir=checkpoint_dir, td=deg.dangling / V,
    )


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    num_iters: int = 5,
    partitions: int | None = None,
) -> DataFrame:
    """Personalized PageRank: teleport mass restarts uniformly over the
    ``sources`` vertex set (column ``id``) instead of all vertices; dangling
    mass likewise returns to the sources.  Returns (id, rank).

    Shares the CSR-block superstep with :func:`pagerank`, with the reset
    vector as the teleport term; runs a fixed iteration count (the
    suite-parity mode).  The sources are pinned once, joined with the
    degree table, and that pin observes the source count and the dangling
    sources; the reset vector joins the pinned degree table as a broadcast
    (source sets are tiny relative to V).  An empty ``sources`` or a null
    source id raises ``ValueError``; an empty vertex set gives an empty
    frame.
    """
    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    deg = degree_table(edges, P, "personalized_pagerank", vertices)
    # one pin: the source count and how many sources are dangling ride it
    obs = Observation()
    S, nS = pin_vertices(
        sources.select("id").distinct().join(deg.table, "id", "left"), P,
        "personalized_pagerank", obs=obs,
        aggs=(F.count(F.when(F.col("out_degree") == 0, 1)).alias("nd"),),
    )
    if nS == 0:
        raise ValueError("personalized_pagerank: sources is empty (no id rows)")
    if deg.V == 0:
        return deg.table.select("id", F.lit(0.0).alias("rank"))
    nd = obs.get["nd"]
    reset = F.broadcast(S.select("id", F.lit(1.0 / nS).alias("_p")))
    v = deg.table.join(reset, "id", "left").select(
        "id", F.coalesce("_p", F.lit(0.0)).alias("_p"), (F.col("out_degree") == 0).alias("dang"))
    blocks, rep, E = build_blocks(edges, P, deg)
    ranks, _ = _supersteps(edges, v, deg.V, E, P, blocks, rep, _contribs, damping, "_p",
                           num_iters, td=nd / nS)
    return ranks


def pagerank_weighted(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    weight_col: str = "weight",
    damping: float = 0.85,
    num_iters: int = 5,
    partitions: int | None = None,
) -> DataFrame:
    """Edge-weighted PageRank: contribution ∝ rank(src) * w(src,dst) / Σw(src,·).

    Weighted-adjacency blocks ``(src, dsts array, ws array, w_out)`` packed
    once (one E-row grouping shuffle), pinned on src like the rank state;
    the superstep is :func:`pagerank`'s with a weighted contribution.
    Vertices whose outgoing weights
    sum to 0 (including all-zero-weight edges) are DANGLING: their blocks
    are dropped and their mass redistributes uniformly, so ranks always sum
    to 1.  Returns ranks(id, rank) after exactly ``num_iters`` supersteps,
    or an empty frame for an empty vertex set.
    """
    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    deg = degree_table(edges, P, "pagerank_weighted", vertices)
    v, V = deg.table.select("id"), deg.V
    if V == 0:
        return v.select("id", F.lit(0.0).alias("rank"))
    blocks, E = pin_blocks(
        edges.select("src", "dst", F.col(weight_col).cast("double").alias("w"))
        .groupBy("src")
        .agg(
            F.collect_list("dst").alias("dsts"),
            F.collect_list("w").alias("ws"),
            F.sum("w").alias("w_out"),
        )
        .filter(F.col("w_out") > 0)  # Σw == 0 → dangling, not a NaN factory
        .repartition(P, "src")
    )
    ranks, _ = _supersteps(
        edges, v, V, E, P, blocks, None, _weighted_contribs, damping, 1.0 / V, num_iters
    )
    return ranks
