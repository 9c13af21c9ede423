"""PageRank over hash-partitioned CSR-style adjacency blocks.

Semantics: damping 0.85, uniform dangling-mass redistribution, ranks sum
to 1, convergence when the L1 delta < tol.  This is the engine's headline
metric query (BASELINE.json: edges-processed/sec per superstep, wall-time
to 1e-6 convergence).

Scale design (north rule: "DataFrame self-joins and grouped aggregations
over hash-partitioned CSR-style adjacency blocks ... salted/split hub
partitions ... pinned shuffle partitioning per superstep"):

  * **Adjacency blocks**: the edge table is packed ONCE into
    ``(src, salt, dsts: array<long>, out_degree)`` rows — the Spark form of
    the reference's per-socket CSR (/root/reference/include/Graph.hpp:148-166,
    built at /root/reference/src/Graph.cpp:215-377).  Per superstep the scan
    touches V-ish block rows with packed arrays instead of E individual edge
    rows: far less memory traffic, and the per-superstep join keys shrink
    from E to ~V rows.
  * **Hub splitting == salting**: a vertex with out-degree > block_size is
    split into multiple blocks; block i gets salt = i mod num_salts, so a
    hub's adjacency spreads across num_salts shuffle partitions.  The static
    ``salt_map`` (src -> distinct salts) replicates a hub's rank row to
    exactly the salts its blocks live in; non-hubs stay single-copy.
  * **Pinned partitioning**: the vertex table, the blocks (hash-partitioned
    on (src, salt), or on src when hub-free), the salt map and every
    superstep's rank state are eager local checkpoints taken with AQE off
    (gcommon.pin_checkpoint).  Each is a lineage-free plan leaf that keeps
    its hashpartitioning(key, P), so the joins between them need no
    exchange and no sort (the SHUFFLE_HASH hint keeps Spark from
    sort-merge-joining the big side).  Per superstep only the
    map-side-combined contribution aggregation shuffles, plus the salted
    rank copies on a graph with hubs.  A checkpoint taken under AQE would
    record UnknownPartitioning and re-shuffle the state every superstep.
  * **Dangling mass needs no join**: with ranks summing to 1, the uniform
    dangling redistribution is a per-vertex constant recoverable from the
    raw update's total mass — S = sum(raw') = 1 - d*dm, so the correction
    corr = (1-S)/V folds lazily into the next superstep as a literal.
  * **One Spark job per superstep — tol mode included**: the mass sum, the
    dangling raw mass, and the L1 convergence delta all piggy-back on the
    eager checkpoint via the Observation API (the delta's dependence on
    the not-yet-observed total mass is broken by predicting S from the
    previous superstep's observed dangling mass: S = 1 - d*dm exactly).
    The checkpoint runs with AQE off, so its query is one job rather than
    one job per query stage, and it truncates lineage (the reference's
    "plain arrays" model, by other means).
  * Optional durable checkpoint (parquet + metrics.json) for mid-algorithm
    resume (ckpt.CheckpointManager).

Reference parity: the superstep loop replaces ZGraph's OpenMP reduction +
MPI_Allreduce (/root/reference/src/ZGraphInstance.cpp:257-297); block
packing replaces its 1-D vertex-range partitioning + CSR build
(/root/reference/src/Graph.cpp:26-111,215-377).
"""

from __future__ import annotations

import gc
import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..ckpt import CheckpointManager
from .gcommon import pin_checkpoint

DEFAULT_BLOCK_SIZE = 4096


def adjacency_blocks(
    edges: DataFrame,
    partitions: int,
    block_size: int = DEFAULT_BLOCK_SIZE,
    num_salts: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Pack edges into CSR-style blocks; returns (blocks, salt_map).

    blocks: (src, salt, dsts array<long>, out_degree long), persisted,
    hash-partitioned on (src, salt).  salt_map: (src, salts array<int>) —
    the distinct salts of each src's blocks, persisted, partitioned on src;
    ``None`` when no src exceeds ``block_size`` (every salt is 0 and the
    per-superstep replication join would be pure overhead).
    """
    e = edges.select("src", "dst")
    # degree pass is a count-only shuffle (map-side partial counts, tiny);
    # the hub set (out_degree > block_size) is small enough to broadcast,
    # so NO E-row join shuffle is ever needed for the build
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
    hubs = deg.filter(F.col("out_degree") > block_size)
    has_hubs = hubs.limit(1).count() > 0

    def _whole(src_edges):
        # one grouping shuffle; arrays bounded by block_size here (no hubs)
        # sorted dsts: the per-superstep explode then feeds the partial-agg
        # hash table in near-ascending id order (better cache locality)
        return src_edges.groupBy("src").agg(
            F.sort_array(F.collect_list("dst")).alias("dsts"),
            F.count(F.lit(1)).alias("out_degree"),
        )

    # no src above block_size => no salting is needed; CRITICALLY the salt
    # column must then not exist at all: a constant salt would let Catalyst
    # rewrite the per-superstep (src, salt) equi-join into a src-only join
    # plus a pushed filter, which no longer matches the persisted
    # (src, salt) partitioning — re-shuffling every adjacency array each
    # superstep (observed via .explain: an E-row Exchange per iteration)
    if not has_hubs:
        blocks = _whole(e).repartition(partitions, "src").persist()
        blocks.count()
        return blocks, None

    # hub edges split by hash(dst), NOT by sorted position: no window sort,
    # and a hub's adjacency never materializes in one task (each (src, _bi)
    # group holds ~block_size entries) — skew-safe at any degree
    hub_src = F.broadcast(hubs)
    nonhub_blocks = _whole(e.join(hub_src.select("src"), "src", "left_anti"))
    nonhub_blocks = nonhub_blocks.select(
        "src", F.lit(0).cast("int").alias("salt"), "dsts", "out_degree"
    )
    nb = F.greatest(F.lit(1), F.ceil(F.col("out_degree") / block_size))
    hub_blocks = (
        e.join(hub_src, "src")  # broadcast: adds out_degree map-side
        .withColumn("_bi", F.pmod(F.xxhash64("dst"), nb).cast("int"))
        .groupBy("src", "_bi", "out_degree")
        .agg(F.sort_array(F.collect_list("dst")).alias("dsts"))
        .select(
            "src", F.pmod(F.col("_bi"), F.lit(num_salts)).cast("int").alias("salt"),
            "dsts", "out_degree",
        )
    )
    blocks = (
        nonhub_blocks.union(hub_blocks)
        .repartition(partitions, "src", "salt")
        .persist()
    )
    blocks.count()
    salt_map = (
        blocks.select("src", "salt")
        .distinct()
        .groupBy("src")
        .agg(F.collect_set("salt").alias("salts"))
        .repartition(partitions, "src")
        .persist()
    )
    salt_map.count()
    return blocks, salt_map


def bucketed_adjacency_blocks(
    edges: DataFrame,
    partitions: int,
    dst_buckets: int,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> tuple[DataFrame, DataFrame]:
    """2-D (grid) adjacency blocks: returns (blocks, bucket_map).

    blocks: (src, dstb, dsts array<long>, out_degree long) where
    ``dstb = pmod(xxhash64(dst), K)``; partitioned on ``dstb`` ALONE so one
    task owns one bucket-hash class.  bucket_map: (src, dstbs array<int>).

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
    blocks = (
        grouped.join(deg.hint("shuffle_hash"), "src")  # (V x K)-row join, not E
        .select("src", "dstb", "dsts", "out_degree")
        .repartition(partitions, "dstb")
        .persist()
    )
    bucket_map = (
        blocks.select("src", "dstb")
        .groupBy("src")
        .agg(F.collect_set("dstb").alias("dstbs"))
        .repartition(partitions, "src")
        .persist()
    )
    blocks.count()
    bucket_map.count()
    return blocks, bucket_map


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
    block_size: int | None = None,
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
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    bs = block_size or hub_degree_threshold or DEFAULT_BLOCK_SIZE

    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    # convergence mode only: a static dangling flag rides along on the
    # vertex table — the tol-driven loop observes the raw dangling mass in
    # the SAME job as the update (see below), which is what lets the next
    # superstep predict its own total mass without a separate aggregation
    # job.  Fixed-iteration runs never read the flag, so they skip the
    # E-row src-distinct + V-row join and keep the plain vertex build.
    if num_iters is None:
        srcs = edges.select(F.col("src").alias("id")).distinct()
        v = (
            vertices.select("id")
            .join(
                srcs.withColumn("_s", F.lit(1)).hint("shuffle_hash"),
                "id",
                "left",
            )
            .select("id", F.col("_s").isNull().alias("dang"))
        )
    else:
        v = vertices.select("id")
    v = pin_checkpoint(v.repartition(P, "id"))
    V = v.count()
    if V == 0:
        return v.select("id", F.lit(0.0).alias("rank")), []
    E = edges.count()

    if dst_buckets:
        blocks, bucket_map = bucketed_adjacency_blocks(edges, P, dst_buckets, bs)
        salt_map = None
    else:
        blocks, salt_map = adjacency_blocks(edges, P, bs, num_salts)
        bucket_map = None
    # swap the cached layout for pinned lineage-free leaves: the superstep
    # joins then neither re-shuffle them nor re-analyze the build lineage
    blocks, salt_map, bucket_map = (
        _pin_cached(df) for df in (blocks, salt_map, bucket_map)
    )

    ckpt = CheckpointManager(checkpoint_dir) if checkpoint_dir else None
    metrics: list[dict] = []
    start_iter = 0
    corr = 0.0  # lazy per-vertex additive correction (dangling mass)
    if ckpt is not None and (last := ckpt.latest()) is not None:
        ranks_raw, _ = ckpt.load(spark, last)
        ranks_raw = pin_checkpoint(ranks_raw.repartition(P, "id"))
        metrics = ckpt.history()
        start_iter = last + 1
    elif initial_ranks is not None:
        # warm start: left-join onto the vertex set (new vertices get 1/V),
        # then L1-normalize so Σrank = 1 exactly
        warm = v.join(
            initial_ranks.select("id", F.col("rank").alias("_r0")), "id", "left"
        ).select("id", F.coalesce("_r0", F.lit(1.0 / V)).alias("rank"))
        total = float(warm.agg(F.sum("rank").alias("s")).collect()[0]["s"]) or 1.0
        ranks_raw = pin_checkpoint(
            warm.select("id", (F.col("rank") / total).alias("rank"))
            .repartition(P, "id")
        )
    else:
        ranks_raw = pin_checkpoint(v.select("id", (F.lit(1.0) / V).alias("rank")))

    total_iters = num_iters if num_iters is not None else max_iter
    conv_mode = num_iters is None
    n_dang = v.filter(F.col("dang")).count() if conv_mode else 0
    # sd = Σ raw rank over dangling vertices of the CURRENT state (without
    # the lazily-folded corr).  Cold start is uniform so it's analytic;
    # warm/resume states need one setup aggregation.  Per superstep sd is
    # then re-observed inside the single update job.
    sd = None
    if conv_mode:
        if start_iter == 0 and initial_ranks is None:
            sd = float(n_dang) / float(V)
        else:
            sd = float(
                ranks_raw.join(v.filter(F.col("dang")), "id", "left_semi")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("s"))
                .collect()[0]["s"]
            )
    it = start_iter
    while it < total_iters:
        t0 = time.time()
        src_ranks = ranks_raw.select(
            F.col("id").alias("src"), (F.col("rank") + F.lit(corr)).alias("rank")
        )
        # replicate each src's rank to exactly the salts/buckets its blocks
        # occupy (hub-free 1-D graphs skip the join: every block has salt 0)
        if dst_buckets:
            ranks_repl = (
                src_ranks.join(bucket_map.hint("shuffle_hash"), "src")
                .select("src", "rank", F.explode("dstbs").alias("dstb"))
            )
            # blocks are partitioned on dstb alone (a subset of the join
            # keys): only the replicated V-row state shuffles, and every
            # dst key the task emits belongs to its own bucket class
            joined = blocks.join(ranks_repl.hint("shuffle_hash"), ["src", "dstb"])
        elif salt_map is None:
            # hub-free: blocks have no salt column and are partitioned on
            # src, like the state — the join needs no exchange
            joined = blocks.join(src_ranks.hint("shuffle_hash"), "src")
        else:
            ranks_salted = (
                src_ranks.join(salt_map.hint("shuffle_hash"), "src")
                .select("src", "rank", F.explode("salts").alias("salt"))
            )
            joined = blocks.join(ranks_salted.hint("shuffle_hash"), ["src", "salt"])
        contribs = (
            # divide once per block row (not per exploded edge): the weight
            # projection sits below the Generate operator
            joined.select(
                (F.col("rank") / F.col("out_degree")).alias("contrib"), "dsts"
            )
            .select(F.explode("dsts").alias("id"), "contrib")
            .groupBy("id")
            .agg(F.sum("contrib").alias("contrib"))
        )
        new_rank = (
            F.lit((1.0 - damping) / V)
            + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
        ).alias("rank")
        # co-partitioned V-row join (both sides hash(id, P)): no exchange
        upd = v.join(contribs.hint("shuffle_hash"), "id", "left")
        obs = Observation(f"mass_{it}")
        if conv_mode:
            # ONE job per superstep, convergence check included: the mass
            # sum, the dangling raw mass, AND the L1 delta all ride the
            # checkpoint job as Observation columns.  The delta needs the
            # next correction corr' = (1-S)/V BEFORE the job runs, so S is
            # predicted from the mass identity S = 1 - damping * dm with
            # dm = (dangling raw mass observed LAST superstep) + corr *
            # n_dang — exact up to FP summation noise (~1e-16), far inside
            # the already run-to-run-nondeterministic FP envelope of the
            # observed sums; the ranks themselves still use the OBSERVED S.
            S_pred = 1.0 - damping * (sd + corr * n_dang)
            corr_pred = (1.0 - S_pred) / V
            upd = (
                upd.select("id", "dang", new_rank)
                .join(
                    ranks_raw.select("id", F.col("rank").alias("_old")).hint(
                        "shuffle_hash"
                    ),
                    "id",
                )
                .observe(
                    obs,
                    F.sum("rank").alias("s"),
                    F.sum(
                        F.when(F.col("dang"), F.col("rank")).otherwise(F.lit(0.0))
                    ).alias("sd"),
                    F.sum(
                        F.abs(
                            F.col("rank") + F.lit(corr_pred)
                            - F.col("_old") - F.lit(corr)
                        )
                    ).alias("delta"),
                )
            )
        else:
            upd = upd.select("id", new_rank).observe(obs, F.sum("rank").alias("s"))
        # the join already leaves hash(id, P) when P is the session default
        # (the planner then drops this repartition); otherwise it re-pins P
        raw_new = pin_checkpoint(upd.select("id", "rank").repartition(P, "id"))
        got = obs.get
        S = float(got["s"])
        delta = None
        if conv_mode:
            sd = float(got["sd"])
            delta = float(got["delta"])
        # dangling correction from total mass: S = 1 - damping * dm
        corr_new = (1.0 - S) / V
        secs = time.time() - t0
        m = {
            "iteration": it,
            "l1_delta": delta,
            "seconds": secs,
            "edges_processed": E,
            "edges_per_sec": E / secs if secs > 0 else None,
            "num_partitions": P,
            "dangling_mass": (1.0 - S) / damping,
        }
        metrics.append(m)
        if ckpt is not None:
            # durable state carries the correction folded in, so resume
            # needs no side-channel
            ckpt.save(
                it,
                raw_new.select("id", (F.col("rank") + F.lit(corr_new)).alias("rank")),
                m,
            )
        ranks_raw = raw_new
        corr = corr_new
        it += 1
        # drop py4j refs to the previous superstep's checkpoint RDD so the
        # ContextCleaner can free its memory and shuffle files
        gc.collect()
        if delta is not None and delta < tol:
            break

    ranks = ranks_raw.select("id", (F.col("rank") + F.lit(corr)).alias("rank"))
    return ranks, metrics


def _pin_cached(df: DataFrame | None) -> DataFrame | None:
    """Pin a persisted frame (``pin_checkpoint``) and free its cached copy."""
    if df is None:
        return None
    pinned = pin_checkpoint(df)
    df.unpersist()
    return pinned


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

    Shares the CSR-block superstep with :func:`pagerank`; runs a fixed
    iteration count (the suite-parity mode).  The reset vector joins as a
    broadcast (source sets are tiny relative to V).  An empty ``sources``
    raises ``ValueError``.
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    v = vertices.select("id").repartition(P, "id").persist()
    S = sources.select("id").distinct().persist()
    nS = S.count()
    if nS == 0:
        S.unpersist()
        raise ValueError("personalized_pagerank: sources is empty (no id rows)")
    reset = F.broadcast(S.withColumn("_p", F.lit(1.0 / nS)))

    blocks, salt_map = adjacency_blocks(edges, P)
    # dangling set: vertices with no out-edges (their rank re-teleports)
    danglers = v.join(
        blocks.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
    ).persist()

    ranks = v.join(reset, "id", "left").select(
        "id", F.coalesce("_p", F.lit(0.0)).alias("rank")
    ).localCheckpoint(eager=True)

    for _ in range(num_iters):
        dm = float(
            ranks.join(danglers, "id", "left_semi")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("s"))
            .collect()[0]["s"]
        )
        src_ranks = ranks.select(F.col("id").alias("src"), "rank")
        if salt_map is None:
            joined = blocks.join(src_ranks.hint("shuffle_hash"), "src")
        else:
            salted = src_ranks.join(salt_map.hint("shuffle_hash"), "src").select(
                "src", "rank", F.explode("salts").alias("salt")
            )
            joined = blocks.join(salted.hint("shuffle_hash"), ["src", "salt"])
        contribs = (
            joined.select(
                (F.col("rank") / F.col("out_degree")).alias("contrib"), "dsts"
            )
            .select(F.explode("dsts").alias("id"), "contrib")
            .groupBy("id")
            .agg(F.sum("contrib").alias("contrib"))
        )
        ranks = (
            v.join(contribs.hint("shuffle_hash"), "id", "left")
            .join(reset, "id", "left")
            .select(
                "id",
                (
                    F.lit(1.0 - damping) * F.coalesce("_p", F.lit(0.0))
                    + F.lit(damping)
                    * (
                        F.coalesce("contrib", F.lit(0.0))
                        + F.lit(dm) * F.coalesce("_p", F.lit(0.0))
                    )
                ).alias("rank"),
            )
            .repartition(P, "id")
            .localCheckpoint(eager=True)
        )

    for df in (v, S, danglers, blocks, salt_map):
        if df is not None:
            df.unpersist()
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
    per superstep only the map-side-combined grouped sum shuffles, with the
    mass sum fused into the checkpoint job (Observation) and the dangling
    correction folded lazily into the next superstep — the same single-job
    superstep shape as :func:`pagerank`.  Vertices whose outgoing weights
    sum to 0 (including all-zero-weight edges) are DANGLING: their blocks
    are dropped and their mass redistributes uniformly, so ranks always sum
    to 1.  Returns ranks(id, rank) after exactly ``num_iters`` supersteps,
    or an empty frame for an empty vertex set.
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    v = pin_checkpoint(vertices.select("id").repartition(P, "id"))
    V = v.count()
    if V == 0:
        return v.select("id", F.lit(0.0).alias("rank"))

    blocks = (
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
    blocks = pin_checkpoint(blocks)

    ranks = pin_checkpoint(v.select("id", (F.lit(1.0) / V).alias("rank")))
    corr = 0.0  # lazy uniform dangling correction, folded in next superstep
    for it in range(num_iters):
        src_ranks = ranks.select(
            F.col("id").alias("src"), (F.col("rank") + F.lit(corr)).alias("rank")
        )
        contribs = (
            blocks.join(src_ranks.hint("shuffle_hash"), "src")
            .select(
                F.explode(F.arrays_zip("dsts", "ws")).alias("z"),
                (F.col("rank") / F.col("w_out")).alias("r_per_w"),
            )
            .select(
                F.col("z.dsts").alias("id"),
                (F.col("z.ws") * F.col("r_per_w")).alias("contrib"),
            )
            .groupBy("id")
            .agg(F.sum("contrib").alias("contrib"))
        )
        raw_new = v.join(contribs.hint("shuffle_hash"), "id", "left").select(
            "id",
            (
                F.lit((1.0 - damping) / V)
                + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
            ).alias("rank"),
        ).repartition(P, "id")
        obs = Observation(f"wmass_{it}")
        ranks = pin_checkpoint(raw_new.observe(obs, F.sum("rank").alias("s")))
        S = float(obs.get["s"])
        # Σ raw' = 1 - damping * dangling_mass  =>  per-vertex share:
        corr = (1.0 - S) / V

    return ranks.select("id", (F.col("rank") + F.lit(corr)).alias("rank"))
