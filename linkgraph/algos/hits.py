"""HITS (hubs & authorities) — iterative mutual reinforcement on the
directed link graph.

New link-graph capability alongside PageRank (no reference analogue; the
oracle is the textbook power iteration in numpy, tests/oracles.py
``hits_oracle``).  Per iteration: auth = normalize(A^T hub), hub =
normalize(A auth), over the edges as given (duplicates count) and the
``vertices`` set.  Each half-step is one superstep of the gcommon kernel:
the authority half-step ``propagate``s hub scores to blocks built on the
edges, the hub half-step authority scores to blocks built on the
reversed edges, one Spark job each.  The state holds the raw sums; each
one's L2 norm rides its half-step's pin as an Observation and enters as
a literal where the scores are next read (the other half-step, or the
output), so no norm needs a job of its own.  Fixed iteration count for
exact cross-engine parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import build_blocks, degree_table, flip, gather, iterate, pin_checkpoint


def hits(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    num_iters: int = 5,
    partitions: int | None = None,
) -> DataFrame:
    """Returns (id, hub, authority) after ``num_iters`` synchronous updates,
    each score vector L2-normalized."""
    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    e = pin_checkpoint(edges.select("src", "dst").repartition(P, "src"))
    deg = degree_table(e, P, "hits", vertices, in_degree=True)
    norm = {"hub": 1.0, "authority": 1.0}  # L2 norms of the state's raw sums

    def unit(col: str):
        return (F.col(col) / F.lit(norm[col])).alias(col)

    state0 = deg.table.select("id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority"))
    if deg.V == 0:
        return state0
    fwd, frep, E = build_blocks(e, P, deg)
    bwd, brep, _ = build_blocks(flip(e), P, deg, "in_degree")

    # a superstep is one half-step: (blocks, rep, sent score, updated score)
    halves = [(fwd, frep, "hub", "authority"), (bwd, brep, "authority", "hub")]

    def step(state: DataFrame, obs, it: int) -> DataFrame:
        blocks, rep, sent, upd = halves[it % 2]
        # authority(d) = Σ hub(s) over in-edges; hub(s) = Σ authority(d)
        # over out-edges
        return (
            gather(state, blocks, rep, F.sum, n=unit(sent))
            .select("id", sent, F.coalesce("n", F.lit(0.0)).alias(upd))
            .observe(obs, F.sqrt(F.sum(F.col(upd) * F.col(upd))).alias(upd))
            .select("id", "hub", "authority")
            .repartition(P, "id")
        )

    def record(got: dict) -> tuple[dict, bool]:
        ((upd, n),) = got.items()  # the updated score's norm
        norm[upd] = float(n) or 1.0
        return {f"{upd}_norm": norm[upd]}, False

    state, _ = iterate(
        e, lambda _: pin_checkpoint(state0), step, record, "hits", P, E, 2 * num_iters
    )
    return state.select("id", unit("hub"), unit("authority"))
