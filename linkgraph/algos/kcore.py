"""k-core decomposition by iterative peeling, and core numbers.

``kcore_vertices``: repeatedly remove vertices of undirected degree < k
until none remain; the survivors are the k-core.  It peels the pinned
symmetric view (``pin_sym``) on ``gcommon.iterate``: each round is one
grouped degree count and two semi-joins, pinned on src, and the view's
row count rides the pin.  Converges in O(peeling depth) rounds; the loop
stops when a round removes nothing or nothing is left.

``core_numbers`` is a ``gather`` program on the gcommon kernel: every
vertex collects its neighbours' values along the symmetric view pinned
once (``gather_edges``) and takes their H-index with one array
expression, one Spark job per round.

New link-graph capability (no reference analogue); oracle:
tests/oracles.py kcore_oracle and core_numbers_oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import gather_edges, h_index, iterate, pin_checkpoint, pin_sym


def kcore_vertices(
    edges: DataFrame,
    k: int,
    max_rounds: int = 50,
    partitions: int | None = None,
) -> DataFrame:
    """(id) — vertices of the k-core of the undirected simple graph."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    sym, E = pin_sym(edges, P, "kcore_vertices")
    rows = [E]

    def step(sym: DataFrame, obs, it: int) -> DataFrame:
        keep = (
            sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("src")
        )
        return (
            sym.join(keep.hint("shuffle_hash"), "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst").hint("shuffle_hash"),
                  "dst", "left_semi")
            .observe(obs, F.count(F.lit(1)).alias("e"))
            .repartition(P, "src")
        )

    def record(got: dict) -> tuple[dict, bool]:
        before, rows[0] = rows[0], int(got["e"])
        return {"edges": rows[0]}, rows[0] in (before, 0)

    sym, _ = iterate(edges, lambda _: sym, step, record, "kcore", P, E, max_rounds)
    return sym.select(F.col("src").alias("id")).distinct()


def core_numbers(
    edges: DataFrame,
    max_rounds: int = 100,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Full core decomposition: (id, core) for every vertex with an edge.

    Distributed coreness via H-index iteration (the locality-based
    k-core-decomposition construction of Montresor/De Pellegrini/Miorandi):
    start with core(v) = deg(v); each round set core(v) to the H-index of
    its neighbors' current values (the largest h such that ≥ h neighbors
    have core ≥ h); monotonically non-increasing and converges to the exact
    coreness.  Each round ``gather``s the neighbour values as one array
    per vertex (``collect_list``) and reads the H-index off it sorted
    descending — no window sort — converging in few rounds on real
    graphs (rounds ≤ graph degeneracy-ish, not O(V) like sequential
    peeling).  Fixpoint when no value drops; the drop count rides the
    pin as ``dropped``.
    """
    P = int(partitions or edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sym, E = pin_sym(edges, P, "core_numbers")
    core = pin_checkpoint(
        sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("core"))
        .repartition(P, "id")
    )
    if E == 0:
        return core, []

    def step(core: DataFrame, obs, it: int) -> DataFrame:
        return (
            gather_edges(core, sym, F.collect_list, nc=F.col("core"))
            .select("id", "core", h_index(F.col("nc")).alias("h"))
            .select("id", F.least("core", "h").alias("core"),
                    (F.col("h") < F.col("core")).alias("_drop"))
            .observe(obs, F.coalesce(
                F.sum(F.col("_drop").cast("long")), F.lit(0)).alias("c"))
            .select("id", "core")
            .repartition(P, "id")
        )

    return iterate(
        edges, lambda _: core, step,
        lambda got: ({"dropped": int(got["c"])}, got["c"] == 0),
        "hidx", P, E, max_rounds,
    )
