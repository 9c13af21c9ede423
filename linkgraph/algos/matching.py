"""Greedy maximal matching — the edge analogue of Luby MIS.

Synchronous parallel rounds: an edge enters the matching iff its
priority key is the strict minimum among ALL edges sharing either
endpoint; matched vertices drop out and the loop repeats (the classic
local-min matching of Israeli & Itai 1986 — expected O(log E) rounds).

The priority key is the struct (p, a, b) with the arithmetic hash
p = (((a·A + b) mod M)·A + B) mod M (``gcommon.priority``) — (a, b)
embedded in the key makes the order TOTAL (no ties ever), and min over a
struct is lexicographic in both Spark and DuckDB, so the matching is
bit-reproducible across engines with no RNG (the MIS/hash-walk
determinism contract).

Per round: one explode-to-endpoints projection, one grouped struct-min
(map-side combinable), two equi-joins back to the edge set, two
anti-joins to drop matched vertices — all ShuffledHashJoin shapes.  The
edge state and each round's matched edges are pins hash-partitioned on
the low endpoint (``gcommon.pin_rows``), their counts riding the pins.

Oracle: 14-round unrolled SQL twin (measured 4–8 rounds to fixpoint on
every derived graph) + a sequential Python reimplementation; validity
(no shared vertices) and maximality (no remaining edge with both
endpoints free) are asserted directly in pytest.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import pin_canonical, pin_rows, priority


def _key():
    return F.struct(priority("a", "b").alias("p"), F.col("a").alias("ka"),
                    F.col("b").alias("kb"))


def maximal_matching(
    edges: DataFrame,
    max_rounds: int = 50,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Returns (matching(a, b) with a < b, metrics) over the undirected view."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    e, _ = pin_canonical(edges, P, "maximal_matching")
    parts: list[DataFrame] = []
    metrics: list[dict] = []
    for rnd in range(max_rounds):
        t0 = time.time()
        ke = e.select("a", "b", _key().alias("key"))
        vmin = (
            ke.select(F.col("a").alias("v"), "key")
            .union(ke.select(F.col("b").alias("v"), "key"))
            .groupBy("v")
            .agg(F.min("key").alias("mk"))
        )
        w, n_w = pin_rows(
            ke.join(
                vmin.select(F.col("v").alias("a"), F.col("mk").alias("mka"))
                .hint("shuffle_hash"), "a")
            .join(
                vmin.select(F.col("v").alias("b"), F.col("mk").alias("mkb"))
                .hint("shuffle_hash"), "b")
            .filter((F.col("key") == F.col("mka")) & (F.col("key") == F.col("mkb")))
            .select("a", "b"),
            P, "a",
        )
        metrics.append({"round": rnd, "matched": n_w, "seconds": time.time() - t0})
        if n_w == 0:
            break
        parts.append(w)
        # a matching's endpoints are distinct: no dedup
        mv = w.select(F.col("a").alias("v")).union(w.select(F.col("b").alias("v")))
        e, n_e = pin_rows(
            e.join(mv.withColumnRenamed("v", "a").hint("shuffle_hash"),
                   "a", "left_anti")
            .join(mv.withColumnRenamed("v", "b").hint("shuffle_hash"),
                  "b", "left_anti"),
            P, "a",
        )
        if n_e == 0:
            break

    if not parts:
        return spark.createDataFrame([], "a long, b long"), metrics
    out = parts[0]
    for p_ in parts[1:]:
        out = out.union(p_)
    return out, metrics
