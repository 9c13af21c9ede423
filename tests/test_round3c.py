"""Round-3c additions: resource-allocation link scores, rich-club
coefficients, KMV distinct-count sketch (build / estimate / merge)."""

from collections import defaultdict

from pyspark.sql import functions as F

from linkgraph import sketch, suite
from oracles import h60_oracle

SF = "/root/testdata/sf0.001"


def _und_pairs(spark, sf_dir):
    e = suite.edges_b(spark, sf_dir).collect()
    und = set()
    for r in e:
        und.add((r["src"], r["dst"]))
        und.add((r["dst"], r["src"]))
    nbrs = defaultdict(set)
    for s, d in und:
        nbrs[s].add(d)
    return und, nbrs


def test_resource_allocation_brute_force(spark):
    """RA(a,b) = sum over shared neighbors w of (1e6 div deg(w)), only
    non-adjacent pairs with >= 2 shared neighbors — exact recompute."""
    und, nbrs = _und_pairs(spark, SF)
    got = {
        (r["a"], r["b"]): (r["shared"], r["ra_e6"])
        for r in suite.q_resource_allocation(spark, SF).collect()
    }
    want = {}
    nodes = sorted(nbrs)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if (a, b) in und:
                continue
            shared = nbrs[a] & nbrs[b]
            if len(shared) >= 2:
                ra = sum(1000000 // len(nbrs[w]) for w in shared)
                want[(a, b)] = (len(shared), ra)
    assert got == want
    assert want, "fixture degenerate: no scored pairs"


def test_rich_club_brute_force(spark):
    """phi(k) over the induced subgraph of deg > k vertices, exact."""
    e = suite.edges_a(spark, SF).collect()
    und = set()
    for r in e:
        und.add((r["src"], r["dst"]))
        und.add((r["dst"], r["src"]))
    deg = defaultdict(int)
    for s, _d in und:
        deg[s] += 1
    rows = {r["k"]: r for r in suite.q_rich_club(spark, SF).collect()}
    assert sorted(rows) == [1, 2, 4, 8, 16, 32]
    for k, r in rows.items():
        rich = {v for v, d in deg.items() if d > k}
        ek = sum(1 for (s, d) in und if s < d and s in rich and d in rich)
        assert r["n_k"] == len(rich)
        assert r["e_k"] == ek
        phi = (
            (2000000 * ek) // (len(rich) * (len(rich) - 1))
            if len(rich) >= 2 else 0
        )
        assert r["phi_e6"] == phi
    # monotone containment sanity: higher k => no more rich vertices/edges
    ks = sorted(rows)
    assert all(rows[ks[i]]["n_k"] >= rows[ks[i + 1]]["n_k"]
               for i in range(len(ks) - 1))


def _kmv_python(values, k=sketch.KMV_K):
    """Pure-python KMV twin: k smallest distinct h60 hashes."""
    hs = sorted({h60_oracle(str(v)) for v in values})
    top = hs[:k]
    m = len(top)
    if m < k:
        return m, (top[-1] if top else None), m
    hk = top[-1]
    est = int(float((k - 1) * sketch.KMV_SPACE) / hk)
    return m, hk, est


def test_kmv_bit_equality_and_bounds(spark):
    """Sketch rows match the pure-python k-smallest-hash computation
    bit-for-bit; the estimate lands within the KMV concentration bound
    of the exact distinct count (stderr ~ 1/sqrt(k-1) ~ 12.6%)."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    pairs = ev.select(
        F.col("event_type").cast("string").alias("scope"),
        F.col("user_id").alias("u"),
    )
    out = {r["scope"]: r for r in
           sketch.kmv_estimate(sketch.kmv_build(pairs, "scope", "u")).collect()}
    by_scope = defaultdict(set)
    for r in ev.select("event_type", "user_id").distinct().collect():
        by_scope[str(r["event_type"])].add(r["user_id"])
    assert set(out) == set(by_scope)
    for scope, users in by_scope.items():
        m, hk, est = _kmv_python(users)
        r = out[scope]
        assert (r["m"], r["hk"], r["est"]) == (m, hk, est), scope
        exact = len({h60_oracle(str(u)) for u in users})
        assert r["exact"] == exact
        if m == sketch.KMV_K:  # filled sketch: concentration bound
            assert abs(r["est"] - exact) <= 0.5 * exact, (scope, r)
        else:                  # unfilled sketch: exact by construction
            assert r["est"] == exact


def test_kmv_merge_equals_global_build(spark):
    """The merged sketch (re-rank of per-scope sketch rows) equals a
    direct global build over the union — KMV mergeability, the property
    that makes it a partial-aggregatable distinct counter."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    pairs = ev.select(
        F.col("event_type").cast("string").alias("scope"),
        F.col("user_id").alias("u"),
    )
    sk = sketch.kmv_build(pairs, "scope", "u")
    g_exact = ev.select(F.col("user_id")).distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    merged = sketch.kmv_merge(sk, "__all__", g_exact).collect()[0]
    direct = sketch.kmv_estimate(
        sketch.kmv_build(
            pairs.select(F.lit("__all__").alias("scope"), "u"), "scope", "u")
    ).collect()[0]
    assert (merged["m"], merged["hk"], merged["est"]) == (
        direct["m"], direct["hk"], direct["est"])


def test_kmv_partition_invariance(spark):
    """Same sketch regardless of input partitioning."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    pairs = ev.select(
        F.col("event_type").cast("string").alias("scope"),
        F.col("user_id").alias("u"),
    )
    a = sorted(map(tuple, sketch.kmv_build(pairs, "scope", "u").collect()))
    b = sorted(map(tuple,
                   sketch.kmv_build(pairs.repartition(13), "scope", "u")
                   .collect()))
    assert a == b


def test_kmv_filled_sketch_synthetic(spark):
    """5000 synthetic keys fill the k=64 sketch; the estimate must use
    the (k-1)*2^60/h_k path, match the pure-python twin bit-for-bit,
    and land within the KMV concentration bound (~4/sqrt(k-1))."""
    pairs = spark.range(5000).select(
        F.lit("s").alias("scope"), F.col("id").alias("u"))
    r = sketch.kmv_estimate(sketch.kmv_build(pairs, "scope", "u")).collect()[0]
    m, hk, est = _kmv_python(range(5000))
    assert (r["m"], r["hk"], r["est"]) == (m, hk, est)
    assert r["m"] == sketch.KMV_K
    assert abs(r["est"] - 5000) <= 0.5 * 5000


def test_bucket_min_estimator_accuracy(spark):
    """Bucket-min sketch (B=16) estimate within ~2/sqrt(B) of the true
    distinct count on synthetic keys, exact integer sketch rows."""
    from linkgraph.dedup import h60

    n = 5000
    hs = spark.range(n).select(h60(F.col("id").cast("string")).alias("h"))
    sk = (
        hs.select((F.col("h") % 16).cast("long").alias("bucket"),
                  F.shiftright("h", 4).cast("long").alias("sub"))
        .groupBy("bucket").agg(F.min("sub").cast("long").alias("minh"))
    )
    est = sketch.bucket_min_estimate(sk, buckets=16).collect()[0]
    assert est["filled"] == 16
    assert abs(est["est"] - n) <= 0.6 * n
    # pure-python bit-equality of the sketch itself
    mins = {}
    for i in range(n):
        h = h60_oracle(str(i))
        b, s = h % 16, h >> 4
        mins[b] = min(mins.get(b, s), s)
    got = {r["bucket"]: r["minh"] for r in sk.collect()}
    assert got == mins


def test_stream_bucket_min_equals_batch(spark, tmp_path):
    """Drained streaming sketch == batch build on the same events —
    min is associative so micro-batch order cannot change it."""
    from linkgraph import streaming
    from linkgraph.dedup import h60

    out = streaming.stream_bucket_min_distinct(
        spark, f"{SF}/events.parquet", buckets=16,
        sink_table="t3c_stream_bmin")
    got = {(r["bucket"], r["minh"]) for r in out.collect()}
    ev = spark.read.parquet(f"{SF}/events.parquet")
    h = h60(F.col("user_id").cast("string"))
    batch = (
        ev.select((h % 16).cast("long").alias("bucket"),
                  F.shiftright(h, 4).cast("long").alias("sub"))
        .groupBy("bucket").agg(F.min("sub").cast("long").alias("minh"))
    )
    want = {(r["bucket"], r["minh"]) for r in batch.collect()}
    assert got == want
