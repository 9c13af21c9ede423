"""Dedup operators vs pure-python oracles on planted duplicates."""

import numpy as np
import pytest

from linkgraph import dedup
import oracles

BASE = ("the quick brown fox jumps over the lazy dog while the cat "
        "sleeps on the warm mat near the door")
DOCS = [
    (0, BASE),
    (1, BASE),  # exact dup of 0
    (2, BASE.replace("lazy", "sleepy")),  # near dup of 0
    (3, "completely different text about spark dataframes and shuffles "
        "partitions joins aggregations and window functions at scale"),
    (4, "short text"),  # < 3 words after split? (2 words -> no shingles)
    (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").persist()


def _jaccard(a: str, b: str, k: int = 3) -> float:
    sa = set(oracles.word_shingles_oracle(a, k))
    sb = set(oracles.word_shingles_oracle(b, k))
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def test_minhash_lsh_finds_planted_dups(docs):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard_e6"]
        for r in dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    assert (0, 1) in got and got[(0, 1)] == 1_000_000  # exact dup
    assert (0, 2) in got and (1, 2) in got  # near dup
    assert got[(0, 2)] == round(_jaccard(BASE, DOCS[2][1]) * 1e6)
    # unrelated docs must not appear
    assert all(3 not in pair and 5 not in pair for pair in got)


def test_minhash_signature_matches_python(docs):
    sig = dedup.minhash_signature(docs, num_hashes=4).filter("id = 0").collect()[0]
    sh = oracles.word_shingles_oracle(BASE)
    for i in range(4):
        a, b = dedup._mh_ab(i)
        exp = min(
            (a * (oracles.h60_oracle(s) % dedup.MH_M) + b) % dedup.MH_M
            for s in sh
        )
        assert sig[f"mh_{i}"] == exp


def test_short_doc_has_no_shingles(docs):
    sig = dedup.minhash_signature(docs, num_hashes=2).filter("id = 4").collect()[0]
    assert sig["shingles"] == []
    assert sig["mh_0"] is None


def test_simhash_matches_python(docs):
    got = {r["id"]: r["simhash"] for r in dedup.simhash(docs, bits=32).collect()}
    for doc_id, text in DOCS:
        assert got[doc_id] == oracles.simhash_oracle(text, 32), doc_id


def test_simhash_pairs_planted(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_pairs(docs, bits=32, max_hamming=6).collect()
    }
    assert pairs.get((0, 1)) == 0  # exact dup
    assert (0, 2) in pairs  # near dup: few words differ
    a, b = oracles.simhash_oracle(BASE, 32), oracles.simhash_oracle(DOCS[3][1], 32)
    if bin(a ^ b).count("1") > 6:
        assert (0, 3) not in pairs


def test_ngram_jaccard_matches_python(docs):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard_e6"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    exp = {}
    for i in range(len(DOCS)):
        for j in range(i + 1, len(DOCS)):
            ta, tb = DOCS[i][1], DOCS[j][1]
            if not oracles.word_shingles_oracle(ta) or not oracles.word_shingles_oracle(tb):
                continue
            jac = _jaccard(ta, tb)
            if jac > 0:  # zero-overlap pairs are never emitted by design
                exp[(i, j)] = round(jac * 1e6)
    assert got == exp


def test_embedding_near_dup_matches_numpy(spark):
    rng = np.random.RandomState(0)
    vecs = rng.randn(20, 8)
    vecs[7] = vecs[3] + 0.01 * rng.randn(8)  # planted near-dup
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["id_a"], r["id_b"]): r["cos_e6"]
        for r in dedup.embedding_near_dup(df, threshold=0.95).collect()
    }
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    exp = {
        (i, j): round(sims[i, j] * 1e6)
        for i in range(20)
        for j in range(i + 1, 20)
        if sims[i, j] >= 0.95
    }
    assert set(got) == set(exp)
    assert (3, 7) in got
    for k in got:
        assert abs(got[k] - exp[k]) <= 1  # float last-ulp rounding


def test_ngram_containment_asymmetric(spark):
    """Probe fully inside a longer doc: containment = 1.0 even though
    Jaccard is low; reversed direction is partial."""
    from pyspark.sql import functions as F

    from linkgraph.dedup import ngram_containment_pairs

    probe_text = "the quick brown fox jumps"
    long_doc = "padding words here " + probe_text + " and a very long tail " \
        + " ".join(f"w{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(1, long_doc), (2, "completely different content entirely here"),
         (5, probe_text)],
        "doc_id long, text string")
    probes = docs.filter(F.col("doc_id") == 5)
    got = {(r["pid"], r["did"]): r["containment_e6"]
           for r in ngram_containment_pairs(docs, probes, threshold=0.1).collect()}
    assert got == {(5, 1): 1_000_000}  # all 3 probe trigrams inside doc 1


def test_snm_pairs_window_blocking(spark):
    """Near-identical docs sharing a prefix are caught; docs in different
    blocks are never compared even if similar."""
    from linkgraph.dedup import snm_pairs

    t = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, t), (2, t + " iota"),               # same block, near-dup
         (3, "zzz " + t)],                       # same content, other block
        "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]) for r in snm_pairs(docs, window=3,
                                                     threshold=0.2).collect()}
    assert (1, 2) in got
    assert not any(3 in p for p in got)  # blocking boundary respected


def test_ngram_novelty_hand_case(spark, tmp_path):
    from linkgraph import suite

    docs = spark.createDataFrame(
        [(0, "a b c d"),        # train: grams {a b c, b c d}
         (1, "a b c x"),        # test: {a b c (covered), b c x (novel)}
         (3, "b c d")],         # test: {b c d (covered)}
        "doc_id long, text string")
    d = str(tmp_path)
    docs.write.parquet(f"{d}/documents.parquet")
    r = suite.q_ngram_novelty(spark, d).collect()[0]
    assert (r["test_grams"], r["covered_grams"], r["novelty_e6"]) == (
        3, 2, 333333)


def test_dedup_agreement_bounds(spark):
    from linkgraph import suite

    r = suite.q_dedup_agreement(spark, "/root/testdata/sf0.001").collect()[0]
    assert 0 <= r["both_flagged"] <= r["mh_pairs_with_emb"]
    assert 0 <= r["agree_e6"] <= 1_000_000


def test_dedup_keep_list_invariants(spark):
    from linkgraph import suite

    sf = "/root/testdata/sf0.001"
    kept = {r["doc_id"] for r in suite.q_dedup_keep_list(spark, sf).collect()}
    clusters = {}
    for r in suite.q_dedup_clusters(spark, sf).collect():
        clusters.setdefault(r["cluster"], set()).add(r["doc_id"])
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    # exactly one representative per cluster, and it's the min id
    for cid, members in clusters.items():
        assert kept & members == {min(members)}
    # every non-clustered doc is kept
    clustered = set().union(*clusters.values())
    assert len(kept) == n_docs - len(clustered) + len(clusters)


def _physical_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_simhash_pairs_banded_equals_bruteforce(docs):
    """Pigeonhole banding must reproduce the brute-force all-pairs output
    exactly, with an equi-join-only plan (no cartesian product)."""
    from itertools import combinations

    sims = {d: oracles.simhash_oracle(t, 32) for d, t in DOCS}
    exp = {}
    for (i, _), (j, _) in combinations(DOCS, 2):
        h = bin(sims[i] ^ sims[j]).count("1")
        if h <= 3:
            exp[(i, j)] = h
    df = dedup.simhash_pairs(docs, bits=32, max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in df.collect()}
    assert got == exp
    plan = _physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_banding_prunes_planted_corpus(spark):
    """On a corpus of distinct docs plus planted dup groups, the band join
    emits far fewer candidate pairs than n^2 while finding every dup."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lambda mu nu xi omicron pi rho sigma tau upsilon"
    rows = []
    for i in range(200):
        rows.append((i, f"doc {i} " + " ".join(f"tok{i}_{j}" for j in range(15))))
    rows += [(1000, base), (1001, base), (1002, base.replace("pi", "phi"))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]) for r in
           dedup.simhash_pairs(docs, bits=32, max_hamming=3).collect()}
    assert (1000, 1001) in got
    # candidate stage (pre-verify) must be far below all-pairs
    s = dedup.simhash(docs, bits=32)
    import itertools
    h = {r["id"]: r["simhash"] for r in s.collect()}
    cand = sum(
        1 for a, b in itertools.combinations(sorted(h), 2)
        if any(((h[a] >> lo) & 255) == ((h[b] >> lo) & 255)
               for lo in (0, 8, 16, 24))
    )
    n = len(h)
    assert cand < n * (n - 1) / 2 / 5  # >5x pruning on this corpus


def test_ngram_jaccard_plan_has_no_cross_join(docs):
    df = dedup.ngram_jaccard_pairs(docs, threshold=0.3)
    plan = _physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_near_dup_banded_planted(spark):
    """Banded detector: a subset of the exact verifier with identical
    cos values, catches ALL planted near-exact duplicates, and its plan
    has no cartesian product."""
    rng = np.random.RandomState(7)
    vecs = rng.randn(60, 64)
    planted = [(3, 41), (10, 55), (20, 21)]
    for a, b in planted:
        vecs[b] = vecs[a] + 0.001 * rng.randn(64)  # cos ~ 0.9999
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    banded = dedup.embedding_near_dup_banded(df, threshold=0.45, dim=64)
    got = {(r["id_a"], r["id_b"]): r["cos_e6"] for r in banded.collect()}
    exact = {(r["id_a"], r["id_b"]): r["cos_e6"]
             for r in dedup.embedding_near_dup(df, threshold=0.45).collect()}
    assert set(got) <= set(exact)           # banding only prunes
    for k, v in got.items():
        assert v == exact[k]                # verify stage is exact
    for p in planted:
        assert p in got                     # near-exact dups always collide
    plan = _physical_plan(banded)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
