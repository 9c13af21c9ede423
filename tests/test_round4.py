"""Round-4 regression tests for the ADVICE.md fixes:

1. rich_club emits a row for EVERY threshold k even when no vertex
   exceeds it (low-degree graph — the latent full_outer dropout).
2. kmv_build raises (not silently corrupts) on survivor shortfall.
3. quality_filter's bounded-state rework stays exact on a degenerate
   single-score stratum (the case that previously degraded to one
   ranked partition) and on fine-grained many-score strata.
"""

import math

import pytest
from pyspark.sql import functions as F

from linkgraph import corpus, sketch, suite

SF = "/root/testdata/sf0.001"


def test_rich_club_emits_all_thresholds_on_low_degree_graph(
        spark, monkeypatch):
    # 3-cycle: every vertex has undirected degree 2, so k in {2,4,8,16,32}
    # has N_k = 0 — each must still emit a (k, 0, 0, 0) row, mirroring the
    # SQL twin's FROM ks LEFT JOIN shape.
    tiny = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long")
    # patch the module that DEFINES q_rich_club (suite is a package since
    # round 5; the query resolves fixtures in its own module's namespace)
    import sys

    monkeypatch.setattr(
        sys.modules[suite.q_rich_club.__module__], "edges_a",
        lambda _s, _d: tiny,
    )
    rows = {r["k"]: r for r in suite.q_rich_club(spark, SF).collect()}
    assert sorted(rows) == [1, 2, 4, 8, 16, 32]
    r1 = rows[1]
    assert (r1["n_k"], r1["e_k"], r1["phi_e6"]) == (3, 3, 1000000)
    for k in (2, 4, 8, 16, 32):
        assert (rows[k]["n_k"], rows[k]["e_k"], rows[k]["phi_e6"]) == (0, 0, 0)


def test_kmv_shortfall_raises(spark, monkeypatch):
    # OVERSAMPLE=0 forces the pre-filter threshold to 0 for any scope with
    # n > 0 survivors budget: every survivor is dropped, m=0 < least(k,n),
    # and the new runtime guard must raise instead of letting the
    # estimator report ~0 for 500 true distinct keys.
    pairs = spark.range(500).select(
        F.lit("s").alias("g"), F.col("id").cast("string").alias("u"))
    monkeypatch.setattr(sketch, "KMV_OVERSAMPLE", 0)
    with pytest.raises(RuntimeError, match="shortfall"):
        sketch.kmv_build(pairs, "g", "u")


def _brute_quality(df, keep_permille):
    full = df.select(
        "doc_id", F.col("lang").alias("stratum"),
        corpus.quality_score(df).alias("score_e6"),
    ).toPandas()
    want = {}
    for s, grp in full.groupby("stratum"):
        k = math.ceil(len(grp) * keep_permille / 1000)
        want[s] = set(
            grp.sort_values(["score_e6", "doc_id"],
                            ascending=[False, True]).head(k)["doc_id"])
    return want


def test_quality_filter_degenerate_single_score_stratum(spark):
    # stratum "xx": 200 docs ALL with identical text (one tie group the
    # size of the stratum); stratum "yy": 100 docs with varying stopword
    # ratios.  Exact semantics must hold on both, and the xx tie group
    # must resolve to the 160 smallest doc_ids.
    rows = [(i, "xx", "the cat sat on a mat") for i in range(200)]
    rows += [(1000 + i, "yy", "the " * (i % 7 + 1) + "zebra quark " * (i % 5 + 1))
             for i in range(100)]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    res = corpus.quality_filter(d, keep_permille=800).toPandas()
    want = _brute_quality(d, 800)
    for s, ids in want.items():
        got = set(res[res["stratum"] == s]["doc_id"])
        assert got == ids, s
    assert set(res[res["stratum"] == "xx"]["doc_id"]) == set(range(160))


def test_quality_filter_many_distinct_scores(spark):
    # >2048 distinct scores per stratum exercises the coarse->fine
    # two-level histogram walk (multiple coarse buckets per stratum).
    rows = []
    for i in range(400):
        # stopword count i%97+1 over total i%97+1 + (i%53+1) words gives a
        # well-spread ratio set
        stops, others = i % 97 + 1, i % 53 + 1
        rows.append((i, "aa", "the " * stops + "xvocab " * others))
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    n_scores = d.select(corpus.quality_score(d).alias("s")).distinct().count()
    assert n_scores > 100  # spread over many coarse buckets
    res = corpus.quality_filter(d, keep_permille=730).toPandas()
    want = _brute_quality(d, 730)
    assert set(res["doc_id"]) == want["aa"]


def _brute_remove_dup_spans(doc_rows, k):
    """Python oracle: k-gram occurrences, dup = count>=2 and not the
    global-min (doc_id,pos); remove covered token positions."""
    from collections import defaultdict

    toks = {i: t.strip().lower().split() for i, t in doc_rows}
    occs = defaultdict(list)
    for i, w in toks.items():
        for p in range(len(w) - k + 1):
            occs[" ".join(w[p:p + k])].append((i, p))
    covered = defaultdict(set)
    for g, lst in occs.items():
        if len(lst) < 2:
            continue
        first = min(lst)
        for (i, p) in lst:
            if (i, p) != first:
                covered[i].update(range(p, p + k))
    out = {}
    for i, w in toks.items():
        kept = [t for j, t in enumerate(w) if j not in covered[i]]
        out[i] = (len(w), len(covered[i]), " ".join(kept))
    return out


def test_remove_dup_spans_brute_force(spark):
    from linkgraph import dedup
    from oracles import h60_oracle

    k = 3
    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),          # source of spans
        (1, "xx alpha beta gamma delta yy"),                  # cross-doc dup
        (2, "one two three one two three one two three"),     # in-doc repeat
        (3, "totally unique words here nothing shared"),
        (4, "short"),                                         # len < k
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dedup.remove_dup_spans(d, k=k).collect()}
    want = _brute_remove_dup_spans(rows, k)
    assert set(got) == set(want)
    for i, (n_tok, n_rm, kept_text) in want.items():
        g = got[i]
        assert (g["n_tokens"], g["n_removed"]) == (n_tok, n_rm), i
        assert g["kept_fp"] == h60_oracle(kept_text), i
    # the transform actually removed something on this fixture
    assert any(w[1] > 0 for w in want.values())
    # first occurrence survives: doc 0 keeps everything
    assert want[0][1] == 0
