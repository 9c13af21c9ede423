"""Fingerprint / BPE-ish tokens / ANN / multimodal plumbing vs oracles."""

import numpy as np
import pytest

from linkgraph import ann, multimodal, text
import oracles

DOCS = [
    (0, "Hello world 123 foo-bar!"),
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "a1b2c3 ... ;; spark 4 ever"),
    (3, "x"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").persist()


def test_fingerprint_matches_python(docs):
    got = {r["doc_id"]: r["fingerprint"]
           for r in text.doc_fingerprints(docs).collect()}
    for i, t in DOCS:
        assert got[i] == oracles.fingerprint_oracle(t), i


def test_fingerprint_dedup_marks_dups(spark):
    df = spark.createDataFrame(
        [(0, "same text here"), (1, "same text here"), (2, "other")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.doc_fingerprints(df).collect()}
    assert rows[0]["is_dup"] is False and rows[1]["is_dup"] is True
    assert rows[1]["keep_id"] == 0 and rows[2]["is_dup"] is False


def test_bpe_token_stats(docs):
    import re

    got = {r["doc_id"]: r for r in text.bpe_token_stats(docs).collect()}
    for i, t in DOCS:
        toks = re.findall(text.BPE_RE, t)
        assert got[i]["n_bpe"] == len(toks)
        assert got[i]["n_alpha"] == sum(1 for x in toks if re.fullmatch("[A-Za-z]+", x))
        assert got[i]["n_num"] == sum(1 for x in toks if re.fullmatch("[0-9]+", x))
        assert got[i]["n_punct"] == (
            got[i]["n_bpe"] - got[i]["n_alpha"] - got[i]["n_num"]
        )


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.RandomState(3)
    vecs = rng.randn(40, 16)
    return spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    ).persist()


def test_brute_force_topk_matches_numpy(embeddings):
    q = embeddings.filter("vec_id < 3")
    got = ann.cosine_topk(embeddings, q, k=3).collect()
    vecs = np.array([r["embedding"] for r in embeddings.orderBy("vec_id").collect()])
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for qid in range(3):
        order = [
            j for j in sorted(range(40), key=lambda j: (-sims[qid, j], j)) if j != qid
        ][:3]
        mine = [r["neighbor_id"] for r in got if r["query_id"] == qid]
        assert mine == order


def test_lsh_topk_matches_python_reimpl(embeddings):
    k, bands, ppb, dim = 3, 2, 3, 16
    got = ann.lsh_topk(embeddings, embeddings.filter("vec_id < 5"),
                       k=k, bands=bands, planes_per_band=ppb, dim=dim)
    rows = got.collect()
    planes = np.array(ann.hyperplanes(dim, bands * ppb))
    vecs = np.array([r["embedding"] for r in embeddings.orderBy("vec_id").collect()])
    signs = (vecs @ planes.T) >= 0
    sigs = np.zeros((40, bands), dtype=int)
    for b in range(bands):
        for j in range(ppb):
            sigs[:, b] |= signs[:, b * ppb + j].astype(int) << j
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for qid in range(5):
        cand = [
            j for j in range(40)
            if j != qid and any(sigs[j, b] == sigs[qid, b] for b in range(bands))
        ]
        exp = sorted(cand, key=lambda j: (-sims[qid, j], j))[:k]
        mine = [r["neighbor_id"] for r in sorted(rows, key=lambda r: r["rank"])
                if r["query_id"] == qid]
        assert mine == exp, qid


def test_multimodal_decode_matches_stub(docs):
    blobs = multimodal.docs_as_blobs(docs)
    got = {r["doc_id"]: r for r in multimodal.decode_features(blobs).collect()}
    for i, t in DOCS:
        b = t.encode("utf-8")
        n, head, tail, byte_sum, wh = multimodal._decode_stub(b)
        assert got[i]["n_bytes"] == n
        assert got[i]["head_byte"] == head
        assert got[i]["tail_byte"] == tail
        assert got[i]["byte_sum_1k"] == byte_sum
        assert got[i]["fake_width"] == wh // 1000000
        assert got[i]["fake_height"] == wh % 1000000


def test_multimodal_frame_sample(docs):
    blobs = multimodal.docs_as_blobs(docs)
    got = {r["doc_id"]: r for r in multimodal.frame_sample(blobs, stride=8).collect()}
    for i, t in DOCS:
        assert got[i]["n_frames"] == len(t.encode()) // 8
        assert got[i]["frame_stride"] == 8


def test_multimodal_preserves_partitioning(docs):
    """mapInPandas must not introduce a shuffle."""
    blobs = multimodal.docs_as_blobs(docs.repartition(4, "doc_id"))
    assert multimodal.decode_features(blobs).rdd.getNumPartitions() == 4


def test_ivf_topk_recall_and_exactness(spark):
    import numpy as np
    from linkgraph import ann
    from pyspark.sql import functions as F

    rng = np.random.RandomState(9)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(60)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = e.filter(F.col("vec_id") < 5)

    got = ann.ivf_topk(e, q, k=3, n_centroids=4, nprobe=2)
    rowsg = got.collect()
    # every query gets k results with contiguous ranks and exact cosines
    by_q = {}
    for r in rowsg:
        by_q.setdefault(r["query_id"], []).append(r)
    vecs = {i: np.array(v) for i, v in rows}
    for qid, rs in by_q.items():
        assert sorted(x["rank"] for x in rs) == list(range(1, len(rs) + 1))
        for r in rs:
            a, b = vecs[qid], vecs[r["neighbor_id"]]
            exact = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            assert r["sim_e6"] == round(exact * 1e6)

    # recall vs exact brute force: probing half the clusters must find at
    # least one of the true top-3 for most queries
    exact_top = {}
    for qid in range(5):
        sims = sorted(
            ((float(vecs[qid] @ vecs[j] / (np.linalg.norm(vecs[qid]) * np.linalg.norm(vecs[j]))), j)
             for j in range(60) if j != qid), reverse=True)
        exact_top[qid] = {j for _, j in sims[:3]}
    hits = sum(
        1 for qid in range(5)
        if exact_top[qid] & {r["neighbor_id"] for r in by_q.get(qid, [])}
    )
    assert hits >= 3


def test_collocations_dice(spark):
    # "b c" appears 6x; c(b)=7 (6 in "b c" + 1 alone), c(c)=6.
    # dice = 2*6/(7+6) = 12/13; e6-quantized = round(12e6/13) = 923077.
    rows = [(i, "a b c d") for i in range(6)] + [(6, "b x"), (7, "z z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["w1"], r["w2"]): r for r in
           text.collocations_topk(df, min_count=5, k=20).collect()}
    assert ("b", "c") in got
    r = got[("b", "c")]
    assert r["cxy"] == 6 and r["dice_e6"] == round(2e6 * 6 / (7 + 6))
    # min_count=5 filters the 1x and 2x bigrams ("b x", "z z" etc.)
    assert ("b", "x") not in got and ("z", "z") not in got
    # every surviving bigram meets min support
    assert all(v["cxy"] >= 5 for v in got.values())


def test_tfidf_topk(spark):
    import math

    rows = [(0, "apple banana apple"), (1, "banana cherry"), (2, "cherry durian")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["rnk"]): r for r in text.tfidf_topk(df, k=2).collect()}
    idf = lambda dfreq: round(1e6 * math.log(3 / dfreq))
    # d0: apple tf=2 df=1 beats banana tf=1 df=2
    assert got[(0, 1)]["term"] == "apple"
    assert got[(0, 1)]["score"] == 2 * idf(1)
    assert got[(0, 2)]["term"] == "banana"
    assert got[(0, 2)]["score"] == 1 * idf(2)
    # d2: durian (df=1) over cherry (df=2)
    assert got[(2, 1)]["term"] == "durian" and got[(2, 2)]["term"] == "cherry"


def test_repetition_stats_boilerplate(spark):
    from linkgraph.text import repetition_stats

    docs = spark.createDataFrame(
        [(1, "a b c a b c a b c"),       # "a b c" repeated: 7 grams, 3 distinct
         (2, "one two three four five"), # all distinct: 3 grams
         (3, "x y")],                    # < k words: 0 grams
        "doc_id long, text string")
    got = {r["id"]: (r["total_grams"], r["distinct_grams"], r["rep_e6"])
           for r in repetition_stats(docs).collect()}
    assert got[1] == (7, 3, 571429)   # round(4/7*1e6)
    assert got[2] == (3, 3, 0)
    assert got[3] == (0, 0, 0)


def test_inverted_index_roundtrip(spark):
    from linkgraph.text import inverted_index

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "")],
        "doc_id long, text string")
    got = {r["term"]: (r["df"], r["postings"])
           for r in inverted_index(docs).collect()}
    assert got == {"apple": (1, "1"), "banana": (2, "1,2"),
                   "cherry": (1, "2")}


def test_kmeans_lloyd_properties(spark):
    """Assignment is the argmin over final centroids (verified via numpy
    recompute of one Lloyd pass) and cost never increases across the two
    iterations on the fixture."""
    import numpy as np

    from linkgraph.ann import kmeans_lloyd

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    X = {r["vec_id"]: np.round(np.array(r["embedding"], dtype=np.float64)
                               * 1e6).astype(np.int64)
         for r in emb.collect()}
    got1 = {r["vec_id"]: (r["cluster"], r["dist"])
            for r in kmeans_lloyd(emb, k=4, iters=1).collect()}
    got2 = {r["vec_id"]: (r["cluster"], r["dist"])
            for r in kmeans_lloyd(emb, k=4, iters=2).collect()}

    # iter-1 assignment == argmin over the k lowest-id quantized vectors
    init_ids = sorted(X)[:4]
    C = {i + 1: X[v] for i, v in enumerate(init_ids)}
    for vid, (cl, d) in got1.items():
        dists = {c: int(((X[vid] - vec) ** 2).sum()) for c, vec in C.items()}
        best = min(dists.items(), key=lambda kv: (kv[1], kv[0]))
        assert (cl, d) == best[0:1] + (best[1],) or (d, cl) == (best[1], best[0])
        assert d == dists[cl] == best[1]
    # Lloyd monotonicity: total cost non-increasing between iterations
    assert sum(d for _, d in got2.values()) <= sum(d for _, d in got1.values())


def test_corpus_summary_hand_case(spark, tmp_path):
    from linkgraph import suite

    docs = spark.createDataFrame(
        [(1, "aaa", "en", "w", 3), (2, "aaa", "en", "w", 3),
         (3, "bbbb", "de", "w", 4)],
        "doc_id long, text string, lang string, source string, n_chars long")
    d = str(tmp_path)
    docs.write.parquet(f"{d}/documents.parquet")
    r = suite.q_corpus_summary(spark, d).collect()[0]
    assert (r["n_docs"], r["total_chars"], r["n_langs"],
            r["exact_dup_docs"], r["mean_chars_e2"]) == (3, 10, 2, 1, 333)


def test_length_outliers_hand_case(spark, tmp_path):
    from linkgraph import suite

    lens = [10, 11, 12, 13, 14, 1000]
    docs = spark.createDataFrame(
        [(i, "x", "en", "w", n) for i, n in enumerate(lens)],
        "doc_id long, text string, lang string, source string, n_chars long")
    d = str(tmp_path)
    docs.write.parquet(f"{d}/documents.parquet")
    got = {r["doc_id"]: (r["median"], r["mad"], r["outlier"])
           for r in suite.q_length_outliers(spark, d).collect()}
    # sorted lens: [10..14, 1000], n=6, median = ceil(3rd) = 12;
    # deviations sorted: [0,1,1,2,2,988] -> MAD = 1
    assert got[0] == (12, 1, False)   # |10-12|*1e6 <= 4447800*1
    assert got[5] == (12, 1, True)    # 988e6 > 4.4e6
    assert sum(1 for v in got.values() if v[2]) == 1


def test_nfc_stats_normalization(spark):
    from linkgraph import text as T
    from linkgraph.dedup import h60
    from pyspark.sql import functions as F

    composed = "Café fine"
    decomposed = "Café fine"
    d = spark.createDataFrame(
        [(0, composed), (1, decomposed), (2, "plain ascii")],
        "doc_id long, text string",
    )
    r = {x["doc_id"]: x for x in T.nfc_stats(d).collect()}
    assert (r[0]["changed"], r[1]["changed"], r[2]["changed"]) == (0, 1, 0)
    # both forms canonicalize to the SAME fingerprint (the dedup motive)
    assert r[0]["nfc_fp"] == r[1]["nfc_fp"]
    want = d.sparkSession.range(1).select(
        h60(F.lit(composed)).alias("h")).collect()[0]["h"]
    assert r[0]["nfc_fp"] == want


def test_topgram_char_mass_hand_case(spark):
    from collections import Counter

    cases = [
        (0, "a b a b a b"),            # bigrams: 'a b'x3, 'b a'x2
        (1, "x y z"),                  # all bigrams unique
        (2, "solo"),                   # no bigram
        (3, "  Mixed   CASE mixed case  "),  # lowercased + multi-space
    ]
    d = spark.createDataFrame(cases, "doc_id long, text string")
    got = {r["id"]: r for r in text.topgram_char_mass(d).collect()}
    for i, t in cases:
        w = t.strip().lower().split()
        grams = [f"{a} {b}" for a, b in zip(w, w[1:])]
        cnt = Counter(grams)
        assert got[i]["n_grams"] == len(grams), i
        assert got[i]["top2_mass"] == (
            max((c * len(g) for g, c in cnt.items()), default=0)
        ), i
        assert got[i]["dup2_mass"] == sum(
            c * len(g) for g, c in cnt.items() if c >= 2
        ), i


def test_topgram_partition_invariant(spark):
    rows = [(i, " ".join(f"w{(i * j) % 5}" for j in range(12)))
            for i in range(40)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    a = text.topgram_char_mass(d.repartition(1))
    b = text.topgram_char_mass(d.repartition(7))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
