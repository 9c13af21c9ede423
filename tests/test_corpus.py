"""Corpus-assembly operators (linkgraph/corpus.py): token-budget shard
packing, PII scrub stats, exact-k stratified sampling, domain-mix weights.
Each checked against a brute-force sequential recompute; the distributed
two-phase paths must also be invariant to input partitioning."""

import pytest
from pyspark.sql import functions as F

from linkgraph import corpus


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    langs = ["en", "de", "fr", "zh"]
    for i in range(200):
        body = " ".join(f"w{j % 17}" for j in range(3 + (i * 13) % 40))
        if i % 9 == 0:
            body += f" contact bob{i}@example.com now"
        if i % 14 == 0:
            body += " from 10.0.0.1 and 192.168.1.255"
        if i % 23 == 0:
            body += " call 555-123-4567"
        rows.append((i, body, langs[i % 4], f"src{i % 6}"))
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).persist()


def _brute_shards(pdf, budget):
    out = {}
    acc = 0
    for r in pdf.sort_values("doc_id").itertuples():
        out[r.doc_id] = acc // budget
        acc += r.n_tokens
    return out


def test_shard_pack_matches_sequential(docs):
    res = corpus.shard_pack(docs, budget=100, buckets=8).toPandas()
    brute = _brute_shards(res, 100)
    got = dict(zip(res["doc_id"], res["shard_id"]))
    assert got == brute
    # shards are contiguous in doc order and start at 0
    s = res.sort_values("doc_id")["shard_id"].tolist()
    assert s[0] == 0 and all(b - a in (0, 1) for a, b in zip(s, s[1:]))


def test_shard_pack_partition_invariant(docs):
    a = corpus.shard_pack(docs.repartition(1), budget=100, buckets=8)
    b = corpus.shard_pack(docs.repartition(13), budget=100, buckets=3)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pii_scrub_counts_and_mask(spark):
    d = spark.createDataFrame(
        [
            (0, "mail a@b.com and c.d+x@e.org, ip 1.2.3.4, tel 555-123-4567"),
            (1, "no pii here"),
            (2, "999.999.999.999 is still ipv4-shaped; 12-34-56 is not a phone"),
        ],
        "doc_id long, text string",
    )
    r = {x["doc_id"]: x for x in corpus.pii_scrub(d).collect()}
    assert (r[0]["n_emails"], r[0]["n_ipv4"], r[0]["n_phones"]) == (2, 1, 1)
    assert (r[1]["n_emails"], r[1]["n_ipv4"], r[1]["n_phones"]) == (0, 0, 0)
    assert (r[2]["n_emails"], r[2]["n_ipv4"], r[2]["n_phones"]) == (0, 1, 0)
    expected0 = "mail <EMAIL> and <EMAIL>, ip <IP>, tel <PHONE>"
    fp = d.filter("doc_id = 0").select(
        F.conv(F.substring(F.md5(F.lit(expected0)), 1, 15), 16, 10)
        .cast("long").alias("h")
    ).collect()[0]["h"]
    assert r[0]["masked_fp"] == fp
    # unmodified text keeps its own hash
    fp1 = d.filter("doc_id = 1").select(
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
        .cast("long").alias("h")
    ).collect()[0]["h"]
    assert r[1]["masked_fp"] == fp1


def test_stratified_sample_exact_k_and_top_ranks(docs):
    k = 7
    res = corpus.stratified_sample(docs, k=k, seed=3).toPandas()
    assert res.groupby("stratum").size().eq(k).all()
    # members are exactly the k hash-smallest of each stratum (brute force)
    from linkgraph.dedup import h60

    full = docs.select(
        "doc_id", F.col("lang").alias("stratum"),
        h60(F.concat(F.lit("s3:"), F.col("doc_id").cast("string"))).alias("r"),
    ).toPandas()
    for s, grp in full.groupby("stratum"):
        want = set(grp.sort_values(["r", "doc_id"]).head(k)["doc_id"])
        got = set(res[res["stratum"] == s]["doc_id"])
        assert got == want, s


def test_stratified_sample_partition_invariant(docs):
    a = corpus.stratified_sample(docs.repartition(1), k=5, seed=9)
    b = corpus.stratified_sample(docs.repartition(11), k=5, seed=9)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_domain_mix_weights(docs):
    res = {r["source"]: r for r in corpus.domain_mix_weights(docs).collect()}
    assert len(res) == 6
    n_tot = sum(r["n_docs"] for r in res.values())
    t_raw = {s: 1 + int(s[3:]) % 3 for s in res}
    t_tot = sum(t_raw.values())
    for s, r in res.items():
        actual = r["n_docs"] / n_tot
        target = t_raw[s] / t_tot
        assert r["actual_e6"] == round(actual * 1e6)
        assert r["target_e6"] == round(target * 1e6)
        assert abs(r["weight_e6"] - target / actual * 1e6) <= 1
    # applying the weights reproduces the target mix exactly
    mix = sum(r["n_docs"] * r["weight_e6"] for r in res.values())
    for s, r in res.items():
        assert abs(r["n_docs"] * r["weight_e6"] / mix - t_raw[s] / t_tot) < 1e-4


def test_chunk_docs_matches_sequential(docs):
    chunk, stride = 16, 8
    res = corpus.chunk_docs(docs, chunk=chunk, stride=stride).toPandas()
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    want = []
    for did, text in src.items():
        toks = text.strip().lower().split()
        toks = toks if toks else [""]
        for ci, s in enumerate(range(0, len(toks), stride)):
            want.append((did, ci, len(toks[s:s + chunk])))
    got = sorted(zip(res["doc_id"], res["chunk_id"], res["chunk_tokens"]))
    assert got == sorted(want)
    # disjoint chunking (stride == chunk) partitions every token exactly once
    dis = corpus.chunk_docs(docs, chunk=16, stride=16).groupBy("doc_id").agg(
        F.sum("chunk_tokens").alias("s")).toPandas()
    ntok = {did: len(t.strip().lower().split()) for did, t in src.items()}
    assert dict(zip(dis["doc_id"], dis["s"])) == ntok


def test_chunk_docs_fp_is_window_content_hash(spark):
    from linkgraph.dedup import h60

    d = spark.createDataFrame([(0, "a b c d e")], "doc_id long, text string")
    res = {r["chunk_id"]: r for r in
           corpus.chunk_docs(d, chunk=3, stride=2).collect()}
    for cid, text in {0: "a b c", 1: "c d e", 2: "e"}.items():
        fp = spark.range(1).select(h60(F.lit(text)).alias("h")).collect()[0]["h"]
        assert res[cid]["chunk_fp"] == fp, cid
    assert res[2]["chunk_tokens"] == 1  # short tail kept


def test_bigram_xent_matches_sequential(docs):
    import math
    from collections import Counter

    res = corpus.bigram_xent(docs).toPandas()
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    toks = {d: (t.strip().lower().split() or [""]) for d, t in src.items()}
    bgs = {d: list(zip(t, t[1:])) for d, t in toks.items()}
    c2 = Counter(b for bb in bgs.values() for b in bb)
    c1 = Counter(b[0] for bb in bgs.values() for b in bb)
    v = len({w for t in toks.values() for w in t})
    got = {r.doc_id: (r.n_bigrams, r.xent_e6)
           for r in res.itertuples(index=False)}
    for d, bb in bgs.items():
        if not bb:
            assert d not in got
            continue
        xent = -sum(
            math.log2((c2[b] + 1) / (c1[b[0]] + v)) for b in bb
        ) / len(bb)
        assert got[d][0] == len(bb)
        assert abs(got[d][1] - round(xent * 1e6)) <= 1, d


def test_bigram_xent_orders_quality(spark):
    # a doc of corpus-typical bigrams scores lower xent than a doc of
    # bigrams seen nowhere else
    rows = [(i, "the cat sat on the mat " * 5) for i in range(20)]
    rows.append((100, "zq xv qj vk wz jx " * 5))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    res = {r["doc_id"]: r["xent_e6"] for r in corpus.bigram_xent(d).collect()}
    assert res[100] > res[0]


def test_materialize_mixture_exact(docs):
    from linkgraph.dedup import h60

    res = corpus.materialize_mixture(docs, seed=5).toPandas()
    w = {r["source"]: r["weight_e6"]
         for r in corpus.domain_mix_weights(docs).collect()}
    hmod = {
        r["doc_id"]: r["h"] % 1_000_000
        for r in docs.select(
            "doc_id",
            h60(F.concat(F.lit("mix5:"), F.col("doc_id").cast("string"))).alias("h"),
        ).collect()
    }
    src = {r["doc_id"]: r["source"] for r in docs.collect()}
    want = {}
    for did, s in src.items():
        k = w[s] // 1_000_000 + (1 if hmod[did] < w[s] % 1_000_000 else 0)
        if k:
            want[did] = k
    got = res.groupby("doc_id").size().to_dict()
    assert got == want
    # copy ids are exactly 1..k per doc
    for did, grp in res.groupby("doc_id"):
        assert sorted(grp["copy_id"]) == list(range(1, want[did] + 1))
    # expectation property: total materialized rows ~ sum of weights
    tot = sum(want.values())
    exp = sum(w[src[d]] / 1e6 for d in src)
    assert abs(tot - exp) < len(src) ** 0.5 * 3 + 2


def test_materialize_mixture_partition_invariant(docs):
    a = corpus.materialize_mixture(docs.repartition(1), seed=5)
    b = corpus.materialize_mixture(docs.repartition(9), seed=5)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_boilerplate_flags_exact(spark):
    # footer segment "visit our shop now" repeats across 3 docs ->
    # boilerplate; unique bodies are not flagged
    rows = [
        (0, "alpha beta gamma delta visit our shop now"),
        (1, "epsilon zeta eta theta visit our shop now"),
        (2, "iota kappa lam mu visit our shop now"),
        (3, "nu xi omicron pi rho sigma tau upsilon"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_segments"], r["n_boiler"], r["boiler_permille"])
           for r in corpus.boilerplate_flags(d, seg=4, min_df=2).collect()}
    assert got == {
        0: (2, 1, 500),
        1: (2, 1, 500),
        2: (2, 1, 500),
        3: (2, 0, 0),
    }


def test_boilerplate_flags_partition_invariant(docs):
    a = corpus.boilerplate_flags(docs.repartition(1), seg=4, min_df=2)
    b = corpus.boilerplate_flags(docs.repartition(9), seg=4, min_df=2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_quality_filter_exact_rank_semantics(docs):
    res = corpus.quality_filter(docs, keep_permille=700,
                                stratum_col="lang").toPandas()
    # brute force: rank by (score desc, doc_id asc), keep ceil(0.7 n)
    full = docs.select(
        "doc_id", F.col("lang").alias("stratum"),
        corpus.quality_score(docs).alias("score_e6"),
    ).toPandas()
    import math

    for s, grp in full.groupby("stratum"):
        k = math.ceil(len(grp) * 700 / 1000)
        want = set(
            grp.sort_values(["score_e6", "doc_id"],
                            ascending=[False, True]).head(k)["doc_id"]
        )
        got = set(res[res["stratum"] == s]["doc_id"])
        assert got == want, s
    # scores in the output match the scoring expression
    m = full.set_index("doc_id")["score_e6"].to_dict()
    assert all(m[r.doc_id] == r.score_e6 for r in res.itertuples(index=False))


def test_quality_filter_partition_invariant(docs):
    a = corpus.quality_filter(docs.repartition(1), keep_permille=500)
    b = corpus.quality_filter(docs.repartition(11), keep_permille=500)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_hash_classifier_matches_python(docs):
    from oracles import h60_oracle

    def w_of(tok):
        b = h60_oracle(tok) % corpus.HC_DIM
        return (b * 2654435761 + 12345) % 2001 - 1000

    got = {r["id"]: r for r in corpus.hash_classifier_scores(docs).collect()}
    for row in docs.select("doc_id", "text").collect():
        toks = row["text"].strip().lower().split()
        want = sum(w_of(t) for t in toks)
        g = got[row["doc_id"]]
        assert g["n_tokens"] == len(toks), row["doc_id"]
        assert g["score_e3"] == want, row["doc_id"]
        assert g["keep"] == (1 if want > 0 else 0), row["doc_id"]


def test_hash_classifier_separates_planted_classes(spark):
    # two vocabularies drawn from opposite-sign weight buckets must land
    # on opposite sides of the 0 threshold
    from oracles import h60_oracle

    def w_of(tok):
        b = h60_oracle(tok) % corpus.HC_DIM
        return (b * 2654435761 + 12345) % 2001 - 1000

    vocab = [f"tok{i}" for i in range(200)]
    pos = [t for t in vocab if w_of(t) > 200][:10]
    neg = [t for t in vocab if w_of(t) < -200][:10]
    assert len(pos) == 10 and len(neg) == 10
    d = spark.createDataFrame(
        [(0, " ".join(pos)), (1, " ".join(neg))], "doc_id long, text string"
    )
    got = {r["id"]: r for r in corpus.hash_classifier_scores(d).collect()}
    assert got[0]["keep"] == 1 and got[1]["keep"] == 0


def _python_bpe(texts, rounds):
    """Sequential BPE oracle: freq-weighted pair counts over the word
    vocab, deterministic (count desc, l, r) tie-break, greedy
    left-to-right non-overlapping merge."""
    from collections import Counter

    vocab = Counter()
    for t in texts:
        for w in t.strip().lower().split():
            if w:
                vocab[w] += 1
    words = {w: list(w) for w in vocab}
    rules = []
    for rnd in range(1, rounds + 1):
        counts = Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += vocab[w]
        if not counts:
            break
        (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        rules.append((rnd, l, r, c))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return rules


def test_bpe_train_matches_python_oracle(spark, docs):
    got = [
        (r["round"], r["lsym"], r["rsym"], r["pair_count"])
        for r in corpus.bpe_train(docs, rounds=5).orderBy("round").collect()
    ]
    texts = [r["text"] for r in docs.select("text").collect()]
    assert got == _python_bpe(texts, 5)


def test_bpe_train_partition_invariant(spark, docs):
    a = corpus.bpe_train(docs.repartition(1), rounds=3).orderBy("round").collect()
    b = corpus.bpe_train(docs.repartition(13), rounds=3).orderBy("round").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def _python_encode_stats(texts, rules):
    """Sequential encode oracle: tokenize every word with the rule list
    via corpus.bpe_apply_word semantics, aggregate (token ->
    occurrences, distinct words) over the freq-weighted vocab."""
    from collections import Counter

    vocab = Counter()
    for t in texts:
        for w in t.strip().lower().split():
            if w:
                vocab[w] += 1
    occ, words_of = Counter(), {}
    for w, f in vocab.items():
        for tok in corpus.bpe_apply_word(w, rules):
            occ[tok] += f
            words_of.setdefault(tok, set()).add(w)
    return {t: (occ[t], len(words_of[t])) for t in occ}


def test_bpe_encode_matches_python_oracle(spark, docs):
    rules = [
        (r["lsym"], r["rsym"])
        for r in corpus.bpe_train(docs, rounds=5).orderBy("round").collect()
    ]
    got = {
        r["token"]: (r["n_occurrences"], r["n_words"])
        for r in corpus.bpe_encode(docs, rules).collect()
    }
    texts = [r["text"] for r in docs.select("text").collect()]
    assert got == _python_encode_stats(texts, rules)


def test_bpe_encode_token_mass_conserved(spark, docs):
    """Every character of every (lowercased, whitespace-split) word ends
    up in exactly one token: sum over tokens of len(token)*occurrences
    equals the corpus character mass."""
    rules = [
        (r["lsym"], r["rsym"])
        for r in corpus.bpe_train(docs, rounds=4).orderBy("round").collect()
    ]
    enc = corpus.bpe_encode(docs, rules)
    tok_mass = enc.select(
        F.sum(F.length("token") * F.col("n_occurrences"))).collect()[0][0]
    char_mass = (
        docs.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+"))
                    .alias("w"))
        .filter(F.col("w") != "")
        .select(F.sum(F.length("w"))).collect()[0][0]
    )
    assert tok_mass == char_mass


def test_bpe_encode_composition_with_training(spark, docs):
    """Training is greedy on the encoded state: encoding with the first
    k rules and recounting pairs must surface rule k+1 as the top
    remaining merge (count desc, l, r tie-break)."""
    from collections import Counter

    all_rules = [
        (r["lsym"], r["rsym"], r["pair_count"])
        for r in corpus.bpe_train(docs, rounds=6).orderBy("round").collect()
    ]
    assert len(all_rules) == 6
    first5 = [(l, r) for l, r, _c in all_rules[:5]]
    texts = [r["text"] for r in docs.select("text").collect()]
    vocab = Counter()
    for t in texts:
        for w in t.strip().lower().split():
            if w:
                vocab[w] += 1
    counts = Counter()
    for w, f in vocab.items():
        syms = corpus.bpe_apply_word(w, first5)
        for a, b in zip(syms, syms[1:]):
            counts[(a, b)] += f
    (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    assert (l, r, c) == all_rules[5]
