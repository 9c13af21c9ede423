"""Document deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

All operators are pure DataFrame pipelines over built-in functions (JVM-side,
whole-stage codegen — no Python in the hot path).  Hashing uses a shared
md5-prefix construction that DuckDB can reproduce exactly, so every operator
has a value-exact SQL oracle (the driver's correctness gate).

Scale design (100 TB corpus):
  * MinHash signatures are per-row array expressions — no explode, no
    shuffle; the only shuffles are the LSH band groupBy (keyed on a 60-bit
    band hash: uniformly distributed, skew-free) and the candidate-pair
    verify join (bounded by band collisions, not by |corpus|^2).
  * SimHash reduces to one token-level explode + two grouped aggregations
    with map-side partial combine.
  * The brute-force pair verifiers (`ngram_jaccard_pairs`,
    `embedding_near_dup`) are intentionally quadratic *within a candidate
    scope* — at scale they are only ever applied after LSH/banding pruning.

Reference parity: the reference dedups edges in dataset preprocessing
(/root/reference/datasets/wiki-vote/scripts/process.cpp:83-86); document
near-dedup is new capability required of the training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared deterministic 60-bit hash (identical in Spark and DuckDB)
# Spark:  conv(substr(md5(s),1,15),16,10)::long
# DuckDB: CAST('0x' || substr(md5(s),1,15) AS BIGINT)
# ---------------------------------------------------------------------------


def h60(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def tokens(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def bind1(value: Column, build) -> Column:
    """Evaluate ``value`` ONCE per row and pass it to ``build`` as a bound
    lambda variable: ``element_at(transform(array(value), build), 1)``.

    Higher-order functions are interpreted (CodegenFallback), so an
    expression like ``element_at(split(text), i)`` inside a transform
    lambda re-evaluates the split PER ARRAY ELEMENT — O(elements x
    value-cost) per row, quadratic in document length when value is the
    token split.  Binding through a 1-element array makes it O(value-cost
    + elements); measured 2.2x on shingling real-size documents."""
    return F.element_at(F.transform(F.array(value), build), 1)


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-grams of ``text`` (empty array if < k words)."""

    def build(w):
        gram = F.transform(
            F.sequence(F.lit(0), F.size(w) - k),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, (i + j + 1).cast("int")) for j in range(k)]
            ),
        )
        return F.when(F.size(w) >= k, F.array_distinct(gram)).otherwise(
            F.array().cast("array<string>")
        )

    return bind1(tokens(text), build)


def word_shingles_sql(text_expr: str, k: int = 3) -> str:
    """DuckDB expression mirroring :func:`word_shingles` (1-indexed lists)."""
    w = f"regexp_split_to_array(trim(lower({text_expr})), '\\s+')"
    parts = " || ' ' || ".join(f"__w[i + {j}]" for j in range(k))
    return (
        f"CASE WHEN len({w}) >= {k} THEN "
        f"list_distinct(list_transform(range(1, len({w}) - {k - 2}), i -> {parts})) "
        f"ELSE [] END"
    ).replace("__w", w)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Carter-Wegman minhash family over a single 31-bit base hash per
# shingle: mh_i = min over shingles of (a_i * (H60(s) % M) + b_i) % M,
# M = 2^31 - 1.  ONE md5 per shingle (not one per hash function);
# a_i * h < 2^62 so the arithmetic never overflows int64 — required
# because DuckDB RAISES on int64 overflow while the JVM wraps, so the
# two engines only agree when no intermediate overflows.
MH_M = (1 << 31) - 1


def _mh_ab(i: int) -> tuple[int, int]:
    return (i * 2654435761 + 1) % MH_M, (i * 40503 + 1234577) % MH_M


def minhash_signature(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, shingles, mh_0..mh_{n-1}) — per-row array expressions, no shuffle.

    mh_i = min over shingles of (a_i * (H60(shingle) % M) + b_i) % M (see
    `_mh_ab`); docs with no shingles get NULL signatures (they can never
    band-collide).  The base-hash array is a separate projection step:
    CollapseProject refuses to inline a non-cheap expression into its
    num_hashes consumers, so the md5 runs ONCE per shingle and the
    num_hashes minima are integer multiply-mods over the cached array
    (measured ~3x faster than the md5-per-hash formulation it replaces).
    """
    sh = word_shingles(F.col(text_col), shingle_k)
    based = docs.select(
        F.col(id_col).alias("id"), sh.alias("shingles")
    ).select(
        "*",
        F.transform(F.col("shingles"), lambda s: h60(s) % MH_M).alias("_b"),
    )

    def _mh(i: int):
        a, b = _mh_ab(i)
        # NB: the transform lambda must take exactly one parameter — a
        # second parameter (even a defaulted one) is bound to the array
        # INDEX column by PySpark's higher-order-function protocol.
        return F.array_min(
            F.transform(F.col("_b"), lambda h: (h * F.lit(a) + F.lit(b)) % MH_M)
        )

    return based.select(
        "id", "shingles", *[_mh(i).alias(f"mh_{i}") for i in range(num_hashes)]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact-Jaccard verify.

    Returns (id_a, id_b, jaccard_e6) with id_a < id_b and
    jaccard >= threshold.  Candidate generation: docs sharing any LSH band
    bucket (band hash of r = num_hashes/bands consecutive minhashes);
    verification: exact Jaccard over the shingle sets — so the *output* is
    deterministic given the hash family, independent of banding randomness.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sig = minhash_signature(docs, text_col, id_col, num_hashes, shingle_k)

    band_rows = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * r + j}") for j in range(r)]
        band_rows.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws(",", *cols)).alias("bh"))
        )
    # band join on (id, band-hash) ONLY — the shingle arrays join in later,
    # once per deduped candidate pair, instead of being replicated through
    # the bands x matches explosion (the band join's shuffle shrinks from
    # O(docs x bands x |shingles|) to O(docs x bands) rows of scalars)
    sigp = sig.filter(F.size("shingles") > 0).persist()
    banded = sigp.select(
        "id", F.explode(F.array(*band_rows)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    a = banded.select("band", "bh", F.col("id").alias("id_a"))
    b_ = banded.select("band", "bh", F.col("id").alias("id_b"))
    cand_ids = (
        a.join(b_, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sh = sigp.select("id", "shingles")
    cand = (
        cand_ids.join(
            sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
    jac = inter.cast("double") / union
    out = (
        cand.select("id_a", "id_b", F.round(jac * 1e6).cast("long").alias("jaccard_e6"))
        .filter(F.col("jaccard_e6") >= int(jaccard_threshold * 1e6))
        # materialize the (small) verified-pair set so the signature cache
        # can be released now instead of pinning executor storage forever
        .localCheckpoint(eager=True)
    )
    sigp.unpersist()
    return out


def minhash_lsh_pairs_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_expr: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
) -> str:
    r = num_hashes // bands
    mh_cols = ",\n    ".join(
        "list_min(list_transform(_b, h -> (h * {a} + {b}) % {m})) AS mh_{i}".format(
            a=_mh_ab(i)[0], b=_mh_ab(i)[1], m=MH_M, i=i
        )
        for i in range(num_hashes)
    )
    band_structs = ", ".join(
        "{'band': %d, 'bh': md5(%s)}"
        % (b, " || ',' || ".join(f"CAST(mh_{b * r + j} AS VARCHAR)" for j in range(r)))
        for b in range(bands)
    )
    return f"""
WITH sh AS (
  SELECT {id_expr} AS id, {word_shingles_sql(text_expr, shingle_k)} AS shingles
  FROM {table}
),
based AS (
  SELECT id, shingles,
         list_transform(shingles, s -> {h60_sql("s")} % {MH_M}) AS _b
  FROM sh WHERE len(shingles) > 0
),
sig AS (
  SELECT id, shingles,
    {mh_cols}
  FROM based
),
banded AS (
  SELECT id, shingles, u.band AS band, u.bh AS bh
  FROM sig, unnest([{band_structs}]) AS t(u)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
),
verified AS (
  SELECT c.id_a, c.id_b,
         CAST(round(len(list_intersect(sa.shingles, sb.shingles)) * 1e6
              / len(list_distinct(list_concat(sa.shingles, sb.shingles)))) AS BIGINT)
           AS jaccard_e6
  FROM cand c
  JOIN sh sa ON sa.id = c.id_a
  JOIN sh sb ON sb.id = c.id_b
)
SELECT id_a, id_b, jaccard_e6 FROM verified
WHERE jaccard_e6 >= {int(jaccard_threshold * 1e6)}
"""


# ---------------------------------------------------------------------------
# incremental index probe (new-crawl-vs-corpus dedup)
# ---------------------------------------------------------------------------


def minhash_index_probe(
    index_docs: DataFrame,
    batch_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup probe: dedup a NEW batch against an existing
    corpus INDEX (the daily-crawl production step — reference dedups new
    snapshots against the loaded corpus the same one-sided way,
    datasets/wiki-vote/scripts/process.cpp:83-86).

    Returns one row PER batch doc: (id, best_match, best_jaccard_e6, keep)
    where best_match is the index doc with the highest exact Jaccard among
    banded candidates at or above the threshold (ties break to the
    smallest index id — deterministic), and keep = 1 iff no such match.

    Scale shape: the index is NEVER self-joined — its per-doc signatures
    are computed once (in production: precomputed and stored) and the band
    join's probe side is only the new batch, so cost is
    O(index + batch x bands + candidates), independent of the index's
    internal pair mass.  Verification touches each candidate pair once;
    the per-batch-doc argmax is a map-side-combinable max of a
    (jaccard, -index_id) struct, never a sort.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands

    def _banded(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
        sig = minhash_signature(docs, text_col, id_col, num_hashes, shingle_k)
        sigp = sig.filter(F.size("shingles") > 0)
        rows = []
        for b in range(bands):
            cols = [F.col(f"mh_{b * r + j}") for j in range(r)]
            rows.append(F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *cols)).alias("bh"),
            ))
        banded = sigp.select(
            "id", F.explode(F.array(*rows)).alias("bb")
        ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
        return banded, sigp.select("id", "shingles")

    banded_idx, sh_idx = _banded(index_docs)
    banded_new, sh_new = _banded(batch_docs)

    cand = (
        banded_new.select(F.col("id").alias("id_new"), "band", "bh")
        .join(banded_idx.select(F.col("id").alias("id_idx"), "band", "bh"),
              ["band", "bh"])
        .select("id_new", "id_idx")
        .dropDuplicates(["id_new", "id_idx"])
    )
    verified = (
        cand.join(sh_new.select(F.col("id").alias("id_new"),
                                F.col("shingles").alias("sh_n")), "id_new")
        .join(sh_idx.select(F.col("id").alias("id_idx"),
                            F.col("shingles").alias("sh_i")), "id_idx")
        .select(
            "id_new", "id_idx",
            F.round(
                F.size(F.array_intersect("sh_n", "sh_i")).cast("double") * 1e6
                / F.size(F.array_distinct(F.concat("sh_n", "sh_i")))
            ).cast("long").alias("jaccard_e6"),
        )
        .filter(F.col("jaccard_e6") >= int(jaccard_threshold * 1e6))
    )
    best = (
        verified.groupBy("id_new")
        .agg(F.max(F.struct(
            F.col("jaccard_e6").alias("j"),
            (-F.col("id_idx")).alias("neg_id"),
        )).alias("b"))
        .select(
            "id_new",
            (-F.col("b.neg_id")).alias("best_match"),
            F.col("b.j").alias("best_jaccard_e6"),
        )
    )
    all_new = batch_docs.select(F.col(id_col).alias("id")).distinct()
    return all_new.join(
        best.withColumnRenamed("id_new", "id"), "id", "left"
    ).select(
        "id",
        F.coalesce(F.col("best_match"), F.lit(-1)).cast("long").alias("best_match"),
        F.coalesce(F.col("best_jaccard_e6"), F.lit(-1)).cast("long")
        .alias("best_jaccard_e6"),
        F.when(F.col("best_match").isNull(), F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("keep"),
    )


def minhash_index_probe_sql(
    table: str = "documents",
    index_where: str = "doc_id % 5 <> 0",
    batch_where: str = "doc_id % 5 = 0",
    text_expr: str = "text",
    id_expr: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
) -> str:
    r = num_hashes // bands
    mh_cols = ",\n    ".join(
        "list_min(list_transform(_b, h -> (h * {a} + {b}) % {m})) AS mh_{i}".format(
            a=_mh_ab(i)[0], b=_mh_ab(i)[1], m=MH_M, i=i
        )
        for i in range(num_hashes)
    )
    band_structs = ", ".join(
        "{'band': %d, 'bh': md5(%s)}"
        % (b, " || ',' || ".join(f"CAST(mh_{b * r + j} AS VARCHAR)" for j in range(r)))
        for b in range(bands)
    )
    return f"""
WITH sh_all AS (
  SELECT {id_expr} AS id, ({index_where}) AS is_idx, ({batch_where}) AS is_new,
         {word_shingles_sql(text_expr, shingle_k)} AS shingles
  FROM {table}
),
based AS (
  SELECT id, is_idx, is_new, shingles,
         list_transform(shingles, s -> {h60_sql("s")} % {MH_M}) AS _b
  FROM sh_all WHERE len(shingles) > 0
),
sig AS (
  SELECT id, is_idx, is_new, shingles,
    {mh_cols}
  FROM based
),
banded AS (
  SELECT id, is_idx, is_new, shingles, u.band AS band, u.bh AS bh
  FROM sig, unnest([{band_structs}]) AS t(u)
),
cand AS (
  SELECT DISTINCT n.id AS id_new, i.id AS id_idx
  FROM banded n JOIN banded i
    ON n.band = i.band AND n.bh = i.bh AND n.is_new AND i.is_idx
),
verified AS (
  SELECT c.id_new, c.id_idx,
         CAST(round(len(list_intersect(sn.shingles, si.shingles)) * 1e6
              / len(list_distinct(list_concat(sn.shingles, si.shingles)))) AS BIGINT)
           AS jaccard_e6
  FROM cand c
  JOIN sh_all sn ON sn.id = c.id_new
  JOIN sh_all si ON si.id = c.id_idx
  WHERE CAST(round(len(list_intersect(sn.shingles, si.shingles)) * 1e6
        / len(list_distinct(list_concat(sn.shingles, si.shingles)))) AS BIGINT)
        >= {int(jaccard_threshold * 1e6)}
),
best AS (
  SELECT id_new, id_idx AS best_match, jaccard_e6 AS best_jaccard_e6,
         row_number() OVER (PARTITION BY id_new
                            ORDER BY jaccard_e6 DESC, id_idx ASC) AS rn
  FROM verified
)
SELECT a.id,
       CAST(coalesce(b.best_match, -1) AS BIGINT) AS best_match,
       CAST(coalesce(b.best_jaccard_e6, -1) AS BIGINT) AS best_jaccard_e6,
       CAST(CASE WHEN b.best_match IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM (SELECT DISTINCT {id_expr} AS id FROM {table} WHERE {batch_where}) a
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.id_new = a.id
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """(id, simhash) — ``bits``-bit SimHash over whitespace tokens.

    bit_j(doc) = 1 iff sum over distinct tokens of
    count(token) * (+1 if bit_j(H60(token)) else -1) > 0.
    One explode + two grouped aggs (map-side combined) — linear, skew-free
    (keys are (doc, bit)).
    """
    tok = docs.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    ).filter(F.col("tok") != "")
    cnt = tok.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    cnt = cnt.withColumn("th", h60(F.col("tok")))
    bit = cnt.select(
        "id", "cnt", "th", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("j")
    ).select(
        "id",
        "j",
        # th < 2^60 (positive), so arithmetic shiftright == unsigned
        (
            F.when(
                F.expr("shiftright(th, CAST(j AS INT)) & 1") == 1, F.col("cnt")
            ).otherwise(-F.col("cnt"))
        ).alias("signed"),
    )
    per_bit = bit.groupBy("id", "j").agg(F.sum("signed").alias("s"))
    return per_bit.groupBy("id").agg(
        F.sum(
            F.when(
                F.col("s") > 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with SimHash Hamming distance <= max_hamming.

    Candidate generation is EXACT banding by pigeonhole: split the ``bits``
    signature into ``max_hamming + 1`` disjoint bit bands — any pair within
    Hamming distance max_hamming differs in at most max_hamming bits, so at
    least one band is bit-identical on both sides.  Candidates are the pairs
    agreeing on >= 1 (band index, band value) key — a plain equi-join, no
    cross join anywhere — then the exact xor-popcount verify filters.  The
    output is therefore IDENTICAL to the brute-force all-pairs form
    (asserted in tests), while the shuffle carries only (id, simhash, band,
    value) scalars and the join fan-out is bounded by band-bucket
    collisions (~n^2/2^band_width per band for random signatures), not n^2.
    """
    s = simhash(docs, text_col, id_col, bits)
    nb = max_hamming + 1
    widths = [bits // nb + (1 if j < bits % nb else 0) for j in range(nb)]
    los = [sum(widths[:j]) for j in range(nb)]
    bandcols = [
        F.struct(
            F.lit(j).alias("band"),
            F.expr(f"shiftright(simhash, {los[j]}) & {(1 << widths[j]) - 1}")
            .alias("bv"),
        )
        for j in range(nb)
    ]
    banded = s.select(
        "id", "simhash", F.explode(F.array(*bandcols)).alias("bb")
    ).select("id", "simhash", F.col("bb.band").alias("band"),
             F.col("bb.bv").alias("bv"))
    a = banded.select("band", "bv", F.col("id").alias("id_a"),
                      F.col("simhash").alias("h_a"))
    b = banded.select("band", "bv", F.col("id").alias("id_b"),
                      F.col("simhash").alias("h_b"))
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_expr: str = "doc_id",
    bits: int = 32,
) -> str:
    return f"""
tok AS (
  SELECT {id_expr} AS id, t.tok AS tok
  FROM {table}, unnest(regexp_split_to_array(trim(lower({text_expr})), '\\s+')) AS t(tok)
  WHERE t.tok <> ''
),
cnt AS (
  SELECT id, tok, count(*) AS cnt, {h60_sql("tok")} AS th
  FROM tok GROUP BY id, tok
),
bitsum AS (
  SELECT id, j, sum(CASE WHEN (th >> j) & 1 = 1 THEN cnt ELSE -cnt END) AS s
  FROM cnt, unnest(range(0, {bits})) AS r(j)
  GROUP BY id, j
),
sim AS (
  SELECT id, sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS simhash
  FROM bitsum GROUP BY id
)"""


def simhash_pairs_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_expr: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
) -> str:
    return f"""
WITH {simhash_sql(table, text_expr, id_expr, bits)}
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sim a JOIN sim b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact pairwise within a scope)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """(id_a, id_b, jaccard_e6) exact word-k-gram Jaccard >= threshold.

    EXACT inverted-index plan (no cross join, output identical to brute
    force): a pair with Jaccard > 0 shares >= 1 shingle, so candidates are
    generated by exploding each doc's DISTINCT shingles and self-joining on
    the shingle — and because both sides are deduped, the number of join
    matches per pair IS |A ∩ B|, so one grouped count per pair yields the
    exact Jaccard via |A ∪ B| = |A| + |B| − |A ∩ B| without ever joining
    the shingle arrays pairwise.  Pairs sharing NO shingle (Jaccard = 0)
    are by construction never emitted — identical output for any
    threshold > 0.  Skew note: fan-out concentrates on
    high-document-frequency shingles (df^2 pairs per shingle); word
    k-grams keep df low on natural text, and at adversarial scale the
    df-capped + MinHash-LSH path (minhash_lsh_pairs) is the fallback.
    """
    sh = docs.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), shingle_k).alias("sh"),
    ).filter(F.size("sh") > 0)
    ex = sh.select("id", F.size("sh").alias("n"), F.explode("sh").alias("s"))
    a = ex.select(F.col("id").alias("id_a"), F.col("n").alias("na"), "s")
    b = ex.select(F.col("id").alias("id_b"), F.col("n").alias("nb"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"),
             F.first("na").alias("na"), F.first("nb").alias("nb"))
    )
    union = F.col("na") + F.col("nb") - F.col("i")
    return (
        inter.select(
            "id_a",
            "id_b",
            F.round(F.col("i").cast("double") / union * 1e6)
            .cast("long").alias("jaccard_e6"),
        )
        .filter(F.col("jaccard_e6") >= int(threshold * 1e6))
    )


def ngram_jaccard_pairs_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_expr: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.3,
    where: str = "TRUE",
) -> str:
    return f"""
WITH sh AS (
  SELECT {id_expr} AS id, {word_shingles_sql(text_expr, shingle_k)} AS sh
  FROM {table} WHERE {where}
),
nz AS (SELECT * FROM sh WHERE len(sh) > 0)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(round(len(list_intersect(a.sh, b.sh)) * 1e6
            / len(list_distinct(list_concat(a.sh, b.sh)))) AS BIGINT) AS jaccard_e6
FROM nz a JOIN nz b ON a.id < b.id
WHERE round(len(list_intersect(a.sh, b.sh)) * 1e6
      / len(list_distinct(list_concat(a.sh, b.sh)))) >= {int(threshold * 1e6)}
"""


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_near_dup(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
) -> DataFrame:
    """(id_a, id_b, cos_e6) pairs with cosine similarity >= threshold —
    the EXACT all-pairs verifier, to be applied only within a bounded
    candidate scope (an LSH bucket, a dedup cluster, one domain's docs).

    Why no lossless pruning exists here: at sub-near-dup thresholds
    (t = 0.45 on 64-dim embeddings, angle 63°) recall-1 candidate
    generation is information-theoretically equivalent to all-pairs —
    measured on the test fixtures, hyperplane-LSH needs >= 64% of all
    pairs as candidates to exceed 94% recall, and IVF co-cluster blocking
    behaves the same.  The production detector is therefore
    :func:`embedding_near_dup_banded`, whose banding is PART of its
    semantics (SemDeDup-style); this exact form is the verify stage."""
    e = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    a = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    nrm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))  # noqa: E731
    cos = dot / (nrm(F.col("va")) * nrm(F.col("vb")))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos * 1e6).cast("long").alias("cos_e6"))
        .filter(F.col("cos_e6") >= int(threshold * 1e6))
    )


def embedding_near_dup_banded(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
    bands: int = 8,
    planes_per_band: int = 8,
    dim: int = 64,
) -> DataFrame:
    """(id_a, id_b, cos_e6): the SCALE-PATH embedding near-dup detector.
    A pair is reported iff it (a) shares at least one hyperplane-LSH band
    signature (deterministic seeded planes, ann.signatures) AND (b) has
    exact cosine >= threshold.  The banding is part of the operator's
    semantics (the standard LSH-dedup contract, same as minhash_lsh_pairs'
    band stage): recall against the all-pairs verifier follows the LSH
    collision curve — ~1 for true near-duplicates (cos >= 0.99 misses with
    prob ~2e-8 at 8x8 bands; asserted on planted dups in tests) and
    intentionally low deep in the borderline tail.  Candidates come from an
    equi-join on (band, sig) — ~2^planes_per_band-fold fan-out reduction
    per band, no cross join — and the verify joins vectors back per
    candidate pair only."""
    from .ann import signatures

    sig = signatures(emb, bands, planes_per_band, dim, vec_col, id_col)
    a = sig.select("band", "sig", F.col("id").alias("id_a"))
    b = sig.select("band", "sig", F.col("id").alias("id_b"))
    cand = (
        a.join(b, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    e = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    pair = cand.join(
        e.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a"
    ).join(e.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    nrm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))  # noqa: E731
    cos = dot / (nrm(F.col("va")) * nrm(F.col("vb")))
    return (
        pair.select("id_a", "id_b", F.round(cos * 1e6).cast("long").alias("cos_e6"))
        .filter(F.col("cos_e6") >= int(threshold * 1e6))
    )


def embedding_near_dup_banded_sql(
    table: str = "embeddings",
    vec_expr: str = "embedding",
    id_expr: str = "vec_id",
    threshold: float = 0.45,
    bands: int = 8,
    planes_per_band: int = 8,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`embedding_near_dup_banded` — identical
    hyperplane literals, band join, and exact-cosine verify."""
    from .ann import _plane_lit_sql, hyperplanes

    planes = hyperplanes(dim, bands * planes_per_band)
    band_structs = []
    for b in range(bands):
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(v, "
            f"{_plane_lit_sql(planes[b * planes_per_band + j])}) >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(planes_per_band)
        )
        band_structs.append(f"{{'band': {b}, 'sig': CAST({bits} AS BIGINT)}}")
    structs = ", ".join(band_structs)
    return f"""
WITH e AS (SELECT {id_expr} AS id, CAST({vec_expr} AS DOUBLE[]) AS v FROM {table}),
sigs AS (
  SELECT id, u.band AS band, u.sig AS sig
  FROM e, unnest([{structs}]) AS t(u)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
)
SELECT c.id_a, c.id_b,
       CAST(round(list_dot_product(ea.v, eb.v)
            / (sqrt(list_dot_product(ea.v, ea.v))
               * sqrt(list_dot_product(eb.v, eb.v))) * 1e6) AS BIGINT) AS cos_e6
FROM cand c JOIN e ea ON ea.id = c.id_a JOIN e eb ON eb.id = c.id_b
WHERE round(list_dot_product(ea.v, eb.v)
      / (sqrt(list_dot_product(ea.v, ea.v))
         * sqrt(list_dot_product(eb.v, eb.v))) * 1e6) >= {int(threshold * 1e6)}
"""


def ngram_containment_pairs(
    docs: DataFrame,
    probes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """(pid, did, containment_e6): asymmetric n-gram containment
    |shingles(probe) ∩ shingles(doc)| / |shingles(probe)| ≥ threshold.

    The benchmark-decontamination primitive: ``probes`` are held-out /
    benchmark texts, ``docs`` the training corpus; high containment means
    the probe appears (near-)verbatim inside the doc — which symmetric
    Jaccard misses when the doc is much longer than the probe.

    Plan: both sides explode their DISTINCT shingles; the probe side is
    small by construction, so its exploded table BROADCASTs into the
    shingle equi-join (no shuffle of the corpus side beyond the grouped
    count); intersection size = join match count since both sides are
    deduped.  Skew from ultra-common shingles is bounded by the probe
    side's broadcast size.
    """
    psh = probes.select(
        F.col(id_col).alias("pid"),
        word_shingles(F.col(text_col), shingle_k).alias("sh"),
    ).filter(F.size("sh") > 0)
    psz = psh.select("pid", F.size("sh").alias("np"))
    pex = psh.select("pid", F.explode("sh").alias("s"))
    dex = (
        docs.select(
            F.col(id_col).alias("did"),
            word_shingles(F.col(text_col), shingle_k).alias("sh"),
        )
        .filter(F.size("sh") > 0)
        .select("did", F.explode("sh").alias("s"))
    )
    m = (
        dex.join(F.broadcast(pex), "s")
        .groupBy("pid", "did")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        m.join(F.broadcast(psz), "pid")
        .filter(F.col("pid") != F.col("did"))
        .select(
            "pid", "did",
            F.round(F.col("inter").cast("double") * 1e6 / F.col("np"))
            .cast("long").alias("containment_e6"),
        )
        .filter(F.col("containment_e6") >= int(threshold * 1e6))
    )


def snm_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 3,
    block_chars: int = 12,
    shingle_k: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Sorted-neighborhood near-dup pairs: sort docs by a blocking key
    (first ``block_chars`` chars of normalized text), compare each doc
    only with its ``window`` successors in sort order, verify with exact
    word-shingle Jaccard ≥ threshold.  Returns (id_a, id_b, jaccard_e6).

    The third blocking family beside MinHash-LSH and SimHash: cost is
    O(n·w) comparisons instead of O(n²), no hashing.  The sort is
    PARTITIONED by a key prefix (Window.partitionBy(block)), so no global
    sort: each block sorts locally and windows never cross blocks —
    which is also the semantic blocking boundary.  Ties broken by doc id
    for a deterministic, engine-portable order.
    """
    key = F.substring(F.trim(F.lower(F.col(text_col))), 1, block_chars)
    base = docs.select(
        F.col(id_col).alias("id"),
        key.alias("k"),
        word_shingles(F.col(text_col), shingle_k).alias("sh"),
    ).filter(F.size("sh") > 0)
    w = Window.partitionBy(F.substring(F.col("k"), 1, 4)).orderBy("k", "id")
    r = base.select("id", "k", "sh", F.row_number().over(w).alias("rn"),
                    F.substring(F.col("k"), 1, 4).alias("blk"))
    a = r.select(F.col("blk"), F.col("rn").alias("rn_a"),
                 F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = r.select(F.col("blk"), F.col("rn").alias("rn_b"),
                 F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
    return (
        a.join(b, ["blk"])
        .filter((F.col("rn_b") > F.col("rn_a"))
                & (F.col("rn_b") <= F.col("rn_a") + window))
        .select(
            "id_a", "id_b",
            F.round(inter.cast("double") * 1e6 / union)
            .cast("long").alias("jaccard_e6"),
        )
        .filter(F.col("jaccard_e6") >= int(threshold * 1e6))
    )


# ---------------------------------------------------------------------------
# duplicated n-gram span mass (exact-substring dedup signal)
# ---------------------------------------------------------------------------


def dup_span_stats(docs: DataFrame, k: int = 8, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-document duplicated k-token-span mass: the fraction of a doc's
    k-gram positions whose gram occurs >= 2 times anywhere in the corpus
    (other docs OR repeated within the same doc) — the signal behind
    exact-substring training-data dedup (Lee et al., ACL'22: substrings
    repeated verbatim across a corpus are memorization fuel; spans here
    are token k-grams instead of suffix-array byte ranges, which keeps
    the plan one explode + one keyed agg instead of a global sort).

    Returns (doc_id, positions, dup_positions, dup_ratio_e6).

    Scale: grams shuffle as 60-bit hashes, never strings; the occurrence
    count is a partial-agg'd groupBy (hot boilerplate grams combine
    map-side), and the join back is hash-equi on the gram key.  No
    windows, no sorts, no all-pairs."""
    def grams(w):
        g = F.transform(
            F.sequence(F.lit(0), F.size(w) - k),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, (i + j + 1).cast("int"))
                       for j in range(k)]
            ),
        )
        return F.when(F.size(w) >= k, g).otherwise(
            F.array().cast("array<string>"))

    occ = (
        docs.select(F.col(id_col), bind1(tokens(F.col(text_col)), grams)
                    .alias("_g"))
        .select(id_col, F.explode_outer("_g").alias("_gram"))
        .select(id_col, F.when(F.col("_gram").isNull(), F.lit(None))
                .otherwise(h60(F.col("_gram"))).alias("gh"))
    ).persist()
    counts = (
        occ.filter(F.col("gh").isNotNull())
        .groupBy("gh").agg(F.count(F.lit(1)).alias("_n"))
    )
    per_doc = (
        occ.join(counts, "gh", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("gh").isNotNull().cast("long")).alias("positions"),
            F.sum((F.coalesce(F.col("_n"), F.lit(0)) >= 2).cast("long"))
            .alias("dup_positions"),
        )
    )
    out = per_doc.select(
        F.col(id_col),
        F.col("positions").cast("long").alias("positions"),
        F.col("dup_positions").cast("long").alias("dup_positions"),
        F.when(F.col("positions") > 0,
               F.floor(F.col("dup_positions") * F.lit(1000000)
                       / F.col("positions")))
        .otherwise(F.lit(0)).cast("long").alias("dup_ratio_e6"),
    ).localCheckpoint(eager=True)
    occ.unpersist()
    return out


def dup_span_stats_sql(k: int = 8, table: str = "documents",
                       id_col: str = "doc_id", text_expr: str = "text") -> str:
    w = f"regexp_split_to_array(trim(lower({text_expr})), '\\s+')"
    parts = " || ' ' || ".join(f"w[i + {j}]" for j in range(k))
    gh = h60_sql("gram")
    return f"""
WITH toks AS (SELECT {id_col}, {w} AS w FROM {table}),
occ AS (
  SELECT {id_col}, {gh} AS gh
  FROM (SELECT {id_col},
               unnest(list_transform(range(1, len(w) - {k - 2}), i -> {parts}))
                 AS gram
        FROM toks WHERE len(w) >= {k})),
counts AS (SELECT gh, count(*) AS n FROM occ GROUP BY gh),
per_doc AS (
  SELECT o.{id_col},
         CAST(count(*) AS BIGINT) AS positions,
         CAST(sum(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS dup_positions
  FROM occ o JOIN counts c USING (gh)
  GROUP BY o.{id_col})
SELECT t.{id_col},
       coalesce(p.positions, 0) AS positions,
       coalesce(p.dup_positions, 0) AS dup_positions,
       CAST(CASE WHEN coalesce(p.positions, 0) > 0
                 THEN floor(p.dup_positions * 1000000 / p.positions)
                 ELSE 0 END AS BIGINT) AS dup_ratio_e6
FROM (SELECT DISTINCT {id_col} FROM {table}) t
LEFT JOIN per_doc p USING ({id_col})
"""


# ---------------------------------------------------------------------------
# exact-substring span REMOVAL (the Lee et al. production dedup transform)
# ---------------------------------------------------------------------------

# packed (doc_id, pos) key for the canonical-first-occurrence argmin:
# doc_id * 2^20 + pos — exact while pos < 2^20 tokens/doc (web documents
# are far shorter; chunk upstream otherwise) and doc_id < 2^43.
_POS_SPACE = 1 << 20


def remove_dup_spans(docs: DataFrame, k: int = 8, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Remove duplicated k-token spans from every document, keeping the
    corpus-wide FIRST occurrence of each span — the production step of
    exact-substring training-data dedup (Lee et al., ACL'22 §4: all but
    one occurrence of a repeated substring is dropped before training;
    `dup_span_stats` MEASURES the mass, this transform REMOVES it).
    Spans are token k-grams (not suffix-array byte ranges), which keeps
    the plan join-shaped instead of a global suffix sort.

    Semantics: a k-gram occurrence is *duplicate* iff its gram occurs
    >= 2 times corpus-wide AND it is not the occurrence with the
    minimal (doc_id, position).  Every token position covered by a
    duplicate occurrence is removed; the kept text is the remaining
    tokens in order.  Returns
    (doc_id, n_tokens, n_removed, kept_fp) — kept_fp is the h60
    fingerprint of the kept text, so the gate proves byte-level output
    parity without shipping full documents through the compare.

    100-TB plan: grams shuffle as 60-bit hashes; the first-occurrence
    argmin is one keyed agg (min of a packed BIGINT, map-side combined);
    the dup-occurrence join is hash-equi on the gram key; coverage
    positions explode k-per-dup and aggregate per doc (state bounded by
    doc length).  The rebuild is IN-ROW — an indexed array filter, no
    extra shuffle — costing O(len * covered) per doc, bounded because
    document length is bounded in a web corpus.

    Reference parity: the reference dedups its edge lists during
    dataset preprocessing (datasets/wiki-vote/scripts/process.cpp:83-86)
    — this is the corpus-side analogue."""
    d = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokens(F.col(text_col)).alias("w"),
    ).persist()
    try:
        grams_arr = F.transform(
            F.sequence(F.lit(1), F.size("w") - k + 1),
            lambda p: F.concat_ws(
                " ", *[F.element_at(F.col("w"), (p + j).cast("int"))
                       for j in range(k)]),
        )
        occ = (
            d.filter(F.size("w") >= k)
            .select("doc_id", F.posexplode(grams_arr).alias("p0", "gram"))
            .select(
                "doc_id",
                (F.col("p0") + 1).cast("long").alias("pos"),
                h60(F.col("gram")).alias("gh"),
            )
            .withColumn("pk", F.col("doc_id") * _POS_SPACE + F.col("pos"))
        ).persist()
        gram_tab = occ.groupBy("gh").agg(
            F.count(F.lit(1)).alias("n"), F.min("pk").alias("first_pk"))
        dup = (
            occ.join(gram_tab, "gh")
            .filter((F.col("n") >= 2) & (F.col("pk") != F.col("first_pk")))
            .select("doc_id", "pos")
        )
        cov = (
            dup.select(
                "doc_id",
                F.explode(F.sequence(F.col("pos"),
                                     F.col("pos") + k - 1)).alias("tp"))
            .groupBy("doc_id")
            .agg(F.collect_set("tp").alias("cov"))
        )
        covc = F.coalesce(F.col("cov"), F.array().cast("array<long>"))
        kept = F.filter(
            F.col("w"), lambda x, i: ~F.array_contains(covc, (i + 1).cast("long")))
        out = (
            d.join(cov, "doc_id", "left")
            .select(
                "doc_id",
                F.size("w").cast("long").alias("n_tokens"),
                F.size(covc).cast("long").alias("n_removed"),
                h60(F.concat_ws(" ", kept)).alias("kept_fp"),
            )
            .localCheckpoint(eager=True)
        )
        occ.unpersist()
        return out
    finally:
        d.unpersist()


def remove_dup_spans_sql(k: int = 8, table: str = "documents",
                         id_col: str = "doc_id",
                         text_expr: str = "text") -> str:
    """DuckDB twin of remove_dup_spans — identical gram hashes,
    packed-key argmin, coverage expansion, and kept-text fingerprint."""
    w = f"regexp_split_to_array(trim(lower({text_expr})), '\\s+')"
    parts = " || ' ' || ".join(f"w[i + {j}]" for j in range(k))
    gh = h60_sql("gram")
    fp = h60_sql("coalesce(s, '')")
    return f"""
WITH toks AS MATERIALIZED (
  SELECT CAST({id_col} AS BIGINT) AS doc_id, {w} AS w FROM {table}),
occ AS MATERIALIZED (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, {gh} AS gh
  FROM (SELECT doc_id, i, {parts} AS gram
        FROM toks, unnest(range(1, CAST(len(w) AS BIGINT) - {k} + 2)) t(i)
        WHERE len(w) >= {k})),
gram_tab AS (
  SELECT gh, count(*) AS n, min(doc_id * {_POS_SPACE} + pos) AS first_pk
  FROM occ GROUP BY gh),
cov AS (
  SELECT DISTINCT doc_id, CAST(tp AS BIGINT) AS tp
  FROM (SELECT o.doc_id, o.pos FROM occ o JOIN gram_tab g USING (gh)
        WHERE g.n >= 2 AND o.doc_id * {_POS_SPACE} + o.pos <> g.first_pk),
       unnest(range(pos, pos + {k})) u(tp)),
posx AS (
  SELECT doc_id, CAST(i AS BIGINT) AS i, w[i] AS tok
  FROM toks, unnest(range(1, CAST(len(w) AS BIGINT) + 1)) t(i)),
kept AS (
  SELECT p.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(c.tp) AS BIGINT) AS n_removed,
         string_agg(CASE WHEN c.tp IS NULL THEN p.tok END, ' ' ORDER BY p.i)
           AS s
  FROM posx p LEFT JOIN cov c ON c.doc_id = p.doc_id AND c.tp = p.i
  GROUP BY p.doc_id)
SELECT doc_id, n_tokens, n_removed, {fp} AS kept_fp FROM kept
"""
