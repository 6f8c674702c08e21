"""Training-data pipeline operators over ``documents`` / ``embeddings``.

Beyond the reference's own surface (SURVEY.md §7 step 9): deduplication,
text analysis, document fingerprinting and embedding similarity search —
the operators a 100 TB LLM-data pipeline needs.  All are DataFrame→
DataFrame, shuffle-partitioned, no driver materialization; the declared
queries here are the oracle-checked entry points, the reusable operator
API lives in ``swiftlake_spark.operators``.

Hash-portability note: every hash whose VALUE reaches an oracle compare
is MD5 (identical hex output in Spark and DuckDB).  Engine-internal
variants (xxhash/murmur via ``F.hash``) are faster but engine-specific,
so queries built on them certify through VERDICT oracles instead (q25's
pattern): the query computes the operator output AND a deterministic
check of it in one plan — planted-duplicate exactness, recall vs the
exact brute-force path, codec-roundtrip feature equality — and emits a
single verdict row the DuckDB oracle derives independently from the raw
tables (counts, data-derived invariants, expected booleans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from swiftlake_spark.queries import query
from swiftlake_spark.queries.base import as_double, dec, load, spread


# --------------------------------------------------------------------------
# q40 — exact dedup accounting: per source, docs vs distinct contents.
# Scale path: hash-groupBy on md5(text) — one shuffle, no data explosion.
# --------------------------------------------------------------------------
@query(
    "q40_dedup_exact",
    oracle=r"""
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(text)) AS n_unique,
       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dupes
FROM documents
GROUP BY source
ORDER BY source
""",
)
def q40_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.md5("text")).alias("n_unique"),
            (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_dupes"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q41 — exact dedup keeper assignment: smallest doc_id per content hash
# survives; emit the drop list.  This is the actual dedup operator shape.
# --------------------------------------------------------------------------
@query(
    "q41_dedup_keeper",
    oracle=r"""
WITH ranked AS (
  SELECT doc_id, source, md5(text) AS content_hash,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
         COUNT(*)    OVER (PARTITION BY md5(text)) AS group_size
  FROM documents
)
SELECT doc_id, source, content_hash, group_size, (rn = 1) AS is_keeper
FROM ranked
WHERE group_size > 1 OR doc_id < 20
ORDER BY doc_id
""",
)
def q41_dedup_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").withColumn("content_hash", F.md5("text"))
    wp = W.partitionBy("content_hash")
    ranked = d.withColumn("rn", F.row_number().over(wp.orderBy("doc_id"))).withColumn(
        "group_size", F.count(F.lit(1)).over(wp)
    )
    return (
        ranked.filter((F.col("group_size") > 1) | (F.col("doc_id") < 20))
        .select(
            "doc_id",
            "source",
            "content_hash",
            "group_size",
            (F.col("rn") == 1).alias("is_keeper"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q42 — text statistics: token counts, length stats, stopword ratio.
# Tokenization = whitespace split (the BPE-ish regex variant is in
# operators.text; this declared query uses the SQL-portable core).
# --------------------------------------------------------------------------
@query(
    "q42_text_stats",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, lang, n_chars,
         LEN(string_split(text, ' ')) AS n_tokens,
         LEN(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS n_stop
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT)  AS total_chars,
       CAST(SUM(CAST(CAST(n_stop AS DOUBLE) / n_tokens AS DECIMAL(28,10))) AS DOUBLE)
         / COUNT(*) AS avg_stopword_ratio,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
       CAST(MIN(n_tokens) AS BIGINT) AS min_tokens
FROM toks
GROUP BY lang
ORDER BY lang
""",
)
def q42_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.size(
            F.filter(F.split("text", " "), lambda w: w.isin("the", "a"))
        ).alias("n_stop"),
    )
    ratio = (F.col("n_stop").cast("double") / F.col("n_tokens")).cast("decimal(28,10)")
    return (
        toks.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            (as_double(F.sum(ratio)) / F.count(F.lit(1))).alias("avg_stopword_ratio"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
            F.min("n_tokens").cast("bigint").alias("min_tokens"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# q43 — n-gram Jaccard near-dup candidates: 3-word shingles, exploded and
# self-joined on shingle, pair similarity = |∩| / |∪|.  The shingle join is
# the scale path (no O(n²) pairwise scan): candidates only where shingles
# collide.  At 100 TB the same plan runs with a shuffle on shingle hash.
# --------------------------------------------------------------------------
@query(
    "q43_ngram_jaccard",
    oracle=r"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 200
), shingles AS (
  SELECT DISTINCT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, UNNEST(generate_series(1, GREATEST(LEN(w) - 2, 0))) AS t(i)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_common,
       CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2
ORDER BY doc_a, doc_b
""",
)
def q43_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    # literal-space split (this query's oracle is pinned to string_split);
    # let-bound so the split evaluates once per doc, not once per token ref
    shingle_arr = F.aggregate(
        F.array(F.split("text", " ")),
        F.array().cast("array<string>"),
        lambda _acc, w: F.when(
            F.size(w) >= 3,
            F.transform(
                F.sequence(F.lit(0), F.size(w) - 3),
                lambda i: F.concat_ws(" ", F.get(w, i), F.get(w, i + 1), F.get(w, i + 2)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    # r14 (guide §2.4): distinctness here is PER DOCUMENT (doc_id rides
    # every row), so enforce it map-side with array_distinct on the
    # shingle array BEFORE the explode — the old .distinct() paid a
    # corpus-sized (doc_id, sh) shuffle per consumer branch for a dedup
    # each row can do locally.  Identical multiset, verified value-equal
    # at sf0.1 and oracle-proven; 0.49 -> 0.32 s min-of-5.
    # PRECONDITION (ADVICE r14): the per-row array_distinct equals the
    # oracle's global SELECT DISTINCT (doc_id, shingle) only because
    # doc_id is UNIQUE per row of documents (one text per doc_id — the
    # corpus fixture contract).  If a future fixture emitted the same
    # doc_id on multiple rows, cross-row duplicates would survive here
    # and q43 would diverge from the oracle; restore a global distinct
    # in that world.
    shingles = (
        d.select("doc_id", F.explode(F.array_distinct(shingle_arr)).alias("sh"))
    )
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")
    )
    return (
        pairs.join(F.broadcast(sa), F.col("sa.doc_id") == F.col("doc_a"))
        .join(F.broadcast(sb), F.col("sb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", "n_common", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# q44 — document fingerprinting: content MD5 + min-shingle-hash signature
# (the seed-0 row of a MinHash signature, string-min over md5 — portable).
# --------------------------------------------------------------------------
@query(
    "q44_fingerprint",
    oracle=r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents WHERE doc_id < 100
), shingles AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, UNNEST(generate_series(1, GREATEST(LEN(w) - 2, 0))) AS t(i)
)
SELECT d.doc_id,
       md5(d.text) AS content_md5,
       s.min_shingle_hash
FROM documents d
JOIN (SELECT doc_id, MIN(md5(sh)) AS min_shingle_hash FROM shingles GROUP BY doc_id) s
  ON s.doc_id = d.doc_id
WHERE d.doc_id < 100
ORDER BY d.doc_id
""",
)
def q44_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    # trim+\s+ tokenization, matching this query's oracle CTE and the
    # fingerprint operator; let-bound split, short-doc guard
    shingle_arr = F.aggregate(
        F.array(F.split(F.trim("text"), r"\s+")),
        F.array().cast("array<string>"),
        lambda _acc, w: F.when(
            F.size(w) >= 3,
            F.transform(
                F.sequence(F.lit(0), F.size(w) - 3),
                lambda i: F.concat_ws(" ", F.get(w, i), F.get(w, i + 1), F.get(w, i + 2)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    sigs = (
        d.select("doc_id", F.explode(shingle_arr).alias("sh"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.min(F.md5("sh")).alias("min_shingle_hash"))
    )
    return (
        d.join(sigs, "doc_id")
        .select("doc_id", F.md5("text").alias("content_md5"), "min_shingle_hash")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q45 — language-ID heuristic, score AND prediction in one certified
# slot (consolidated r12, VERDICT r11 ask #4 — absorbs q52_langid_pred
# with no coverage loss): the marker-word score profile (inline
# Catalyst, q45's original surface) and the four-profile argmax
# prediction (operators.text.lang_id, q52's original surface) are both
# computed per document, then aggregated per (label, prediction) cell —
# the score stats per cell subsume the per-label rollup, and the cell
# counts are the agreement matrix.
# --------------------------------------------------------------------------
@query(
    "q45_langid_score",
    oracle=r"""
WITH scored AS (
  SELECT doc_id, lang,
         LEN(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS en_markers,
         LEN(string_split(text, ' ')) AS n_tokens,
         list_max([
           {'score': CAST(LEN(list_filter(regexp_split_to_array(text, '\s+'), w -> w IN ('der','die','das','und','ist'))) AS DOUBLE) / LEN(regexp_split_to_array(text, '\s+')), 'lang': 'de'},
           {'score': CAST(LEN(list_filter(regexp_split_to_array(text, '\s+'), w -> w IN ('the','a','and','of','is'))) AS DOUBLE) / LEN(regexp_split_to_array(text, '\s+')), 'lang': 'en'},
           {'score': CAST(LEN(list_filter(regexp_split_to_array(text, '\s+'), w -> w IN ('el','la','los','y','es'))) AS DOUBLE) / LEN(regexp_split_to_array(text, '\s+')), 'lang': 'es'},
           {'score': CAST(LEN(list_filter(regexp_split_to_array(text, '\s+'), w -> w IN ('le','la','les','et','est'))) AS DOUBLE) / LEN(regexp_split_to_array(text, '\s+')), 'lang': 'fr'}
         ]).lang AS lang_pred
  FROM documents
)
SELECT lang AS label, lang_pred,
       COUNT(*) AS n_docs,
       CAST(SUM(en_markers) AS BIGINT) AS total_en_markers,
       CAST(SUM(CAST(CAST(en_markers AS DOUBLE) / n_tokens AS DECIMAL(28,10))) AS DOUBLE)
         / COUNT(*) AS avg_en_score,
       BOOL_OR(en_markers * 10 > n_tokens) AS any_en_like
FROM scored
GROUP BY lang, lang_pred
ORDER BY label, lang_pred
""",
)
def q45_langid_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.text import lang_id

    # spread (guide §2.5): the langid token filters run per row ahead of
    # the aggregate — don't serialize them on a single scan split
    d = lang_id(spread(load(spark, sf_dir, "documents")))
    toks = F.split("text", " ")
    en_markers = F.size(F.filter(toks, lambda w: w.isin("the", "a")))
    scored = d.select(
        F.col("lang").alias("label"),
        "lang_pred",
        en_markers.alias("en_markers"),
        F.size(toks).alias("n_tokens"),
    )
    score = (F.col("en_markers").cast("double") / F.col("n_tokens")).cast("decimal(28,10)")
    return (
        scored.groupBy("label", "lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("en_markers").cast("bigint").alias("total_en_markers"),
            (as_double(F.sum(score)) / F.count(F.lit(1))).alias("avg_en_score"),
            F.max(F.col("en_markers") * 10 > F.col("n_tokens")).alias("any_en_like"),
        )
        .orderBy("label", "lang_pred")
    )


# --------------------------------------------------------------------------
# q46 — brute-force cosine top-k: the ANN baseline.  Query vectors are a
# fixed small set (vec_id < 3) broadcast against all embeddings; dot and
# norms fold through DECIMAL so the result hash-matches bit-for-bit.
# Scale path: broadcast-join (no shuffle of the big side), per-query
# window top-k.  The IVF/LSH-bucketed variant lives in
# operators.similarity (rows-only checked).
# --------------------------------------------------------------------------
@query(
    "q46_cosine_topk",
    oracle=r"""
WITH pairs AS (
  SELECT q.vec_id AS query_id, e.vec_id AS cand_id, e.label,
         CAST(SUM(CAST(CAST(qe.x AS DOUBLE) * CAST(ee.x AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) AS dot,
         CAST(SUM(CAST(CAST(qe.x AS DOUBLE) * CAST(qe.x AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) AS qq,
         CAST(SUM(CAST(CAST(ee.x AS DOUBLE) * CAST(ee.x AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) AS ee_
  FROM embeddings q
  JOIN embeddings e ON q.vec_id < 3 AND e.vec_id <> q.vec_id
  CROSS JOIN UNNEST(generate_series(1, 64)) AS t(i)
  CROSS JOIN LATERAL (SELECT q.embedding[i] AS x) qe
  CROSS JOIN LATERAL (SELECT e.embedding[i] AS x) ee
  GROUP BY q.vec_id, e.vec_id, e.label
), scored AS (
  SELECT query_id, cand_id, label,
         dot / (SQRT(qq) * SQRT(ee_)) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dot / (SQRT(qq) * SQRT(ee_)) DESC, cand_id) AS rn
  FROM pairs
)
SELECT query_id, cand_id, label, cosine, rn
FROM scored WHERE rn <= 5
ORDER BY query_id, rn
""",
)
def q46_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")

    def fold_dot(a, b):
        prod = F.zip_with(
            a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast("decimal(20,12)")
        )
        return F.aggregate(
            prod,
            F.lit(0).cast("decimal(20,12)"),
            lambda acc, x: (acc + x).cast("decimal(20,12)"),
        ).cast("double")

    # r14 (guide §1.2 "don't compute things you throw away"): the
    # self-norm folds qq/ee_ were computed INSIDE the join projection, so
    # qq ran once per (query, candidate) pair (|candidates| times per
    # query) and ee_ once per pair per query — ~3x the 64-element decimal
    # fold work.  Hoisting them before the broadcast join computes each
    # exactly once per vector; identical expressions over identical
    # values give identical decimals, so the hash is unchanged (verified
    # vs the old shape at sf0.001/0.01/0.1).  Join shape is unchanged
    # (broadcast of the 3-row query side, no shuffle of the big side).
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        fold_dot(F.col("embedding"), F.col("embedding")).alias("qq"),
    )
    e = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label"),
        F.col("embedding").alias("e_emb"),
        fold_dot(F.col("embedding"), F.col("embedding")).alias("ee_"),
    )

    pairs = (
        e.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            "label",
            fold_dot(F.col("q_emb"), F.col("e_emb")).alias("dot"),
            "qq",
            "ee_",
        )
    )
    cosine = F.col("dot") / (F.sqrt("qq") * F.sqrt("ee_"))
    scored = pairs.select("query_id", "cand_id", "label", cosine.alias("cosine"))
    wq = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 5)
        .orderBy("query_id", "rn")
    )


# --------------------------------------------------------------------------
# q47 — embedding column stats: per-label counts, norm stats via exact
# decimal folds — the profile step before clustering/IVF training.
# --------------------------------------------------------------------------
@query(
    "q47_embedding_stats",
    oracle=r"""
WITH norms AS (
  SELECT vec_id, label,
         CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) AS sq_norm
  FROM embeddings, UNNEST(embedding) AS t(x)
  GROUP BY vec_id, label
)
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(SUM(CAST(sq_norm AS DECIMAL(20,12))) AS DOUBLE) / COUNT(*) AS avg_sq_norm,
       SQRT(MAX(sq_norm)) AS max_norm,
       MIN(vec_id) AS first_vec
FROM norms
GROUP BY label
ORDER BY label
""",
)
def q47_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    sq_norm = F.aggregate(
        F.transform(
            "embedding",
            lambda x: (x.cast("double") * x.cast("double")).cast("decimal(20,12)"),
        ),
        F.lit(0).cast("decimal(20,12)"),
        lambda acc, x: (acc + x).cast("decimal(20,12)"),
    ).cast("double")
    norms = emb.select("vec_id", "label", sq_norm.alias("sq_norm"))
    return (
        norms.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            # sq_norm is an exact scale-12 decimal round-tripped through
            # double, so the cast back to decimal is lossless on both
            # engines; summing a fresh SQRT through decimal would not be
            # (double→decimal rounding differs across engines at ulp).
            (as_double(F.sum(dec("sq_norm", 20, 12))) / F.count(F.lit(1))).alias(
                "avg_sq_norm"
            ),
            F.sqrt(F.max("sq_norm")).alias("max_norm"),
            F.min("vec_id").alias("first_vec"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# q48 — MinHash + LSH near-dup candidates, oracle-checked: signatures are
# lexicographic mins of md5(seed:shingle) (portable to SQL), bands hash
# with md5 too.  The engine's fast path (xxhash64) is operators.dedup.
# --------------------------------------------------------------------------
_MINHASH_K = 8
_MINHASH_BANDS = 4


def _minhash_pair_ctes() -> str:
    """Shared WITH-clause body producing MinHash-LSH candidate ``pairs``
    (used by q48 directly and q102's recursive closure on top)."""
    sig_cols = ",\n         ".join(
        f"MIN(md5('{i}:' || sh)) AS h{i}" for i in range(_MINHASH_K)
    )
    r = _MINHASH_K // _MINHASH_BANDS
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, md5({' || '.join(f'h{b*r+j}' for j in range(r))}) AS bh FROM sig"
        for b in range(_MINHASH_BANDS)
    )
    return rf"""words AS (
  -- regexp split matches the operators' tokenization (trim + \s+); a
  -- literal-space split would certify a DIFFERENT function than the
  -- engine computes the moment fixtures carry tabs/newlines/double spaces
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents WHERE doc_id < 300
), shingles AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, UNNEST(generate_series(1, GREATEST(LEN(w) - 2, 0))) AS t(i)
), sig AS (
  SELECT doc_id,
         {sig_cols}
  FROM shingles GROUP BY doc_id
), bands AS (
  {band_selects}
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)"""


def _minhash_oracle() -> str:
    return f"""
WITH {_minhash_pair_ctes()}
SELECT id_a, id_b FROM pairs
ORDER BY id_a, id_b
"""


def _minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, bh) band keys over documents — md5 oracle-portable
    path, mirrors ``_minhash_pair_ctes``'s ``bands`` CTE.  Shared by the
    pair self-join (q48/q102/q105) and the star-edge construction
    (q117) — FOUR queries recompute the shingle explode + K md5
    signatures otherwise, so the banded relation is registry-cached per
    (session, sf_dir) like the q109 grams (one bounded slot, released
    by clear()/engine.close())."""
    from swiftlake_spark.artifacts import registry
    from swiftlake_spark.operators.dedup import (
        band_keys,
        minhash_signatures,
        shingles,
    )

    app = spark.sparkContext.applicationId
    cached = registry.get_persisted("minhash_banded", (app, sf_dir))
    if cached is not None:
        return cached

    # spread (guide §2.5): the 16-way md5 MinHash fold over every shingle
    # is the heaviest per-row stage in the dedup family
    d = spread(load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300))
    sh = shingles(d, "doc_id", "text", 3)
    sig = minhash_signatures(sh, _MINHASH_K, hash_fn="md5")
    out = band_keys(
        sig, _MINHASH_K, _MINHASH_BANDS, hash_fn="md5"
    ).withColumnRenamed("id", "doc_id")
    return registry.put_persisted(
        "minhash_banded", (app, sf_dir), out.persist(), app_id=app)


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs over documents (md5 oracle-portable
    path; mirrors ``_minhash_pair_ctes``)."""
    banded = _minhash_banded(spark, sf_dir)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


@query("q48_minhash_lsh", oracle=_minhash_oracle())
def q48_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs(spark, sf_dir).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# q102 — duplicate clusters: connected components over the LSH pair graph.
# The step that completes dedup at scale — pairs alone can't drive a
# keep/drop decision (a~b, b~c must collapse to ONE keeper for {a,b,c}).
# Spark side: min-label propagation, O(component diameter) rounds, one
# edge-join + min-agg shuffle per round, lineage checkpointed.  Oracle:
# DuckDB recursive CTE computing the same min-reachable-id fixpoint.
# --------------------------------------------------------------------------
@query(
    "q102_dup_clusters",
    oracle=f"""
WITH RECURSIVE {_minhash_pair_ctes()}, edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(id, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst
), comp AS (
  SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id
)
SELECT id AS doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
ORDER BY doc_id
""",
)
def q102_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.dedup import connected_components

    # _minhash_pairs is canonical (distinct, id_a < id_b) → the CC edge
    # symmetrization needs no dedup shuffle (r14, guide §2.4)
    comp = connected_components(
        _minhash_pairs(spark, sf_dir), "id_a", "id_b", distinct_pairs=True
    )
    return (
        comp.select(F.col("id").alias("doc_id"), "cluster_id")
        .withColumn(
            "cluster_size", F.count(F.lit(1)).over(W.partitionBy("cluster_id"))
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q117 — star-edge corpus dedup: the mega-cluster guard
# (operators/dedup.py lsh_candidate_pairs(star_edges=True), round-7 10×
# skew stress) certified end-to-end.  Each (band, bh) bucket emits only
# (bucket-min, member) edges — O(corpus) where the full pair list is
# Σ|bucket|² — and connected components close the stars into the SAME
# keeper partition the clique edges produce.  Oracle: identical star
# construction + recursive-CTE min-label closure in DuckDB.
# --------------------------------------------------------------------------
@query(
    "q117_star_dedup",
    oracle=f"""
WITH RECURSIVE {_minhash_pair_ctes()}, hubs AS (
  SELECT band, bh, MIN(doc_id) AS hub FROM bands GROUP BY band, bh
), star AS (
  SELECT DISTINCT h.hub AS id_a, b.doc_id AS id_b
  FROM bands b JOIN hubs h ON b.band = h.band AND b.bh = h.bh
  WHERE b.doc_id > h.hub
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM star
  UNION
  SELECT id_b, id_a FROM star
), reach(id, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst
), comp AS (
  SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id
)
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS is_keeper
FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
LEFT JOIN comp c ON c.id = d.doc_id
ORDER BY d.doc_id
""",
)
def q117_star_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.dedup import connected_components

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    banded = _minhash_banded(spark, sf_dir)
    hubs = banded.groupBy("band", "bh").agg(F.min("doc_id").alias("hub"))
    star = (
        banded.join(hubs, ["band", "bh"])
        .filter(F.col("doc_id") > F.col("hub"))
        .select(F.col("hub").alias("id_a"), F.col("doc_id").alias("id_b"))
        .distinct()
    )
    # star edges are canonical (distinct, hub < member) → no edge-dedup
    # shuffle in CC (r14, guide §2.4)
    comp = connected_components(
        star, "id_a", "id_b", distinct_pairs=True
    ).withColumnRenamed("id", "doc_id")
    return (
        d.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            (F.coalesce("cluster_id", "doc_id") == F.col("doc_id")).alias(
                "is_keeper"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q49 — SimHash near-dup pairs, VERDICT oracle (q25's pattern: the
# xxhash64 signature is engine-internal, so the hash-compared columns
# are deterministic CHECKS of the operator, not the signature itself).
# The query plants one exact duplicate per document (doc_id + 10000,
# same text); banded LSH has FULL recall at max_hamming via pigeonhole
# (n_bands = max_hamming + 1: any pair within distance agrees on ≥1
# band), so every planted pair — Hamming 0 — MUST come back.  Verdict:
# planted_found equals the SQL-derived document count, every reported
# pair respects the Hamming bound and the id_a < id_b canonical order.
# --------------------------------------------------------------------------
@query(
    "q49_simhash_neardup",
    oracle=r"""
SELECT CAST((SELECT COUNT(*) FROM documents WHERE doc_id < 500 AND text IS NOT NULL
              AND LEN(regexp_split_to_array(trim(text), '\s+')) >= 3) AS BIGINT) AS n_docs,
       CAST((SELECT COUNT(*) FROM documents WHERE doc_id < 500 AND text IS NOT NULL
              AND LEN(regexp_split_to_array(trim(text), '\s+')) >= 3) AS BIGINT) AS planted_found,
       true AS all_within_bound,
       true AS ordered_ok
""",
)
def q49_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.dedup import simhash_near_dups

    d = (
        load(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") < 500)
            & F.col("text").isNotNull()
            # docs under 3 tokens yield NO shingles → no signature → no
            # planted pair; both sides must exclude them from the count
            & (F.size(F.split(F.trim("text"), r"\s+")) >= 3)
        )
        .select("doc_id", "text")
    )
    planted = d.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    pairs = simhash_near_dups(
        d.unionByName(planted), "doc_id", "text", max_hamming=3
    )
    # the doc count folds into the ONE returned plan (crossJoin of a
    # 1-row aggregate) — an eager d.count() here would run a separate
    # full scan at plan-construction time on every invocation
    n_docs = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return pairs.agg(
        F.coalesce(
            F.sum(
                (
                    (F.col("id_b") == F.col("id_a") + 10_000)
                    & (F.col("id_a") < 500)
                ).cast("bigint")
            ),
            F.lit(0),
        ).alias("planted_found"),
        F.coalesce(F.bool_and(F.col("hamming") <= 3), F.lit(True)).alias(
            "all_within_bound"
        ),
        F.coalesce(F.bool_and(F.col("id_a") < F.col("id_b")), F.lit(True)).alias(
            "ordered_ok"
        ),
    ).crossJoin(F.broadcast(n_docs)).select(
        "n_docs", "planted_found", "all_within_bound", "ordered_ok"
    )


# --------------------------------------------------------------------------
# q50 — ANN via multi-table random-hyperplane LSH + exact re-rank,
# VERDICT oracle: bucket assignment is engine-internal, so the query
# runs the ANN path AND the exact brute-force path (cosine_topk — the
# q46-certified baseline) in one plan and hash-compares deterministic
# checks (bars tightened per VERDICT r10 ask #5):
#   - recall vs brute ≥ 0.7 (measured 0.87-0.93 at sf0.001/0.01 with
#     n_planes=4, n_tables=12; deterministic: fixed hyperplane seed,
#     fixed data — a broken parameterization, e.g. the r10 5-plane/
#     6-table setting at 0.47, now FAILS the gate);
#   - planted-exact-neighbor: each query vector is planted again under
#     vec_id+100000; an identical vector hashes to the same bucket in
#     EVERY table, so LSH must retrieve it with probability 1 —
#     parameter rot that silently empties buckets cannot pass;
#   - every query's top-1 is itself at cosine ≈ 1, shape exact.
# --------------------------------------------------------------------------
@query(
    "q50_ann_lsh_topk",
    oracle=r"""
SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 3) AS BIGINT) AS n_queries,
       CAST(5 * (SELECT COUNT(*) FROM embeddings WHERE vec_id < 3) AS BIGINT) AS brute_rows,
       true AS recall_ok,
       true AS self_hit_ok,
       true AS planted_ok
""",
)
def q50_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.similarity import ann_cosine_topk, cosine_topk

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    planted = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    ann = ann_cosine_topk(corpus, queries_df, dim=64, k=5, n_planes=4, n_tables=12)
    brute = cosine_topk(corpus, queries_df, k=5)
    hits = brute.select("query_id", "cand_id").join(
        ann.select("query_id", "cand_id"), ["query_id", "cand_id"], "left_semi"
    )
    self_top = ann.filter(F.col("rn") == 1)
    stats = (
        brute.agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("brute_rows"),
        )
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
        .crossJoin(
            self_top.agg(
                F.bool_and(
                    (F.col("cand_id") == F.col("query_id"))
                    & (F.abs(F.col("cosine") - 1.0) < 1e-9)
                ).alias("self_hit_ok")
            )
        )
        .crossJoin(
            ann.agg(
                F.sum(
                    (F.col("cand_id") == F.col("query_id") + 100_000).cast("bigint")
                ).alias("planted_hits")
            )
        )
    )
    return stats.select(
        F.col("n_queries").cast("bigint").alias("n_queries"),
        F.col("brute_rows").cast("bigint").alias("brute_rows"),
        (F.col("n_hits") * 10 >= F.col("brute_rows") * 7).alias("recall_ok"),
        "self_hit_ok",
        (F.col("planted_hits") == F.col("n_queries")).alias("planted_ok"),
    )


# --------------------------------------------------------------------------
# q58 — IVF index + probe search, VERDICT oracle (same pattern as q50):
# the k-means quantizer is engine-internal, so the query runs IVF AND
# the exact brute-force baseline in one plan and hash-compares checks
# (bars tightened per VERDICT r10 ask #5):
#   - recall vs brute ≥ 0.8 (measured 0.87-0.93 at sf0.001/0.01 with
#     n_probe=4 of 8 clusters; deterministic, fixed k-means seed — the
#     r10 n_probe=2 setting at 0.67 would now FAIL);
#   - planted-exact-neighbor: each query vector planted again under
#     vec_id+100000; the identical vector lands in the SAME inverted
#     list, and the query's own cluster is always the first probed, so
#     IVF must retrieve it with probability 1;
#   - each query's top-1 is itself at cosine 1.0, shape exact.
# --------------------------------------------------------------------------
@query(
    "q58_ivf_topk",
    oracle=r"""
SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 3) AS BIGINT) AS n_queries,
       CAST(5 * (SELECT COUNT(*) FROM embeddings WHERE vec_id < 3) AS BIGINT) AS brute_rows,
       true AS recall_ok,
       true AS self_hit_ok,
       true AS planted_ok
""",
)
def q58_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.similarity import cosine_topk, ivf_index, ivf_topk

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    indexed, centroids = ivf_index(corpus, n_clusters=8, seed=42)
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    ivf = ivf_topk(indexed, centroids, queries_df, k=5, n_probe=4)
    brute = cosine_topk(corpus, queries_df, k=5)
    hits = brute.select("query_id", "cand_id").join(
        ivf.select("query_id", "cand_id"), ["query_id", "cand_id"], "left_semi"
    )
    self_top = ivf.filter(F.col("rn") == 1)
    stats = (
        brute.agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("brute_rows"),
        )
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
        .crossJoin(
            self_top.agg(
                F.bool_and(
                    (F.col("cand_id") == F.col("query_id"))
                    & (F.abs(F.col("cosine") - 1.0) < 1e-9)
                ).alias("self_hit_ok")
            )
        )
        .crossJoin(
            ivf.agg(
                F.sum(
                    (F.col("cand_id") == F.col("query_id") + 100_000).cast("bigint")
                ).alias("planted_hits")
            )
        )
    )
    return stats.select(
        F.col("n_queries").cast("bigint").alias("n_queries"),
        F.col("brute_rows").cast("bigint").alias("brute_rows"),
        (F.col("n_hits") * 10 >= F.col("brute_rows") * 8).alias("recall_ok"),
        "self_hit_ok",
        (F.col("planted_hits") == F.col("n_queries")).alias("planted_ok"),
    )


# --------------------------------------------------------------------------
# q51 — text quality scoring (operators.text.text_quality), oracle-checked:
# the score is pure integer-ratio double arithmetic, identical in both
# engines when the expression shape matches.
# --------------------------------------------------------------------------
@query(
    "q51_text_quality",
    oracle=r"""
WITH q AS (
  SELECT doc_id,
         LEN(regexp_split_to_array(text, '\s+')) AS n_tokens,
         LENGTH(text) AS n_chars_m,
         LEN(list_distinct(regexp_split_to_array(text, '\s+'))) AS n_distinct,
         LENGTH(regexp_replace(text, '[^\.,;:!?]', '', 'g')) AS n_punct,
         LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit
  FROM documents WHERE doc_id < 200
)
SELECT doc_id, n_tokens,
       CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_token_ratio,
       LEAST(n_tokens / 64.0, 1.0) * 0.4
         + (CAST(n_distinct AS DOUBLE) / n_tokens) * 0.4
         + (1 - CAST(n_punct AS DOUBLE) / n_chars_m) * 0.1
         + (1 - CAST(n_digit AS DOUBLE) / n_chars_m) * 0.1 AS quality_score
FROM q
ORDER BY doc_id
""",
)
def q51_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.text import text_quality

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    scored = text_quality(d)
    return scored.select(
        "doc_id",
        "n_tokens",
        F.col("distinct_token_ratio").cast("double").alias("distinct_token_ratio"),
        "quality_score",
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q53 — multimodal image pipeline, VERDICT oracle: REAL binary PPM
# payloads are synthesized from text bytes with pure Column ops (header
# concat + byte-substring — all JVM-side), then decoded by the stdlib
# netpbm codec and feature-extracted in one Arrow-batched mapInPandas.
# The verdict cross-checks the CODEC path against an INDEPENDENT
# recompute: expected mean-R is taken straight from the raw text bytes
# (numpy slice, no PPM parsing) and must match the decoded feature for
# every row; dimensions/byte counts are checked exactly; the row count
# is SQL-derived.
# --------------------------------------------------------------------------
@query(
    "q53_multimodal_features",
    oracle=r"""
SELECT CAST((SELECT COUNT(*) FROM documents WHERE doc_id < 100 AND LENGTH(text) > 0) AS BIGINT) AS n_docs,
       true AS width_ok,
       true AS nbytes_ok,
       true AS featdim_ok,
       true AS mean_r_ok
""",
)
def q53_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql import types as T

    from swiftlake_spark.operators.multimodal import attach_media_meta, decode_image

    # 8x8 RGB PPM: 15-byte header + 192 raster bytes taken from the
    # document's UTF-8 bytes — repeated 192× so even a 1-character text
    # fills the full raster (a short buffer would crash the decoder,
    # which trusts the header's 192-byte promise)
    raster = F.substring(
        F.encode(F.repeat(F.substring(F.col("text"), 1, 192), 192), "utf-8"), 1, 192
    )
    base = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 100) & (F.length("text") > 0))
        .select(
            "doc_id",
            "text",
            F.concat(F.encode(F.lit("P6\n8 8\n255\n"), "utf-8"), raster).alias("data"),
        )
    )

    # independent expectation: mean of the R-channel bytes computed from
    # the text directly (same repeat/slice semantics as the Column ops
    # above), WITHOUT touching the PPM codec under test
    exp_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
            T.StructField("expected_mean_r", T.DoubleType()),
        ]
    )

    def expect(batches):
        import numpy as np

        for pdf in batches:
            exp = []
            for txt in pdf["text"]:
                raw = (txt[:192] * 192).encode("utf-8")[:192]
                arr = np.frombuffer(raw, dtype=np.uint8)
                exp.append(float(arr[0::3].astype(np.float64).mean()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "data": pdf["data"],
                    "expected_mean_r": exp,
                }
            )

    d = attach_media_meta(base.mapInPandas(expect, exp_schema), "data",
                          "image/x-portable-pixmap")
    feats = decode_image(d, "data")  # REAL decode, no fake
    ok = lambda c: F.coalesce(F.bool_and(c), F.lit(True))  # noqa: E731
    return feats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        ok(F.element_at("features", 1) == 8.0).alias("width_ok"),
        ok(F.col("meta.n_bytes") == 203).alias("nbytes_ok"),  # 11B header + 192B raster
        ok(F.size("features") == 16).alias("featdim_ok"),
        ok(
            F.abs(F.element_at("features", 4) - F.col("expected_mean_r")) < 0.01
        ).alias("mean_r_ok"),
    )


# --------------------------------------------------------------------------
# q118 — PNG image pipeline, VERDICT oracle (q53's pattern for the
# round-7 stdlib PNG codec, operators/multimodal.py decode_png): REAL
# zlib-compressed PNG payloads are synthesized executor-side from text
# bytes (PNG needs zlib, so synthesis is Arrow-batched Python — unlike
# q53's pure-Column PPM), decoded by the stdlib codec, feature-extracted
# in mapInPandas.  Verdict: decoded dimensions, feature dim, and mean-R
# against an independent numpy recompute that never touches the codec.
# --------------------------------------------------------------------------
@query(
    "q118_png_features",
    oracle=r"""
SELECT CAST((SELECT COUNT(*) FROM documents WHERE doc_id < 100 AND LENGTH(text) > 0) AS BIGINT) AS n_docs,
       true AS width_ok,
       true AS height_ok,
       true AS featdim_ok,
       true AS mean_r_ok
""",
)
def q118_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql import types as T

    from swiftlake_spark.operators.multimodal import attach_media_meta, decode_image

    base = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 100) & (F.length("text") > 0))
        .select("doc_id", "text")
    )

    exp_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
            T.StructField("expected_mean_r", T.DoubleType()),
        ]
    )

    def synth(batches):
        import numpy as np

        from swiftlake_spark.operators.multimodal import encode_png

        H, W_, C = 6, 7, 3
        n = H * W_ * C
        for pdf in batches:
            data, exp = [], []
            for txt in pdf["text"]:
                raw = (txt[:n] * n).encode("utf-8")[:n]
                arr = np.frombuffer(raw, dtype=np.uint8).reshape(H, W_, C)
                data.append(encode_png(arr))
                # independent expectation straight from the bytes — no
                # PNG parsing involved
                exp.append(float(arr[:, :, 0].astype(np.float64).mean()))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "data": data, "expected_mean_r": exp}
            )

    d = attach_media_meta(base.mapInPandas(synth, exp_schema), "data", "image/png")
    feats = decode_image(d, "data")  # REAL stdlib zlib+unfilter decode
    ok = lambda c: F.coalesce(F.bool_and(c), F.lit(True))  # noqa: E731
    return feats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        ok(F.element_at("features", 1) == 7.0).alias("width_ok"),
        ok(F.element_at("features", 2) == 6.0).alias("height_ok"),
        ok(F.size("features") == 16).alias("featdim_ok"),
        ok(
            F.abs(F.element_at("features", 4) - F.col("expected_mean_r")) < 0.01
        ).alias("mean_r_ok"),
    )


# --------------------------------------------------------------------------
# q120 — REAL stdlib baseline-JPEG decode in the pipeline (r9; VERDICT r8
# ask #5): text-derived smooth gradients encode through operators/jpeg.py
# (both 4:4:4 and 4:2:0, some with restart intervals), the featurizer
# decodes them back (huffman + dequant + IDCT + YCbCr, no PIL), and the
# checks compare against expectations computed straight from the source
# pixels that never touch the codec.  Tolerances are JPEG quantization
# bounds measured in tests/test_jpeg.py, not fudge.
#
# Widened r12 (VERDICT r11 ask #2): before decoding, each JPEG now rides
# a container rotating by doc_id % 3 — embedded verbatim in a PDF image
# XObject (DCTDecode passthrough) and recovered with
# operators/pdftext.extract_pdf_images, packed into a WebDataset tar
# shard and recovered with operators/archives.webdataset_samples, or
# fed directly — so the scanned-document and shard ingestion paths are
# driver-certified end-to-end: the same pixel checks must hold no
# matter which container carried the stream.  The synthesized batch is
# persisted so the three disjoint branch filters don't recompute the
# Python encode stage.
# --------------------------------------------------------------------------
@query(
    "q120_jpeg_features",
    oracle=r"""
SELECT CAST((SELECT COUNT(*) FROM documents WHERE doc_id < 100 AND LENGTH(text) > 0) AS BIGINT) AS n_docs,
       true AS width_ok,
       true AS height_ok,
       true AS featdim_ok,
       true AS mean_r_ok
""",
)
def q120_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql import types as T

    from swiftlake_spark.operators.multimodal import attach_media_meta, decode_image

    base = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 100) & (F.length("text") > 0))
        .select("doc_id", "text")
    )

    exp_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
            T.StructField("expected_mean_r", T.DoubleType()),
        ]
    )

    def synth(batches):
        import numpy as np

        from swiftlake_spark.operators.archives import encode_webdataset
        from swiftlake_spark.operators.jpeg import encode_jpeg
        from swiftlake_spark.operators.pdftext import encode_pdf_with_images

        H, W_ = 16, 32
        yy, xx = np.mgrid[0:H, 0:W_]
        for pdf in batches:
            data, exp = [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                b = (txt * 3).encode("utf-8")[:3]
                # smooth per-doc gradient: JPEG-representable, so the
                # decode must land within quantization tolerance
                arr = np.stack([
                    np.clip(40 + b[0] % 100 + yy * (b[1] % 3)
                            + xx * (b[2] % 2) + c * 20, 0, 255)
                    for c in range(3)
                ], axis=-1).astype(np.uint8)
                jpg = encode_jpeg(
                    arr, quality=95,
                    subsampling="4:2:0" if did % 2 else "4:4:4",
                    restart_interval=4 if did % 3 == 0 else 0,
                )
                if did % 3 == 0:  # scanned-document shape: PDF XObject
                    jpg = encode_pdf_with_images(
                        [{"dct": jpg, "width": W_, "height": H}])
                elif did % 3 == 1:  # training-shard shape: WebDataset
                    jpg = encode_webdataset(
                        [{"__key__": f"doc{did:06d}", "jpg": jpg}])
                data.append(jpg)
                exp.append(float(arr[:, :, 0].astype(np.float64).mean()))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "data": data, "expected_mean_r": exp}
            )

    from swiftlake_spark.operators.archives import webdataset_samples
    from swiftlake_spark.operators.pdftext import extract_pdf_images

    wrapped = base.mapInPandas(synth, exp_schema).persist()
    kind = F.pmod(F.col("doc_id"), F.lit(3))
    pdf_branch = extract_pdf_images(
        wrapped.filter(kind == 0), "data"
    ).select("doc_id", "expected_mean_r", F.col("png").alias("data"))
    wds_branch = webdataset_samples(
        wrapped.filter(kind == 1), "data"
    ).select(
        "doc_id",
        "expected_mean_r",
        F.element_at("fields", F.lit("jpg")).alias("data"),
    )
    direct = wrapped.filter(kind == 2).select(
        "doc_id", "expected_mean_r", "data"
    )
    d = attach_media_meta(
        pdf_branch.unionByName(wds_branch).unionByName(direct),
        "data",
        "image/mixed",
    )
    feats = decode_image(d, "data")  # REAL huffman+IDCT decode, no PIL
    ok = lambda c: F.coalesce(F.bool_and(c), F.lit(True))  # noqa: E731
    return feats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        ok(F.element_at("features", 1) == 32.0).alias("width_ok"),
        ok(F.element_at("features", 2) == 16.0).alias("height_ok"),
        ok(F.size("features") == 16).alias("featdim_ok"),
        ok(
            F.abs(F.element_at("features", 4) - F.col("expected_mean_r")) < 1.5
        ).alias("mean_r_ok"),
    )


# --------------------------------------------------------------------------
# q54 — BPE-ish regex token counting (operators.text.token_count mode
# 'bpe'): letter runs, digit runs, single punctuation.
# --------------------------------------------------------------------------
@query(
    "q54_bpe_tokens",
    oracle=r"""
SELECT doc_id,
       LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe,
       LEN(string_split(text, ' ')) AS n_ws
FROM documents
WHERE doc_id < 100
ORDER BY doc_id
""",
)
def q54_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.text import token_count

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        token_count(F.col("text"), "bpe").alias("n_bpe"),
        token_count(F.col("text"), "whitespace").alias("n_ws"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q55 — embedding near-duplicate pairs via multi-table LSH, VERDICT
# oracle: buckets depend on the engine's hyperplane seed, so the
# hash-compared columns are checks.  The corpus has no true near-dups;
# the query plants exact duplicates of vec_id < 10 (id + 1_000_000):
# identical vectors share every table's bucket, so ALL planted pairs
# MUST come back at cosine 1 — planted_found is SQL-derived; every
# reported pair is further checked against the threshold and the
# canonical id order.
# --------------------------------------------------------------------------
@query(
    "q55_embedding_neardup",
    oracle=r"""
SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 10) AS BIGINT) AS planted_found,
       true AS all_above_threshold,
       true AS ordered_ok
""",
)
def q55_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.similarity import embedding_near_dups

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    pairs = embedding_near_dups(
        corpus, dim=64, threshold=0.95, n_planes=16, n_tables=4
    )
    return pairs.agg(
        F.coalesce(
            F.sum(
                (
                    (F.col("id_b") == F.col("id_a") + 1_000_000)
                    & (F.col("id_a") < 10)
                ).cast("bigint")
            ),
            F.lit(0),
        ).alias("planted_found"),
        F.coalesce(F.bool_and(F.col("cosine") >= 0.95), F.lit(True)).alias(
            "all_above_threshold"
        ),
        F.coalesce(F.bool_and(F.col("id_a") < F.col("id_b")), F.lit(True)).alias(
            "ordered_ok"
        ),
    )


# --------------------------------------------------------------------------
# q56 — deterministic train/val/test split (operators.sampling.hash_split,
# md5-portable variant): every key lands in exactly one split, stable
# across runs/engines — the property that keeps eval sets uncontaminated.
# --------------------------------------------------------------------------
@query(
    "q56_hash_split",
    oracle=r"""
WITH b AS (
  SELECT doc_id, lang,
         CAST(CONCAT('0x', substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 1000000 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 100000 THEN 'test'
            WHEN bucket < 900000 THEN 'train'
            ELSE 'val' END AS split,
       lang, COUNT(*) AS n
FROM b
GROUP BY 1, 2
ORDER BY split, lang
""",
)
def q56_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.sampling import hash_split

    d = load(spark, sf_dir, "documents")
    out = hash_split(
        d, "doc_id", {"test": 0.1, "val": 0.1, "train": 0.8}, hash_fn="md5"
    )
    return (
        out.groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("split", "lang")
    )


# --------------------------------------------------------------------------
# q57 — exact quantiles (interpolated): Spark percentile ≡ DuckDB
# quantile_cont for the standard (n-1)p definition.
# --------------------------------------------------------------------------
@query(
    "q57_quantiles",
    oracle=r"""
SELECT lang,
       quantile_cont(n_chars, 0.5)  AS med_chars,
       quantile_cont(n_chars, 0.9)  AS p90_chars,
       quantile_cont(n_chars, 0.99) AS p99_chars,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM documents
GROUP BY lang
ORDER BY lang
""",
)
def q57_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.expr("percentile(n_chars, 0.5)").alias("med_chars"),
            F.expr("percentile(n_chars, 0.9)").alias("p90_chars"),
            F.expr("percentile(n_chars, 0.99)").alias("p99_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# q103 — PII redaction: per-category match counts + redacted text.
# PII is synthesized deterministically onto the fixture docs (emails,
# phones, SSNs, IPs keyed off doc_id) so the operator has real spans to
# hit; patterns are Java-regex/RE2-portable so DuckDB verifies both the
# counts and the md5 of the redacted text.  Map-only — no shuffle.
# --------------------------------------------------------------------------
@query(
    "q103_pii_redaction",
    oracle=r"""
WITH aug AS (
  SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      || CASE WHEN doc_id % 2 = 0
              THEN ' ph 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END
      || CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-6789' ELSE '' END
      || CASE WHEN doc_id % 5 = 0
              THEN ' ip 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
              ELSE '' END AS t
  FROM documents WHERE doc_id < 200
), r1 AS (
  SELECT doc_id, len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
  FROM aug
), r2 AS (
  SELECT doc_id, n_email, len(regexp_extract_all(t, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS n_phone,
         regexp_replace(t, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS t
  FROM r1
), r3 AS (
  SELECT doc_id, n_email, n_phone, len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
         regexp_replace(t, '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g') AS t
  FROM r2
), r4 AS (
  SELECT doc_id, n_email, n_phone, n_ssn,
         len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
         regexp_replace(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g') AS t
  FROM r3
)
SELECT doc_id, n_email, n_phone, n_ssn, n_ipv4, md5(t) AS red_md5
FROM r4 ORDER BY doc_id
""",
)
def q103_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.text import redact_pii

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" ph 415-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" ssn 123-45-6789")).otherwise(
                F.lit("")
            ),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" ip 10.0.0."), (F.col("doc_id") % 256).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = redact_pii(aug, "text", "redacted")
    return out.select(
        "doc_id",
        F.col("n_email").cast("bigint").alias("n_email"),
        F.col("n_phone").cast("bigint").alias("n_phone"),
        F.col("n_ssn").cast("bigint").alias("n_ssn"),
        F.col("n_ipv4").cast("bigint").alias("n_ipv4"),
        F.md5("redacted").alias("red_md5"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q104 — boilerplate n-gram detection: bigrams whose document frequency
# exceeds a RELATIVE threshold (4% of the corpus) are boilerplate
# candidates (nav bars, license headers, templated footers in real
# corpora).  Relative threshold keeps the query meaningful at every
# scale factor.  One explode + one shuffle on the n-gram — the df-count
# is a partial-agg-friendly groupBy, never a self-join.
# --------------------------------------------------------------------------
@query(
    "q104_boilerplate_ngrams",
    oracle=r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
), shingles AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS sh
  FROM words, UNNEST(generate_series(1, GREATEST(LEN(w) - 1, 0))) AS t(i)
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), dfreq AS (
  SELECT sh, COUNT(*) AS doc_freq FROM shingles GROUP BY sh
)
SELECT sh AS ngram, doc_freq
FROM dfreq
-- integer arithmetic (100*freq >= 4*n) so the 4% boundary is exact on
-- both engines even at scale factors where it lands on an integer
WHERE 100 * doc_freq >= 4 * (SELECT n_docs FROM n)
ORDER BY ngram
""",
)
def q104_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.dedup import shingles

    d = load(spark, sf_dir, "documents")
    sh = shingles(d, "doc_id", "text", 2)
    n_docs = d.select(F.count(F.lit(1)).alias("n_docs"))
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("doc_freq"))
    return (
        dfreq.crossJoin(F.broadcast(n_docs))
        .filter(F.col("doc_freq") * 100 >= F.col("n_docs") * 4)
        .select(F.col("sh").alias("ngram"), "doc_freq")
        .orderBy("ngram")
    )


# --------------------------------------------------------------------------
# q59 — vocabulary building: corpus-wide token frequencies, top-k with a
# deterministic tie-break (freq DESC, token ASC).  The seed step of BPE/
# WordPiece vocab induction.  Explode + one partial-agg-friendly shuffle
# on token; top-k is TakeOrderedAndProject (no global sort materialized).
# --------------------------------------------------------------------------
@query(
    "q59_vocab_topk",
    oracle=r"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
)
SELECT tok, COUNT(*) AS freq
FROM toks
GROUP BY tok
ORDER BY freq DESC, tok
LIMIT 50
""",
)
def q59_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("tok"))
        .limit(50)
    )


# --------------------------------------------------------------------------
# q105 — end-to-end corpus dedup: MinHash-LSH pairs → transitive closure →
# keep the min-id representative per duplicate cluster, all unpaired docs
# survive.  The complete keep/drop pipeline a training-data build runs.
# Oracle = the q102 recursive closure + an anti-join on the drop list.
# --------------------------------------------------------------------------
@query(
    "q105_dedup_corpus",
    oracle=f"""
WITH RECURSIVE {_minhash_pair_ctes()}, edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(id, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst
), drops AS (
  SELECT id FROM (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id)
  WHERE id != cluster_id
)
SELECT d.doc_id, d.source, md5(d.text) AS content_md5
FROM documents d
WHERE d.doc_id < 300 AND d.doc_id NOT IN (SELECT id FROM drops)
ORDER BY d.doc_id
""",
)
def q105_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.dedup import dedup_corpus_by_pairs

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    kept = dedup_corpus_by_pairs(
        d, _minhash_pairs(spark, sf_dir), "doc_id", distinct_pairs=True
    )
    return kept.select(
        "doc_id", "source", F.md5("text").alias("content_md5")
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q108 — audio feature extraction, VERDICT oracle: REAL PCM WAV payloads
# are synthesized per document (text bytes → int16 samples → stdlib
# `wave` encoder), then decoded back by the stdlib codec and
# feature-extracted (true duration / RMS / ZCR / FFT bands).  The
# verdict cross-checks the WAV container roundtrip: expected duration /
# RMS / ZCR are computed at SYNTHESIS time from the quantized samples
# (numpy only, no `wave` parsing) and must match what the decode path
# recovers from the bytes, row by row; the row count is SQL-derived.
# --------------------------------------------------------------------------
@query(
    "q108_audio_features",
    oracle=r"""
SELECT CAST((SELECT COUNT(*) FROM documents WHERE doc_id < 100 AND LENGTH(text) > 0) AS BIGINT) AS n_docs,
       true AS duration_ok,
       true AS rms_ok,
       true AS zcr_ok,
       true AS meldim_ok
""",
)
def q108_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from swiftlake_spark.operators.multimodal import (
        attach_media_meta,
        decode_audio,
        encode_wav,
        ulaw_decode,
        ulaw_encode,
    )

    d = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 100) & (F.length("text") > 0))
        .select("doc_id", "text")
    )

    synth_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
            T.StructField("exp_duration_ms", T.LongType()),
            T.StructField("exp_rms", T.DoubleType()),
            T.StructField("exp_zcr", T.DoubleType()),
        ]
    )

    def synth(batches):
        import struct

        for pdf in batches:
            data, durs, rmss, zcrs = [], [], [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                raw = np.frombuffer(txt.encode("utf-8"), dtype=np.uint8)
                samples = (raw.astype(np.float32) - 128.0) / 128.0
                kind = int(did) % 4
                if kind == 3:
                    # r11: every fourth doc ships as FLAC (native
                    # lossless decode) — int16 quantization matches the
                    # PCM expectation exactly, same as the WAV branch
                    from swiftlake_spark.operators.flac import (
                        encode_flac,
                    )

                    q = (np.clip(samples, -1.0, 1.0) * 32767.0).astype(
                        np.int16)
                    if len(q) == 0:
                        q = np.zeros(1, np.int16)
                    data.append(encode_flac(
                        q.astype(np.int64), rate=8_000, block_size=64))
                    qf = q.astype(np.float32) / 32768.0
                    durs.append(int(len(qf) * 1000 / 8_000))
                    rmss.append(float(np.sqrt(np.mean(qf**2)))
                                if len(qf) else 0.0)
                    zcrs.append(float((np.diff(np.sign(qf)) != 0).mean())
                                if len(qf) > 1 else 0.0)
                    continue
                if kind == 1:
                    # r11: every third doc ships as G.711 mu-law WAV
                    # (format 7) so the manual RIFF parse + G.711
                    # expansion is driver-certified; the expectation is
                    # EXACT — both sides decode the same mu-law bytes
                    mu = ulaw_encode(
                        np.round(np.clip(samples, -1.0, 1.0) * 32767.0)
                        .astype(np.int32))
                    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
                    body = mu.tobytes()
                    data.append(
                        b"RIFF" + struct.pack("<I", 28 + len(body))
                        + b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
                        + b"data" + struct.pack("<I", len(body)) + body)
                    qf = ulaw_decode(mu).astype(np.float32) / 32768.0
                    durs.append(int(len(qf) * 1000 / 8_000))
                    rmss.append(float(np.sqrt(np.mean(qf**2)))
                                if len(qf) else 0.0)
                    zcrs.append(float((np.diff(np.sign(qf)) != 0).mean())
                                if len(qf) > 1 else 0.0)
                    continue
                if kind == 2:
                    # r11: and as AIFF (big-endian int16, 80-bit
                    # extended sample rate) — certifies the IFF parse;
                    # int16 quantization matches the PCM expectation
                    q = (np.clip(samples, -1.0, 1.0) * 32767.0).astype(
                        np.int16)
                    ssnd = struct.pack(">II", 0, 0) + q.astype(">i2").tobytes()
                    # 8000 = 0.9765625 * 2^13 → exponent 16395,
                    # mantissa with explicit integer bit
                    f80 = struct.pack(">HQ", 16383 + 12,
                                      0xFA00000000000000)
                    comm = struct.pack(">hIh", 1, len(q), 16) + f80
                    data.append(
                        b"FORM"
                        + struct.pack(">I", 4 + 16 + len(comm) + len(ssnd))
                        + b"AIFF" + b"COMM"
                        + struct.pack(">I", len(comm)) + comm
                        + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd)
                    qf = q.astype(np.float32) / 32768.0
                    durs.append(int(len(qf) * 1000 / 8_000))
                    rmss.append(float(np.sqrt(np.mean(qf**2)))
                                if len(qf) else 0.0)
                    zcrs.append(float((np.diff(np.sign(qf)) != 0).mean())
                                if len(qf) > 1 else 0.0)
                    continue
                data.append(encode_wav(samples, rate=8_000))
                # independent expectation from the QUANTIZED samples —
                # replicates the int16 clip/scale the encoder applies but
                # never parses the WAV container under test
                q = (np.clip(samples, -1.0, 1.0) * 32767.0).astype(np.int16)
                qf = q.astype(np.float32) / 32768.0
                durs.append(int(len(qf) * 1000 / 8_000))
                rmss.append(float(np.sqrt(np.mean(qf**2))) if len(qf) else 0.0)
                zcrs.append(
                    float((np.diff(np.sign(qf)) != 0).mean()) if len(qf) > 1 else 0.0
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "data": data,
                    "exp_duration_ms": durs,
                    "exp_rms": rmss,
                    "exp_zcr": zcrs,
                }
            )

    wavs = d.mapInPandas(synth, synth_schema)
    wavs = attach_media_meta(wavs, "data", "audio/wav")
    feats = decode_audio(wavs, "data")  # REAL stdlib WAV decode
    ok = lambda c: F.coalesce(F.bool_and(c), F.lit(True))  # noqa: E731
    return feats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        ok(
            F.col("audio_features.duration_ms") == F.col("exp_duration_ms")
        ).alias("duration_ok"),
        ok(
            F.abs(F.col("audio_features.rms") - F.col("exp_rms")) < 1e-4
        ).alias("rms_ok"),
        ok(
            F.abs(F.col("audio_features.zcr") - F.col("exp_zcr")) < 1e-4
        ).alias("zcr_ok"),
        ok(F.size("audio_features.mel") == 16).alias("meldim_ok"),
    )




# --------------------------------------------------------------------------
# q109 — LM-style surprisal scoring (CCNet-pattern quality filter): pass 1
# builds a corpus bigram model (counts + total), pass 2 scores each doc by
# the mean inverse probability of its bigram occurrences — rare-bigram
# docs score high.  Exactness: surprisal = total/count is an integer-
# derived DOUBLE division (IEEE-deterministic cross-engine), rounded
# through DECIMAL(28,10) before the per-doc sum, so no libm log calls
# that could differ in the last ulp.  Shuffles: one on bigram (model),
# one on bigram (score join), one on doc (mean) — all partial-agg
# friendly; the model join is a plain equi-join that scales with corpus
# bigram cardinality, never O(n²).
#
# Materialization (measured at sf0.1/local[32], PERF.md): `grams` is
# persisted and the corpus total is derived from the count model
# (total = SUM of per-bigram counts — no third pass over grams), so the
# corpus is scanned/exploded ONCE: 4.8 s unpersisted-3-consumer →
# 2.8-3.3 s.  The persist level DEFAULTS to DISK_ONLY — measured at
# parity locally (PERF.md round-5/6 rows) and the only safe level at
# 100 TB, where the exploded grams (~3× corpus text) would evict the
# executor cache or OOM under MEMORY_AND_DISK's deserialized-heap
# attempt.  Override with SWIFTLAKE_GRAMS_STORAGE for RAM-rich local
# runs.
# --------------------------------------------------------------------------
@query(
    "q109_bigram_surprisal",
    oracle=r"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
  FROM words, UNNEST(generate_series(1, GREATEST(LEN(w) - 1, 0))) AS t(i)
), cnt AS (
  SELECT bg, COUNT(*) AS c FROM grams GROUP BY bg
), tot AS (
  SELECT COUNT(*) AS n FROM grams
), scored AS (
  SELECT g.doc_id,
         COUNT(*) AS n_bigrams,
         SUM(CAST(CAST(tot.n AS DOUBLE) / cnt.c AS DECIMAL(28,10))) AS s
  FROM grams g JOIN cnt ON g.bg = cnt.bg CROSS JOIN tot
  GROUP BY g.doc_id
)
SELECT doc_id, n_bigrams, CAST(s AS DOUBLE) / n_bigrams AS avg_surprisal
FROM scored
ORDER BY avg_surprisal DESC, doc_id
LIMIT 25
""",
)
def q109_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one persisted grams relation per (session, sf_dir) via the bounded
    # artifact registry: repeated invocations reuse the slot instead of
    # stacking a new persisted copy each call (which would leak until
    # executor OOM); clear()/engine.close() releases it
    from swiftlake_spark.artifacts import registry, storage_level_from_env

    app = spark.sparkContext.applicationId
    grams = registry.get_persisted("q109_grams", (app, sf_dir))
    if grams is None:
        level = storage_level_from_env("SWIFTLAKE_GRAMS_STORAGE")
        d = load(spark, sf_dir, "documents")
        # let-bound split (evaluates once per doc) + short-doc guard: the
        # oracle's generate_series(1, LEN-1) is EMPTY for 1-word docs,
        # while greatest(-1) minted two bogus partial grams per short doc
        arr = F.aggregate(
            F.array(F.split("text", " ")),
            F.array().cast("array<string>"),
            lambda _acc, w: F.when(
                F.size(w) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(w) - 2),
                    lambda i: F.concat_ws(" ", F.get(w, i), F.get(w, i + 1)),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
        grams = registry.put_persisted(
            "q109_grams",
            (app, sf_dir),
            d.select("doc_id", F.explode(arr).alias("bg")).persist(level),
            app_id=app,
        )
    cnt = grams.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    # corpus total = sum of the model's counts: a tiny agg over cnt, not
    # a third pass over the exploded corpus
    tot = cnt.agg(F.sum("c").alias("n"))
    surprisal = (F.col("n").cast("double") / F.col("c")).cast("decimal(28,10)")
    scored = (
        grams.join(cnt, "bg")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum(surprisal).alias("s"))
    )
    return (
        scored.select(
            "doc_id",
            "n_bigrams",
            (F.col("s").cast("double") / F.col("n_bigrams")).alias("avg_surprisal"),
        )
        .orderBy(F.col("avg_surprisal").desc(), "doc_id")
        .limit(25)
    )


# --------------------------------------------------------------------------
# q110 — sequence-length histogram (packing diagnostics): token-count
# buckets of width 10.  Map-only bucket assignment + one shuffle.
# (Briefly consolidated into q141/q148 mid-r14; restored — the driver
# contract forbids removing a declared query once certified.)
# --------------------------------------------------------------------------
@query(
    "q110_length_histogram",
    oracle=r"""
SELECT CAST(FLOOR(LEN(string_split(text, ' ')) / 10) AS BIGINT) * 10 AS bucket_lo,
       COUNT(*) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY bucket_lo
ORDER BY bucket_lo
""",
)
def q110_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bucket = (F.floor(F.size(F.split("text", " ")) / 10).cast("bigint") * 10).alias(
        "bucket_lo"
    )
    return (
        d.groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .orderBy("bucket_lo")
    )


# --------------------------------------------------------------------------
# q114 — video pipeline, VERDICT oracle with a DATA-DERIVED invariant:
# REAL concatenated-PPM clips are synthesized per document (text bytes →
# 8x8 RGB frames, one frame per 192-byte chunk), then frame-sampled by
# time (every_ms=120 @ 25 fps → every 3rd frame) and feature-extracted
# per frame.  The sampled-frame count per doc is a pure function of the
# text's UTF-8 byte length — ceil(max(1, min(len//192, 40)) / 3) — so
# DuckDB computes the corpus total INDEPENDENTLY from the raw data and
# the hash compare certifies the whole decode→sample path end-to-end;
# frame-0 mean-R is additionally cross-checked against a codec-free
# recompute from the raw bytes.
# --------------------------------------------------------------------------
@query(
    "q114_video_frames",
    oracle=r"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM((GREATEST(LEAST(octet_length(encode(text)) // 192, 40), 1) + 2) // 3) AS BIGINT)
         AS total_sampled,
       true AS f0_mean_ok
FROM documents WHERE doc_id < 100 AND LENGTH(text) > 0
""",
)
def q114_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from swiftlake_spark.operators.multimodal import (
        encode_avi_mjpeg,
        encode_ppm_stream,
        encode_y4m,
        sample_frames,
    )

    d = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 100) & (F.length("text") > 0))
        .select("doc_id", "text")
    )
    synth_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
            T.StructField("exp_f0_mean_r", T.DoubleType()),
        ]
    )

    def synth(batches):
        for pdf in batches:
            data, exp = [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                raw = np.frombuffer(txt.encode("utf-8"), dtype=np.uint8)
                n_frames = max(1, min(len(raw) // 192, 40))
                reps = int(np.ceil(n_frames * 192 / max(len(raw), 1)))
                raw = np.tile(raw, reps)[: n_frames * 192]
                frames = [raw[i * 192: (i + 1) * 192].reshape(8, 8, 3)
                          for i in range(n_frames)]
                # r11: the rotation now covers all three container
                # families at container fps 25 (same every-3rd
                # sampling as the PPM fps param) — AVI chunk walk +
                # native JPEG decode, and Y4M plane walk + BT.601
                # conversion — alongside the lossless PPM path
                kind = int(did) % 3
                if kind == 1:
                    data.append(encode_avi_mjpeg(frames, fps=25,
                                                 quality=100))
                elif kind == 2:
                    data.append(encode_y4m(frames, fps=25,
                                           colorspace="C444"))
                else:
                    data.append(encode_ppm_stream(frames))
                # frame 0's R-channel mean straight from the bytes — no
                # codec involved
                exp.append(float(raw[0:192][0::3].astype(np.float64).mean()))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "data": data, "exp_f0_mean_r": exp}
            )

    clips = d.mapInPandas(synth, synth_schema)
    out = sample_frames(clips, "data", every_ms=120, fps=25.0)  # every 3rd frame
    ok = lambda c: F.coalesce(F.bool_and(c), F.lit(True))  # noqa: E731
    # MJPG is lossy (measured worst |mean-R error| at quality 100 over
    # random 8x8 frames: 0.25) and Y4M C444 rounds ±1 per sample
    # through the BT.601 matrix; bound 1.0 covers both with margin.
    # PPM stays bit-exact at 0.01.
    bound = F.when(F.col("doc_id") % 3 != 0, F.lit(1.0)).otherwise(F.lit(0.01))
    return out.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size("frames")).cast("bigint").alias("total_sampled"),
        ok(
            F.abs(
                F.element_at(F.element_at("frames", 1), 4) - F.col("exp_f0_mean_r")
            )
            < bound
        ).alias("f0_mean_ok"),
    )


# --------------------------------------------------------------------------
# q115 — semantic deduplication (SemDeDup, Abbas et al. 2023), VERDICT
# oracle: IVF-cluster the embedding corpus, compare pairs only within
# clusters, drop cosine≥τ near-copies keeping the lowest id.  The
# k-means quantizer is engine-internal, so the query plants exact
# duplicates of vec_id < 10 (id + 1_000_000): an identical vector lands
# in the same cluster by construction and pairs at cosine 1 ≥ τ, so
# every planted copy MUST be dropped — planted_dropped is SQL-derived.
# keep/drop must partition the corpus and each victim's keeper must
# precede it.  One shuffle on the cluster key; no global pairwise stage.
# --------------------------------------------------------------------------
@query(
    "q115_semantic_dedup",
    oracle=r"""
SELECT CAST((SELECT COUNT(*) FROM embeddings) + (SELECT COUNT(*) FROM embeddings WHERE vec_id < 10) AS BIGINT) AS n_vectors,
       CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 10) AS BIGINT) AS planted_dropped,
       true AS partition_ok,
       true AS keeper_precedes
""",
)
def q115_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.artifacts import registry
    from swiftlake_spark.operators.similarity import semantic_dedup

    # semantic_dedup persists its (narrow: id/keep/dup_of) verdict
    # eagerly and leaves the unpersist to the caller.  This registry
    # slot is that owner: it releases the frame on clear()/
    # engine.close() or when a new key evicts it.
    app = spark.sparkContext.applicationId
    out = registry.get_persisted("q115_dedup", (app, sf_dir))
    if out is None:
        e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        planted = e.filter(F.col("vec_id") < 10).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
        out = registry.put_persisted(
            "q115_dedup",
            (app, sf_dir),
            semantic_dedup(e.unionByName(planted), n_clusters=16, threshold=0.9),
            app_id=app,
        )
    ok = lambda c: F.coalesce(F.bool_and(c), F.lit(True))  # noqa: E731
    return out.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum(
            ((~F.col("keep")) & (F.col("id") >= 1_000_000)).cast("bigint")
        ).alias("planted_dropped"),
        ok(F.col("keep") == F.col("dup_of").isNull()).alias("partition_ok"),
        ok(F.col("keep") | (F.col("dup_of") < F.col("id"))).alias(
            "keeper_precedes"
        ),
    )


# --------------------------------------------------------------------------
# q116 — PORTABLE SimHash (oracle-checked): 32-bit signature from MD5
# token hashes, so DuckDB reproduces it bit-for-bit — the hash-certified
# counterpart of q49's fast xxhash SimHash (engine-internal).  Per
# token, bit b of the signature weights +1/-1 by bit b of md5(token);
# signature bit = sign of the sum.  Shuffles: (doc, bit) partial-agg
# then doc — both map-side combinable; the 32× bit explode is a
# constant row multiplier, not data-dependent.
# --------------------------------------------------------------------------
@query(
    "q116_simhash_md5",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE doc_id < 300 AND text <> ''
), bits AS (
  SELECT doc_id, tok, b,
         (instr('0123456789abcdef',
                substr(md5(tok), 1 + CAST(b // 4 AS INT), 1)) - 1) AS nib
  FROM toks, UNNEST(generate_series(0, 31)) AS t(b)
), weights AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (nib // (CASE b % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                                           WHEN 2 THEN 2 ELSE 1 END)) % 2 = 1
                  THEN 1 ELSE -1 END) AS w
  FROM bits GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(SUM(CASE WHEN w >= 0
                THEN CAST(POW(2, 31 - b) AS BIGINT) ELSE 0 END) AS BIGINT)
         AS simhash32
FROM weights
GROUP BY doc_id
ORDER BY doc_id
""",
)
def q116_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    # md5 hoist (guide §1.2): hash each token ONCE in the projection
    # below the bit explode — the old shape recomputed md5(tok) in every
    # one of the 32 exploded bit rows
    d = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 300) & (F.col("text") != ""))
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .select("doc_id", F.md5("tok").alias("__h"))
    )
    bits = d.select(
        "doc_id",
        "__h",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
    ).withColumn(
        "nib",
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.col("__h"), F.lit(1) + F.expr("CAST(b div 4 AS INT)"), 1),
        )
        - 1,
    )
    pw = F.expr(
        "CASE b % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END"
    )
    weights = (
        bits.withColumn(
            "sgn",
            F.when((F.col("nib").cast("int") / pw).cast("int") % 2 == 1, F.lit(1))
            .otherwise(F.lit(-1)),
        )
        .groupBy("doc_id", "b")
        .agg(F.sum("sgn").alias("w"))
    )
    return (
        weights.groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("w") >= 0,
                    F.pow(F.lit(2.0), F.lit(31) - F.col("b")).cast("bigint"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("simhash32")
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q143 — REAL stdlib GIF decode in the pipeline (r10): text-derived
# paletted animations encode through the GIF LZW encoder (interlace on
# odd docs), the decoder composites frames back (LZW + palettes, no
# PIL), and the checks compare against expectations computed straight
# from the source indices that never touch the codec.  Palette indices
# are exact (GIF is lossless), so the mean check is equality-tight.
# --------------------------------------------------------------------------
@query(
    "q143_gif_frames",
    oracle=r"""
SELECT CAST((SELECT COUNT(*) FROM documents WHERE doc_id < 100 AND LENGTH(text) > 0) AS BIGINT) AS n_docs,
       true AS n_frames_ok,
       true AS featdim_ok,
       true AS mean_r_ok
""",
)
def q143_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql import types as T

    from swiftlake_spark.operators.multimodal import sample_frames

    base = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 100) & (F.length("text") > 0))
        .select("doc_id", "text")
    )

    exp_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
            T.StructField("expected_mean_r", T.DoubleType()),
        ]
    )

    def synth(batches):
        import numpy as np

        from swiftlake_spark.operators.multimodal import encode_gif

        H, W_, NF = 9, 14, 4
        for pdf in batches:
            data, exp = [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                b = (txt * 4).encode("utf-8")[:4]
                rng = np.random.RandomState(int(did) % 1000 + b[0])
                pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
                frames = [pal[rng.randint(0, 16, (H, W_))]
                          for _ in range(NF)]
                data.append(encode_gif(
                    frames, palette=pal, interlace=bool(did % 2)))
                # expectation from the raw first frame, codec untouched
                exp.append(float(frames[0][:, :, 0].astype(np.float64).mean()))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "data": data,
                 "expected_mean_r": exp}
            )

    d = base.mapInPandas(synth, exp_schema)
    # REAL LZW decode: every_ms=40 at 25 fps → step 1 → all 4 frames
    feats = sample_frames(d, "data", every_ms=40, fps=25.0)
    ok = lambda c: F.coalesce(F.bool_and(c), F.lit(True))  # noqa: E731
    return feats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        ok(F.size("frames") == 4).alias("n_frames_ok"),
        ok(F.size(F.element_at("frames", 1)) == 16).alias("featdim_ok"),
        ok(
            F.abs(
                F.element_at(F.element_at("frames", 1), 4)
                - F.col("expected_mean_r")
            ) < 1e-3
        ).alias("mean_r_ok"),
    )


# --------------------------------------------------------------------------
# q144 — MIXED-format image column (round 10 capstone; r11 added the
# arithmetic-coded SOF9/SOF10 and lossless SOF3 JPEGs; r12 absorbs the
# q145 TIFF variant matrix — VERDICT r11 ask #4 consolidation, no
# format-coverage loss; r12 adds kinds 19-20: hierarchical JPEG and
# per-strip old-style JPEG-in-TIFF): one binary column carrying 20
# payload kinds of
# the SAME per-doc pixels — PNG, baseline JPEG, GIF, BMP, QM-coded
# sequential JPEG, predictive-lossless JPEG, QM-coded progressive JPEG,
# a hierarchical DHP/EXP/SOF5+SOF7 pyramid with a lossless correction
# stage (bit-exact by construction — operators/jpeg_hier.py), a
# per-strip old-style JPEG-in-TIFF (tags 519/520/521 table layout —
# the r12 rewrap path; r13 alternates it with the JPEGProc-14
# LOSSLESS layout, SOF3 strips + tags 517/518/520, bit-exact —
# the last in-scope codec seam), and eleven lossless TIFF layouts (uncompressed, PackBits, LZW,
# LZW+Predictor 2, Deflate+Predictor 2, tiled, planar, 16-bit, CCITT
# G4/G3/MH fax codings of a bilevel rendition; II/MM byte order and
# multi-strip layouts alternate by doc) — decoded through the
# magic-byte dispatch in one mapInPandas pass.  Certifies that all
# decoders agree (lossless formats bit-exactly up to the feature
# vector's float32 rounding; lossy JPEG within quantization tolerance)
# and with expectations computed from the raw pixels that never touch
# any codec.  n_formats proves every kind was actually decoded.
# --------------------------------------------------------------------------
@query(
    "q144_mixed_images",
    oracle=r"""
SELECT CAST((SELECT COUNT(*) FROM documents WHERE doc_id < 120 AND LENGTH(text) > 0) AS BIGINT) AS n_docs,
       true AS dims_ok,
       true AS mean_r_ok,
       true AS lossless_exact,
       CAST(25 AS BIGINT) AS n_formats
""",
)
def q144_mixed_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql import types as T

    from swiftlake_spark.operators.multimodal import decode_image

    base = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 120) & (F.length("text") > 0))
        .select("doc_id", "text")
    )

    exp_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("data", T.BinaryType()),
            T.StructField("expected_mean_r", T.DoubleType()),
            T.StructField("lossless", T.BooleanType()),
            T.StructField("tol", T.DoubleType()),
        ]
    )

    _TIFF_VARIANTS = (
        "raw", "packbits", "lzw", "lzw_pred2", "deflate_pred2",
        "tiled", "planar", "bits16", "ccitt_g4", "ccitt_g3", "ccitt_mh",
    )
    _TIFF_KW = {
        "raw": {},
        "packbits": {"packbits": True},
        "lzw": {"lzw": True},
        "lzw_pred2": {"lzw": True, "predictor": 2},
        "deflate_pred2": {"deflate": True, "predictor": 2},
        "tiled": {"tile": (8, 8), "lzw": True},
        "planar": {"planar": 2, "deflate": True},
        "bits16": {"bits": 16},
        "ccitt_g4": {"ccitt": 4},
        "ccitt_g3": {"ccitt": 3},
        "ccitt_mh": {"ccitt": 2},
    }

    def synth(batches):
        import numpy as np

        from swiftlake_spark.operators.jpeg import encode_jpeg
        from swiftlake_spark.operators.multimodal import (
            encode_gif,
            encode_png,
            encode_tiff,
        )

        H, W_ = 12, 20
        yy, xx = np.mgrid[0:H, 0:W_]
        for pdf in batches:
            fmts, data, exp, lossless, tols = [], [], [], [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                b = (txt * 3).encode("utf-8")[:3]
                arr = np.stack([
                    np.clip(30 + b[0] % 90 + yy * (b[1] % 4)
                            + xx * (b[2] % 3) + c * 25, 0, 255)
                    for c in range(3)
                ], axis=-1).astype(np.uint8)
                kind = int(did) % 20
                tol = 1e-4
                if kind == 19:
                    # r12: per-strip old-style JPEG-in-TIFF — raw
                    # entropy strips + table tags 519/520/521; the
                    # decoder rewraps them into JFIF (JPEG-lossy bar).
                    # r13 alternates with the JPEGProc-14 LOSSLESS
                    # layout (SOF3 strips + tags 517/518/520, predictor
                    # rotating) — bit-exact by construction.
                    from swiftlake_spark.operators.multimodal import (
                        encode_tiff_oldjpeg,
                    )

                    if (did // 20) % 2:
                        fmts.append("tiff_oldjpegll")
                        data.append(encode_tiff_oldjpeg(
                            arr, rows_per_strip=8, lossless=True,
                            predictor=int(did // 40) % 7 + 1))
                        exp.append(
                            float(arr[:, :, 0].astype(np.float64).mean()))
                        lossless.append(True)
                        tols.append(1e-4)
                        continue
                    fmts.append("tiff_oldjpeg")
                    data.append(encode_tiff_oldjpeg(
                        arr, quality=95, rows_per_strip=8))
                    exp.append(float(arr[:, :, 0].astype(np.float64).mean()))
                    lossless.append(False)
                    tols.append(1.5)
                    continue
                if kind == 18:
                    # r12: hierarchical pyramid (gray rendition —
                    # DHP/EXP doubling, differential stage, lossless
                    # correction → BIT-EXACT decode); the frame process
                    # rotates through the four entropy/scan pyramid
                    # combinations (SOF5+SOF7 / SOF13+SOF15 /
                    # SOF6+SOF7 / SOF14+SOF15) plus plain SOF11
                    # arithmetic-lossless — the full T.81 matrix under
                    # the driver gate
                    proc = (did // 20) % 5
                    garr = arr[:, :, 0]
                    fmts.append(f"jpeg_hier{proc}")
                    if proc == 4:
                        from swiftlake_spark.operators.jpeg_arith import (
                            encode_jpeg_lossless_arith,
                        )

                        data.append(encode_jpeg_lossless_arith(
                            garr, predictor=4))
                    else:
                        from swiftlake_spark.operators.jpeg_hier import (
                            encode_jpeg_hierarchical,
                        )

                        data.append(encode_jpeg_hierarchical(
                            garr, quality=90, levels=2,
                            lossless_final=True,
                            arith=proc in (1, 3),
                            progressive=proc in (2, 3)))
                    exp.append(float(garr.astype(np.float64).mean()))
                    lossless.append(True)
                    tols.append(1e-4)
                    continue
                if kind >= 7:
                    # q145's TIFF matrix (absorbed r12): a noise stripe
                    # keeps literal LZW runs in play; byte order and
                    # strip layout alternate by doc
                    variant = _TIFF_VARIANTS[kind - 7]
                    arr = arr.copy()
                    arr[did % H, :, :] = (
                        (b[0] * 7 + xx[0, :, None] * 31) % 256
                    ).astype(np.uint8)
                    if variant.startswith("ccitt"):
                        # bilevel rendition — fax is lossless on 0/255
                        arr = np.where(
                            arr[:, :, 0] < 128, 0, 255).astype(np.uint8)
                        exp_mean = float(arr.astype(np.float64).mean())
                    else:
                        exp_mean = float(
                            arr[:, :, 0].astype(np.float64).mean())
                    payload = encode_tiff(
                        arr,
                        big_endian=bool((did // 4) % 2),
                        rows_per_strip=(3 if (did // 8) % 2 else None),
                        **_TIFF_KW[variant],
                    )
                    fmts.append(f"tiff_{variant}")
                    data.append(payload)
                    exp.append(exp_mean)
                    lossless.append(True)
                    # float32 feature rounding bound (q145's bar)
                    tols.append(1e-3)
                    continue
                if kind == 0:
                    payload, fmt, exact = encode_png(arr), "png", True
                elif kind == 1:
                    payload, fmt, exact = (
                        encode_jpeg(arr, quality=95), "jpeg", False)
                elif kind == 4:
                    # r11: arithmetic-coded JPEG (SOF9, QM coder) joins
                    # the in-pipeline dispatch rotation
                    from swiftlake_spark.operators.jpeg_arith import (
                        encode_jpeg_arith,
                    )

                    payload, fmt, exact = (
                        encode_jpeg_arith(arr, quality=95), "jpeg9",
                        False)
                elif kind == 6:
                    # r11: progressive-arithmetic JPEG (SOF10) — the
                    # fourth entropy mode in the rotation
                    from swiftlake_spark.operators.jpeg_arith import (
                        encode_jpeg_arith_progressive,
                    )

                    payload, fmt, exact = (
                        encode_jpeg_arith_progressive(arr, quality=95),
                        "jpeg10", False)
                elif kind == 5:
                    # r11: lossless JPEG (SOF3, predictive) — the one
                    # JPEG that must reproduce the mean EXACTLY
                    from swiftlake_spark.operators.jpeg_lossless import (
                        encode_jpeg_lossless,
                    )

                    payload, fmt, exact = (
                        encode_jpeg_lossless(arr, predictor=4),
                        "jpegll", True)
                elif kind == 2:
                    # GIF needs ≤256 colors: quantize to the 64 distinct
                    # values this gradient construction can produce
                    q = (arr // 4 * 4).astype(np.uint8)
                    payload, fmt, exact = encode_gif([q]), "gif", True
                    arr = q
                else:
                    # hand-rolled 24-bit BMP (bottom-up BGR, 4-byte pad)
                    import struct as _s
                    row = W_ * 3
                    pad = (-row) % 4
                    px = b"".join(
                        arr[y, :, ::-1].tobytes() + b"\x00" * pad
                        for y in range(H - 1, -1, -1)
                    )
                    hdr = (b"BM" + _s.pack("<IHHI", 54 + len(px), 0, 0, 54)
                           + _s.pack("<IiiHHIIiiII", 40, W_, H, 1, 24, 0,
                                     len(px), 0, 0, 0, 0))
                    payload, fmt, exact = hdr + px, "bmp", True
                fmts.append(fmt)
                data.append(payload)
                exp.append(float(arr[:, :, 0].astype(np.float64).mean()))
                lossless.append(exact)
                tols.append(1e-4 if exact else 1.5)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "fmt": fmts, "data": data,
                 "expected_mean_r": exp, "lossless": lossless,
                 "tol": tols}
            )

    d = base.mapInPandas(synth, exp_schema)
    feats = decode_image(d, "data")  # magic-byte dispatch, no PIL
    ok = lambda c: F.coalesce(F.bool_and(c), F.lit(True))  # noqa: E731
    return feats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        ok(
            (F.element_at("features", 1) == 20.0)
            & (F.element_at("features", 2) == 12.0)
        ).alias("dims_ok"),
        ok(
            F.abs(F.element_at("features", 4) - F.col("expected_mean_r"))
            < F.col("tol")
        ).alias("mean_r_ok"),
        ok(
            ~F.col("lossless")
            | (F.abs(F.element_at("features", 4) - F.col("expected_mean_r"))
               < F.col("tol"))
        ).alias("lossless_exact"),
        F.countDistinct("fmt").cast("bigint").alias("n_formats"),
    )


# --------------------------------------------------------------------------
# q150 — perceptual-hash image dedup (round 11): every base image
# (noise pixels in [20,200], seeded from doc fields) ships with two
# perceptually-identical transforms — a +10 brightness shift (DC-only
# in DCT space, clipping-free by construction) and a 2× integer
# upscale (exact under block-mean resize) — under doc_id+100000 /
# +200000.  compute_phash decodes PNGs and hashes in one mapInPandas
# pass; grouping on the 64-bit hash must put each triple in ONE group
# (invariance is exact, see operators.multimodal.image_phash) and
# distinct docs in DISTINCT groups (64-bit DCT hash of independent
# noise; verified at both gate SFs).  A resize/DCT/median regression
# breaks triples_ok; a degenerate hash (constant bits) breaks
# groups_ok.
# --------------------------------------------------------------------------
@query(
    "q150_image_phash_dedup",
    oracle=r"""
SELECT CAST((SELECT COUNT(*) FROM documents WHERE doc_id < 80 AND LENGTH(text) > 0) AS BIGINT) AS n_base,
       true AS groups_ok,
       true AS triples_ok
""",
)
def q150_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql import types as T

    from swiftlake_spark.operators.multimodal import compute_phash

    base = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 80) & (F.length("text") > 0))
        .select("doc_id", "text")
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
        ]
    )

    def synth(batches):
        import numpy as np

        from swiftlake_spark.operators.multimodal import encode_png

        for pdf in batches:
            ids, data = [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                b = (txt * 2).encode("utf-8")[:2]
                # doc_id stride must exceed the byte-sum range (<512)
                # or two docs could collide to one seed, merging their
                # phash triples and failing the groups_ok verdict
                rng = np.random.RandomState(int(did) * 1009 + b[0] + b[1])
                arr = rng.randint(20, 200, (32, 32, 3)).astype(np.uint8)
                bright = (arr + 10).astype(np.uint8)  # no clip: max 209
                up = arr.repeat(2, axis=0).repeat(2, axis=1)
                for off, img in ((0, arr), (100_000, bright), (200_000, up)):
                    ids.append(int(did) + off)
                    data.append(encode_png(img))
            yield pd.DataFrame({"doc_id": pd.array(ids, dtype="int64"),
                                "data": data})

    imgs = base.mapInPandas(synth, out_schema)
    ph = compute_phash(imgs, "data")
    groups = ph.groupBy("phash").agg(
        F.count(F.lit(1)).alias("sz"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
        F.sum("doc_id").alias("tot"),
    )
    n_base = base.agg(F.count(F.lit(1)).cast("bigint").alias("n_base"))
    ok = lambda c: F.coalesce(F.bool_and(c), F.lit(True))  # noqa: E731
    return (
        groups.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            ok(
                (F.col("sz") == 3)
                & (F.col("lo") < 80)
                & (F.col("hi") == F.col("lo") + 200_000)
                & (F.col("tot") == 3 * F.col("lo") + 300_000)
            ).alias("triples_ok"),
        )
        .crossJoin(F.broadcast(n_base))
        .select(
            "n_base",
            (F.col("n_groups") == F.col("n_base")).alias("groups_ok"),
            "triples_ok",
        )
    )


# --------------------------------------------------------------------------
# q151 — media-container metadata probes (r12, VERDICT r11 ask #2 tail):
# the cheap pre-decode filter stage of a media pipeline.  Containers are
# synthesized with parameters derived arithmetically from doc_id —
# MP3 frame sequences (rate/bitrate/padding rotation), ISO-BMFF MP4
# (mvhd/tkhd), WebM/EBML (TimestampScale + Duration), Ogg Vorbis and
# Ogg Opus (granule positions, Opus pre-skip) — and probed back with
# operators/mediaprobe.probe_media (header walks only, no sample
# decode).  The oracle recomputes every expected field in pure SQL from
# the same doc_id arithmetic, so a header mis-walk (wrong box offset,
# vint misparse, granule/pre-skip slip, bitrate table error) breaks the
# hash.  Scale: synthesis + probe are payload-parallel mapInPandas;
# a real pipeline feeds probe_media straight off a binary scan.
# --------------------------------------------------------------------------
@query(
    "q151_media_probe",
    oracle=r"""
WITH p AS (
  SELECT doc_id, doc_id % 4 AS k FROM documents WHERE doc_id < 120
)
SELECT doc_id,
  CASE k WHEN 0 THEN 'mp3' WHEN 1 THEN 'mp4/isom' WHEN 2 THEN 'webm'
         ELSE CASE WHEN doc_id % 8 = 3 THEN 'ogg/vorbis'
                   ELSE 'ogg/opus' END END AS format,
  CAST(CASE k
    WHEN 0 THEN FLOOR(CAST((20 + doc_id % 30) * 1152 * 1000 AS DOUBLE)
                      / [44100, 48000, 32000][CAST(doc_id // 4 AS INTEGER) % 3 + 1])
    WHEN 1 THEN 500 + doc_id * 7
    WHEN 2 THEN 800 + doc_id * 3
    ELSE CASE WHEN doc_id % 8 = 3
      THEN FLOOR(CAST((88200 + doc_id * 100) * 1000 AS DOUBLE) / 44100)
      ELSE FLOOR(CAST((96000 + doc_id * 100 - 312) * 1000 AS DOUBLE) / 48000)
    END END AS BIGINT) AS duration_ms,
  CAST(CASE k
    WHEN 0 THEN [44100, 48000, 32000][CAST(doc_id // 4 AS INTEGER) % 3 + 1]
    WHEN 3 THEN CASE WHEN doc_id % 8 = 3 THEN 44100 ELSE 48000 END
    ELSE NULL END AS INTEGER) AS sample_rate,
  CAST(CASE k
    WHEN 0 THEN CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END
    WHEN 3 THEN 2
    ELSE NULL END AS INTEGER) AS channels,
  CAST(CASE k WHEN 1 THEN 320 + doc_id % 64 ELSE NULL END AS INTEGER)
    AS width,
  CAST(CASE k WHEN 1 THEN 240 + doc_id % 48 ELSE NULL END AS INTEGER)
    AS height,
  CAST(CASE k
    WHEN 0 THEN [0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                 160, 192, 224, 256, 320][CAST(1 + doc_id % 14 AS INTEGER) + 1]
    ELSE NULL END AS INTEGER) AS bitrate_kbps
FROM p
ORDER BY doc_id
""",
    doc="media-container metadata probes (MP3/MP4/WebM/Ogg header walks)",
)
def q151_media_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from swiftlake_spark.operators.mediaprobe import probe_media

    base = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id")
        .repartition(8, "doc_id")
    )

    def synth(batches):
        from swiftlake_spark.operators.mediaprobe import (
            encode_mp3_shaped,
            encode_mp4_shaped,
            encode_ogg_shaped,
            encode_webm_shaped,
        )

        for b in batches:
            data = []
            for did in b["doc_id"]:
                did = int(did)
                k = did % 4
                if k == 0:
                    data.append(encode_mp3_shaped(
                        n_frames=20 + did % 30,
                        rate_idx=(did // 4) % 3,
                        kbps_idx=1 + did % 14,
                        mono=did % 2 == 0,
                    ))
                elif k == 1:
                    data.append(encode_mp4_shaped(
                        duration_ms=500 + did * 7,
                        timescale=1000,
                        width=320 + did % 64,
                        height=240 + did % 48,
                    ))
                elif k == 2:
                    data.append(encode_webm_shaped(
                        duration_ms=800 + did * 3))
                elif did % 8 == 3:
                    data.append(encode_ogg_shaped(
                        "vorbis", 44_100,
                        total_samples=88_200 + did * 100, channels=2))
                else:
                    data.append(encode_ogg_shaped(
                        "opus", 48_000,
                        total_samples=96_000 + did * 100, channels=2))
            yield pd.DataFrame(
                {"doc_id": b["doc_id"], "data": data},
                columns=["doc_id", "data"],
            )

    blobs = base.mapInPandas(synth, "doc_id bigint, data binary")
    probed = probe_media(blobs, "data")
    return probed.select(
        "doc_id",
        F.col("probe.format").alias("format"),
        F.col("probe.duration_ms").alias("duration_ms"),
        F.col("probe.sample_rate").alias("sample_rate"),
        F.col("probe.channels").alias("channels"),
        F.col("probe.width").alias("width"),
        F.col("probe.height").alias("height"),
        F.col("probe.bitrate_kbps").alias("bitrate_kbps"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q152 — bloom-filter membership (r12): cross-corpus decontamination's
# cheap pre-filter.  The "filter" is never a bitmap: corpus values map
# to k=5 MD5-derived 16-bit positions (disjoint hex windows of one
# md5 — engine-portable math), the set bits are a DISTINCT relation
# bounded by 2^16 rows regardless of corpus size, and a probe value
# "might be present" iff ALL 5 of its positions are set (exploded
# semi-join + count==k — operators/dedup.bloom_membership).  Because
# the position math is MD5, DuckDB derives the identical filter, so
# this certifies under the FULL hash-match oracle: per-document
# might_contain flags, exact membership, and the zero-false-negative
# invariant all match bit-for-bit.  100 TB shape: corpus pass bounded
# by m rows out, probe pass map-side explode + broadcast semi-join +
# one count shuffle; no Python eval, nothing at the driver.
# --------------------------------------------------------------------------
@query(
    "q152_bloom_filter",
    oracle=r"""
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 1500
), ev AS (
  SELECT DISTINCT text FROM docs WHERE doc_id % 7 = 0
), setbits AS (
  SELECT DISTINCT
    (strpos('0123456789abcdef', substr(h, o, 1)) - 1) * 4096
    + (strpos('0123456789abcdef', substr(h, o + 1, 1)) - 1) * 256
    + (strpos('0123456789abcdef', substr(h, o + 2, 1)) - 1) * 16
    + (strpos('0123456789abcdef', substr(h, o + 3, 1)) - 1) AS p
  FROM (SELECT md5(text) AS h FROM ev),
       UNNEST([1, 5, 9, 13, 17]) AS t(o)
), probe_pos AS (
  SELECT doc_id,
    (strpos('0123456789abcdef', substr(h, o, 1)) - 1) * 4096
    + (strpos('0123456789abcdef', substr(h, o + 1, 1)) - 1) * 256
    + (strpos('0123456789abcdef', substr(h, o + 2, 1)) - 1) * 16
    + (strpos('0123456789abcdef', substr(h, o + 3, 1)) - 1) AS p
  FROM (SELECT doc_id, md5(text) AS h FROM docs),
       UNNEST([1, 5, 9, 13, 17]) AS t(o)
), hits AS (
  SELECT doc_id, COUNT(*) AS nhit
  FROM probe_pos JOIN setbits USING (p)
  GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(h.nhit, 0) = 5 AS might_contain,
       EXISTS (SELECT 1 FROM ev WHERE ev.text = d.text) AS is_member,
       (EXISTS (SELECT 1 FROM ev WHERE ev.text = d.text)
        AND COALESCE(h.nhit, 0) <> 5) AS fn_violation
FROM docs d LEFT JOIN hits h USING (doc_id)
ORDER BY d.doc_id
""",
    doc="bloom-filter membership pre-filter (k-way positional semi-join)",
)
def q152_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.dedup import bloom_membership

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1500)
        .select("doc_id", "text")
    )
    ev = docs.filter(F.col("doc_id") % 7 == 0).select("text").distinct()
    out = bloom_membership(ev, docs, "text", "doc_id")
    member = ev.withColumn("__m", F.lit(True))
    return (
        out.join(F.broadcast(member), "text", "left")
        .select(
            "doc_id",
            "might_contain",
            F.coalesce("__m", F.lit(False)).alias("is_member"),
            (
                F.coalesce("__m", F.lit(False)) & ~F.col("might_contain")
            ).alias("fn_violation"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q153 — dedup-canonical text normalization (r12): the preprocessing
# step ahead of every fuzzy-dedup family.  Each document expands to
# four perturbed variants that differ ONLY in case, whitespace shape
# and injected punctuation (with a shared digit tail so the digit→0
# rule is exercised identically everywhere); normalize_for_dedup must
# collapse all four to ONE canonical string.  The oracle replicates
# both the perturbations and the normalization pipeline in DuckDB SQL
# (lower → digit-run fold → punctuation strip → whitespace collapse →
# trim), so a regex-rule divergence in either direction breaks the
# FULL hash match.  Pure Catalyst per-row expressions; the only
# shuffle is the per-doc distinct count.
# --------------------------------------------------------------------------
@query(
    "q153_normalize_dedup",
    oracle=r"""
WITH base AS (
  SELECT doc_id, text || ' 0123 77' AS b
  FROM documents WHERE doc_id < 1500
), variants AS (
  SELECT doc_id, v FROM base, UNNEST([
    b,
    upper(b),
    '  ' || replace(b, ' ', '   ') || '  ',
    replace(b, ' ', ' ,;! ')
  ]) AS t(v)
), normed AS (
  SELECT doc_id, v,
         trim(regexp_replace(regexp_replace(regexp_replace(lower(v),
              '[0-9]+', '0', 'g'),
              '[^a-z0-9\s]+', '', 'g'),
              '\s+', ' ', 'g')) AS nv
  FROM variants
)
SELECT doc_id,
       COUNT(*) AS n_variants,
       COUNT(DISTINCT v) AS n_raw_distinct,
       COUNT(DISTINCT nv) AS n_norm_distinct,
       MAX(LENGTH(nv)) AS norm_len
FROM normed
GROUP BY doc_id
ORDER BY doc_id
""",
    doc="dedup-canonical normalization collapses cosmetic variants",
)
def q153_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.text import normalize_for_dedup

    b = F.concat(F.col("text"), F.lit(" 0123 77"))
    variants = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1500)
        .select(
            "doc_id",
            F.explode(F.array(
                b,
                F.upper(b),
                F.concat(F.lit("  "),
                         F.replace(b, F.lit(" "), F.lit("   ")),
                         F.lit("  ")),
                F.replace(b, F.lit(" "), F.lit(" ,;! ")),
            )).alias("v"),
        )
    )
    nv = normalize_for_dedup(F.col("v"))
    return (
        variants.select("doc_id", "v", nv.alias("nv"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.countDistinct("v").alias("n_raw_distinct"),
            F.countDistinct("nv").alias("n_norm_distinct"),
            F.max(F.length("nv")).alias("norm_len"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q154 — count-min frequency sketch (r13): the heavy-hitter /
# frequency-estimation sibling of q152's bloom filter, completing the
# classic sketch trio (HLL cardinality = q25, membership = q152,
# frequency = q154).  The sketch is never a mutable array: the counter
# table is a (row, position, count) relation built by one posexplode +
# groupBy, bounded by d * 2^bits rows REGARDLESS of corpus size
# (operators/sketches.count_min_frequencies — d=4 rows carved from
# disjoint hex windows of one MD5, so DuckDB derives the IDENTICAL
# sketch).  TWO widths certify both operating regimes: w=256 is sized
# right for the corpus vocabulary (estimates land exact at sf0.01) and
# w=16 is deliberately undersized so collisions actually happen — the
# oracle must reproduce every collision-INFLATED estimate bit-for-bit
# (22 of 41 probe keys inflate at sf0.01), not just the easy exact
# ones.  Ten never-seen probe keys certify the pure-collision-mass
# path (7 land on nonzero counters under w=16), and the no_undercount
# columns pin the sketch's one-sided error guarantee (min over d rows
# can never undercount).  100 TB shape: corpus pass = one
# bounded-output shuffle per width; probe pass = map-side posexplode +
# broadcast join + one min-per-key shuffle; no Python eval, nothing at
# the driver.
# --------------------------------------------------------------------------
@query(
    "q154_count_min",
    oracle=r"""
WITH docs AS (
  SELECT text FROM documents WHERE doc_id < 1500
), occ AS (
  SELECT t.tok FROM docs, UNNEST(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
), pos_w AS (
  SELECT (o - 1) // 2 AS r,
    (strpos('0123456789abcdef', substr(h, o, 1)) - 1) * 16
    + (strpos('0123456789abcdef', substr(h, o + 1, 1)) - 1) AS p
  FROM (SELECT md5(tok) AS h FROM occ),
       UNNEST([1, 3, 5, 7]) AS t(o)
), counters_w AS (
  SELECT r, p, COUNT(*) AS c FROM pos_w GROUP BY r, p
), pos_n AS (
  SELECT o - 1 AS r,
    strpos('0123456789abcdef', substr(h, o, 1)) - 1 AS p
  FROM (SELECT md5(tok) AS h FROM occ),
       UNNEST([1, 2, 3, 4]) AS t(o)
), counters_n AS (
  SELECT r, p, COUNT(*) AS c FROM pos_n GROUP BY r, p
), vocab AS (
  SELECT DISTINCT tok FROM occ
  UNION
  SELECT 'zz-' || i || '-unseen' FROM range(10) AS t(i)
), probe_w AS (
  SELECT tok, (o - 1) // 2 AS r,
    (strpos('0123456789abcdef', substr(h, o, 1)) - 1) * 16
    + (strpos('0123456789abcdef', substr(h, o + 1, 1)) - 1) AS p
  FROM (SELECT tok, md5(tok) AS h FROM vocab),
       UNNEST([1, 3, 5, 7]) AS t(o)
), est_w AS (
  SELECT tok, CAST(MIN(COALESCE(c, 0)) AS BIGINT) AS n_est_wide
  FROM probe_w LEFT JOIN counters_w USING (r, p) GROUP BY tok
), probe_n AS (
  SELECT tok, o - 1 AS r,
    strpos('0123456789abcdef', substr(h, o, 1)) - 1 AS p
  FROM (SELECT tok, md5(tok) AS h FROM vocab),
       UNNEST([1, 2, 3, 4]) AS t(o)
), est_n AS (
  SELECT tok, CAST(MIN(COALESCE(c, 0)) AS BIGINT) AS n_est_narrow
  FROM probe_n LEFT JOIN counters_n USING (r, p) GROUP BY tok
), tru AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_true FROM occ GROUP BY tok
)
SELECT v.tok,
       CAST(COALESCE(t.n_true, 0) AS BIGINT) AS n_true,
       w.n_est_wide,
       n.n_est_narrow,
       w.n_est_wide >= COALESCE(t.n_true, 0) AS wide_no_undercount,
       n.n_est_narrow >= COALESCE(t.n_true, 0) AS narrow_no_undercount,
       CAST(n.n_est_narrow - COALESCE(t.n_true, 0) AS BIGINT)
         AS narrow_overestimate
FROM vocab v
JOIN est_w w USING (tok)
JOIN est_n n USING (tok)
LEFT JOIN tru t ON v.tok = t.tok
ORDER BY tok
""",
    doc="count-min frequency sketch (bounded relational counters)",
)
def q154_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.sketches import count_min_frequencies

    occ = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1500)
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    unseen = spark.createDataFrame(
        [(f"zz-{i}-unseen",) for i in range(10)], "tok string"
    )
    # r14 (guide §2.3/§8 "decide with small rows"): the occurrence
    # stream previously fed FOUR independent corpus explodes (wide
    # counters, narrow counters, true counts, vocab distinct).  One
    # token-count aggregate now carries everything: both sketches build
    # their counters as SUM(count) per position over the vocab-sized
    # relation (exactly equal to counting raw occurrences), the true
    # counts ARE the relation, and vocab is its key set.  The corpus is
    # exploded once; the identical count subtree under all consumers
    # shares one exchange (ReusedExchange).
    tok_counts = occ.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"))
    vocab = tok_counts.select("tok").unionByName(unseen)
    wide = count_min_frequencies(
        tok_counts, vocab, "tok", bits_per_pos=8, out_col="n_est_wide",
        weight_col="n_true")
    narrow = count_min_frequencies(
        tok_counts, vocab, "tok", bits_per_pos=4, out_col="n_est_narrow",
        weight_col="n_true")
    tru = tok_counts
    zero = F.lit(0).cast("bigint")
    true_n = F.coalesce("n_true", zero)
    # both estimate relations are vocab-bounded (same contract that
    # broadcasts the sketch counters), so the three-way stitch is BHash
    # instead of a vocab×vocab sort-merge (VERDICT r13 ask #7)
    return (
        wide.join(F.broadcast(narrow), "tok")
        .join(F.broadcast(tru), "tok", "left")
        .select(
            "tok",
            true_n.alias("n_true"),
            "n_est_wide",
            "n_est_narrow",
            (F.col("n_est_wide") >= true_n).alias("wide_no_undercount"),
            (F.col("n_est_narrow") >= true_n).alias("narrow_no_undercount"),
            (F.col("n_est_narrow") - true_n)
            .cast("bigint")
            .alias("narrow_overestimate"),
        )
        .orderBy("tok")
    )


# --------------------------------------------------------------------------
# q155 — incremental dedup against a PERSISTED signature index (r14,
# VERDICT r13 ask #4): the standard incremental-crawl pattern.  The old
# corpus (doc_id < 300) is shingled/MinHashed ONCE into band keys
# (operators/dedup.signature_index, md5 oracle-portable scheme — the
# same K=8/bands=4 S-curve as q48) and written to a REAL lakehouse
# table; the query itself reads the stored keys back through the
# catalog, signatures only the NEW batch (doc_id >= 300), bloom-
# pre-filters the batch keys against the index keys
# (operators/dedup.bloom_membership — zero false negatives, so the
# result is provably identical with the filter on or off), and probes
# with a broadcast of the batch side so the index scan is one map-side
# pass: NO shuffle of the corpus-sized relation.  The oracle recomputes
# the whole chain from raw text in DuckDB, so a hash match certifies
# shingle → signature → banding → lakehouse write → catalog read-back →
# bloom → probe end-to-end.  The reference has no dedup surface; this
# extends its lakehouse (tables/table.py ≙ swiftlake Table.java) with
# the LLM-pipeline index pattern.
# --------------------------------------------------------------------------
def _q155_oracle() -> str:
    sig_cols = ",\n         ".join(
        f"MIN(md5('{i}:' || sh)) AS h{i}" for i in range(_MINHASH_K)
    )
    r = _MINHASH_K // _MINHASH_BANDS
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5({' || '.join(f'h{b*r+j}' for j in range(r))}) AS bh FROM sig"
        for b in range(_MINHASH_BANDS)
    )
    return rf"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents
), shingles AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, UNNEST(generate_series(1, GREATEST(LEN(w) - 2, 0))) AS t(i)
), sig AS (
  SELECT doc_id,
         {sig_cols}
  FROM shingles GROUP BY doc_id
), bands AS (
  {band_selects}
), idx AS (
  SELECT * FROM bands WHERE doc_id < 300
), new_b AS (
  SELECT * FROM bands WHERE doc_id >= 300
), m AS (
  SELECT n.doc_id,
         CAST(COUNT(DISTINCT n.band) AS BIGINT) AS n_bands_hit,
         MIN(o.doc_id) AS first_match
  FROM new_b n JOIN idx o ON n.band = o.band AND n.bh = o.bh
  GROUP BY n.doc_id
)
SELECT d.doc_id,
       m.doc_id IS NOT NULL AS is_dup,
       CAST(COALESCE(m.n_bands_hit, 0) AS BIGINT) AS n_bands_hit,
       m.first_match
FROM (SELECT doc_id FROM documents WHERE doc_id >= 300) d
LEFT JOIN m ON m.doc_id = d.doc_id
ORDER BY d.doc_id
"""


# bloom parameters of the persisted set-bits table: the build and the
# probe both read them from here
_Q155_BLOOM_K, _Q155_BLOOM_BITS_PER_POS = 5, 16


def _q155_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """Build-once per (session, sf_dir): the old corpus's signature
    index persisted as a lakehouse table — the artifact every later
    batch probes without re-reading the corpus text."""
    import tempfile

    from swiftlake_spark.artifacts import registry
    from swiftlake_spark.engine import SwiftLakeEngine
    from swiftlake_spark.operators.dedup import signature_index

    key = (spark.sparkContext.applicationId, sf_dir)
    wh = registry.get_tempdir("q155_wh", key)
    if wh is None:
        from swiftlake_spark.operators.dedup import bloom_bits

        wh = tempfile.mkdtemp(prefix="q155_wh_")
        eng = SwiftLakeEngine(spark, warehouse=wh)
        old = (
            load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 300)
            .select("doc_id", "text")
        )
        idx = signature_index(
            old, "doc_id", "text",
            shingle_k=3, n_hashes=_MINHASH_K, bands=_MINHASH_BANDS,
            hash_fn="md5",
        )
        # sorted by the probe key: at scale the band prefix clusters
        # each band's keys so a banded probe prunes via min/max stats
        eng.catalog.create_table(
            "db.q155_sig_index", idx.schema, sort_order=["band", "bh"]
        )
        eng.insert_into("db.q155_sig_index").dataframe(idx).execute()
        # r14 (operator contract, guide §1.2): persist the bloom
        # SET-BITS next to the index at build time — the documented
        # incremental-crawl deployment shape — so every later probe
        # reads the few-KB bits relation instead of re-deriving it from
        # the whole index per query (bloom flags are result-neutral by
        # the zero-false-negative contract).
        bits = bloom_bits(
            eng.catalog.load("db.q155_sig_index").select(
                F.concat_ws(
                    ":", F.col("band").cast("string"), F.col("bh").cast("string")
                ).alias("__bk")
            ),
            "__bk",
            k=_Q155_BLOOM_K,
            bits_per_pos=_Q155_BLOOM_BITS_PER_POS,
        )
        eng.catalog.create_table("db.q155_sig_bloom", bits.schema)
        eng.insert_into("db.q155_sig_bloom").dataframe(bits).execute()
        registry.put_tempdir(
            "q155_wh", key, wh, app_id=spark.sparkContext.applicationId)
    return wh


@query(
    "q155_incremental_dedup",
    oracle=_q155_oracle(),
    doc="incremental dedup of a new batch against a persisted signature index",
)
def q155_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.engine import SwiftLakeEngine
    from swiftlake_spark.operators.dedup import incremental_dedup

    eng = SwiftLakeEngine(spark, warehouse=_q155_warehouse(spark, sf_dir))
    index_bands = eng.catalog.load("db.q155_sig_index")
    index_bloom = eng.catalog.load("db.q155_sig_bloom")
    # r15: the scale-adaptive spread for the 16-way md5 fold now lives
    # inside signature_index itself, so the RAW batch goes in — the
    # operator's final flag join then projects batch ids off the plain
    # scan instead of re-paying a 32-way repartition (guide §2.4)
    new_batch = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") >= 300)
        .select("doc_id", "text")
    )
    out = incremental_dedup(
        index_bands, new_batch, "doc_id", "text",
        shingle_k=3, n_hashes=_MINHASH_K, bands=_MINHASH_BANDS,
        hash_fn="md5", index_bloom_bits=index_bloom,
        bloom_k=_Q155_BLOOM_K, bloom_bits_per_pos=_Q155_BLOOM_BITS_PER_POS,
    )
    return (
        out.select(
            F.col("id").alias("doc_id"),
            "is_dup",
            "n_bands_hit",
            "first_match",
        )
        .orderBy("doc_id")
    )
