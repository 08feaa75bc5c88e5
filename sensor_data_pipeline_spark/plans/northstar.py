"""North-star queries: dedup, similarity search, text analysis,
multimodal plumbing (BASELINE.json "north_star").

These run on the `documents` and `embeddings` tables. Every hash used
is md5-derived so the DuckDB oracle reproduces it bit-for-bit; vector
math is done in double precision with index-order summation on both
sides so rounded values hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_data_pipeline_spark.functions.text import (
    doc_fingerprint,
    mean_token_len,
    quality_score,
    stopword_count,
    token_count,
    tokenize,
    word_hash32,
)
from sensor_data_pipeline_spark.operators.dedup import (
    dedup_components,
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
)
from sensor_data_pipeline_spark.operators.similarity import (
    brute_force_topk,
    embedding_neardup_pairs,
    ivf_topk,
    lsh_bucket_topk,
)
from sensor_data_pipeline_spark.pins import pin
from sensor_data_pipeline_spark.plans.registry import register
from sensor_data_pipeline_spark.sources.tables import load_table

# DuckDB fragment: distinct word-3-gram shingles of `text` (1-based lists).
_DUCK_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, len(w)-2), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))"
)
_DUCK_WORDS = "regexp_split_to_array(text, '\\s+')"
_DUCK_HASH32 = "CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------
@register(
    "q40_dedup_exact",
    category="dedup",
    oracle="""
SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
       min(doc_id)  AS keep_id,
       count(*)     AS n_copies
FROM documents
GROUP BY 1
ORDER BY keep_id
""",
)
def q40_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text fingerprint (hash-groupBy; one
    shuffle with map-side combine)."""
    d = load_table(spark, "documents", sf_dir)
    return exact_dedup(d, "doc_id", "text").orderBy("keep_id")


@register(
    "q41_dedup_jaccard",
    category="dedup",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, {_DUCK_SHINGLES} AS shingles
  FROM (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents)
),
sizes AS (SELECT doc_id, len(shingles) AS n FROM docs),
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM docs),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       n_shared / (sa.n + sb.n - n_shared) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_shared / (sa.n + sb.n - n_shared) >= 0.5
ORDER BY id_a, id_b
""",
)
def q41_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact word-3-gram Jaccard >= 0.5 via
    inverted-index join (never a cross join)."""
    d = load_table(spark, "documents", sf_dir)
    return jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5).orderBy("id_a", "id_b")


@register(
    "q42_dedup_minhash_lsh",
    category="dedup",
    oracle=f"""
WITH inv AS (
  SELECT doc_id, unnest(shingles) AS shingle
  FROM (SELECT doc_id, {_DUCK_SHINGLES} AS shingles
        FROM (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents))
),
hashes AS (
  SELECT doc_id, k,
         min({_DUCK_HASH32.format(expr="CAST(k AS VARCHAR) || ':' || shingle")}) AS mh
  FROM inv CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS k)
  GROUP BY doc_id, k
),
bands AS (
  SELECT doc_id, k // 4 AS band_id,
         md5(string_agg(CAST(mh AS VARCHAR), '_' ORDER BY k)) AS band_hash
  FROM hashes GROUP BY doc_id, k // 4
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a
JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
""",
)
def q42_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 perms) + LSH banding (4 bands x 4 rows) candidate
    pairs. Signature build is K min-aggs over exploded shingles;
    candidates join on (band_id, band_hash)."""
    d = load_table(spark, "documents", sf_dir)
    sigs = minhash_signatures(d, "doc_id", "text", num_hashes=16, n=3)
    return lsh_candidate_pairs(sigs, "doc_id", num_hashes=16, bands=4).orderBy("id_a", "id_b")


@register(
    "q43_dedup_simhash",
    category="dedup",
    oracle=f"""
WITH words AS (
  SELECT doc_id, {_DUCK_HASH32.format(expr="'0:' || w")} AS h
  FROM (SELECT doc_id, unnest({_DUCK_WORDS}) AS w FROM documents)
),
per_bit AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM words CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bit)
  GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM per_bit
GROUP BY doc_id
ORDER BY doc_id
""",
)
def q43_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document (per-bit majority over
    occurrence-weighted word hashes)."""
    d = load_table(spark, "documents", sf_dir)
    return simhash(d, "doc_id", "text", bits=32).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Text analysis family
# ---------------------------------------------------------------------------
@register(
    "q44_doc_fingerprint",
    category="text",
    oracle="""
SELECT doc_id,
       md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
       CAST(('0x' || substr(md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))), 1, 8)) AS BIGINT) AS fp32
FROM documents
ORDER BY doc_id
""",
)
def q44_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprint (md5 of normalized text) plus
    its 32-bit prefix form used as a join/shard key."""
    d = load_table(spark, "documents", sf_dir)
    fp = doc_fingerprint(F.col("text"))
    return d.select(
        "doc_id",
        fp.alias("fp"),
        F.conv(F.substring(fp, 1, 8), 16, 10).cast("bigint").alias("fp32"),
    ).orderBy("doc_id")


@register(
    "q45_token_stats",
    category="text",
    oracle="""
SELECT doc_id,
       CAST(len(w) AS BIGINT)                         AS n_tokens,
       CAST(len(list_distinct(w)) AS BIGINT)          AS n_distinct,
       list_aggregate(list_transform(w, x -> length(x)), 'sum') / CAST(len(w) AS DOUBLE) AS mean_tok_len,
       CAST(length(text) AS BIGINT)                   AS n_chars
FROM (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS w FROM documents)
ORDER BY doc_id
""",
)
def q45_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: total / distinct tokens, mean token length,
    char count — all codegen'd higher-order functions."""
    d = load_table(spark, "documents", sf_dir)
    w = tokenize(F.col("text"))
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.size(F.array_distinct(w)).cast("bigint").alias("n_distinct"),
        mean_token_len(w).alias("mean_tok_len"),
        F.length("text").cast("bigint").alias("n_chars"),
    ).orderBy("doc_id")


@register(
    "q46_quality_score",
    category="text",
    oracle="""
WITH feats AS (
  SELECT doc_id, lang, text,
         CAST(len(w) AS DOUBLE) AS ntok,
         list_aggregate(list_transform(w, x -> length(x)), 'sum') / CAST(len(w) AS DOUBLE) AS mean_len,
         len(list_filter(w, x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) / CAST(len(w) AS DOUBLE) AS sw_ratio,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) / CAST(length(text) AS DOUBLE) AS punct_ratio
  FROM (SELECT doc_id, lang, text, regexp_split_to_array(text, '\\s+') AS w FROM documents)
)
SELECT doc_id,
       CAST(0.4 AS DOUBLE) * least(ntok / 64.0, 1.0)
         + CAST(0.3 AS DOUBLE) * least(mean_len / 6.0, 1.0)
         + CAST(0.2 AS DOUBLE) * (1 - sw_ratio)
         + CAST(0.1 AS DOUBLE) * (1 - least(punct_ratio * 10, 1.0)) AS quality
FROM feats
ORDER BY doc_id
""",
)
def q46_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length/token/stopword/punctuation
    features), the filter stage of a training-data pipeline."""
    d = load_table(spark, "documents", sf_dir)
    return d.select("doc_id", quality_score(F.col("text")).alias("quality")).orderBy("doc_id")


@register(
    "q47_lang_signal",
    category="text",
    oracle="""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(len(list_filter(w, x -> x IN ('the','a','an','and','or','of','to','in','is','it')))) AS BIGINT)
         / CAST(sum(len(w)) AS BIGINT) AS sw_token_share,
       CAST(sum(CASE WHEN len(list_filter(w, x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) / CAST(len(w) AS DOUBLE) > CAST(0.08 AS DOUBLE)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en
FROM (SELECT lang, regexp_split_to_array(text, '\\s+') AS w FROM documents)
GROUP BY lang
ORDER BY lang
""",
)
def q47_lang_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID signal: stopword-profile ratio per document, with a
    threshold classifier aggregated against the labeled `lang` column
    (the n-gram-heuristic family of language ID)."""
    d = load_table(spark, "documents", sf_dir)
    w = tokenize(F.col("text"))
    sw_ratio = stopword_count(w) / F.size(w).cast("double")
    return (
        d.select("lang", sw_ratio.alias("swr"), stopword_count(w).alias("n_sw"), F.size(w).cast("bigint").alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("n_sw").cast("bigint") / F.sum("n_tok").cast("bigint")).alias("sw_token_share"),
            F.sum(F.when(F.col("swr") > 0.08, 1).otherwise(0)).cast("bigint").alias("n_pred_en"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Similarity search family
# ---------------------------------------------------------------------------
_DUCK_COSINE = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@register(
    "q48_cosine_topk",
    category="similarity",
    oracle=f"""
WITH emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS match_id,
         {_DUCK_COSINE.format(a="q.qv", b="c.v")} AS cosine
  FROM q, emb c
  WHERE c.vec_id != q.query_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) AS BIGINT) AS rk
  FROM scored
)
SELECT query_id, match_id, cosine, rk
FROM ranked WHERE rk <= 5
ORDER BY query_id, rk
""",
)
def q48_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors: broadcast the
    query set, codegen'd zip_with/aggregate dot products, ranking
    window for top-k. The exact-NN correctness baseline."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk(queries, emb, k=5).orderBy("query_id", "rk")


@register(
    "q49_lsh_bucket_ann",
    category="similarity",
    oracle=f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         CAST(list_aggregate(list_transform(generate_series(1, 8),
              i -> CASE WHEN embedding[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END), 'sum') AS BIGINT) AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM emb WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, q.bucket, c.vec_id AS match_id,
         {_DUCK_COSINE.format(a="q.qv", b="c.v")} AS cosine
  FROM q JOIN emb c ON q.bucket = c.bucket
  WHERE c.vec_id != q.query_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) AS BIGINT) AS rk
  FROM scored
)
SELECT query_id, bucket, match_id, cosine, rk
FROM ranked WHERE rk <= 5
ORDER BY query_id, rk
""",
)
def q49_lsh_bucket_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via sign-LSH bucketing (the scale path: equi-join
    on bucket id instead of scoring the whole corpus)."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return lsh_bucket_topk(queries, emb, k=5, n_bits=8).orderBy("query_id", "rk")


@register(
    "q50_embedding_neardup",
    category="similarity",
    oracle=f"""
WITH emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_DUCK_COSINE.format(a="a.v", b="b.v")} AS cosine
FROM emb a JOIN emb b ON a.vec_id < b.vec_id
WHERE {_DUCK_COSINE.format(a="a.v", b="b.v")} >= CAST(0.4 AS DOUBLE)
ORDER BY id_a, id_b
""",
)
def q50_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.4), exact
    all-pairs — the oracle baseline. The default (banded sign-LSH
    pre-blocking) is the 100 TB path; q150 audits its recall against
    this exact result."""
    emb = load_table(spark, "embeddings", sf_dir)
    return embedding_neardup_pairs(emb, threshold=0.4, exact=True).orderBy("id_a", "id_b")


_BAND_MATCH_SQL = " OR ".join(
    "("
    + " AND ".join(
        f"(a.raw[{b * 4 + i + 1}] > 0) = (b.raw[{b * 4 + i + 1}] > 0)" for i in range(4)
    )
    + ")"
    for b in range(3)
)


@register(
    "q150_neardup_lsh_recall",
    category="similarity",
    oracle=f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, embedding AS raw
  FROM embeddings
),
exact_pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_DUCK_COSINE.format(a="a.v", b="b.v")} AS cosine,
         ({_BAND_MATCH_SQL}) AS candidate
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
  WHERE {_DUCK_COSINE.format(a="a.v", b="b.v")} >= CAST(0.4 AS DOUBLE)
)
SELECT CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(CASE WHEN candidate THEN 1 END) AS BIGINT) AS n_found,
       count(CASE WHEN candidate THEN 1 END) / CAST(count(*) AS DOUBLE) AS recall
FROM exact_pairs
""",
)
def q150_neardup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit for the DEFAULT (banded sign-LSH pre-blocked)
    near-dup path against the exact all-pairs baseline — the q93
    pattern applied to q50. A pair survives the banding iff the two
    vectors agree on every sign bit of at least one band, which the
    oracle states as a pure boolean over the raw embeddings, so the
    audit is exactly reproducible in SQL. Run this before trusting the
    approximate default at a new threshold: the 0.4 threshold here is
    deliberately loose (wide angles flip sign bits often), so measured
    recall is the honest, pessimistic floor — at near-dup thresholds
    (>= 0.9) the same bands recall far more."""
    emb = load_table(spark, "embeddings", sf_dir)
    exact = embedding_neardup_pairs(emb, threshold=0.4, exact=True)
    approx = embedding_neardup_pairs(emb, threshold=0.4).select(
        F.col("id_a").alias("fa"), F.col("id_b").alias("fb")
    )
    joined = exact.join(
        approx, (F.col("id_a") == F.col("fa")) & (F.col("id_b") == F.col("fb")), "left"
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        F.count("fa").cast("bigint").alias("n_found"),
        (F.count("fa") / F.count(F.lit(1)).cast("double")).alias("recall"),
    )


@register(
    "q66_ivf_ann",
    category="similarity",
    oracle=f"""
WITH emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
cents AS (SELECT vec_id AS cent_id, v AS cv FROM emb ORDER BY vec_id LIMIT 16),
c_assign AS (
  SELECT match_id, cent_id, v FROM (
    SELECT e.vec_id AS match_id, c.cent_id, e.v,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_DUCK_COSINE.format(a="e.v", b="c.cv")} DESC, c.cent_id) AS rn
    FROM emb e, cents c) WHERE rn = 1
),
q_assign AS (
  SELECT query_id, cent_id, qv FROM (
    SELECT e.vec_id AS query_id, c.cent_id, e.v AS qv,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_DUCK_COSINE.format(a="e.v", b="c.cv")} DESC, c.cent_id) AS rn
    FROM emb e, cents c WHERE e.vec_id < 10) WHERE rn <= 2
),
scored AS (
  SELECT q.query_id, a.match_id, {_DUCK_COSINE.format(a="q.qv", b="a.v")} AS cosine
  FROM q_assign q JOIN c_assign a USING (cent_id)
  WHERE a.match_id != q.query_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) AS BIGINT) AS rk
  FROM scored
)
SELECT query_id, match_id, cosine, rk FROM ranked WHERE rk <= 5 ORDER BY query_id, rk
""",
)
def q66_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate NN: deterministic coarse quantizer (first 16
    corpus vectors), corpus assigned to 1 cell, queries probe 2 —
    the inverted-file scale path where each query scores ~2/16ths of
    the corpus (operators/similarity.py ivf_topk)."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(queries, emb, k=5, n_centroids=16, n_probe=2).orderBy("query_id", "rk")


@register(
    "q74_dedup_components",
    category="dedup",
    oracle=f"""
WITH RECURSIVE
emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
  WHERE {_DUCK_COSINE.format(a="a.v", b="b.v")} >= CAST(0.4 AS DOUBLE)
),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT src AS node, src AS r FROM edges
  UNION
  SELECT e.dst AS node, reach.r FROM reach JOIN edges e ON e.src = reach.node
)
SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY node ORDER BY doc_id
""",
)
def q74_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the embedding near-dup pair graph —
    the keep-one clustering step after candidate generation. Spark runs
    distributed min-label propagation (one shuffle per round,
    pin-truncated lineage, operators/dedup.py
    dedup_components); the oracle computes the same transitive closure
    with a recursive CTE."""
    emb = load_table(spark, "embeddings", sf_dir)
    # exact pair graph: this query's oracle states the exact transitive
    # closure. The banded-LSH default is the 100 TB candidate path and
    # is audited separately (q150).
    pairs = embedding_neardup_pairs(emb, threshold=0.4, exact=True)
    return dedup_components(pairs).orderBy("doc_id")


@register(
    "q79_corpus_prep",
    category="text",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang, n_chars,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
         len(regexp_split_to_array(text, '\\s+')) AS n_tokens
  FROM documents
),
kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS copy_rank
    FROM scored WHERE lang IN ('en', 'de') AND n_tokens >= 20
  ) WHERE copy_rank = 1
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS token_budget,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM kept GROUP BY lang ORDER BY lang
""",
)
def q79_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus prep: language filter -> minimum
    length gate -> exact dedup keeping the lowest doc_id -> per-lang
    token budget. The composition every LLM data pipeline runs, as one
    declarative plan: filters push into the scan, dedup is one
    shuffle, the final agg is map-side combinable."""
    d = load_table(spark, "documents", sf_dir)
    scored = d.select(
        "doc_id",
        "lang",
        doc_fingerprint(F.col("text")).alias("fp"),
        token_count(F.col("text")).alias("n_tokens"),
    ).filter(F.col("lang").isin("en", "de") & (F.col("n_tokens") >= 20))
    from pyspark.sql.window import Window

    w = Window.partitionBy("fp").orderBy("doc_id")
    kept = scored.withColumn("copy_rank", F.row_number().over(w)).filter(F.col("copy_rank") == 1)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("token_budget"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Training-corpus operations (vocabulary, sharding, contamination, sampling)
# ---------------------------------------------------------------------------
@register(
    "q81_vocab_topk",
    category="text",
    oracle=f"""
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest({_DUCK_WORDS}) AS token FROM documents)
GROUP BY token
ORDER BY n DESC, token
LIMIT 50
""",
)
def q81_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build: global token frequencies, top 50 (heavy-hitter
    scan). One shuffle with map-side combine over (token) — the partial
    aggregation collapses each task's token stream to its local counts
    before anything moves, so shuffle bytes are O(distinct tokens), not
    O(corpus). The top-k is a TakeOrdered over the combined counts, no
    global sort materialization. Tie-break on token keeps the LIMIT
    deterministic."""
    d = load_table(spark, "documents", sf_dir)
    return (
        d.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(50)
    )


@register(
    "q82_doc_top_terms",
    category="text",
    oracle=f"""
WITH tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({_DUCK_WORDS}) AS token FROM documents)
  GROUP BY doc_id, token
),
df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token)
SELECT doc_id, token, tf, df
FROM (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, df.df ASC, tf.token) AS r
  FROM tf JOIN df USING (token)
)
WHERE r <= 3
ORDER BY doc_id, tf DESC, df ASC, token
""",
)
def q82_doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-style salient terms: per-document top-3 terms ranked by
    term frequency, document frequency (rarer wins ties), then term.
    The ranking keys are all integers, so the result hash-matches any
    engine; the floating tf*log(N/df) score is deliberately left out of
    the output (see registry docstring on float determinism). Two
    uniform shuffles — (doc_id, token) then (token) — and a per-doc
    window; no skew risk because doc_id is the window key."""
    from pyspark.sql.window import Window

    d = load_table(spark, "documents", sf_dir)
    tf = (
        d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), F.col("df").asc(), "token")
    return (
        tf.join(dfreq, "token")
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 3)
        .select("doc_id", "token", "tf", "df")
        .orderBy("doc_id", F.col("tf").desc(), F.col("df").asc(), "token")
    )


@register(
    "q83_token_shards",
    category="text",
    oracle="""
WITH toks AS (
  SELECT doc_id, CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS start_offset
  FROM toks
)
SELECT CAST(start_offset // 25000 AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT)       AS n_docs,
       CAST(sum(n_tokens) AS BIGINT)  AS shard_tokens,
       CAST(min(doc_id) AS BIGINT)    AS first_doc,
       CAST(max(doc_id) AS BIGINT)    AS last_doc
FROM packed GROUP BY 1 ORDER BY shard_id
""",
)
def q83_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget sharding: docs are packed in doc_id order
    into ~25k-token training shards by their cumulative start offset.
    The running total uses operators/prefix.py::global_running_sum —
    range-partitioned two-pass scan — NOT a single-partition global
    window, so the prefix sum parallelizes at any corpus size."""
    from sensor_data_pipeline_spark.operators.prefix import global_running_sum

    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    packed = global_running_sum(toks, "doc_id", "n_tokens", out_col="cum").withColumn(
        "shard_id", F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(25000)).cast("bigint")
    )
    return (
        packed.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
        .orderBy("shard_id")
    )


@register(
    "q84_contamination",
    category="text",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, lang, {_DUCK_SHINGLES} AS shingles
  FROM (SELECT doc_id, lang, {_DUCK_WORDS} AS w FROM documents)
),
bench AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM docs WHERE doc_id % 97 = 0
),
corpus AS (SELECT doc_id, lang, shingles FROM docs WHERE doc_id % 97 <> 0),
hits AS (
  SELECT DISTINCT c.doc_id
  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM corpus) c
  JOIN bench USING (shingle)
)
SELECT lang,
       CAST(count(*) AS BIGINT)                                    AS n_docs,
       CAST(count(*) FILTER (doc_id IN (SELECT doc_id FROM hits)) AS BIGINT) AS n_contaminated
FROM corpus GROUP BY lang ORDER BY lang
""",
)
def q84_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: every held-out doc (doc_id % 97
    == 0) contributes its distinct word-3-grams to a benchmark set;
    corpus docs sharing any 3-gram are flagged. The benchmark n-gram
    set is orders of magnitude smaller than the corpus, so it is
    broadcast and the flagging is a broadcast LEFT SEMI join against
    the exploded corpus shingles — no corpus-side shuffle at all.

    Plan discipline: the full corpus is shingled exactly ONCE (inside
    ``corpus_inv``; the benchmark side shingles only its own ~1% of
    docs), and everything after the semi join moves narrow
    (doc_id, lang) rows — never the shingle arrays. A first cut that
    derived bench/corpus/flag branches from one shingled DataFrame
    re-ran full-corpus shingling three times and shuffled the arrays
    through the flag join: 23s at sf0.1 vs ~2s for this shape."""
    from sensor_data_pipeline_spark.functions.text import word_shingles

    d = load_table(spark, "documents", sf_dir)

    def shingled(sub: DataFrame) -> DataFrame:
        w = sub.select("doc_id", tokenize(F.col("text")).alias("_w"))
        return w.select("doc_id", F.explode_outer(word_shingles(F.col("_w"), 3)).alias("shingle")).filter(
            F.col("shingle").isNotNull()
        )

    bench = shingled(d.filter(F.col("doc_id") % 97 == 0)).select("shingle").distinct()
    corpus_inv = shingled(d.filter(F.col("doc_id") % 97 != 0))
    hits = corpus_inv.join(F.broadcast(bench), "shingle", "left_semi").select("doc_id").distinct()
    meta = d.filter(F.col("doc_id") % 97 != 0).select("doc_id", "lang")
    flagged = meta.join(hits.withColumn("_hit", F.lit(1)), "doc_id", "left")
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0)).cast("bigint").alias("n_contaminated"),
        )
        .orderBy("lang")
    )


@register(
    "q85_stratified_sample",
    category="text",
    oracle=f"""
SELECT doc_id, lang, CAST(r AS BIGINT) AS sample_rank
FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {_DUCK_HASH32.format(expr="'0:' || CAST(doc_id AS VARCHAR)")}, doc_id
         ) AS r
  FROM documents
)
WHERE r <= 20
ORDER BY lang, sample_rank
""",
)
def q85_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: 20 docs per language, chosen
    by hash order — reproducible across runs/engines (unlike
    ``rand()``), unbiased because the hash is uniform, and
    rebalance-safe because rank depends only on (lang, doc_id). One
    shuffle on the stratum key; the per-stratum window never sees more
    than a stratum's rows."""
    from pyspark.sql.window import Window

    d = load_table(spark, "documents", sf_dir)
    h = word_hash32(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    return (
        d.select("doc_id", "lang")
        .withColumn("sample_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("sample_rank") <= 20)
        .orderBy("lang", "sample_rank")
    )


@register(
    "q86_minhash_calibration",
    category="dedup",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, {_DUCK_SHINGLES} AS shingles
  FROM (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents)
),
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM docs),
sizes AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n FROM docs),
hashes AS (
  SELECT doc_id, k,
         min({_DUCK_HASH32.format(expr="CAST(k AS VARCHAR) || ':' || shingle")}) AS mh
  FROM inv CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS k)
  GROUP BY doc_id, k
),
bands AS (
  SELECT doc_id, k // 4 AS band_id,
         md5(string_agg(CAST(mh AS VARCHAR), '_' ORDER BY k)) AS band_hash
  FROM hashes GROUP BY doc_id, k // 4
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.id_a, c.id_b,
         CAST(count(*) FILTER (ha.mh = hb.mh) AS BIGINT) AS n_match
  FROM cands c
  JOIN hashes ha ON ha.doc_id = c.id_a
  JOIN hashes hb ON hb.doc_id = c.id_b AND hb.k = ha.k
  GROUP BY c.id_a, c.id_b
),
exact AS (
  SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_shared
  FROM cands c
  JOIN inv a ON a.doc_id = c.id_a
  JOIN inv b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT e.id_a, e.id_b,
       e.n_match / CAST(16.0 AS DOUBLE) AS est_jaccard,
       COALESCE(x.n_shared, 0) / CAST(sa.n + sb.n - COALESCE(x.n_shared, 0) AS DOUBLE) AS exact_jaccard
FROM est e
LEFT JOIN exact x ON x.id_a = e.id_a AND x.id_b = e.id_b
JOIN sizes sa ON sa.doc_id = e.id_a
JOIN sizes sb ON sb.doc_id = e.id_b
ORDER BY e.id_a, e.id_b
""",
)
def q86_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash error calibration: for every LSH candidate pair, the
    estimated Jaccard (matching signature components / 16) next to the
    exact shingle Jaccard. Both are single divisions of integers, so
    the doubles hash-match bit-for-bit. This is the query that tells
    you whether K=16 signatures are enough before you commit a 100 TB
    dedup run to them. Exact counting happens only on LSH candidates
    (the tiny surviving pair set), never all pairs.

    Measured run wobble: BENCH_r07's 4.08s (vs 1.76s r6) was in-suite
    interference — r8 solo-wobble protocol (tools/solo_wobble.py):
    solo warm best-of 2.06s at sf0.1 with a byte-identical plan digest,
    on a host the same-session controls measured ~1.4-1.7x slower than
    the committed battery hour (where this query ran 1.50s, 0a9ae17)."""
    from sensor_data_pipeline_spark.operators.dedup import _shingled

    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    sh = _shingled(d, "doc_id", "text", 3).cache()
    # the signature table feeds three consumers (banding + both sides of
    # the component-match join); cache it or the shingle->hash->16-min
    # pipeline runs three times. 16 ints/doc — persistable at any scale.
    sig = minhash_signatures(d, "doc_id", "text", num_hashes=16, n=3).cache()
    cands = lsh_candidate_pairs(sig, "doc_id", num_hashes=16, bands=4)
    sig_a = sig.select(F.col("doc_id").alias("id_a"), *[F.col(f"mh_{k}").alias(f"a{k}") for k in range(16)])
    sig_b = sig.select(F.col("doc_id").alias("id_b"), *[F.col(f"mh_{k}").alias(f"b{k}") for k in range(16)])
    matches = sum(F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0) for k in range(16))
    est = (
        cands.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select("id_a", "id_b", (matches.cast("bigint") / F.lit(16.0)).alias("est_jaccard"))
    )
    pair_sh = (
        cands.join(sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias("n_shared"),
            F.size("sh_a").cast("bigint").alias("n_a"),
            F.size("sh_b").cast("bigint").alias("n_b"),
        )
    )
    return (
        est.join(pair_sh, ["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            (F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double")).alias(
                "exact_jaccard"
            ),
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "q191_banded_dedup_clusters",
    category="dedup",
    oracle=f"""
WITH RECURSIVE params AS (
  SELECT CASE WHEN dim < 3 THEN CAST(error('adaptive banding needs >= 1 dim per band: dim < n_bands 3') AS BIGINT)
         ELSE CAST(LEAST(dim // 3, 4 + CASE WHEN n <= 2048 THEN 0
              ELSE length(bin((n - 1) // 2048)) END) AS BIGINT) END AS bits
  FROM (SELECT count(*) AS n, min(len(embedding)) AS dim FROM embeddings)
),
emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, embedding AS raw
  FROM embeddings
),
bb AS (
  SELECT e.vec_id, e.v,
         (bnd.b << p.bits)
         + CAST(list_aggregate(list_transform(
               generate_series(1, p.bits),
               i -> CASE WHEN e.raw[bnd.b * p.bits + i] > 0
                    THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END),
               'sum') AS BIGINT) AS bucket
  FROM emb e
  CROSS JOIN params p
  CROSS JOIN (SELECT unnest([CAST(0 AS BIGINT), 1, 2]) AS b) bnd
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bb a JOIN bb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
band_pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN emb ea ON ea.vec_id = c.id_a
  JOIN emb eb ON eb.vec_id = c.id_b
  WHERE {_DUCK_COSINE.format(a="ea.v", b="eb.v")} >= CAST(0.4 AS DOUBLE)
),
bedges AS (SELECT id_a AS src, id_b AS dst FROM band_pairs
           UNION SELECT id_b, id_a FROM band_pairs),
breach AS (SELECT src AS node, src AS r FROM bedges
           UNION SELECT e.dst AS node, breach.r FROM breach JOIN bedges e ON e.src = breach.node),
bclust AS (SELECT node AS vec_id, CAST(min(r) AS BIGINT) AS cluster_id FROM breach GROUP BY node)
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(max(vec_id) AS BIGINT) AS last_member
FROM bclust
GROUP BY cluster_id
ORDER BY cluster_id
""",
)
def q191_banded_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB near-dup pipeline END-TO-END with its default scale
    path: banded sign-LSH pre-blocked pair generation
    (embedding_neardup_pairs with the OCCUPANCY-ADAPTIVE band width,
    never all-pairs) feeding connected components (dedup_components
    min-label) — candidate generation, clustering, and cluster stats
    as ONE declared query.

    Round-9 split (VERDICT r8 item 4): through round 8 this query also
    recomputed the EXACT pair closure (embedding_neardup_pairs(
    exact=True)) to audit banded-cluster containment, which made the
    end-to-end query O(n²) by design (>70× at the sf10 decade) and
    forced it into the exact-all-pairs triage set. The audit is now a
    separate FIXED-COST calibration query (q364), so this query is
    purely the production path. The first split form still carried
    the FIXED band width (16 buckets/band — per-bucket work grows
    occupancy², measured >50× at decade-2), so the production path
    now uses band_bits=None: bits = 4 + ceil-log2(n/2048), integer-
    exact from bin() length, replicated verbatim in the oracle's
    params CTE (the q339 idiom). Banded edges are a subset of exact
    edges by construction (banding only prunes candidates; both sides
    apply the same cosine threshold), so cluster containment is a
    theorem — what the audits quantify is fragmentation/recall, which
    FALLS as the adaptive width grows (q150/q364/q356 ledger)."""
    from sensor_data_pipeline_spark.operators.dedup import dedup_components
    from sensor_data_pipeline_spark.operators.similarity import embedding_neardup_pairs

    emb = load_table(spark, "embeddings", sf_dir)
    banded = embedding_neardup_pairs(emb, threshold=0.4, band_bits=None)
    blab = dedup_components(banded.select("id_a", "id_b"))
    return (
        blab.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.max("doc_id").cast("bigint").alias("last_member"),
        )
        .orderBy("cluster_id")
    )


# deterministic calibration subsample size for q364: both engines pick
# the SAME vectors (md5-of-id order), and the exact all-pairs closure
# over K vectors costs O(K²·dim) REGARDLESS of corpus size — the shape
# that lets an exact-vs-banded audit ride in a 100 TB battery.
_CALIBRATION_K = 400


@register(
    "q364_banding_containment_calibration",
    category="dedup",
    oracle=f"""
WITH RECURSIVE params AS (
  SELECT CASE WHEN dim < 3 THEN CAST(error('adaptive banding needs >= 1 dim per band: dim < n_bands 3') AS BIGINT)
         ELSE CAST(LEAST(dim // 3, 4 + CASE WHEN n <= 2048 THEN 0
              ELSE length(bin((n - 1) // 2048)) END) AS BIGINT) END AS bits
  FROM (SELECT count(*) AS n, min(len(embedding)) AS dim FROM embeddings)
),
samp AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, embedding AS raw
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {_CALIBRATION_K}
),
bb AS (
  SELECT e.vec_id,
         (bnd.b << p.bits)
         + CAST(list_aggregate(list_transform(
               generate_series(1, p.bits),
               i -> CASE WHEN e.raw[bnd.b * p.bits + i] > 0
                    THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END),
               'sum') AS BIGINT) AS bucket
  FROM samp e
  CROSS JOIN params p
  CROSS JOIN (SELECT unnest([CAST(0 AS BIGINT), 1, 2]) AS b) bnd
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bb a JOIN bb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
exact_pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         (c.id_a IS NOT NULL) AS candidate
  FROM samp a
  JOIN samp b ON a.vec_id < b.vec_id
  LEFT JOIN cand c ON c.id_a = a.vec_id AND c.id_b = b.vec_id
  WHERE {_DUCK_COSINE.format(a="a.v", b="b.v")} >= CAST(0.4 AS DOUBLE)
),
bedges AS (SELECT id_a AS src, id_b AS dst FROM exact_pairs WHERE candidate
           UNION SELECT id_b, id_a FROM exact_pairs WHERE candidate),
eedges AS (SELECT id_a AS src, id_b AS dst FROM exact_pairs
           UNION SELECT id_b, id_a FROM exact_pairs),
breach AS (SELECT src AS node, src AS r FROM bedges
           UNION SELECT e.dst AS node, breach.r FROM breach JOIN bedges e ON e.src = breach.node),
ereach AS (SELECT src AS node, src AS r FROM eedges
           UNION SELECT e.dst AS node, ereach.r FROM ereach JOIN eedges e ON e.src = ereach.node),
bclust AS (SELECT node AS vec_id, CAST(min(r) AS BIGINT) AS cluster_id FROM breach GROUP BY node),
eclust AS (SELECT node AS vec_id, CAST(min(r) AS BIGINT) AS exact_label FROM ereach GROUP BY node)
SELECT b.cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(min(e.exact_label) AS BIGINT) AS exact_cluster_id,
       (min(e.exact_label) = max(e.exact_label)) AS within_one_exact_cluster
FROM bclust b JOIN eclust e ON e.vec_id = b.vec_id
GROUP BY b.cluster_id
ORDER BY b.cluster_id
""",
)
def q364_banding_containment_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-cost banding-vs-exact containment calibration — the audit
    half split out of q191 (VERDICT r8 item 4). A deterministic
    K-vector subsample (global top-K by md5(vec_id) — TakeOrdered, one
    linear scan, no shuffle of the full table) gets BOTH closures:
    banded sign-LSH candidate pairs and the exact all-pairs closure,
    each componentized, and every banded cluster reports the exact
    component containing it plus the containment boolean. Banded
    candidacy is a pairwise predicate on per-vector band signatures,
    so banded pairs computed ON the subsample equal the full run's
    banded pairs RESTRICTED to it — PROVIDED the band width matches:
    the banding here uses the PRODUCTION width (band_bits=None with
    sizing_df = the full corpus, so bits derive from the corpus count
    exactly as q191's run does; the first split form calibrated the
    fixed 4-bit width, which stops being what production ships past
    2048 vectors — review r9 finding). The oracle replays the same
    corpus-count params CTE.

    Scale shape: the exact side is O(K²·dim) with K fixed (400), so
    the query's cost is a constant plus one linear scan no matter the
    corpus size — this is how an exact audit stays in a 100 TB battery
    (the pre-split q191 ran the closure over ALL n and was >70× for
    the sf10 decade). Fragmentation recall = banded clusters here vs
    exact components; q150 gives the pair-level recall on the full
    corpus via the same banding."""
    from sensor_data_pipeline_spark.operators.dedup import dedup_components
    from sensor_data_pipeline_spark.operators.similarity import embedding_neardup_pairs

    emb = load_table(spark, "embeddings", sf_dir)
    samp = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(_CALIBRATION_K)
        .transform(pin)
    )
    banded = embedding_neardup_pairs(
        samp, threshold=0.4, band_bits=None, sizing_df=emb
    )
    exact = embedding_neardup_pairs(samp, threshold=0.4, exact=True)
    blab = dedup_components(banded.select("id_a", "id_b"))
    elab = (
        dedup_components(exact.select("id_a", "id_b"))
        .withColumnRenamed("doc_id", "e_doc")
        .withColumnRenamed("cluster_id", "exact_label")
    )
    return (
        blab.join(elab, blab["doc_id"] == elab["e_doc"])
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("exact_label").cast("bigint").alias("exact_cluster_id"),
            (F.min("exact_label") == F.max("exact_label")).alias(
                "within_one_exact_cluster"
            ),
        )
        .orderBy("cluster_id")
    )


@register(
    "q197_containment_pairs",
    category="dedup",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, {_DUCK_SHINGLES} AS shingles
  FROM (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents)
),
sizes AS (SELECT doc_id, len(shingles) AS n FROM docs),
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM docs),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_shared,
       n_shared / least(sa.n, sb.n) AS containment
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_shared / least(sa.n, sb.n) >= 0.8
ORDER BY id_a, id_b
""",
)
def q197_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup (|A∩B|/min(|A|,|B|) >= 0.8): the
    quote-inclusion detector — a short doc embedded in a longer one
    scores ~1 here while its Jaccard vanishes into the big union, so
    q41 misses it. Same posting-list candidate shuffle as q41; at
    100 TB the only extra cost over Jaccard is the least() in the
    final projection (operators/dedup.py::containment_pairs)."""
    from sensor_data_pipeline_spark.operators.dedup import containment_pairs

    d = load_table(spark, "documents", sf_dir)
    return containment_pairs(d, "doc_id", "text", n=3, threshold=0.8).orderBy("id_a", "id_b")


@register(
    "q198_token_cooccurrence",
    category="text",
    oracle=f"""
WITH dt AS (
  SELECT doc_id, unnest(list_distinct({_DUCK_WORDS})) AS token FROM documents
),
top AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df
  FROM dt GROUP BY token ORDER BY df DESC, token LIMIT 50
),
ft AS (SELECT dt.doc_id, dt.token FROM dt JOIN top USING (token)),
p AS (
  SELECT a.token AS tok_a, b.token AS tok_b, CAST(count(*) AS BIGINT) AS n_both
  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2
)
SELECT tok_a, tok_b, n_both, ta.df AS n_a, tb.df AS n_b
FROM p
JOIN top ta ON ta.token = tok_a
JOIN top tb ON tb.token = tok_b
WHERE n_both >= 5
ORDER BY n_both DESC, tok_a, tok_b
""",
)
def q198_token_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence matrix over the top-50 vocabulary: the raw
    counts behind PMI / word-association analysis, emitted as exact
    integers (doc frequency of each token and of each pair) so the
    result is engine-exact — PMI's log is a trivial post-step the
    caller can apply. Scale shape: the vocabulary CAP bounds the pair
    space (50·49/2), the cap set rides a broadcast semi-join, and
    pair generation reuses the one-shuffle posting-list combinator
    keyed by doc (each doc contributes its within-doc pairs JVM-side,
    never a row-level self-join of the full token table)."""
    from sensor_data_pipeline_spark.functions.text import tokenize
    from sensor_data_pipeline_spark.operators.dedup import _posting_pairs

    d = load_table(spark, "documents", sf_dir)
    # tokenize ONCE: the distinct (doc, token) frame feeds both the
    # vocabulary census and the pair generator — unpinned, each
    # consumer re-read + re-tokenized the corpus (4 documents scans in
    # the r5 plan; now 1, at the cost of materializing the token frame
    # a co-occurrence build needs anyway)
    dt = d.select(
        "doc_id", F.explode(F.array_distinct(tokenize(F.col("text")))).alias("token")
    ).transform(pin)
    top = (
        dt.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .orderBy(F.col("df").desc(), "token")
        .limit(50)
    )
    ft = dt.join(F.broadcast(top.select("token")), "token")
    pairs = (
        _posting_pairs(ft, "token", "doc_id")
        .groupBy(F.col("id_a").alias("tok_a"), F.col("id_b").alias("tok_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
        .filter(F.col("n_both") >= 5)
    )
    return (
        pairs.join(F.broadcast(top.select(F.col("token").alias("tok_a"), F.col("df").alias("n_a"))), "tok_a")
        .join(F.broadcast(top.select(F.col("token").alias("tok_b"), F.col("df").alias("n_b"))), "tok_b")
        .select("tok_a", "tok_b", "n_both", "n_a", "n_b")
        .orderBy(F.col("n_both").desc(), "tok_a", "tok_b")
    )


@register(
    "q220_retrieve_rerank",
    category="similarity",
    # Two-stage retrieval, all-integer so ranks can never flip on
    # float order: stage 1 ranks by quantized dot product, stage 2
    # reranks the shortlist with a lexical-overlap interaction term.
    oracle="""
WITH qz AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127) AS BIGINT)) AS qv
  FROM embeddings
),
qry AS (SELECT vec_id AS qid, qv FROM qz WHERE vec_id < 5),
scored AS (
  SELECT q.qid, c.vec_id AS cid,
         CAST(list_sum(list_transform(range(1, len(q.qv)+1), i -> q.qv[i] * c.qv[i])) AS BIGINT) AS qdot
  FROM qry q JOIN qz c ON c.vec_id <> q.qid
),
shortlist AS (
  SELECT qid, cid, qdot,
         row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, cid) AS rnk
  FROM scored
),
wordsets AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(text, '\\s+')) AS ws FROM documents
),
rerank AS (
  SELECT s.qid, s.cid, s.qdot,
         CAST(len(list_distinct(list_intersect(wq.ws, wc.ws))) AS BIGINT) AS overlap,
         s.qdot + 10000 * CAST(len(list_distinct(list_intersect(wq.ws, wc.ws))) AS BIGINT) AS rerank_score
  FROM shortlist s
  JOIN wordsets wq ON wq.doc_id = s.qid
  JOIN wordsets wc ON wc.doc_id = s.cid
  WHERE s.rnk <= 20
)
SELECT qid, cid, qdot, overlap, rerank_score,
       CAST(row_number() OVER (PARTITION BY qid ORDER BY rerank_score DESC, cid) AS BIGINT) AS final_rank
FROM rerank
QUALIFY final_rank <= 5
ORDER BY qid, final_rank
""",
)
def q220_retrieve_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: broadcast the 5-query panel against the
    corpus for a map-only quantized-dot-product scan, keep each
    query's top-20 (one shuffle: per-query ranking window), then
    rerank only the 100 shortlisted pairs with a lexical-overlap
    interaction feature joined from the documents table. The final
    top-5 per query is computed on shortlist-sized data.

    This is the canonical LLM retrieval shape — cheap ANN-style first
    stage over everything, expensive interaction scoring over almost
    nothing. At 100 TB the stage-1 scan stays map-only (queries
    broadcast), and stage 2's joins touch k*|queries| rows. Integer
    scoring end to end: quantized dots and overlap counts, so the
    ranking is bit-stable under any execution order.

    Reference basis: the consumer's two-phase handling — cheap
    validity screen on every message, expensive display update only
    for survivors (src/modules/dd/consumer.cpp:124-145).
    """
    emb = load_table(spark, "embeddings", sf_dir)
    qz = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: F.round(x.cast("double") * 127, 0).cast("bigint")).alias("qv"),
    )
    qry = qz.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), F.col("qv").alias("qvec"))
    scored = (
        qz.crossJoin(F.broadcast(qry))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("cid"),
            F.aggregate(
                F.zip_with("qvec", "qv", lambda a, b: a * b),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("qdot"),
        )
    )
    from pyspark.sql import Window

    w1 = Window.partitionBy("qid").orderBy(F.col("qdot").desc(), "cid")
    shortlist = scored.withColumn("rnk", F.row_number().over(w1)).filter(F.col("rnk") <= 20)
    wordsets = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.array_distinct(F.split("text", r"\s+")).alias("ws")
    )
    wq = wordsets.select(F.col("doc_id").alias("qid"), F.col("ws").alias("ws_q"))
    wc = wordsets.select(F.col("doc_id").alias("cid"), F.col("ws").alias("ws_c"))
    overlap = F.size(F.array_distinct(F.array_intersect("ws_q", "ws_c"))).cast("bigint")
    reranked = (
        shortlist.join(F.broadcast(wq), "qid")
        .join(wc, "cid")
        .select(
            "qid",
            "cid",
            "qdot",
            overlap.alias("overlap"),
            (F.col("qdot") + 10000 * overlap).alias("rerank_score"),
        )
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("rerank_score").desc(), "cid")
    return (
        reranked.withColumn("final_rank", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("final_rank") <= 5)
        .orderBy("qid", "final_rank")
    )


_BPE_STEPS = 3


def _bpe_oracle() -> str:
    """Unrolled BPE merge learning. Each step: count adjacent symbol
    pairs weighted by word frequency, pick the winner (count desc,
    pair asc), merge it everywhere. replace() is left-to-right
    non-overlapping in both engines, so ' l l l ' merges identically."""
    parts = [
        """w0 AS (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents)
  GROUP BY w
)""",
        """s0 AS (
  SELECT ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS s, n FROM w0
)""",
    ]
    prev = "s0"
    for i in range(1, _BPE_STEPS + 1):
        parts.append(f"""arr{i} AS (
  SELECT string_split(trim(s), ' ') AS a, n FROM {prev}
)""")
        parts.append(f"""pr{i} AS (
  SELECT a, n, unnest(range(1, len(a))) AS i FROM arr{i}
)""")
        parts.append(f"""cnt{i} AS (
  SELECT a[CAST(i AS INT)] || ' ' || a[CAST(i AS INT) + 1] AS pair, sum(n) AS support
  FROM pr{i} GROUP BY 1
)""")
        parts.append(f"""b{i} AS (
  SELECT pair, CAST(support AS BIGINT) AS support FROM cnt{i}
  ORDER BY support DESC, pair LIMIT 1
)""")
        parts.append(f"""s{i} AS (
  SELECT replace(x.s, ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' ') AS s, x.n
  FROM {prev} x, b{i} b
)""")
        prev = f"s{i}"
    union = "\nUNION ALL\n".join(
        f"SELECT {i} AS step, pair, replace(pair, ' ', '') AS merged, support FROM b{i}"
        for i in range(1, _BPE_STEPS + 1)
    )
    return f"WITH {','.join(parts)}\n{union}\nORDER BY step"


@register(
    "q221_bpe_merge_learning",
    category="text",
    oracle=_bpe_oracle(),
)
def q221_bpe_merge_learning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, the merge-learning loop itself: count
    adjacent symbol pairs over the frequency-weighted vocabulary, pick
    the most frequent pair (deterministic tie-break: count desc, pair
    asc), merge it corpus-wide, repeat. Emits the learned merge table
    (step, pair, merged, support) — the artifact a 100 TB tokenizer
    training job actually ships.

    Scale design: each step is one explode+groupBy over the DISTINCT
    vocabulary (frequency-weighted — the corpus itself is never
    rescanned after the initial word count), and the winning pair
    joins back by broadcast of a single row. The unrolled loop is one
    Catalyst DAG; symbol strings shrink monotonically. String merge
    via literal replace() has identical left-to-right non-overlapping
    semantics on both engines, which the oracle relies on.

    Reference basis: the reference derives compact wire symbols from
    raw streams once at init and reuses them every tick
    (src/modules/dd/producer.c:124-141 builds the serialized form);
    merge learning is the corpus-scale analog of choosing the wire
    alphabet.
    """
    docs = load_table(spark, "documents", sf_dir)
    words = (
        docs.select(F.explode(F.split("text", r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    chars = F.filter(F.split("word", ""), lambda c: c != "")
    spaced = words.select(
        F.concat(F.lit(" "), F.concat_ws(" ", chars), F.lit(" ")).alias("s"), "n"
    ).transform(pin)
    # ^ the docstring's "corpus is never rescanned after the word count"
    # only holds if the vocabulary frame is PINNED: unpinned, every
    # step's lineage re-derived it from the parquet scan (7 documents
    # scans for 3 merge steps, round-5 plan_audit). The frame is
    # distinct-word-sized — trivially materializable at any corpus size.
    bests = []
    cur = spaced
    for step in range(1, _BPE_STEPS + 1):
        a = F.split(F.trim("s"), " ")
        pair_idx = F.when(
            F.size(a) >= 2, F.sequence(F.lit(0), F.size(a) - 2)
        ).otherwise(F.array().cast("array<int>"))
        pairs = cur.select(
            "n",
            F.explode(
                F.transform(
                    pair_idx,
                    lambda i: F.concat(
                        F.element_at(a, i + 1), F.lit(" "), F.element_at(a, i + 2)
                    ),
                )
            ).alias("pair"),
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("n").cast("bigint").alias("support"))
            .orderBy(F.col("support").desc(), "pair")
            .limit(1)
        )
        bests.append(
            best.select(
                F.lit(step).alias("step"),
                "pair",
                F.replace("pair", F.lit(" "), F.lit("")).alias("merged"),
                "support",
            )
        )
        cur = (
            cur.crossJoin(F.broadcast(best.select(F.col("pair").alias("_bp"))))
            .select(
                F.expr("replace(s, concat(' ', _bp, ' '), concat(' ', replace(_bp, ' ', ''), ' '))").alias("s"),
                "n",
            )
            .transform(pin)  # per-step pin: keeps lineage O(1)
        )
    out = bests[0]
    for b in bests[1:]:
        out = out.unionAll(b)
    return out.orderBy("step")


# q267 sign matrix: entry (i, k) is +1/-1 by the parity of a prime-field
# hash of the coordinates — deterministic, storage-free, identical on
# both engines. Embeddings are quantized to integers (q217's 1000x
# fixed-point) BEFORE projection so every sum is exact integer algebra:
# no float summation order to reconcile between Spark and DuckDB.
_RP_OUT_DIMS = 8
_RP_SCALE = 1000


def _rp_sign(i, k):
    """+1/-1 column from 0-based coordinate columns (Spark Columns)."""
    h = (((i * 31 + k * 17 + 7) % 1000003) * 2654435761) % 999999937
    return F.when(h % 2 == 0, F.lit(1).cast("long")).otherwise(F.lit(-1).cast("long"))


@register(
    "q267_random_projection",
    category="similarity",
    oracle="""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, e -> CAST(round(e * 1000, 0) AS BIGINT)) AS qe
  FROM embeddings
),
flat AS (
  SELECT vec_id, qe, unnest(range(1, 65)) AS pos FROM q
)
SELECT vec_id, CAST(k AS INTEGER) AS k,
       CAST(sum(qe[pos] * CASE WHEN ((((pos - 1) * 31 + k * 17 + 7) % 1000003)
                                      * 2654435761) % 999999937 % 2 = 0
                               THEN 1 ELSE -1 END) AS BIGINT) AS proj
FROM flat, range(8) r(k)
GROUP BY vec_id, k
ORDER BY vec_id, k
""",
)
def q267_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-sign random projection (Achlioptas 2001): compress the
    64-dim embeddings to 8 dims with a +1/-1 matrix derived from a
    coordinate hash — the storage-free dimensionality reduction that
    feeds LSH banding and cheap pre-filters before exact cosine (the
    JL lemma bounds the distortion). The projection is a PURE
    PROJECTION in both senses: per row, an index-aware transform over
    the quantized vector folds each output lane with exact integer
    arithmetic — no shuffle, no broadcast matrix (the 'matrix' is the
    hash), no Python. posexplode of the 8 lanes is the only Generate
    and the final sort is the only exchange. At 100 TB this is one
    map pass; downstream ANN then works on 8 ints instead of 64
    floats. Integer quantization before projection makes the fold
    order-independent, so the oracle (positional unnest + the same
    parity hash) matches hash-for-hash."""
    emb = load_table(spark, "embeddings", sf_dir)
    qe = F.transform(
        F.col("embedding"), lambda e: F.round(e * _RP_SCALE, 0).cast("long")
    )
    lanes = F.transform(
        F.sequence(F.lit(0), F.lit(_RP_OUT_DIMS - 1)),
        lambda k: F.aggregate(
            F.transform(F.col("qe"), lambda x, i: x * _rp_sign(i, k)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    return (
        emb.select("vec_id", qe.alias("qe"))
        .select("vec_id", F.posexplode(lanes).alias("k", "proj"))
        .orderBy("vec_id", "k")
    )


@register(
    "q281_gram_matrix",
    category="similarity",
    oracle="""
WITH c AS (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos, embedding AS v
  FROM embeddings
),
q AS (
  SELECT vec_id, pos - 1 AS i,
         CAST(floor(CAST(v[pos] AS DOUBLE) * 1024.0) AS BIGINT) AS comp
  FROM c
)
SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j,
       CAST(sum(a.comp * b.comp) AS BIGINT) AS gram
FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i
GROUP BY a.i, b.i
ORDER BY i, j
""",
)
def q281_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix X'X over the embedding corpus — the
    d x d covariance-style primitive under PCA, ridge regression, and
    whitening. The key scale property: the Gram product is a SUM of
    per-row outer products, so each Arrow batch reduces to one d x d
    int64 partial (numpy matmul, vectorized, upper triangle emitted)
    and the shuffle carries <= d(d+1)/2 rows PER BATCH no matter how
    many embeddings stream through — a mergeable-summary aggregation,
    never a row-level self-join (which is what the oracle does, per
    dimension pair, to prove the values). Components quantize exactly
    (floor of float32 * 2^10 — a power of two, lossless in float64);
    int64 headroom: |comp| ~ 2^10, so ~2^43 rows fit before the
    partial sum could wrap. Python touches data once, through Arrow,
    with no per-row interpretation."""
    import numpy as np
    import pyarrow as pa

    emb = load_table(spark, "embeddings", sf_dir).select("embedding")

    def gram(batches):
        for batch in batches:
            rows = batch.column("embedding").to_pylist()
            if not rows:
                continue
            mat = np.asarray(rows, dtype=np.float64)
            q = np.floor(mat * 1024.0).astype(np.int64)
            g = q.T @ q
            d = g.shape[0]
            iu, ju = np.triu_indices(d)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(iu.astype(np.int64), pa.int64()),
                    pa.array(ju.astype(np.int64), pa.int64()),
                    pa.array(g[iu, ju], pa.int64()),
                ],
                names=["i", "j", "partial"],
            )

    return (
        emb.mapInArrow(gram, schema="i long, j long, partial long")
        .groupBy("i", "j")
        .agg(F.sum("partial").cast("bigint").alias("gram"))
        .orderBy("i", "j")
    )


# ---------------------------------------------------------------------------
# q297 — sorted-neighborhood near-dup blocking (SNM)
# ---------------------------------------------------------------------------

_SNM_JAC_PPM = 300000  # 0.30 Jaccard floor


@register(
    "q297_sorted_neighborhood_dedup",
    category="dedup",
    oracle=f"""
WITH d AS (
  SELECT doc_id, lang, source,
         substr(text, 1, 16) AS sk,
         list_distinct(regexp_split_to_array(text, '\\s+')) AS toks
  FROM documents
),
w AS (
  SELECT doc_id, toks,
         lead(doc_id, 1) OVER win AS id1, lead(toks, 1) OVER win AS t1,
         lead(doc_id, 2) OVER win AS id2, lead(toks, 2) OVER win AS t2
  FROM d WINDOW win AS (PARTITION BY lang, source ORDER BY sk, doc_id)
),
pairs AS (
  SELECT doc_id AS doc_a, id1 AS doc_b,
         CAST(len(list_intersect(toks, t1)) AS BIGINT) AS inter,
         CAST(len(toks) + len(t1) - len(list_intersect(toks, t1)) AS BIGINT) AS uni
  FROM w WHERE id1 IS NOT NULL
  UNION ALL
  SELECT doc_id, id2,
         CAST(len(list_intersect(toks, t2)) AS BIGINT),
         CAST(len(toks) + len(t2) - len(list_intersect(toks, t2)) AS BIGINT)
  FROM w WHERE id2 IS NOT NULL
)
SELECT doc_a, doc_b, inter * 1000000 // uni AS jac_ppm
FROM pairs
WHERE inter * 1000000 >= {_SNM_JAC_PPM} * uni
ORDER BY doc_a, doc_b
""",
)
def q297_sorted_neighborhood_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood method (Hernandez & Stolfo 1995) near-dup
    blocking: within each (lang, source) block, docs sort by a 16-char
    text prefix and each doc compares ONLY against its next w=2 sorted
    neighbors — O(w*N) comparisons total, the classic alternative to
    LSH banding (q42/q191) whose recall profile favors shared-prefix
    near-dups. Jaccard is exact over distinct token sets and published
    as integer ppm (no float ranking). Plan: one keyed shuffle to sort
    within blocks, two lead() windows per block (never a global sort:
    the block key partitions the window), then a filter — candidate
    generation touches each row w times, full stop. At 100 TB the
    block key must keep blocks executor-sized (here lang x source;
    production adds a prefix byte); skewed blocks re-salt the sort key
    exactly as the repo's banded-LSH path does."""
    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(
        "doc_id",
        "lang",
        "source",
        F.substring("text", 1, 16).alias("sk"),
        F.array_distinct(tokenize(F.col("text"))).alias("toks"),
    )
    win = Window.partitionBy("lang", "source").orderBy("sk", "doc_id")
    w = d.select(
        "doc_id",
        "toks",
        F.lead("doc_id", 1).over(win).alias("id1"),
        F.lead("toks", 1).over(win).alias("t1"),
        F.lead("doc_id", 2).over(win).alias("id2"),
        F.lead("toks", 2).over(win).alias("t2"),
    )
    branches = []
    for k in (1, 2):
        idk, tk = f"id{k}", f"t{k}"
        inter = F.size(F.array_intersect(F.col("toks"), F.col(tk))).cast("bigint")
        uni = (F.size("toks") + F.size(tk)).cast("bigint") - inter
        branches.append(
            w.filter(F.col(idk).isNotNull()).select(
                F.col("doc_id").alias("doc_a"),
                F.col(idk).alias("doc_b"),
                inter.alias("inter"),
                uni.alias("uni"),
            )
        )
    pairs = branches[0].unionByName(branches[1])
    return (
        pairs.filter(F.col("inter") * 1000000 >= _SNM_JAC_PPM * F.col("uni"))
        .select("doc_a", "doc_b", F.expr("inter * 1000000 DIV uni").alias("jac_ppm"))
        .orderBy("doc_a", "doc_b")
    )
