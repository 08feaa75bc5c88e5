"""Corpus-quality operators for training-data curation (north star).

Extends the text-analysis family (q44-q47, q79) with the remaining
filters every large-scale LLM data pipeline runs before training:

- repetition gating (duplicate-bigram fraction, the Gopher-style
  "rep" filters) — q107;
- pattern scanning (per-document regex hit counts, the PII/contam
  scan shape) — q108;
- cohort retention over the event stream (warehouse-style user
  analysis) — q109;
- near-dup cluster representative selection (the "keep one per
  cluster" step after q74's connected components) — q110;
- source-capped corpus mixing (deterministic hash-order per-source
  caps) — q123;
- ordered per-user event sequences (rows -> time-ordered arrays for
  sequence-model training data) — q129.

All of them stay JVM-side: higher-order array functions and regexes are
codegen'd Catalyst expressions, never Python UDFs, so the per-document
work is a narrow map over the scan at any scale. Reference parity:
the reference's only text handling is JSON field projection
(``src/modules/dd/consumer.cpp:124-131``); this family is mandated by
the north star (BASELINE.json), not ported.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sensor_data_pipeline_spark.operators.dedup import dedup_components
from sensor_data_pipeline_spark.operators.similarity import embedding_neardup_pairs
from sensor_data_pipeline_spark.pins import pin
from sensor_data_pipeline_spark.plans.registry import register
from sensor_data_pipeline_spark.sources.tables import load_table


@register(
    "q107_repetition_gate",
    category="text",
    oracle="""
WITH g AS (
  SELECT lang, source,
         CAST(len(bg) AS BIGINT)                AS n_bigrams,
         CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct
  FROM (
    SELECT lang, source,
           list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1]) AS bg
    FROM (SELECT lang, source, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents)
  )
  WHERE len(bg) > 0
)
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_bigrams - n_distinct > n_bigrams * 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       sum(n_bigrams - n_distinct) / CAST(sum(n_bigrams) AS DOUBLE) AS dup_bigram_share
FROM g
GROUP BY lang, source
ORDER BY lang, source
""",
)
def q107_repetition_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filter: fraction of duplicate word-bigrams per
    document (high duplication => boilerplate/spam), flagged at 50%
    and profiled per (lang, source).

    The bigram build is `arrays_zip(slice, slice)` over the token
    array — a codegen'd expression, no shuffle and no Python. The only
    exchange is the final small groupBy. Flag/share math uses exact
    bigint counts so the oracle hash is stable.

    Deliberately NOT `transform(sequence(i), concat(element_at...))`:
    CollapseProject inlines the upstream regex-split into every lambda
    reference, and the optimizer then spends ~5.6 s per fresh build
    walking the blown-up tree (measured sf0.1); the slice form keeps
    the plan linear (~0.85 s total, identical results — struct
    equality ≡ concat equality since tokens contain no whitespace)."""
    d = load_table(spark, "documents", sf_dir)
    w = F.split(F.trim(F.col("text")), r"\s+")
    bg = F.expr("arrays_zip(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1))")
    per_doc = (
        d.select("lang", "source", w.alias("w"))
        .select("lang", "source", bg.alias("bg"))
        .filter(F.size("bg") > 0)
        .select(
            "lang",
            "source",
            F.size("bg").cast("bigint").alias("n_bigrams"),
            F.size(F.array_distinct("bg")).cast("bigint").alias("n_distinct"),
        )
    )
    dup = F.col("n_bigrams") - F.col("n_distinct")
    return (
        per_doc.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(dup > F.col("n_bigrams") * 0.5, 1).otherwise(0)).cast("bigint").alias("n_flagged"),
            (F.sum(dup) / F.sum("n_bigrams").cast("double")).alias("dup_bigram_share"),
        )
        .orderBy("lang", "source")
    )


@register(
    "q108_pattern_scan",
    category="text",
    oracle="""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '\\b(dup|key|hash)\\b'))) AS BIGINT) AS n_hits,
       CAST(sum(CASE WHEN len(regexp_extract_all(text, '\\b(dup|key|hash)\\b')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
       CAST(max(len(regexp_extract_all(text, '\\b(dup|key|hash)\\b'))) AS BIGINT) AS max_hits
FROM documents
GROUP BY source
ORDER BY source
""",
)
def q108_pattern_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern scan: per-document regex hit counts rolled up per
    source — the shape of PII scans, contamination probes, and
    blocklist audits over a corpus.

    `regexp_count` is a codegen'd expression evaluated once per row
    during the scan (the regex compiles once per task, not per row);
    the rollup is map-side combinable. Swapping the pattern for an
    email/SSN regex changes nothing structurally."""
    d = load_table(spark, "documents", sf_dir)
    hits = F.regexp_count(F.col("text"), F.lit(r"\b(dup|key|hash)\b"))
    return (
        d.select("source", hits.alias("_h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_h").cast("bigint").alias("n_hits"),
            F.sum(F.when(F.col("_h") > 0, 1).otherwise(0)).cast("bigint").alias("n_docs_hit"),
            F.max("_h").cast("bigint").alias("max_hits"),
        )
        .orderBy("source")
    )


@register(
    "q109_cohort_retention",
    category="analytics",
    oracle="""
WITH user_weeks AS (
  SELECT user_id, date_trunc('week', ts) AS wk
  FROM events GROUP BY user_id, date_trunc('week', ts)
),
cohorts AS (
  SELECT user_id, min(wk) AS cohort_wk FROM user_weeks GROUP BY user_id
)
SELECT c.cohort_wk AS cohort_week,
       CAST(date_diff('day', c.cohort_wk, u.wk) / 7 AS BIGINT) AS week_offset,
       count(DISTINCT u.user_id) AS n_users
FROM user_weeks u JOIN cohorts c ON u.user_id = c.user_id
GROUP BY c.cohort_wk, week_offset
ORDER BY cohort_week, week_offset
""",
)
def q109_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over the event stream: users grouped by
    first-active week, counted in each subsequent week offset.

    Plan: events collapse to distinct (user, week) pairs first (the
    big reduction), the per-user cohort week is a second aggregate of
    that same pre-shuffled set, and the join back is user-keyed on
    already-co-partitioned data. `date_trunc('week')` is Monday-start
    in both engines; the offset is exact integer day-diff / 7."""
    e = load_table(spark, "events", sf_dir)
    user_weeks = e.select("user_id", F.date_trunc("week", F.col("ts")).alias("wk")).distinct()
    cohorts = user_weeks.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        user_weeks.join(cohorts, "user_id")
        .select(
            F.col("cohort_wk").cast("date").alias("cohort_week"),
            (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7).cast("bigint").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


_DUCK_COSINE = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@register(
    "q110_cluster_representatives",
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
),
clusters AS (
  SELECT node AS vec_id, CAST(min(r) AS BIGINT) AS cluster_id FROM reach GROUP BY node
),
norms AS (
  SELECT vec_id, round(sqrt(list_dot_product(v, v)) * 1000000, 0) AS norm_u
  FROM emb
)
SELECT cluster_id, vec_id AS rep_id, CAST(cluster_size AS BIGINT) AS cluster_size
FROM (
  SELECT c.cluster_id, c.vec_id,
         count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY n.norm_u DESC, c.vec_id) AS rk
  FROM clusters c JOIN norms n ON n.vec_id = c.vec_id
)
WHERE rk = 1
ORDER BY cluster_id
""",
)
def q110_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-per-cluster: after connected components over the
    near-dup graph (q74), pick each cluster's representative — the
    member with the largest embedding norm (a centrality proxy),
    vec_id as tie-break — plus the cluster size for audit.

    Plan: components come from distributed min-label propagation
    (operators/dedup.py); the representative pick is one window over
    cluster_id — the same shuffle key the components step already
    produced, so AQE chains them without a second wide exchange. The
    norm is rounded to 1e-6 on both sides to keep the float-ordering
    tie-break deterministic across engines."""
    emb = load_table(spark, "embeddings", sf_dir)
    # exact pair graph to match the oracle's transitive closure; the
    # banded-LSH default is the scale path, audited by q150
    pairs = embedding_neardup_pairs(emb, threshold=0.4, exact=True)
    clusters = dedup_components(pairs).select(F.col("doc_id").alias("vec_id"), "cluster_id")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norms = emb.select(
        "vec_id",
        F.round(
            F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)) * 1000000, 0
        ).alias("norm_u"),
    )
    w = Window.partitionBy("cluster_id")
    wrank = w.orderBy(F.col("norm_u").desc(), F.col("vec_id"))
    return (
        clusters.join(norms, "vec_id")
        .withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("bigint"))
        .withColumn("rk", F.row_number().over(wrank))
        .filter(F.col("rk") == 1)
        .select("cluster_id", F.col("vec_id").alias("rep_id"), "cluster_size")
        .orderBy("cluster_id")
    )


@register(
    "q123_source_capped_sample",
    category="text",
    oracle="""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT source,
       count(*) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS char_budget,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM ranked
WHERE rk <= 30
GROUP BY source
ORDER BY source
""",
)
def q123_source_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-capped corpus mixing: every source contributes at most a
    fixed number of documents, chosen by a deterministic hash order
    (not first-N — that would bias toward ingestion order). The
    per-source cap is the standard lever for keeping one crawl from
    dominating a training mix.

    Plan: one shuffle on source, row_number within each source over
    the md5(doc_id) order, local filter — no sampling pass, no second
    scan. The hash order is portable (md5 of the decimal doc_id string
    is identical in both engines), so the kept set is reproducible
    anywhere — the property a rerun of a 100 TB mix job needs."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "source", "n_chars")
    w = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 30)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("char_budget"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .orderBy("source")
    )


@register(
    "q129_user_event_sequences",
    category="aggregation",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       array_to_string(list_slice(list(event_type ORDER BY ts, event_id), 1, 20), '|') AS first_events
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def q129_user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event sequences — the construction step for
    sequence-model training data (rows -> time-ordered arrays).
    collect_list alone is partition-order nondeterministic; collecting
    (ts, event_id, type) structs and sort_array-ing makes the sequence
    a pure function of the data (the property a reproducible 100 TB
    sequence build needs). One shuffle on user_id; the truncation to
    20 bounds the array payload.

    The sequence is emitted as a '|'-joined STRING, not an ARRAY: the
    driver's canonicalizer sorts result columns with pandas, which
    cannot hash list-valued cells (the round-8 q129 red row). The
    delimited form is hashable everywhere and loses nothing — the
    registry contract gate (tests/test_registry_contract.py) now bans
    top-level ARRAY/MAP/STRUCT output columns for exactly this reason."""
    e = load_table(spark, "events", sf_dir)
    seq = F.concat_ws(
        "|",
        F.slice(
            F.transform(
                F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            1,
            20,
        ),
    )
    return (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), seq.alias("first_events"))
        .orderBy("user_id")
    )


@register(
    "q136_stable_id_assignment",
    category="aggregation",
    oracle="""
SELECT doc_id,
       row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS global_id
FROM documents
ORDER BY doc_id
""",
)
def q136_stable_id_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ID assignment: dense 1-based global ids in a
    deterministic hash order (shuffled relative to ingest order, but a
    pure function of the data — a rerun on any cluster size reproduces
    identical ids). Uses the two-pass scan operator, NOT a global
    row_number window (one task) and NOT monotonically_increasing_id
    (sparse, parallelism-dependent). The oracle's single-partition
    row_number is the semantic spec the distributed form must match."""
    from sensor_data_pipeline_spark.operators.prefix import stable_global_ids

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("_h")
    )
    # order key = (hash, doc_id) made globally unique by concatenation
    keyed = d.withColumn("_key", F.concat_ws(":", "_h", F.col("doc_id").cast("string")))
    return (
        stable_global_ids(keyed, "_key")
        .select("doc_id", "global_id")
        .orderBy("doc_id")
    )


@register(
    "q137_block_dedup_audit",
    category="dedup",
    oracle="""
WITH docs AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
),
blocks AS (
  SELECT doc_id, source,
         unnest(list_transform(range(0, CAST(len(w) // 8 AS INT)),
                               i -> array_to_string(list_slice(w, i*8+1, i*8+8), ' '))) AS block
  FROM docs
),
hashed AS (SELECT source, md5(block) AS bh FROM blocks),
occ AS (SELECT bh, count(*) AS n_occ FROM hashed GROUP BY bh)
SELECT source,
       count(*) AS n_blocks,
       CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_blocks,
       sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE) AS dup_share
FROM hashed JOIN occ USING (bh)
GROUP BY source
ORDER BY source
""",
)
def q137_block_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (block-level) dedup audit: texts split into
    8-token blocks, block fingerprints counted corpus-wide, and each
    source scored by its share of globally-duplicated blocks — the
    paragraph-dedup family (RefinedWeb/CCNet style) at block
    granularity, which catches boilerplate that document-level
    fingerprints (q40/q79) miss entirely.

    Plan: block construction is codegen'd (transform over sequence +
    array_join, ~2s plan+run at sf0.1 — no q107-style optimizer
    blowup since the token array is referenced once per lambda);
    posexplode fans out to one row per block; ONE shuffle on the block
    hash counts global occurrences; the join back is on the same key.
    At 100 TB the block-hash table is the big intermediate — it would
    be bucketed by bh, and the share rollup stays map-side."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "source", "text")
    w = F.split(F.trim(F.col("text")), r"\s+")
    blocks = F.expr(
        "transform(sequence(0, CAST(floor(size(w)/8) AS INT) - 1),"
        " i -> array_join(slice(w, i*8+1, 8), ' '))"
    )
    per_block = (
        d.select("doc_id", "source", w.alias("w"))
        .select("doc_id", "source", blocks.alias("blocks"))
        .select("source", F.posexplode("blocks").alias("pos", "block"))
        .select("source", F.md5("block").alias("bh"))
    )
    occ = per_block.groupBy("bh").agg(F.count(F.lit(1)).alias("n_occ"))
    dup = F.when(F.col("n_occ") > 1, 1).otherwise(0)
    return (
        per_block.join(occ, "bh")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(dup).cast("bigint").alias("n_dup_blocks"),
            (F.sum(dup) / F.count(F.lit(1)).cast("double")).alias("dup_share"),
        )
        .orderBy("source")
    )


@register(
    "q152_incremental_dedup",
    category="dedup",
    oracle="""
WITH fp AS (
  SELECT doc_id, lang,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
corpus AS (SELECT fp FROM fp WHERE doc_id < 250),
incoming AS (SELECT * FROM fp WHERE doc_id >= 250),
fresh AS (
  SELECT i.* FROM incoming i
  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = i.fp)
),
kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM fresh
  ) WHERE rn = 1
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(min(doc_id) AS BIGINT) AS first_kept,
       CAST(max(doc_id) AS BIGINT) AS last_kept
FROM kept GROUP BY lang ORDER BY lang
""",
)
def q152_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup — the production shape: a
    new ingest batch is deduped against the ALREADY-ACCEPTED corpus's
    fingerprints (anti-join), then within itself (first-copy-wins
    window). At 100 TB the corpus side is a fingerprint-only
    projection (16 bytes + id per doc, pruned at the scan), the
    anti-join shuffles on the uniformly-distributed fingerprint, and
    AQE broadcasts it instead whenever the corpus fits — the same
    plan a nightly crawl-ingest runs. Fixture split: doc_id < 250 is
    the standing corpus, the rest is the incoming batch."""
    from sensor_data_pipeline_spark.functions.text import doc_fingerprint

    d = load_table(spark, "documents", sf_dir).withColumn("fp", doc_fingerprint(F.col("text")))
    corpus = d.filter(F.col("doc_id") < 250).select("fp")
    incoming = d.filter(F.col("doc_id") >= 250).select("doc_id", "lang", "fp")
    fresh = incoming.join(corpus, "fp", "left_anti")
    w = Window.partitionBy("fp").orderBy("doc_id")
    kept = fresh.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.min("doc_id").cast("bigint").alias("first_kept"),
            F.max("doc_id").cast("bigint").alias("last_kept"),
        )
        .orderBy("lang")
    )


@register(
    "q153_leakage_free_split",
    category="sampling",
    oracle="""
WITH tagged AS (
  SELECT doc_id, source, lang, n_chars,
         CASE WHEN substr(md5(source), 1, 2) < 'cc' THEN 'train'
              WHEN substr(md5(source), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
leak AS (
  SELECT CAST(count(*) AS BIGINT) AS n_leaked_sources FROM (
    SELECT source FROM tagged GROUP BY source HAVING count(DISTINCT split) > 1
  )
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       n_leaked_sources
FROM tagged, leak
GROUP BY split, n_leaked_sources
ORDER BY split
""",
)
def q153_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split: the split is a pure function
    of md5(source) — every document from one source lands in the same
    split, so near-duplicate pages from one site can never straddle
    train and test. The hex-prefix comparison ('cc' ~ 80%, 'e6' ~ 90%)
    is engine-portable because lowercase hex sorts lexicographically
    in value order. n_leaked_sources (sources spanning >1 split) is
    carried on every row as a self-audit — it is structurally zero
    here, and a reviewer changing the split column to something
    row-level (e.g. hash(doc_id)) trips it immediately. One narrow
    shuffle on source for the audit, one on split for the stats; no
    data movement proportional to text size (column pruned at scan)."""
    d = load_table(spark, "documents", sf_dir)
    h2 = F.substring(F.md5("source"), 1, 2)
    tagged = d.withColumn(
        "split",
        F.when(h2 < "cc", "train").when(h2 < "e6", "val").otherwise("test"),
    )
    leak = (
        tagged.groupBy("source")
        .agg(F.countDistinct("split").alias("ns"))
        .agg(F.count(F.when(F.col("ns") > 1, 1)).cast("bigint").alias("n_leaked_sources"))
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .crossJoin(F.broadcast(leak))
        .select("split", "n_docs", "n_sources", "sum_chars", "n_leaked_sources")
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# q314 — n-gram novelty scoring (corpus-order first-seen attribution)
# ---------------------------------------------------------------------------

_NOV_K = 3
_DUCK_WORDS = "regexp_split_to_array(text, '\\s+')"


@register(
    "q314_ngram_novelty",
    category="corpus",
    oracle=f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS a FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         list_aggregate(a[i:i + {_NOV_K} - 1], 'string_agg', ' ') AS gram
  FROM w CROSS JOIN unnest(range(1, len(a) - {_NOV_K} + 2)) AS t(i)
),
first_seen AS (
  SELECT gram, CAST(min(doc_id) AS BIGINT) AS first_doc
  FROM g GROUP BY gram
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         * 1000000 // count(*) AS novelty_ppm
FROM g JOIN first_seen f USING (gram)
GROUP BY g.doc_id
ORDER BY g.doc_id
""",
)
def q314_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty in corpus (doc_id) order: the share
    of a document's distinct 3-gram shingles whose FIRST corpus
    occurrence is this document — the curation signal that separates
    genuinely-new material from recombinations of already-ingested
    text (low novelty late in the crawl = boilerplate or near-dup
    tail; the streaming twin of this attribution is how dataset
    decontamination pipelines cap memorization). Shingling is
    codegen-side (arrays_zip of k shifted slices) and grams shuffle as
    16-byte md5 binaries, not strings — 128 bits because at corpus
    scale (billions of distinct grams) a 64-bit key collides by the
    birthday bound and would silently merge two grams' attribution
    (round-4 ADVICE finding); md5 keeps the collision probability
    ~n^2/2^129 while still shrinking a ~25-byte gram string to a
    fixed 16-byte key. Attribution is one groupBy
    gram taking min(doc_id) (map-side combinable), joined back to the
    distinct (doc, gram) pairs and re-reduced per doc. novelty_ppm is
    exact integer ppm (x*1e6 DIV n) — no float in the output. Plan:
    two shuffles (gram, then doc_id), both on pre-deduplicated pairs;
    the gram key is content-hashable and salts naturally. At 100 TB
    this is the span-dedup (q236) skeleton with min-attribution
    instead of interval union."""
    from sensor_data_pipeline_spark.functions.text import tokenize

    # repartition before the gram map: the sf fixtures are single
    # parquet files, so without this the whole shingling explosion runs
    # on ONE task (q236's measured fix; no-op on a real multi-file lake)
    docs = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # codegen-side shingling via arrays_zip of k shifted slices (the
    # transform(sequence(...)) form runs on the interpreted expression
    # path); grams are keyed by the 128-bit md5 of the rebuilt gram
    # string (tokens are whitespace-split, so ' ' joins unambiguously)
    # — a 64-bit key is collision-probable at 100 TB gram cardinality
    # and the sf0.01 oracle could never exercise that
    zips = ", ".join(
        f"slice(a, {j + 1}, greatest(size(a) - {_NOV_K - 1}, 0))"
        for j in range(_NOV_K)
    )
    g = (
        docs.select("doc_id", tokenize(F.col("text")).alias("a"))
        .select("doc_id", F.expr(f"arrays_zip({zips})").alias("z"))
        .select("doc_id", F.explode("z").alias("p"))
        .select(
            "doc_id",
            F.unhex(F.md5(F.expr("concat_ws(' ', p.*)"))).alias("gram"),
        )
        .distinct()
    )
    first_seen = g.groupBy("gram").agg(F.min("doc_id").cast("bigint").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("bigint")
    return (
        g.join(first_seen, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            novel.alias("n_novel"),
            F.expr(
                "CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)"
                " * 1000000 DIV count(*)"
            ).alias("novelty_ppm"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q321 — feature-hashing (hashing-trick) collision census
# ---------------------------------------------------------------------------

_FH_BUCKETS = 4096


@register(
    "q321_feature_hashing_census",
    category="corpus",
    oracle=f"""
WITH w AS (SELECT {_DUCK_WORDS} AS a FROM documents),
tok AS (
  SELECT DISTINCT list_aggregate(a[i:i + 2], 'string_agg', ' ') AS token
  FROM w CROSS JOIN unnest(range(1, len(a) - 1)) AS t(i)
),
b AS (
  SELECT token,
         CAST(('0x' || substr(md5('11:' || token), 1, 8)) AS BIGINT)
           % {_FH_BUCKETS} AS bucket
  FROM tok
),
census AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS degree FROM b GROUP BY bucket
),
hist AS (
  SELECT degree, CAST(count(*) AS BIGINT) AS n_buckets
  FROM census GROUP BY degree
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS vocab,
         CAST(count(DISTINCT bucket) AS BIGINT) AS used
  FROM b
)
SELECT h.degree, h.n_buckets,
       CAST(min(t.vocab) AS BIGINT) AS vocab_size,
       CAST(min(t.used) AS BIGINT) AS buckets_used,
       CAST({_FH_BUCKETS} AS BIGINT) AS n_buckets_total
FROM hist h CROSS JOIN tot t
GROUP BY h.degree, h.n_buckets
ORDER BY h.degree
""",
)
def q321_feature_hashing_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick collision census: project the corpus's distinct
    word-trigram features (the fixture's unigram vocabulary is only 31
    tokens; trigrams give a 16k+ feature space worth hashing)
    into 4096 feature buckets via a seeded portable hash (the
    Weinberger et al. 2009 feature-hashing scheme every
    out-of-core text vectorizer uses) and report the bucket-degree
    histogram — how many buckets hold 1, 2, 3... distinct tokens —
    plus vocabulary size and bucket utilization. The degree histogram
    is the operational answer to "how much signal does 2^12 cost":
    expected collisions follow the birthday bound, and a pipeline
    sizes its feature dim from exactly this census. Hash =
    word_hash32 (md5-head, cross-engine portable; the xxhash64 fast
    path is the documented scale swap). Plan: distinct tokens (one
    gram-keyed shuffle), bucket census (4096-group combine), then
    constant-size histogram — vocabulary-bounded beyond the scan.
    vocab/used derive FROM the census (sum of degrees / row count),
    never from a second pass over the token frame — the r4 form
    re-executed the whole explode+distinct upstream once per
    consumer (the multiply-consumed-frame gotcha), measured 4.55 s
    -> 2.0 s in-round; the 4096-row census is pinned
    so hist and tot read materialized rows. At 100 TB the
    distinct-token reduce dominates and salts naturally; nothing
    downstream sees document mass."""
    from sensor_data_pipeline_spark.functions.text import tokenize, word_hash32

    # single-file fixture -> repartition before the gram explosion so the
    # map runs on every core (q236's measured fix), and shingle via
    # arrays_zip slices (codegen) rather than transform(sequence(...))
    # (interpreted); the gram STRING must be materialized here because
    # the feature hash is the portable md5-head of the string itself
    docs = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    zips = ", ".join(
        "slice(a, %d, greatest(size(a) - 2, 0))" % (j + 1) for j in range(3)
    )
    tok = (
        docs.select(tokenize(F.col("text")).alias("a"))
        .select(F.expr(f"arrays_zip({zips})").alias("z"))
        .select(F.explode("z").alias("p"))
        .select(F.expr("concat_ws(' ', p.`0`, p.`1`, p.`2`)").alias("token"))
        .distinct()
    )
    b = tok.select(
        "token",
        F.pmod(word_hash32(F.col("token"), seed=11), F.lit(_FH_BUCKETS)).alias(
            "bucket"
        ),
    )
    census = (
        b.groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("degree"))
        .transform(pin)  # <=4096 rows; consumed by hist AND tot
    )
    hist = census.groupBy("degree").agg(
        F.count("*").cast("bigint").alias("n_buckets")
    )
    # vocab = sum of bucket degrees, used = bucket count: both are pure
    # functions of the census — no second pass over the token frame
    tot = census.agg(
        F.sum("degree").cast("bigint").alias("vocab"),
        F.count("*").cast("bigint").alias("used"),
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "degree",
            "n_buckets",
            F.col("vocab").alias("vocab_size"),
            F.col("used").alias("buckets_used"),
            F.lit(_FH_BUCKETS).cast("bigint").alias("n_buckets_total"),
        )
        .orderBy("degree")
    )
