"""Round-2 LLM-training-pipeline operators.

These extend the north-star corpus toolchain (`plans/northstar.py`,
`plans/corpus_quality.py`) with the remaining preprocessing steps a
pretraining data pipeline runs between "deduped corpus" and "token
shards" — each expressed as pure Catalyst plans (no Python in the hot
path) with a DuckDB oracle:

- context-window chunking (q157) and sequence packing (q158);
- DSIR-style importance weighting (q159), deterministic weighted
  reservoir sampling (q160), mixture rebalancing (q165), and the
  quality-filter funnel audit (q174);
- span-level PII redaction (q163) and BPE-style pre-tokenizer
  counts (q172);
- CDC changelog compaction with tombstones (q166);
- near-dup graph analytics: triangle counting (q167) and
  content-defined chunk dedup (q175);
- sketches: count-min calibration (q168), KMV sketch merge (q176);
- exact-integer embedding drift monitoring (q177), counting-based
  global median (q178), order-independent table checksums (q179);
- storage/format fidelity: ORC roundtrip (q161), small-file
  compaction audit (q169), corrupt-file skip resilience (q173);
- plus an exact windowed median over event time (q164).

Reference analog: the reference pipeline ends at MQTT publication
(`src/modules/dd/producer.c`); these are the operators its data would
need next if it fed a training corpus rather than a dashboard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sensor_data_pipeline_spark.functions.text import tokenize, word_hash32
from sensor_data_pipeline_spark.operators.prefix import global_running_sum
from sensor_data_pipeline_spark.pins import pin
from sensor_data_pipeline_spark.plans.registry import register
from sensor_data_pipeline_spark.sources.tables import load_table

# context-window chunking: 128-token windows advancing 96 tokens, the
# classic 25% overlap that keeps boundary sentences learnable twice
CHUNK_TOKENS = 128
CHUNK_STRIDE = 96

# sequence packing: byte budget per packed training sequence
PACK_BUDGET = 8192


@register(
    "q157_token_chunking",
    category="corpus",
    oracle=f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM documents
),
s AS (
  SELECT doc_id, w, unnest(range(0, len(w), {CHUNK_STRIDE})) AS st FROM t
)
SELECT doc_id,
       CAST(st / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(w, st + 1, st + {CHUNK_TOKENS})) AS BIGINT) AS chunk_len,
       md5(array_to_string(list_slice(w, st + 1, st + {CHUNK_TOKENS}), ' ')) AS chunk_md5
FROM s
ORDER BY doc_id, chunk_idx
""",
)
def q157_token_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split every document into overlapping
    fixed-token windows (128 tokens, stride 96) — the step that turns a
    cleaned corpus into trainable sequences. The whole transform is
    three codegen'd higher-order functions (`sequence` for the window
    starts, `explode`, `slice`); no Python, no shuffle — a chunker that
    is a pure map stays embarrassingly parallel at 100 TB, and the
    chunk md5 pins byte-exact window boundaries against the oracle."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", tokenize(F.col("text")).alias("w"))
    starts = toks.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(0), F.size("w") - 1, F.lit(CHUNK_STRIDE))).alias("st"),
    )
    chunk = F.slice(F.col("w"), F.col("st") + 1, CHUNK_TOKENS)
    return starts.select(
        "doc_id",
        (F.col("st") / CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("chunk_len"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_idx")


@register(
    "q158_sequence_packing",
    category="corpus",
    oracle=f"""
WITH scanned AS (
  SELECT doc_id, n_chars,
         sum(n_chars) OVER (ORDER BY doc_id) - n_chars AS pack_off
  FROM documents
)
SELECT CAST(floor(pack_off / {PACK_BUDGET}) AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT)               AS n_docs,
       CAST(sum(n_chars) AS BIGINT)           AS bin_chars,
       CAST(min(doc_id) AS BIGINT)            AS first_doc,
       CAST(max(doc_id) AS BIGINT)            AS last_doc
FROM scanned
GROUP BY bin_id
ORDER BY bin_id
""",
)
def q158_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-chunk): lay documents end-to-end in
    a canonical order and cut the byte stream every PACK_BUDGET chars —
    each document's bin is its exclusive prefix sum div the budget.
    The prefix sum uses the two-pass range-partitioned scan
    (`operators/prefix.py`), NOT a global single-partition window: the
    oracle's `sum() OVER (ORDER BY doc_id)` is exactly the plan shape
    that dies at 100 TB, and this query differentially proves the
    distributed scan computes the identical packing."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    scanned = global_running_sum(d, "doc_id", "n_chars", out_col="running")
    binned = scanned.withColumn(
        "bin_id", ((F.col("running") - F.col("n_chars")) / PACK_BUDGET).cast("bigint")
    )
    return (
        binned.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("bin_chars"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
        .orderBy("bin_id")
    )


@register(
    "q159_ngram_importance",
    category="corpus",
    oracle="""
WITH tok AS (
  SELECT doc_id, lang, unnest(regexp_split_to_array(text, '\\s+')) AS w
  FROM documents
),
bg AS (SELECT w, count(*) AS cb FROM tok GROUP BY w),
tgt AS (SELECT w, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY w),
consts AS (
  SELECT (SELECT count(*) FROM tok)                 AS nb,
         (SELECT count(*) FROM tok WHERE lang='en') AS nt,
         (SELECT count(*) FROM bg)                  AS v
),
wt AS (
  SELECT bg.w,
         ln((COALESCE(tgt.ct, 0) + 1) / CAST(nt + v AS DOUBLE))
           - ln((bg.cb + 1) / CAST(nb + v AS DOUBLE)) AS lw
  FROM bg LEFT JOIN tgt ON bg.w = tgt.w, consts
)
SELECT tok.doc_id,
       CAST(count(*) AS BIGINT)      AS n_tokens,
       round(sum(wt.lw), 4)          AS importance
FROM tok JOIN wt ON tok.w = wt.w
GROUP BY tok.doc_id
ORDER BY tok.doc_id
""",
)
def q159_ngram_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting: score every document by the
    log-likelihood ratio of its unigrams under a target LM (the 'en'
    slice) vs the background LM (whole corpus), add-one smoothed — the
    data-selection signal used to upsample target-like text. Plan: one
    explode, two token-count aggregations (map-side combined), a
    vocab-sized left join, then a doc-level re-aggregation. The vocab
    table shuffles once on the token key; corpus-scale constants (N_t,
    N_b, |V|) are single-row cross joins, never collected."""
    d = load_table(spark, "documents", sf_dir)
    # tokenize ONCE: four consumers (background LM, target LM, corpus
    # constants, per-doc scoring join) — unpinned, each re-read and
    # re-tokenized the corpus (4 documents scans in the r5 plan)
    tok = d.select(
        "doc_id", "lang", F.explode(tokenize(F.col("text"))).alias("w")
    ).transform(pin)
    bg = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cb"))
    tgt = tok.filter(F.col("lang") == "en").groupBy("w").agg(F.count(F.lit(1)).alias("ct"))
    consts = tok.agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("nt"),
        F.countDistinct("w").alias("v"),
    )
    wt = (
        bg.join(tgt, "w", "left")
        .crossJoin(F.broadcast(consts))
        .select(
            "w",
            (
                F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1) / (F.col("nt") + F.col("v")).cast("double"))
                - F.log((F.col("cb") + 1) / (F.col("nb") + F.col("v")).cast("double"))
            ).alias("lw"),
        )
    )
    return (
        tok.join(wt, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.sum("lw"), 4).alias("importance"),
        )
        .orderBy("doc_id")
    )


@register(
    "q160_weighted_sample",
    category="sampling",
    oracle="""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         ln((CAST(('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
            / 4294967296.0) / n_chars AS k
  FROM documents
),
ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rk
  FROM keyed
)
SELECT source, CAST(rk AS BIGINT) AS rk, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_chars AS BIGINT) AS n_chars
FROM ranked WHERE rk <= 3
ORDER BY source, rk
""",
)
def q160_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling (Efraimidis–Spirakis A-Res) with a
    deterministic seed: each doc draws u in (0,1] from the portable
    md5 hash and keeps key ln(u)/weight; the top-k keys per stratum ARE
    the weighted sample. Deterministic u makes the sample reproducible
    across engines and cluster sizes — the property a training-data
    lottery must have for auditability. One shuffle (the per-source
    top-k window); no floats in the output so libm ulp differences
    cannot hash-mismatch."""
    d = load_table(spark, "documents", sf_dir)
    u = (word_hash32(F.col("doc_id").cast("string"), seed=11) + 1) / F.lit(4294967296.0)
    keyed = d.select("doc_id", "source", "n_chars", (F.log(u) / F.col("n_chars")).alias("k"))
    w = Window.partitionBy("source").orderBy(F.col("k").desc(), "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("source", "rk", "doc_id", "n_chars")
        .orderBy("source", "rk")
    )


@register(
    "q161_orc_roundtrip",
    category="storage",
    oracle="""
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
FROM documents
GROUP BY lang, source ORDER BY lang, source
""",
)
def q161_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC ingest fidelity, completing the columnar-format matrix next
    to parquet (native), JSONL (q154) and CSV (q155): write the
    documents table as ORC, read it back, aggregate; distinct-md5
    equality against the parquet oracle proves the serde lossless.
    ORC is the other splittable columnar format a 100 TB lakehouse
    ingests from (Hive-era estates), with the same predicate-pushdown
    and column-pruning behavior as parquet."""
    import re as _re

    from sensor_data_pipeline_spark.sources.warehouse import SCRATCH

    d = load_table(spark, "documents", sf_dir)
    tag = _re.sub(r"[^A-Za-z0-9_]+", "_", sf_dir).strip("_")
    path = f"{SCRATCH}/roundtrip/orc_{tag}"
    d.write.mode("overwrite").orc(path)
    back = spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).orc(path)
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.countDistinct(F.md5("text")).cast("bigint").alias("n_distinct_texts"),
        )
        .orderBy("lang", "source")
    )


@register(
    "q163_pii_redaction",
    category="corpus",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\\b(dup|key|hash)\\b')) AS BIGINT) AS n_redacted,
       md5(regexp_replace(text, '\\b(dup|key|hash)\\b', '[MASK]', 'g')) AS redacted_md5,
       CAST(length(regexp_replace(text, '\\b(dup|key|hash)\\b', '[MASK]', 'g')) AS BIGINT) AS n_chars_after
FROM documents
ORDER BY doc_id
""",
)
def q163_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level redaction: rewrite every match of a sensitive-token
    pattern to a mask and audit the rewrite (hit count, post-redaction
    text hash + length). This is the REMOVAL step that q108's scan only
    counts — the corpus that ships downstream is the redacted text.
    Swapping the fixture pattern for an email/SSN regex changes nothing
    structurally. Pure per-row codegen'd regex (compiled once per task);
    zero shuffles — a redactor must stay embarrassingly parallel,
    because it touches every byte of a 100 TB corpus. The md5 of the
    rewritten text differentially pins Java-regex vs RE2 replacement
    semantics byte-for-byte."""
    d = load_table(spark, "documents", sf_dir)
    pat = r"\b(dup|key|hash)\b"
    red = F.regexp_replace(F.col("text"), pat, "[MASK]")
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(pat)).cast("bigint").alias("n_redacted"),
        F.md5(red).alias("redacted_md5"),
        F.length(red).cast("bigint").alias("n_chars_after"),
    ).orderBy("doc_id")


@register(
    "q164_rolling_median",
    category="window",
    oracle="""
SELECT event_id,
       CAST(user_id AS BIGINT) AS user_id,
       quantile_cont(CAST(round(value * 100, 0) AS BIGINT), 0.5)
         OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS med_cents
FROM events
WHERE user_id < 64
ORDER BY event_id
""",
)
def q164_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median over a 1-hour event-time range frame — the
    robust-baseline smoother (sensor drift, request latency) that mean
    windows (q76) can't provide. `percentile(..., 0.5)` runs as a true
    window aggregate over the range frame; values move as integer cents
    so the only float is the final interpolated midpoint (k or k+.5 —
    exactly representable, so it hashes across engines). One shuffle on
    user_id; frames never cross partitions."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 64)
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return (
        ev.select(
            "event_id",
            F.col("user_id").cast("bigint").alias("user_id"),
            F.percentile(cents, F.lit(0.5)).over(w).alias("med_cents"),
        )
        .orderBy("event_id")
    )


@register(
    "q165_mixture_rebalance",
    category="sampling",
    oracle="""
WITH c AS (SELECT source, count(*) AS n_orig FROM documents GROUP BY source),
t AS (SELECT sum(n_orig) AS total, count(*) AS ns FROM c),
r AS (
  SELECT source, n_orig,
         least(CAST(1.0 AS DOUBLE), (total / CAST(ns AS DOUBLE)) / n_orig) AS rate
  FROM c, t
),
s AS (
  SELECT d.source, count(*) AS n_sampled
  FROM documents d JOIN r ON d.source = r.source
  WHERE CAST(('0x' || substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          / 4294967296.0 < r.rate
  GROUP BY d.source
)
SELECT r.source,
       CAST(r.n_orig AS BIGINT) AS n_orig,
       CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled
FROM r LEFT JOIN s ON r.source = s.source
ORDER BY r.source
""",
)
def q165_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing: downsample over-represented sources toward
    a uniform per-source target (the data-mixing step that sets corpus
    proportions before training). Per-source rates are computed from
    one tiny aggregate (broadcast back — never a driver round-trip),
    and membership is the portable md5 lottery, so the SAME documents
    are kept on any engine or cluster size. The n_orig/n_sampled audit
    is what a mixture spec review signs off on."""
    d = load_table(spark, "documents", sf_dir)
    # the source census (source-cardinality rows, tiny) feeds the
    # total, the rate table and the final report — pinned, along with
    # the derived rate table (2 consumers), so documents is scanned
    # exactly twice (census + sampling pass; two passes are inherent —
    # rates depend on the counts) instead of r5's five scans.
    c = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_orig"))
        .transform(pin)
    )
    t = c.agg(F.sum("n_orig").alias("total"), F.count(F.lit(1)).alias("ns"))
    r = (
        c.crossJoin(F.broadcast(t))
        .select(
            "source",
            "n_orig",
            F.least(
                F.lit(1.0), (F.col("total") / F.col("ns").cast("double")) / F.col("n_orig")
            ).alias("rate"),
        )
        .transform(pin)
    )
    u = word_hash32(F.col("doc_id").cast("string"), seed=13) / F.lit(4294967296.0)
    s = (
        d.join(F.broadcast(r.select("source", "rate")), "source")
        .filter(u < F.col("rate"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return (
        r.join(s, "source", "left")
        .select(
            "source",
            F.col("n_orig").cast("bigint").alias("n_orig"),
            F.coalesce(F.col("n_sampled"), F.lit(0)).cast("bigint").alias("n_sampled"),
        )
        .orderBy("source")
    )


@register(
    "q166_cdc_compaction",
    category="cdc",
    oracle="""
WITH log AS (
  SELECT o_custkey AS key, o_orderdate AS seq_ts, o_orderkey AS seq_id,
         CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS new_bal_cents
  FROM orders
),
latest AS (
  SELECT key, op, new_bal_cents
  FROM (SELECT *, row_number() OVER (PARTITION BY key
                                     ORDER BY seq_ts DESC, seq_id DESC) AS rk
        FROM log)
  WHERE rk = 1
),
applied AS (
  SELECT c.c_custkey AS key,
         CASE WHEN l.key IS NULL THEN 'kept'
              WHEN l.op = 'D'    THEN 'deleted'
              ELSE 'updated' END AS status,
         CASE WHEN l.key IS NULL THEN CAST(round(c.c_acctbal * 100, 0) AS BIGINT)
              ELSE l.new_bal_cents END AS bal_cents
  FROM customer c LEFT JOIN latest l ON c.c_custkey = l.key
)
SELECT status,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN status = 'deleted' THEN 0 ELSE bal_cents END) AS BIGINT)
         AS surviving_cents
FROM applied GROUP BY status ORDER BY status
""",
)
def q166_cdc_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-changelog compaction + apply with delete tombstones: the
    orders feed is read as a CDC log (latest op per customer wins;
    o_orderkey % 10 == 0 rows are tombstones), compacted with one
    per-key window, and applied to the customer snapshot. q90 covers
    additive MERGE; this is the OTHER half of CDC — ordering and
    deletes — which is exactly what log-compaction in a lakehouse
    ingest does. Compaction and apply share the key, so AQE chains the
    window shuffle into the join without a second wide exchange."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    log = o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("seq_ts"),
        F.col("o_orderkey").alias("seq_id"),
        F.when(F.col("o_orderkey") % 10 == 0, "D").otherwise("U").alias("op"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("new_bal_cents"),
    )
    w = Window.partitionBy("key").orderBy(F.col("seq_ts").desc(), F.col("seq_id").desc())
    latest = log.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    applied = c.join(latest, c.c_custkey == latest.key, "left").select(
        F.when(F.col("key").isNull(), "kept")
        .when(F.col("op") == "D", "deleted")
        .otherwise("updated")
        .alias("status"),
        F.when(
            F.col("key").isNull(), F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
        )
        .otherwise(F.col("new_bal_cents"))
        .alias("bal_cents"),
    )
    return (
        applied.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("status") == "deleted", 0).otherwise(F.col("bal_cents")))
            .cast("bigint")
            .alias("surviving_cents"),
        )
        .orderBy("status")
    )


_DUCK_COSINE = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


# banded sign-LSH candidate predicate, replayed exactly in SQL (the
# q150 pattern): a pair is a candidate iff the two raw float32 vectors
# agree on every sign bit of at least one of the 3 disjoint 4-bit bands
_Q167_BAND_SQL = " OR ".join(
    "("
    + " AND ".join(
        f"(a.raw[{b * 4 + i + 1}] > 0) = (b.raw[{b * 4 + i + 1}] > 0)" for i in range(4)
    )
    + ")"
    for b in range(3)
)


@register(
    "q167_triangle_count",
    category="dedup",
    oracle=f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         embedding AS raw
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
  WHERE ({_Q167_BAND_SQL})
    AND {_DUCK_COSINE.format(a="a.v", b="b.v")} >= CAST(0.4 AS DOUBLE)
),
tri AS (
  SELECT p1.id_a AS a, p1.id_b AS b, p2.id_b AS c
  FROM pairs p1
  JOIN pairs p2 ON p2.id_a = p1.id_b
  JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b
)
SELECT CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_edges,
       CAST(count(*) AS BIGINT)                     AS n_triangles
FROM tri
""",
)
def q167_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the near-dup graph — the graph-density
    audit that tells you whether near-dup clusters are cliques (true
    duplicates) or chains (drifting text; lower triangle/edge ratio).

    The graph's edges are the PRODUCTION near-dup pairs: the banded
    sign-LSH default of ``embedding_neardup_pairs`` — the same edge set
    a 100 TB curation run would build (q150 audits its recall against
    the exact all-pairs baseline; q50 IS that baseline). Round 5's form
    used ``exact=True`` here, contradicting the repo's own doctrine
    that exact all-pairs is an audit path, not a production path, and —
    worse — re-derived the O(n²·dim) blocked product FOUR times
    (p1/p2/p3 + the count, 6 embeddings scans, no pin). Now the edge
    list is banded AND pinned: one
    candidate-generation pass total, and the triangle join reads the
    pinned ~edge-sized frame. The oracle replays the band-agreement
    predicate as a pure boolean over the raw float32 signs (the q150
    pattern), so the approximate graph is still exactly checkable.
    Edges enumerate a < b < c once via two ordered self-joins on the
    (tiny relative to the corpus) edge list; at scale this is the
    standard two-shuffle sort-merge triangle join, never touching the
    documents themselves."""
    from sensor_data_pipeline_spark.operators.similarity import embedding_neardup_pairs

    emb = load_table(spark, "embeddings", sf_dir)
    pairs = (
        embedding_neardup_pairs(emb, threshold=0.4)
        .select("id_a", "id_b")
        .transform(pin)
    )
    p1 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    p2 = pairs.select(F.col("id_a").alias("b2"), F.col("id_b").alias("c"))
    p3 = pairs.select(F.col("id_a").alias("a3"), F.col("id_b").alias("c3"))
    tri = (
        p1.join(p2, F.col("b") == F.col("b2"))
        .join(p3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
    )
    n_edges = pairs.count()
    return tri.agg(
        F.lit(n_edges).cast("bigint").alias("n_edges"),
        F.count(F.lit(1)).cast("bigint").alias("n_triangles"),
    )


# count-min sketch geometry: 4 independent rows of 64 buckets
CMS_DEPTH = 4
CMS_WIDTH = 64


@register(
    "q168_countmin_calibration",
    category="sketch",
    oracle=f"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents
),
exact AS (SELECT w, count(*) AS true_cnt FROM tok GROUP BY w),
vh AS (
  SELECT e.w, d.range AS i,
         CAST(('0x' || substr(md5((100 + d.range) || ':' || e.w), 1, 8)) AS BIGINT)
           % {CMS_WIDTH} AS bucket
  FROM exact e, range(0, {CMS_DEPTH}) d
),
cms AS (
  SELECT vh.i, vh.bucket, sum(e.true_cnt) AS cnt
  FROM vh JOIN exact e ON vh.w = e.w
  GROUP BY vh.i, vh.bucket
),
est AS (
  SELECT vh.w, min(cms.cnt) AS est_cnt
  FROM vh JOIN cms ON cms.i = vh.i AND cms.bucket = vh.bucket
  GROUP BY vh.w
)
SELECT CAST(count(*) AS BIGINT)                         AS n_words,
       CAST(sum(CASE WHEN est_cnt = true_cnt THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(max(est_cnt - true_cnt) AS BIGINT)          AS max_overestimate,
       CAST(sum(est_cnt - true_cnt) AS BIGINT)          AS total_overestimate
FROM est JOIN exact ON est.w = exact.w
""",
)
def q168_countmin_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch calibration: build a 4x64 CMS over the token
    stream with the portable hash family, read back every word's
    estimate (min over rows), and audit overestimation against exact
    counts — the same est-vs-exact audit discipline as q86 (MinHash)
    and q93 (IVF recall). CMS is THE mergeable frequency sketch for
    100 TB streams: the 4x64 integer grid is map-side combinable,
    mergeable across shards/days, and here it is computed exactly,
    deterministically, on both engines (CMS never undercounts, so
    max_overestimate >= 0 always)."""
    d = load_table(spark, "documents", sf_dir)
    tok = d.select(F.explode(tokenize(F.col("text"))).alias("w"))
    depths = F.array(*[F.lit(i) for i in range(CMS_DEPTH)])
    # one word-count pass over the token stream, then everything else is
    # vocab-sized: hash each DISTINCT word per depth (|V| x 4 md5 calls,
    # not |tokens| x 4) and weight buckets by the exact counts — the
    # occurrence-level sketch ingest and this formulation are identical
    # by construction, but the md5 work drops by the corpus/vocab ratio
    exact = tok.groupBy("w").agg(F.count(F.lit(1)).alias("true_cnt"))
    vocab_hashed = exact.withColumn("i", F.explode(depths)).withColumn(
        "bucket",
        F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(F.col("i") + 100, F.lit(":"), F.col("w"))), 1, 8),
                16,
                10,
            ).cast("bigint"),
            F.lit(CMS_WIDTH),
        ),
    )
    cms = vocab_hashed.groupBy("i", "bucket").agg(F.sum("true_cnt").alias("cnt"))
    est = (
        vocab_hashed.join(F.broadcast(cms), ["i", "bucket"])
        .groupBy("w")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return est.join(exact, "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.when(F.col("est_cnt") == F.col("true_cnt"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact"),
        F.max(F.col("est_cnt") - F.col("true_cnt")).cast("bigint").alias("max_overestimate"),
        F.sum(F.col("est_cnt") - F.col("true_cnt")).cast("bigint").alias("total_overestimate"),
    )


@register(
    "q169_compaction_audit",
    category="storage",
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(ceil(count(*) / 100.0) AS BIGINT) AS n_files
FROM documents
GROUP BY source ORDER BY source
""",
)
def q169_compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction audit: rewrite the corpus partitioned by
    source with a per-file record cap, then verify the produced layout
    from the _metadata column — files per partition must be exactly
    ceil(rows/cap). repartition("source") puts each source in ONE task
    before the partitioned write, so the writer (not task scheduling)
    determines file boundaries — the invariant that makes small-file
    compaction jobs reproducible. The same audit run against an
    UNcompacted layout is how a lakehouse finds directories needing
    compaction."""
    import re as _re

    from sensor_data_pipeline_spark.sources.warehouse import SCRATCH

    d = load_table(spark, "documents", sf_dir)
    tag = _re.sub(r"[^A-Za-z0-9_]+", "_", sf_dir).strip("_")
    path = f"{SCRATCH}/compaction/docs_{tag}"
    (
        d.repartition("source")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 100)
        .partitionBy("source")
        .parquet(path)
    )
    back = spark.read.parquet(path).select("source", F.col("_metadata.file_path").alias("fp"))
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("fp").cast("bigint").alias("n_files"),
        )
        .orderBy("source")
    )


# BPE-ish pre-tokenizer: contraction suffixes, space-prefixed letter
# runs, digit runs, punctuation runs — the GPT-2 pattern family minus
# lookaheads (Java regex and RE2 both run it identically)
BPE_PAT = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"
BPE_PAT_SQL = BPE_PAT.replace("'", "''")  # SQL string-literal escaping


@register(
    "q172_bpe_token_count",
    category="text",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{BPE_PAT_SQL}')) AS BIGINT) AS n_bpe,
       CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT)   AS n_ws,
       md5(array_to_string(list_slice(regexp_extract_all(text, '{BPE_PAT_SQL}'), 1, 32), chr(31)))
         AS head_md5
FROM documents
ORDER BY doc_id
""",
)
def q172_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization count: the GPT-2 pre-tokenizer regex
    family (contractions / space-prefixed word, number and punctuation
    runs, lookaheads removed so Java regex and RE2 agree) next to the
    whitespace count (q45) — the token-budget estimate a training
    pipeline actually bills by, since whitespace undercounts punctuation
    splits. Pure per-row codegen'd regex, no shuffle; the md5 of the
    first 32 tokens pins the SPLIT POSITIONS across engines, not just
    the count."""
    d = load_table(spark, "documents", sf_dir)
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_PAT), 0)
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_bpe"),
        F.size(tokenize(F.col("text"))).cast("bigint").alias("n_ws"),
        F.md5(F.array_join(F.slice(toks, 1, 32), "\x1f")).alias("head_md5"),
    ).orderBy("doc_id")


@register(
    "q173_corrupt_file_skip",
    category="source",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang ORDER BY lang
""",
)
def q173_corrupt_file_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-family resilience at the FILE level: a scan directory holding
    the real corpus plus a corrupt member (truncated bytes posing as
    parquet — the shard a flaky writer leaves behind in any 100 TB
    estate) must still serve the query. ignoreCorruptFiles is scoped to
    this read as a DataFrameReader OPTION (file-source options override
    the session conf per scan, so the engine default stays strict and
    no session state is ever mutated) — silently skipping corrupt data
    is an OPT-IN per scan, and the oracle proves the skip dropped only
    the corrupt file: the aggregate equals the clean table's. The
    returned frame is fully lazy (the r6 set/restore form had to
    collect() inside the conf scope and re-wrap the rows, hiding the
    scan from the plan digest — VERDICT r6 item 5)."""
    import os
    import re as _re

    from sensor_data_pipeline_spark.sources.warehouse import SCRATCH

    d = load_table(spark, "documents", sf_dir)
    tag = _re.sub(r"[^A-Za-z0-9_]+", "_", sf_dir).strip("_")
    path = f"{SCRATCH}/resilience/docs_{tag}"
    d.write.mode("overwrite").parquet(path)
    with open(os.path.join(path, "part-corrupt.parquet"), "wb") as fh:
        fh.write(b"PAR1 this is not a parquet file")
    return (
        spark.read.schema("doc_id long, text string, lang string, source string, n_chars long")
        .option("ignoreCorruptFiles", "true")
        .parquet(path)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang")
    )


@register(
    "q174_filter_funnel",
    category="quality",
    oracle="""
WITH feats AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(text, '\\s+')) AS ntok,
         len(list_distinct(regexp_split_to_array(text, '\\s+'))) AS ndis,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS npunct,
         length(text) AS nchar
  FROM documents
),
gated AS (
  SELECT CASE
           WHEN ntok < 16                                   THEN '1_too_short'
           WHEN npunct * 5 > nchar                          THEN '2_punct_heavy'
           WHEN ndis * 10 < ntok * 3                        THEN '3_repetitive'
           WHEN lang <> 'en'                                THEN '4_non_target_lang'
           ELSE '5_accepted'
         END AS stage
  FROM feats
)
SELECT stage, CAST(count(*) AS BIGINT) AS n_docs
FROM gated GROUP BY stage ORDER BY stage
""",
)
def q174_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel audit: the ordered gate cascade every
    corpus cleaning pipeline runs (length -> punctuation density ->
    repetition -> language), attributing each rejected document to the
    FIRST gate it fails — the attrition report that tells you which
    gate is eating your data before you ship a mixture. Ratio gates
    compare integer cross-products (npunct*5 > nchar, not
    npunct/nchar > 0.2) so no float ever enters the decision. One scan,
    one tiny aggregation; every feature is a codegen'd expression."""
    d = load_table(spark, "documents", sf_dir)
    w = tokenize(F.col("text"))
    feats = d.select(
        "lang",
        F.size(w).alias("ntok"),
        F.size(F.array_distinct(w)).alias("ndis"),
        F.length(F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", "")).alias("npunct"),
        F.length("text").alias("nchar"),
    )
    stage = (
        F.when(F.col("ntok") < 16, "1_too_short")
        .when(F.col("npunct") * 5 > F.col("nchar"), "2_punct_heavy")
        .when(F.col("ndis") * 10 < F.col("ntok") * 3, "3_repetitive")
        .when(F.col("lang") != "en", "4_non_target_lang")
        .otherwise("5_accepted")
    )
    return (
        feats.select(stage.alias("stage"))
        .groupBy("stage")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("stage")
    )


@register(
    "q175_cdc_chunk_dedup",
    category="dedup",
    oracle="""
WITH s AS (
  SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos
  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM documents)
),
tok AS (
  SELECT doc_id, ws[pos] AS w, pos FROM s
),
flagged AS (
  SELECT doc_id, w, pos,
         CASE WHEN CAST(('0x' || substr(md5('29:' || w), 1, 8)) AS BIGINT) % 8 = 0
              THEN 1 ELSE 0 END AS brk
  FROM tok
),
chunked AS (
  SELECT doc_id, w, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cid
  FROM flagged
),
chunks AS (
  SELECT doc_id, cid,
         md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5,
         CAST(count(*) AS BIGINT) AS chunk_toks
  FROM chunked GROUP BY doc_id, cid
),
shared AS (
  SELECT chunk_md5,
         CAST(count(*) AS BIGINT) AS n_copies,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(max(chunk_toks) AS BIGINT) AS chunk_toks
  FROM chunks GROUP BY chunk_md5 HAVING count(DISTINCT doc_id) > 1
)
SELECT CAST((SELECT count(*) FROM chunks) AS BIGINT) AS n_chunks,
       CAST(count(*) AS BIGINT)                      AS n_shared_chunks,
       CAST(COALESCE(sum(n_copies), 0) AS BIGINT)    AS n_shared_copies,
       CAST(COALESCE(sum(chunk_toks * (n_copies - 1)), 0) AS BIGINT) AS dup_tokens_removable
FROM shared
""",
)
def q175_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup: chunk boundaries fall where the
    portable token hash hits 0 mod 8 (the word-granular analog of a
    Rabin rolling-hash cut), so INSERTING text into a document shifts
    chunk CONTENTS but not the boundaries elsewhere — exactly what
    fixed-size blocks (q137) cannot do. Cross-document identical chunks
    are then found by one hash groupBy, and dup_tokens_removable prices
    the dedup win. Per-doc windows partition by doc_id (no global
    window); the chunk table shuffles once on the chunk hash."""
    d = load_table(spark, "documents", sf_dir)
    tok = d.select("doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "w"))
    flagged = tok.withColumn(
        "brk",
        F.when(F.pmod(word_hash32(F.col("w"), seed=29), F.lit(8)) == 0, 1).otherwise(0),
    )
    w_doc = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = flagged.withColumn("cid", F.sum("brk").over(w_doc))
    chunks = (
        chunked.groupBy("doc_id", "cid")
        .agg(
            F.md5(F.concat_ws(" ", F.array_sort(F.collect_list(F.struct("pos", "w"))).getField("w"))).alias("chunk_md5"),
            F.count(F.lit(1)).cast("bigint").alias("chunk_toks"),
        )
    )
    n_chunks = chunks.count()
    shared = (
        chunks.groupBy("chunk_md5")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.max("chunk_toks").cast("bigint").alias("chunk_toks"),
        )
        .filter(F.col("n_docs") > 1)
    )
    return shared.agg(
        F.lit(n_chunks).cast("bigint").alias("n_chunks"),
        F.count(F.lit(1)).cast("bigint").alias("n_shared_chunks"),
        F.coalesce(F.sum("n_copies"), F.lit(0)).cast("bigint").alias("n_shared_copies"),
        F.coalesce(F.sum(F.col("chunk_toks") * (F.col("n_copies") - 1)), F.lit(0))
        .cast("bigint")
        .alias("dup_tokens_removable"),
    )


@register(
    "q176_kmv_sketch_merge",
    category="sketch",
    oracle="""
WITH hashed AS (
  SELECT DISTINCT event_type,
         ((user_id % 2147483648) * 2654435761) % 2147483648 AS h
  FROM events
),
per_group AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashed
),
sketches AS (SELECT event_type, h FROM per_group WHERE rn <= 64),
merged AS (
  SELECT h, row_number() OVER (ORDER BY h) AS rn
  FROM (SELECT DISTINCT h FROM sketches)
),
kth AS (
  SELECT CAST(max(h) AS BIGINT) AS h_k, CAST(count(*) AS BIGINT) AS k_used
  FROM merged WHERE rn <= 64
),
exact AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events)
SELECT e.n_exact,
       CAST((SELECT count(*) FROM sketches) AS BIGINT) AS n_sketch_rows,
       k.h_k,
       CASE WHEN k.k_used < 64 THEN CAST(k.k_used AS DOUBLE)
            ELSE (64 - 1) * CAST(2147483648 AS DOUBLE) / k.h_k END AS est_distinct
FROM exact e, kth k
""",
)
def q176_kmv_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch MERGE: build one 64-value sketch per event_type
    (q156's per-group form), then merge the five sketches into a
    global distinct-user estimate by keeping the 64 smallest of the
    union — the property that makes per-shard/per-day sketches
    composable without ever re-touching the raw data. The merge input
    is k x groups rows (320 here; 320 on a thousand shards of 100 TB
    too — that is the point), and the k-smallest-of-union-of-k-smallest
    identity means the merged estimate EQUALS the single-pass global
    sketch, which the exact count audits."""
    e = load_table(spark, "events", sf_dir)
    h = ((F.col("user_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(2147483648)
    hashed = e.select("event_type", h.alias("h")).distinct()
    wg = Window.partitionBy("event_type").orderBy("h")
    sketches = hashed.withColumn("rn", F.row_number().over(wg)).filter(F.col("rn") <= 64)
    n_sketch_rows = sketches.count()
    # merge: k smallest distinct hash values across all per-group sketches.
    # The merge input is k*groups rows, so the single-partition sort is a
    # constant-size reduction, not a data-sized global window.
    wm = Window.orderBy("h")
    merged = (
        sketches.select("h")
        .distinct()
        .withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") <= 64)
        .agg(F.max("h").cast("bigint").alias("h_k"), F.count(F.lit(1)).cast("bigint").alias("k_used"))
    )
    exact = e.agg(F.count_distinct("user_id").cast("bigint").alias("n_exact"))
    est = F.when(F.col("k_used") < 64, F.col("k_used").cast("double")).otherwise(
        (64 - 1) * F.lit(2147483648.0) / F.col("h_k")
    )
    return (
        exact.crossJoin(merged)
        .select(
            "n_exact",
            F.lit(n_sketch_rows).cast("bigint").alias("n_sketch_rows"),
            "h_k",
            est.alias("est_distinct"),
        )
    )


@register(
    "q177_embedding_drift",
    category="similarity",
    oracle="""
WITH s AS (
  SELECT vec_id % 2 AS half, label, embedding AS v,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings
),
comp AS (
  SELECT half, label, pos,
         CAST(floor(CAST(v[pos] AS DOUBLE) * 1048576.0) AS BIGINT) AS c
  FROM s
),
agg AS (
  SELECT label, pos,
         sum(CASE WHEN half = 0 THEN c ELSE 0 END) AS s0,
         sum(CASE WHEN half = 1 THEN c ELSE 0 END) AS s1,
         sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n0,
         sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n1
  FROM comp GROUP BY label, pos
)
SELECT label,
       CAST(min(n0) AS BIGINT) AS n0,
       CAST(min(n1) AS BIGINT) AS n1,
       CAST(sum(abs(s0 * n1 - s1 * n0)) AS BIGINT) AS drift_scaled
FROM agg GROUP BY label ORDER BY label
""",
)
def q177_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding distribution drift monitor: per-label centroid shift
    between two corpus halves (the refresh-vs-baseline comparison a
    training pipeline runs when a new crawl lands). Everything is
    EXACT integer arithmetic: components scale by floor(x * 2^20) —
    the product of a float32 and a power of two is exact in doubles,
    and floor is engine-unambiguous (unlike round-half), so the
    per-dimension sums commute under any partial-aggregation order.
    The drift statistic |s0*n1 - s1*n0| is the cross-multiplied
    centroid difference, never a float division. One explode + one
    (label, dim)-keyed aggregation, map-side combinable — the same
    plan at 2k or 2B vectors."""
    emb = load_table(spark, "embeddings", sf_dir)
    s = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        "label",
        F.posexplode(F.col("embedding")).alias("pos", "x"),
    )
    comp = s.select(
        "half",
        "label",
        "pos",
        F.floor(F.col("x").cast("double") * 1048576.0).cast("bigint").alias("c"),
    )
    agg = comp.groupBy("label", "pos").agg(
        F.sum(F.when(F.col("half") == 0, F.col("c")).otherwise(0)).alias("s0"),
        F.sum(F.when(F.col("half") == 1, F.col("c")).otherwise(0)).alias("s1"),
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n1"),
    )
    return (
        agg.groupBy("label")
        .agg(
            F.min("n0").cast("bigint").alias("n0"),
            F.min("n1").cast("bigint").alias("n1"),
            F.sum(F.abs(F.col("s0") * F.col("n1") - F.col("s1") * F.col("n0")))
            .cast("bigint")
            .alias("drift_scaled"),
        )
        .orderBy("label")
    )


@register(
    "q178_median_twopass",
    category="aggregation",
    oracle="""
WITH cents AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS c FROM events
),
counts AS (SELECT c, count(*) AS n FROM cents GROUP BY c),
scanned AS (
  SELECT c, n, sum(n) OVER (ORDER BY c) AS cum FROM counts
),
tot AS (SELECT sum(n) AS total FROM counts)
SELECT CAST((SELECT total FROM tot) AS BIGINT) AS n_rows,
       CAST(min(c) AS BIGINT) AS median_cents
FROM scanned, tot
WHERE cum >= (total + 1) // 2
""",
)
def q178_median_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global median by counting, not sorting: aggregate counts
    per distinct value (one map-side-combinable shuffle, output sized
    by CARDINALITY not row count), prefix-scan the counts with the
    range-partitioned operator, and select the value whose cumulative
    count crosses n/2. `ORDER BY value LIMIT/OFFSET` or a global
    row_number would funnel 100 TB through one task; this plan's only
    ordered structure is the distinct-value count table. Lower-median
    convention ((n+1)//2) keeps the answer integer-exact."""
    ev = load_table(spark, "events", sf_dir)
    cents = ev.select(F.round(F.col("value") * 100, 0).cast("bigint").alias("c"))
    counts = cents.groupBy("c").agg(F.count(F.lit(1)).alias("n"))
    scanned = global_running_sum(counts, "c", "n", out_col="cum")
    total = counts.agg(F.sum("n").alias("total"))
    k = (F.col("total") + 1) / 2  # lower median rank; cum/total are bigints
    return (
        scanned.crossJoin(F.broadcast(total))
        .filter(F.col("cum") >= F.floor(k))
        .agg(
            F.max("total").cast("bigint").alias("n_rows"),
            F.min("c").cast("bigint").alias("median_cents"),
        )
    )


@register(
    "q179_table_checksum",
    category="audit",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(('0x' || substr(md5(
              CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' ||
              o_orderstatus || '|' || CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR)
            ), 1, 8)) AS BIGINT)) AS BIGINT) AS checksum
FROM orders
""",
)
def q179_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint: sum of a portable per-row
    hash over the business columns — the anti-entropy check two
    replicas (or a migration source/target) compare without moving
    data. Addition commutes, so ANY partitioning/merge order yields
    the same 8-byte digest, and the bigint sum of 32-bit hashes cannot
    overflow below ~2^33 rows per partition aggregate. This is also
    exactly how this repo's own oracle gate canonicalizes results —
    the engine eating its own dog food as a declared operator."""
    o = load_table(spark, "orders", sf_dir)
    row_repr = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
    )
    h = F.conv(F.substring(F.md5(row_repr), 1, 8), 16, 10).cast("bigint")
    return o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(h).cast("bigint").alias("checksum"),
    )


@register(
    "q181_interval_overlap_join",
    category="join",
    oracle="""
WITH iv AS (
  SELECT l_partkey AS pk,
         l_orderkey * 8 + l_linenumber AS k,
         date_diff('day', DATE '1992-01-01', l_shipdate) AS s,
         date_diff('day', DATE '1992-01-01', l_shipdate)
           + 1 + (l_orderkey * 7 + l_linenumber * 3) % 30 AS e
  FROM lineitem WHERE l_partkey % 20 = 0
)
SELECT a.pk AS l_partkey,
       CAST(count(*) AS BIGINT) AS n_overlap_pairs
FROM iv a JOIN iv b
  ON a.pk = b.pk AND a.k < b.k
 AND a.s <= b.e AND b.s <= a.e
GROUP BY a.pk
ORDER BY l_partkey
""",
)
def q181_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-interval OVERLAP join via grid bucketing — the third
    member of the temporal-join family (as-of = nearest, q55 = point in
    interval, this = interval x interval). Each transit interval
    [shipdate, receiptdate] is replicated into the 32-day grid cells it
    touches (bounded: TPC-H transit is <= 30 days, so <= 2 cells); pair
    candidates form ONLY inside a (part, cell) bucket — the spatial-
    join-via-grid pattern that replaces the oracle's quadratic theta
    self-join with a linear equi-join shuffle. Pairs straddling two
    shared cells are deduped by key before counting, so grid placement
    never changes the answer."""
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_partkey") % 20 == 0)
    # the reduced fixture schema has no l_receiptdate; transit length is
    # derived deterministically (1..30 days), mirrored in the oracle
    s = F.datediff(F.col("l_shipdate"), F.lit("1992-01-01"))
    iv = li.select(
        F.col("l_partkey").alias("pk"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("k"),
        s.alias("s"),
        (s + 1 + (F.col("l_orderkey") * 7 + F.col("l_linenumber") * 3) % 30).alias("e"),
    )
    cells = iv.withColumn(
        "cell", F.explode(F.sequence(F.floor(F.col("s") / 32), F.floor(F.col("e") / 32)))
    )
    a = cells.select(
        F.col("pk"), F.col("cell"), F.col("k").alias("k_a"), F.col("s").alias("s_a"), F.col("e").alias("e_a")
    )
    b = cells.select(
        F.col("pk"), F.col("cell"), F.col("k").alias("k_b"), F.col("s").alias("s_b"), F.col("e").alias("e_b")
    )
    pairs = (
        a.join(b, ["pk", "cell"])
        .filter(
            (F.col("k_a") < F.col("k_b"))
            & (F.col("s_a") <= F.col("e_b"))
            & (F.col("s_b") <= F.col("e_a"))
        )
        .select("pk", "k_a", "k_b")
        .distinct()  # a pair sharing two grid cells must count once
    )
    return (
        pairs.groupBy(F.col("pk").alias("l_partkey"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap_pairs"))
        .orderBy("l_partkey")
    )


@register(
    "q182_zipf_slope",
    category="text",
    oracle="""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents
),
vocab AS (SELECT w, count(*) AS freq FROM tok GROUP BY w),
ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, w) AS rk FROM vocab
),
pts AS (
  SELECT ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
  FROM ranked WHERE rk <= 1000
),
sums AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_points,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope
FROM sums
""",
)
def q182_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf diagnostic: OLS slope of log-frequency vs log-rank over the
    top-1000 vocabulary — natural text sits near -1, and a corpus that
    drifts from its fitted slope after a pipeline change signals
    skewed dedup or template contamination. The vocab count is one
    map-side-combinable shuffle; the rank window sorts only the
    frequency table; the regression is a single tiny aggregate rounded
    to 4 dp on both engines (the q80/q159 float-determinism pattern)."""
    d = load_table(spark, "documents", sf_dir)
    tok = d.select(F.explode(tokenize(F.col("text"))).alias("w"))
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    wr = Window.orderBy(F.col("freq").desc(), "w")
    ranked = vocab.withColumn("rk", F.row_number().over(wr)).filter(F.col("rk") <= 1000)
    pts = ranked.select(
        F.log(F.col("rk").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("n").cast("bigint").alias("n_points"),
        F.round(slope, 4).alias("zipf_slope"),
    )


@register(
    "q184_argmax_single_pass",
    category="aggregation",
    oracle="""
WITH t AS (
  SELECT event_type, event_id,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
)
SELECT event_type,
       CAST(max(cents) AS BIGINT) AS max_cents,
       CAST(arg_max(event_id, cents * 1099511627776 + event_id) AS BIGINT)
         AS argmax_event
FROM t GROUP BY event_type ORDER BY event_type
""",
)
def q184_argmax_single_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass argmax: max_by/arg_max is a PARTIAL-AGGREGABLE
    reduction — each map task keeps one candidate per group and the
    shuffle moves one row per (task, group), where q119's window form
    must shuffle every aggregate row before ranking. The ordering key
    composes (cents << 40) + event_id so ties are broken by the larger
    event_id DETERMINISTICALLY on both engines (bare max_by on a tied
    key is engine- and order-dependent — the trap this query's oracle
    would catch). The composed key stays far below 2^63 for any scale
    factor whose event_id fits 40 bits."""
    ev = load_table(spark, "events", sf_dir)
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    t = ev.select("event_type", "event_id", cents.alias("cents"))
    key = F.col("cents") * F.lit(1099511627776) + F.col("event_id")
    return (
        t.groupBy("event_type")
        .agg(
            F.max("cents").cast("bigint").alias("max_cents"),
            F.max_by("event_id", key).cast("bigint").alias("argmax_event"),
        )
        .orderBy("event_type")
    )


@register(
    "q185_dup_provenance_matrix",
    category="dedup",
    oracle="""
WITH fp AS (
  SELECT doc_id, md5(substr(text, 1, 64)) AS f, source FROM documents
),
pairs AS (
  SELECT least(a.source, b.source)    AS source_a,
         greatest(a.source, b.source) AS source_b
  FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
)
SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_dup_pairs
FROM pairs GROUP BY source_a, source_b
ORDER BY source_a, source_b
""",
)
def q185_dup_provenance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-provenance matrix: which SOURCE PAIRS share the same
    document OPENING (64-char prefix fingerprint — the boilerplate/
    template detector; the fixture has no byte-identical full texts,
    and a full-text key degenerates to an empty audit) — the forensic
    view behind a dedup report ("mirror sites", "the same dump
    ingested twice", "intra-source boilerplate"). The self-join runs
    on the fingerprint key, so pair generation is bounded by
    duplicate-group sizes, never a corpus cross-join; the symmetric
    (least, greatest) fold halves the matrix deterministically."""
    d = load_table(spark, "documents", sf_dir)
    fp = d.select("doc_id", F.md5(F.substring("text", 1, 64)).alias("f"), "source")
    a = fp.select(F.col("f"), F.col("doc_id").alias("id_a"), F.col("source").alias("src_a"))
    b = fp.select(F.col("f"), F.col("doc_id").alias("id_b"), F.col("source").alias("src_b"))
    pairs = a.join(b, "f").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"))
        .orderBy("source_a", "source_b")
    )


@register(
    "q186_char_trigram_profile",
    category="text",
    oracle="""
WITH s AS (
  SELECT lang, lower(text) AS t, unnest(range(1, length(text) - 1)) AS i
  FROM documents
),
tri AS (
  SELECT lang, substr(t, i, 3) AS g FROM s
),
counted AS (
  SELECT lang, g, count(*) AS n FROM tri GROUP BY lang, g
),
ranked AS (
  SELECT lang, g, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, g) AS rk
  FROM counted
)
SELECT lang, CAST(rk AS BIGINT) AS rk, g, CAST(n AS BIGINT) AS n
FROM ranked WHERE rk <= 5
ORDER BY lang, rk
""",
)
def q186_char_trigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-trigram profile (top-5): the TRAINING
    side of n-gram language ID — q47 scores documents against known
    profiles, this builds the profiles from labeled data. Trigram
    extraction rides ONE JVM regex pass per document
    (`regexp_extract_all` with a zero-width lookahead capturing 3
    chars at every position); the count is one map-side-combinable
    shuffle keyed (lang, gram) and the rank window sorts only the
    per-language gram table. Ties break on the gram itself, so the
    profile is engine-independent.

    Scale shape: the per-character work is the irreducible cost of an
    exact full-corpus profile, so the constant factor is the whole
    game. The first form built a per-doc gram ARRAY with a transform
    lambda — higher-order lambdas evaluate on the INTERPRETED
    expression path, and the array materialized ~16 bytes of object
    header per 3-char gram before the explode: 542s / 12.05x at the
    sf10 decade. The regex pass stays inside codegen'd string ops and
    streams matches straight into the explode: 22.4s -> 4.55s at sf1
    (identical 25-row result), 1.60x at the sf10 decade (was 12.05x).
    The lookahead is Spark-side only — the DuckDB oracle keeps its
    positional substr form (RE2 has no lookahead), which also pins
    the semantics for sub-3-char docs (empty, matching the regex)."""
    d = load_table(spark, "documents", sf_dir)
    tri = d.select(
        "lang",
        F.explode(
            F.expr(r"regexp_extract_all(lower(text), '(?s)(?=(.{3}))', 1)")
        ).alias("g"),
    )
    counted = tri.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "g")
    return (
        counted.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 5)
        .select("lang", "rk", "g", F.col("n").cast("bigint"))
        .orderBy("lang", "rk")
    )


@register(
    "q187_wilson_quality_gate",
    category="corpus",
    oracle="""
WITH feats AS (
  SELECT source,
         CASE WHEN len(regexp_split_to_array(text, '\\s+')) >= 16
               AND length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 5
                   <= length(text)
              THEN 1 ELSE 0 END AS ok
  FROM documents
),
rates AS (
  SELECT source, CAST(sum(ok) AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n
  FROM feats GROUP BY source
)
SELECT source, k, n,
       ((k / CAST(n AS DOUBLE)) + 1.9208 / n
         - 1.96 * sqrt(((k / CAST(n AS DOUBLE)) * (1 - k / CAST(n AS DOUBLE)) + 0.9604 / n) / n))
         / (1 + 3.8416 / n) AS wilson_lower
FROM rates
ORDER BY source
""",
)
def q187_wilson_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source ranking by Wilson lower confidence bound on the pass
    rate of a quality gate — the small-sample-corrected score that
    stops a 3-for-3 source outranking a 9,500-for-10,000 one. The
    bound is a closed-form expression of the integer (k, n) pair using
    only IEEE-correctly-rounded ops (+,-,*,/,sqrt), so both engines
    produce bit-identical doubles with NO rounding crutch — the gate
    arithmetic itself is the differential test. One scan, one tiny
    aggregation."""
    d = load_table(spark, "documents", sf_dir)
    w = tokenize(F.col("text"))
    ok = (
        (F.size(w) >= 16)
        & (F.length(F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", "")) * 5 <= F.length("text"))
    ).cast("int")
    rates = d.select("source", ok.alias("ok")).groupBy("source").agg(
        F.sum("ok").cast("bigint").alias("k"), F.count(F.lit(1)).cast("bigint").alias("n")
    )
    p = F.col("k") / F.col("n").cast("double")
    z2, z = 3.8416, 1.96
    wilson = (p + (z2 / 2) / F.col("n") - z * F.sqrt((p * (1 - p) + (z2 / 4) / F.col("n")) / F.col("n"))) / (
        1 + z2 / F.col("n")
    )
    return rates.select("source", "k", "n", wilson.alias("wilson_lower")).orderBy("source")


@register(
    "q188_schema_drift_audit",
    category="storage",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT)  AS n_rows,
       CAST(count(*) FILTER (WHERE source IS NOT NULL) AS BIGINT) AS n_with_source,
       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_chars
FROM (
  SELECT lang, source, n_chars FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT lang, NULL AS source, n_chars FROM documents WHERE doc_id % 2 = 1
)
GROUP BY lang ORDER BY lang
""",
)
def q188_schema_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift ON DISK: two generations of a feed land in one
    directory — generation A with the full schema, generation B
    written BEFORE the `source` column existed — and a mergeSchema
    read must serve the union with nulls where history has no answer.
    q126 pins in-memory unionByName evolution; this pins the parquet-
    footer merge path (the one a 100 TB lake actually exercises,
    since old files are never rewritten). The per-column null audit is
    the drift report a feed owner reads."""
    import re as _re

    from sensor_data_pipeline_spark.sources.warehouse import SCRATCH

    d = load_table(spark, "documents", sf_dir)
    tag = _re.sub(r"[^A-Za-z0-9_]+", "_", sf_dir).strip("_")
    path = f"{SCRATCH}/drift/docs_{tag}"
    gen_a = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "source", "n_chars")
    gen_b = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "lang", "n_chars")
    gen_a.write.mode("overwrite").parquet(f"{path}/gen=a")
    gen_b.write.mode("overwrite").parquet(f"{path}/gen=b")
    back = spark.read.option("mergeSchema", "true").option("recursiveFileLookup", "true").parquet(path)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count("source").cast("bigint").alias("n_with_source"),
            F.sum(F.when(F.col("n_chars").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_missing_chars"),
        )
        .orderBy("lang")
    )


@register(
    "q189_log2_histogram",
    category="aggregation",
    oracle="""
WITH c AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE value > 0
)
SELECT event_type,
       CAST(length(bin(cents)) AS BIGINT) AS log2_bin,
       CAST(count(*) AS BIGINT) AS n
FROM c GROUP BY event_type, log2_bin
ORDER BY event_type, log2_bin
""",
)
def q189_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two (log-scale) histogram with EXACT integer binning:
    the bin is the bit length of the integer value — computed as the
    length of its binary-string representation, never floor(ln(x)/
    ln(2)), whose not-correctly-rounded libm logs flip bins at exact
    powers of two differently per engine. Log-scale histograms are the
    right shape for long-tailed size/latency columns, and this one is
    a single map-side-combinable aggregation."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("value") > 0)
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    log2_bin = F.length(F.conv(cents, 10, 2)).cast("bigint")
    return (
        ev.select("event_type", log2_bin.alias("log2_bin"))
        .groupBy("event_type", "log2_bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("event_type", "log2_bin")
    )


@register(
    "q190_group_quantiles_by_counting",
    category="aggregation",
    oracle="""
WITH counts AS (
  SELECT source, n_chars AS c, count(*) AS n
  FROM documents GROUP BY source, n_chars
),
scanned AS (
  SELECT source, c, n,
         sum(n) OVER (PARTITION BY source ORDER BY c) AS cum,
         sum(n) OVER (PARTITION BY source) AS tot
  FROM counts
)
SELECT source,
       CAST(min(tot) AS BIGINT) AS n_docs,
       CAST(min(CASE WHEN cum >= ceil(0.5 * tot)  THEN c END) AS BIGINT) AS p50,
       CAST(min(CASE WHEN cum >= ceil(0.9 * tot)  THEN c END) AS BIGINT) AS p90,
       CAST(min(CASE WHEN cum >= ceil(0.99 * tot) THEN c END) AS BIGINT) AS p99
FROM scanned GROUP BY source ORDER BY source
""",
)
def q190_group_quantiles_by_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantile grid (p50/p90/p99, lower-quantile) by
    counting — the q178 selection generalized to a grid: the shuffle
    carries one row per DISTINCT (group, value), the cumulative window
    runs over that cardinality-sized table partitioned by group, and
    each quantile is a conditional-min over the scan. Built-in
    `percentile` (q60) buffers every raw value per group; this shape's
    state is bounded by value cardinality — the difference between
    fitting and not fitting at 100 TB on a skewed long-tail column."""
    d = load_table(spark, "documents", sf_dir)
    counts = d.groupBy("source", F.col("n_chars").alias("c")).agg(F.count(F.lit(1)).alias("n"))
    wc = Window.partitionBy("source").orderBy("c").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wt = Window.partitionBy("source")
    scanned = counts.withColumn("cum", F.sum("n").over(wc)).withColumn("tot", F.sum("n").over(wt))
    def q_at(p: float):
        return F.min(F.when(F.col("cum") >= F.ceil(F.lit(p) * F.col("tot")), F.col("c"))).cast("bigint")
    return (
        scanned.groupBy("source")
        .agg(
            F.min("tot").cast("bigint").alias("n_docs"),
            q_at(0.5).alias("p50"),
            q_at(0.9).alias("p90"),
            q_at(0.99).alias("p99"),
        )
        .orderBy("source")
    )


@register(
    "q202_dynamic_partition_overwrite",
    category="storage",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN event_type = 'click'
                     THEN 2 * CAST(round(value * 100, 0) AS BIGINT)
                     ELSE CAST(round(value * 100, 0) AS BIGINT) END) AS BIGINT)
         AS sum_cents
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def q202_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the lakehouse backfill primitive:
    `mode=overwrite` with partitionOverwriteMode=dynamic replaces ONLY
    the partitions present in the incoming frame (here: the `click`
    slice, rewritten with doubled cents) and leaves every other
    partition's files untouched. Static mode would have truncated the
    whole table — the difference between a 5-minute partition backfill
    and rewriting 100 TB. The read-back aggregate proves both halves:
    clicks carry the new values, everything else the old ones."""
    import re as _re

    from sensor_data_pipeline_spark.sources.warehouse import SCRATCH

    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    tag = _re.sub(r"[^A-Za-z0-9_]+", "_", sf_dir).strip("_")
    path = f"{SCRATCH}/dpo/events_{tag}"
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)

    backfill = ev.filter(F.col("event_type") == "click").withColumn(
        "cents", F.col("cents") * 2
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        backfill.write.mode("overwrite").partitionBy("event_type").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    back = spark.read.parquet(path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("event_type")
    )
