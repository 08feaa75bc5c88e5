"""Round-9 surface extensions, part 2 — retrieval/eval/versioning ops:
multi-vector (late-interaction) retrieval scoring, split-conformal
gate calibration with per-group coverage audit, ROC operating-point
tables for quality gates, incremental HyperLogLog snapshot updates,
and snapshot-diff CDC extraction.

Family threads (continuing frontier4.py):

1. Bounded-side broadcast: q373's query set is FIXED-size (32
   vectors), so late-interaction scoring is a broadcast join linear in
   the corpus — the only shape that survives 100 TB; q375's threshold
   panel and q374's calibration constants are 1-to-5-row broadcasts.

2. Versioned-data discipline: q376 and q377 treat "snapshot v1 → v2"
   as first-class — the sketch updates from the DELTA alone
   (register max-merge), and the CDC extract is ONE key-partitioned
   full-outer join, never a re-read of history per change.

All operators re-derived from public papers cited per query (Khattab &
Zaharia 2020 ColBERT, Vovk et al. 2005 / Lei et al. 2018 split
conformal, Fawcett 2006 ROC, Flajolet et al. 2007 HyperLogLog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sensor_data_pipeline_spark.functions.text import tokenize
from sensor_data_pipeline_spark.functions.vector import cosine
from sensor_data_pipeline_spark.pins import pin
from sensor_data_pipeline_spark.plans.registry import register
from sensor_data_pipeline_spark.sources.tables import load_table

_DUCK_WORDS = "regexp_split_to_array(text, '\\s+')"
_DUCK_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)

# ---------------------------------------------------------------------------
# q373 — multi-vector (late-interaction) retrieval scoring
# ---------------------------------------------------------------------------

_MAXSIM_QVECS = 32  # fixed query-token budget: broadcastable at any scale


@register(
    "q373_maxsim_group_retrieval",
    category="similarity",
    oracle=f"""
WITH emb AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
qv AS (SELECT vec_id AS q_id, label AS q_label, v AS qv FROM emb WHERE vec_id < {_MAXSIM_QVECS}),
scored AS (
  SELECT q.q_id, q.q_label, c.label AS c_label,
         max({_DUCK_COS.format(a="q.qv", b="c.v")}) AS max_cos
  FROM qv q CROSS JOIN emb c
  GROUP BY q.q_id, q.q_label, c.label
),
agg AS (
  SELECT q_label, c_label,
         CAST(count(*) AS BIGINT) AS n_qvecs,
         CAST(sum(CAST(round(max_cos * 1000000, 0) AS BIGINT)) AS BIGINT) AS maxsim_ppm
  FROM scored GROUP BY q_label, c_label
)
SELECT CAST(q_label AS BIGINT) AS q_label, CAST(c_label AS BIGINT) AS c_label,
       n_qvecs, maxsim_ppm,
       CAST(row_number() OVER (PARTITION BY q_label ORDER BY maxsim_ppm DESC, c_label) AS BIGINT) AS rk
FROM agg
ORDER BY q_label, rk
""",
)
def q373_maxsim_group_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (MaxSim) retrieval scoring — ColBERT's scoring
    rule (Khattab & Zaharia 2020, public) over multi-vector groups:
    the query is a SET of vectors (here the fixed {_MAXSIM_QVECS}
    lowest vec_ids, each tagged with its group label) and each corpus
    group's score is the sum over query vectors of the maximum cosine
    against any vector in the group — token-level matching that a
    single pooled vector cannot express. Output: per (query group,
    corpus group), the MaxSim score and the retrieval rank.

    The per-(qvec, group) max cosine is fixed-pointed to integer ppm
    BEFORE the sum (round(x*1e6) of bit-identical doubles), so the
    MaxSim sum is an integer aggregation — order-independent across
    partitions, where a float sum would hash-diverge.

    Scale shape: the query set is FIXED-size, so scoring is a
    broadcast nested-loop join LINEAR in the corpus (the q48
    brute-force shape with a bounded K) — never group×group pair
    work; the max folds map-side onto the bounded (qvec, c_label)
    key, and ranking runs on the ≤|labels|² frame."""
    emb = load_table(spark, "embeddings", sf_dir)
    qv = emb.filter(F.col("vec_id") < _MAXSIM_QVECS).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qv"),
    )
    scored = (
        emb.select(F.col("label").alias("c_label"), F.col("embedding").alias("cv"))
        .crossJoin(F.broadcast(qv))
        .groupBy("q_id", "q_label", "c_label")
        .agg(F.max(cosine(F.col("qv"), F.col("cv"))).alias("max_cos"))
    )
    agg = scored.groupBy("q_label", "c_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_qvecs"),
        F.sum(F.round(F.col("max_cos") * 1000000, 0).cast("bigint"))
        .cast("bigint")
        .alias("maxsim_ppm"),
    )
    w = Window.partitionBy("q_label").orderBy(F.col("maxsim_ppm").desc(), "c_label")
    return (
        agg.select(
            F.col("q_label").cast("bigint").alias("q_label"),
            F.col("c_label").cast("bigint").alias("c_label"),
            "n_qvecs",
            "maxsim_ppm",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .orderBy("q_label", "rk")
    )


# ---------------------------------------------------------------------------
# q374 — split-conformal gate calibration + per-group coverage audit
# ---------------------------------------------------------------------------

_CONF_ALPHA_PCT = 10  # target 90% coverage
_CONF_SEED = 47


@register(
    "q374_conformal_quality_gate",
    category="quality",
    oracle=f"""
WITH scored AS (
  SELECT lang, n_chars AS score,
         CASE WHEN CAST(('0x' || substr(md5('{_CONF_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 2 = 0 THEN 1 ELSE 0 END AS is_cal
  FROM documents
),
cal AS (SELECT score FROM scored WHERE is_cal = 1),
k AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cal,
         CAST(((count(*) + 1) * (100 - {_CONF_ALPHA_PCT}) + 99) // 100 AS BIGINT) AS k_rank
  FROM cal
),
cdf AS (
  SELECT score, sum(count(*)) OVER (ORDER BY score) AS cum
  FROM cal GROUP BY score
),
tau AS (
  SELECT min(score) AS tau FROM cdf WHERE cum >= (SELECT k_rank FROM k)
)
SELECT lang,
       (SELECT n_cal FROM k) AS n_cal,
       (SELECT k_rank FROM k) AS k_rank,
       CAST((SELECT tau FROM tau) AS BIGINT) AS tau,
       CAST(count(*) AS BIGINT) AS n_eval,
       CAST(sum(CASE WHEN score <= (SELECT tau FROM tau) THEN 1 ELSE 0 END) AS BIGINT) AS covered,
       CAST(CAST(sum(CASE WHEN score <= (SELECT tau FROM tau) THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
            // count(*) AS BIGINT) AS coverage_ppm
FROM scored WHERE is_cal = 0
GROUP BY lang ORDER BY lang
""",
)
def q374_conformal_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration of a quality gate (Vovk et al.
    2005; split form Lei et al. 2018 — public): a deterministic hash
    halves the corpus into calibration/evaluation, the gate threshold
    tau is the ceil((n+1)(1-alpha))-th smallest calibration score
    (exact integer rank — the finite-sample-valid quantile, NOT the
    naive (1-alpha)-quantile), and the evaluation half reports
    realized coverage PER LANGUAGE. Conformal guarantees only
    MARGINAL coverage; the per-group table is precisely the
    conditional-coverage audit that exposes which languages the gate
    under-covers — the check to run before shipping tau as a corpus
    gate.

    Scale shape: scores fold to a per-VALUE histogram (bounded by the
    n_chars domain, not row count) before the rank scan, so the
    order statistic never sorts rows — the q190/q257 counting-quantile
    idiom (the cumulative window runs on the value-domain frame);
    coverage is one conditional aggregation over the evaluation half
    against the 1-row broadcast tau."""
    from sensor_data_pipeline_spark.functions.text import word_hash32

    d = load_table(spark, "documents", sf_dir)
    scored = d.select(
        "lang",
        F.col("n_chars").alias("score"),
        F.when(
            F.pmod(word_hash32(F.col("doc_id").cast("string"), seed=_CONF_SEED), F.lit(2))
            == 0,
            1,
        )
        .otherwise(0)
        .alias("is_cal"),
    )
    cal = scored.filter(F.col("is_cal") == 1)
    # value-domain histogram (bounded by the score domain); pinned:
    # the total and the CDF scan both read it
    hist = (
        cal.groupBy("score")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(pin)
    )
    # coalesce: an empty calibration half gives sum(cnt)=NULL on the
    # histogram while the oracle's count(*) gives 0 (k_rank=1) —
    # align the degenerate case (unreachable at current fixtures)
    k = hist.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("n_cal"),
        F.expr(
            f"CAST(((coalesce(sum(cnt), 0) + 1) * (100 - {_CONF_ALPHA_PCT}) + 99)"
            f" DIV 100 AS BIGINT)"
        ).alias("k_rank"),
    )
    cdf = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    tau = (
        cdf.crossJoin(F.broadcast(k))
        .filter(F.col("cum") >= F.col("k_rank"))
        .agg(F.min("score").cast("bigint").alias("tau"))
    )
    return (
        scored.filter(F.col("is_cal") == 0)
        .crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(tau))
        .groupBy("lang", "n_cal", "k_rank", "tau")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.sum(F.when(F.col("score") <= F.col("tau"), 1).otherwise(0))
            .cast("bigint")
            .alias("covered"),
            F.expr(
                "CAST(CAST(sum(CASE WHEN score <= tau THEN 1 ELSE 0 END) AS DECIMAL(38,0))"
                " * 1000000 DIV count(*) AS BIGINT)"
            ).alias("coverage_ppm"),
        )
        .select("lang", "n_cal", "k_rank", "tau", "n_eval", "covered", "coverage_ppm")
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q375 — ROC operating points for a token-count gate
# ---------------------------------------------------------------------------

_ROC_THRESHOLDS = (10, 20, 40, 80, 160)


@register(
    "q375_roc_operating_points",
    category="quality",
    oracle=f"""
WITH votes AS (
  SELECT len({_DUCK_WORDS}) AS n_tok,
         CASE WHEN (CASE WHEN len({_DUCK_WORDS}) >= 25 THEN 1 ELSE 0 END)
                 + (CASE WHEN n_chars >= 140 THEN 1 ELSE 0 END)
                 + (CASE WHEN len(list_filter({_DUCK_WORDS},
                      w -> list_contains(['the','a','an','and','or','of','to','in','is','it'], w))) >= 3
                    THEN 1 ELSE 0 END) >= 2 THEN 1 ELSE 0 END AS truth
  FROM documents
)
SELECT t,
       CAST(sum(CASE WHEN n_tok >= t AND truth = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(sum(CASE WHEN n_tok >= t AND truth = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(sum(CASE WHEN n_tok < t AND truth = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       CAST(sum(CASE WHEN n_tok < t AND truth = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       CAST(CAST(sum(CASE WHEN n_tok >= t AND truth = 1 THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
            // NULLIF(sum(truth), 0) AS BIGINT) AS tpr_ppm,
       CAST(CAST(sum(CASE WHEN n_tok >= t AND truth = 0 THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
            // NULLIF(sum(1 - truth), 0) AS BIGINT) AS fpr_ppm,
       CAST(CAST(sum(CASE WHEN n_tok >= t AND truth = 1 THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
            // NULLIF(sum(CASE WHEN n_tok >= t THEN 1 ELSE 0 END), 0) AS BIGINT) AS precision_ppm
FROM votes CROSS JOIN (SELECT unnest([{", ".join(str(t) for t in _ROC_THRESHOLDS)}]) AS t)
GROUP BY t ORDER BY t
""",
)
def q375_roc_operating_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC operating-point table (Fawcett 2006, public) for the
    token-count quality gate: the 2-of-3 rater majority (q359's
    deterministic rules) is the pseudo-truth and each candidate
    threshold reports TP/FP/FN/TN with exact integer-ppm TPR, FPR and
    precision — the table that picks the gate's operating point,
    where q358's rank-sum AUC only says the score carries signal
    somewhere. Thresholds {_ROC_THRESHOLDS} cover the fixture's
    token-length spectrum in octaves.

    Scale shape: one corpus pass computes (n_tok, truth) per row; the
    threshold panel is a {len(_ROC_THRESHOLDS)}-row broadcast cross
    join and every cell is a conditional sum — map-side combinable
    onto {len(_ROC_THRESHOLDS)} keys. No join of row-scale data, no
    window."""
    from sensor_data_pipeline_spark.functions.text import stopword_count

    d = load_table(spark, "documents", sf_dir)
    w = tokenize(F.col("text"))
    votes = d.select(
        F.size(w).alias("n_tok"),
        F.when(
            (F.when(F.size(w) >= 25, 1).otherwise(0)
             + F.when(F.col("n_chars") >= 140, 1).otherwise(0)
             + F.when(stopword_count(w) >= 3, 1).otherwise(0)) >= 2,
            1,
        )
        .otherwise(0)
        .alias("truth"),
    )
    ts = spark.createDataFrame([(t,) for t in _ROC_THRESHOLDS], "t int")
    return (
        votes.crossJoin(F.broadcast(ts))
        .groupBy("t")
        .agg(
            F.sum(F.when((F.col("n_tok") >= F.col("t")) & (F.col("truth") == 1), 1).otherwise(0)).cast("bigint").alias("tp"),
            F.sum(F.when((F.col("n_tok") >= F.col("t")) & (F.col("truth") == 0), 1).otherwise(0)).cast("bigint").alias("fp"),
            F.sum(F.when((F.col("n_tok") < F.col("t")) & (F.col("truth") == 1), 1).otherwise(0)).cast("bigint").alias("fn"),
            F.sum(F.when((F.col("n_tok") < F.col("t")) & (F.col("truth") == 0), 1).otherwise(0)).cast("bigint").alias("tn"),
            F.expr(
                "CAST(CAST(sum(CASE WHEN n_tok >= t AND truth = 1 THEN 1 ELSE 0 END)"
                " AS DECIMAL(38,0)) * 1000000 DIV NULLIF(sum(truth), 0) AS BIGINT)"
            ).alias("tpr_ppm"),
            F.expr(
                "CAST(CAST(sum(CASE WHEN n_tok >= t AND truth = 0 THEN 1 ELSE 0 END)"
                " AS DECIMAL(38,0)) * 1000000 DIV NULLIF(sum(1 - truth), 0) AS BIGINT)"
            ).alias("fpr_ppm"),
            F.expr(
                "CAST(CAST(sum(CASE WHEN n_tok >= t AND truth = 1 THEN 1 ELSE 0 END)"
                " AS DECIMAL(38,0)) * 1000000"
                " DIV NULLIF(sum(CASE WHEN n_tok >= t THEN 1 ELSE 0 END), 0) AS BIGINT)"
            ).alias("precision_ppm"),
        )
        .select(F.col("t").cast("int").alias("t"), "tp", "fp", "fn", "tn", "tpr_ppm", "fpr_ppm", "precision_ppm")
        .orderBy("t")
    )


# ---------------------------------------------------------------------------
# q376 — incremental HyperLogLog snapshot update
# ---------------------------------------------------------------------------

# the SAME sketch as q367 — import its constants and idioms rather
# than duplicating (a drifted copy would silently make the two HLL
# queries different sketches; review r9 finding)
from sensor_data_pipeline_spark.plans.frontier4 import (  # noqa: E402
    _DUCK_SHINGLES_DUP as _DUCK_SHINGLES_DUP5,
    _HLL_M as _IHLL_M,
    _HLL_NUM as _IHLL_NUM,
    _HLL_SEED as _IHLL_SEED,
    _HLL_W as _IHLL_W,
)


@register(
    "q376_hll_incremental_update",
    category="aggregation",
    oracle=f"""
WITH w AS (
  SELECT doc_id % 2 AS parity, source, {_DUCK_WORDS} AS t FROM documents
),
sh AS (
  SELECT parity, source, unnest({_DUCK_SHINGLES_DUP5.format(w="t")}) AS s FROM w
),
rho AS (
  SELECT parity, source,
         CAST(('0x' || substr(md5('{_IHLL_SEED}:' || s), 1, 8)) AS BIGINT) % {_IHLL_M} AS j,
         CASE WHEN CAST(('0x' || substr(md5('{_IHLL_SEED}:' || s), 1, 8)) AS BIGINT) // {_IHLL_M} = 0
              THEN {_IHLL_W + 1}
              ELSE {_IHLL_W + 1} - length(bin(CAST(('0x' || substr(md5('{_IHLL_SEED}:' || s), 1, 8)) AS BIGINT) // {_IHLL_M})) END AS r,
         s
  FROM sh
),
pregs AS (SELECT parity, source, j, max(r) AS mj FROM rho GROUP BY parity, source, j),
v1 AS (
  SELECT source,
         CAST(sum(CAST(1 AS BIGINT) << (33 - mj)) + ({_IHLL_M} - count(*)) * 8589934592 AS BIGINT) AS s1
  FROM pregs WHERE parity = 0 GROUP BY source
),
full_regs AS (SELECT source, j, max(mj) AS mj FROM pregs GROUP BY source, j),
vf AS (
  SELECT source,
         CAST(sum(CAST(1 AS BIGINT) << (33 - mj)) + ({_IHLL_M} - count(*)) * 8589934592 AS BIGINT) AS sf
  FROM full_regs GROUP BY source
),
exact AS (SELECT source, CAST(count(DISTINCT s) AS BIGINT) AS exact_full FROM rho GROUP BY source)
SELECT v1.source,
       {_IHLL_NUM!r} / CAST(v1.s1 AS DOUBLE) AS est_v1,
       {_IHLL_NUM!r} / CAST(vf.sf AS DOUBLE) AS est_full,
       CAST(round(({_IHLL_NUM!r} / CAST(vf.sf AS DOUBLE) - {_IHLL_NUM!r} / CAST(v1.s1 AS DOUBLE))
                  * 1000000 / ({_IHLL_NUM!r} / CAST(v1.s1 AS DOUBLE)), 0) AS BIGINT) AS growth_ppm,
       e.exact_full,
       CAST(round(({_IHLL_NUM!r} / CAST(vf.sf AS DOUBLE) - e.exact_full) * 1000000 / e.exact_full, 0) AS BIGINT) AS err_full_ppm
FROM v1 JOIN vf USING (source) JOIN exact e USING (source)
ORDER BY v1.source
""",
)
def q376_hll_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental HyperLogLog snapshot update (Flajolet et al. 2007
    — mergeability is the operational point): the corpus is split
    into an "old snapshot" (even doc_ids) and a "delta" (odd), both
    reduced to per-(source, parity) register sets in ONE pass, and
    the post-ingest cardinality estimate comes from MAX-merging the
    old registers with the delta's — the 64-number update a 100 TB
    ingest actually performs per batch, instead of re-scanning
    history (q330 does the same for dedup fingerprints). Output per
    source: the old estimate, the merged (full) estimate, growth in
    ppm, and the exact full distinct count as the error anchor.
    Estimates follow q367's integer-scaled register sum (one float
    division by a literal — bit-identical on both engines).

    Scale shape: one corpus pass folds to (source × 2 parities × ≤64
    registers) via map-side MAX — the pinned sufficient statistic;
    v1, the merge, and both estimates run on that bounded frame. The
    exact audit is the only corpus-scale shuffle and exists to price
    the sketch, not to serve it."""
    from sensor_data_pipeline_spark.functions.text import word_hash32
    from sensor_data_pipeline_spark.plans.frontier4 import _shingles_dup

    d = load_table(spark, "documents", sf_dir)
    tw = d.select(
        F.pmod(F.col("doc_id"), F.lit(2)).alias("parity"),
        "source",
        tokenize(F.col("text")).alias("w"),
    ).transform(pin)  # tokenize once (the q335/q367 pin)
    sh = tw.select(
        "parity", "source", F.explode(_shingles_dup(F.col("w"))).alias("s")
    )
    hv = word_hash32(F.col("s"), seed=_IHLL_SEED)
    rho = sh.withColumn("h_", hv).select(
        "parity",
        "source",
        "s",
        F.pmod(F.col("h_"), F.lit(_IHLL_M)).alias("j"),
        F.when(F.expr(f"h_ DIV {_IHLL_M}") == 0, F.lit(_IHLL_W + 1))
        .otherwise(F.lit(_IHLL_W + 1) - F.length(F.bin(F.expr(f"h_ DIV {_IHLL_M}"))))
        .alias("r"),
    )
    # bounded register frame; three consumers (v1, merge, counts)
    pregs = (
        rho.groupBy("parity", "source", "j")
        .agg(F.max("r").alias("mj"))
        .transform(pin)
    )
    s_of = (
        f"CAST(sum(CAST(1 AS BIGINT) << (33 - mj))"
        f" + ({_IHLL_M} - count(*)) * 8589934592 AS BIGINT)"
    )
    v1 = (
        pregs.filter(F.col("parity") == 0)
        .groupBy("source")
        .agg(F.expr(s_of).alias("s1"))
    )
    vf = (
        pregs.groupBy("source", "j")
        .agg(F.max("mj").alias("mj"))
        .groupBy("source")
        .agg(F.expr(s_of).alias("sf"))
    )
    exact = rho.select("source", "s").distinct().groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_full")
    )
    est1 = F.lit(_IHLL_NUM) / F.col("s1").cast("double")
    estf = F.lit(_IHLL_NUM) / F.col("sf").cast("double")
    return (
        v1.join(vf, "source")
        .join(exact, "source")
        .select(
            "source",
            est1.alias("est_v1"),
            estf.alias("est_full"),
            F.round((estf - est1) * 1000000 / est1, 0)
            .cast("bigint")
            .alias("growth_ppm"),
            "exact_full",
            F.round((estf - F.col("exact_full")) * 1000000 / F.col("exact_full"), 0)
            .cast("bigint")
            .alias("err_full_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q377 — snapshot-diff CDC extraction
# ---------------------------------------------------------------------------


@register(
    "q377_snapshot_cdc_extract",
    category="cdc",
    oracle="""
WITH v1 AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 13 = 0 THEN value * 2 ELSE value END AS value
  FROM events WHERE event_id % 11 != 0
),
v2 AS (
  SELECT event_id, event_type, value FROM events WHERE event_id % 19 != 0
),
diff AS (
  SELECT COALESCE(v2.event_type, v1.event_type) AS event_type,
         CASE WHEN v1.event_id IS NULL THEN 'insert'
              WHEN v2.event_id IS NULL THEN 'delete'
              WHEN v1.value IS DISTINCT FROM v2.value THEN 'update'
              ELSE 'unchanged' END AS op
  FROM v1 FULL OUTER JOIN v2 ON v1.event_id = v2.event_id
)
SELECT event_type,
       CAST(sum(CASE WHEN op = 'insert' THEN 1 ELSE 0 END) AS BIGINT) AS n_insert,
       CAST(sum(CASE WHEN op = 'update' THEN 1 ELSE 0 END) AS BIGINT) AS n_update,
       CAST(sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS n_delete,
       CAST(sum(CASE WHEN op = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
FROM diff GROUP BY event_type ORDER BY event_type
""",
)
def q377_snapshot_cdc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff CDC extraction — deriving a change feed from two
    table VERSIONS when the source system offers no log (the classic
    warehouse fallback; Delta/Iceberg call the native form a change
    data feed): one FULL OUTER join on the key classifies every row
    as insert / update / delete / unchanged, rolled up per event
    type. The two versions are deterministic views of the fixture
    (v1 drops the %11 keys = v2's inserts, doubles the %13 values =
    updates; v2 drops the %19 keys = deletes), so both engines replay
    the identical diff. The general form compares a full-row hash;
    here the one mutable column is compared directly with
    null-safe equality (IS DISTINCT FROM — Spark's <=> negated).

    Scale shape: ONE key-equi full-outer join — at 100 TB both
    snapshots are bucketed/co-partitioned on the key so the join is
    shuffle-free, and the classification is a per-row CASE folding
    map-side into the bounded per-type census. No window, no second
    pass over history."""
    e = load_table(spark, "events", sf_dir)
    v1 = e.filter(F.col("event_id") % 11 != 0).select(
        F.col("event_id").alias("id1"),
        F.col("event_type").alias("type1"),
        F.when(F.col("event_id") % 13 == 0, F.col("value") * 2)
        .otherwise(F.col("value"))
        .alias("value1"),
    )
    v2 = e.filter(F.col("event_id") % 19 != 0).select(
        F.col("event_id").alias("id2"),
        F.col("event_type").alias("type2"),
        F.col("value").alias("value2"),
    )
    diff = v1.join(v2, F.col("id1") == F.col("id2"), "full_outer").select(
        F.coalesce(F.col("type2"), F.col("type1")).alias("event_type"),
        F.when(F.col("id1").isNull(), F.lit("insert"))
        .when(F.col("id2").isNull(), F.lit("delete"))
        .when(~(F.col("value1").eqNullSafe(F.col("value2"))), F.lit("update"))
        .otherwise(F.lit("unchanged"))
        .alias("op"),
    )
    return (
        diff.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("op") == "insert", 1).otherwise(0)).cast("bigint").alias("n_insert"),
            F.sum(F.when(F.col("op") == "update", 1).otherwise(0)).cast("bigint").alias("n_update"),
            F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).cast("bigint").alias("n_delete"),
            F.sum(F.when(F.col("op") == "unchanged", 1).otherwise(0)).cast("bigint").alias("n_unchanged"),
        )
        .orderBy("event_type")
    )
