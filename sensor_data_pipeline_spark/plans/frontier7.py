"""Round-11 surface extensions — information-theoretic corpus audits,
collocation mining, multi-probe ANN, and data-order/dedup manifests
for a 100 TB training-data pipeline:

* q387 per-source unigram entropy / cross-entropy / KL "typicality"
  profile against the corpus mixture (the source-weighting signal
  behind DoReMi-style reweighting; Shannon 1948, Cover & Thomas);
* q388 adjacent-bigram PMI top-k collocations with a min-count floor
  (Church & Hanks 1990) from ONE combinable corpus pass;
* q389 multi-probe sign-LSH recall audit (Lv et al., VLDB 2007):
  recall-vs-probe-budget against the exact top-k baseline;
* q390 BPE pre-tokenizer round-trip fidelity: proves (or prices) the
  losslessness of the pre-token split the tokenizer stack assumes;
* q391 dedup keeper manifest: canonical-copy selection per duplicate
  group and the per-source kept/dropped character mass;
* q392 language-ID ECE reliability table: integer-exact expected
  calibration error of the stopword-margin confidence against the
  labeled lang column (Naeini et al. 2015's ECE, integer ppm form);
* q393 epoch-shuffle order audit: Spearman-footrule distance and
  block-churn between two deterministic hash-keyed epoch
  permutations (data-order reproducibility; Diaconis & Graham 1977).

Family threads (continuing frontier6.py):

1. Sufficient statistics first: every query folds the corpus to a
   bounded frame (vocab-bounded count tables, 10-bin calibration
   tables, O(partitions) rank offsets) before any join/window runs.
   The only corpus-scale intermediates (q388's joint bigram counts,
   q391's fingerprint groups) are each consumed exactly ONCE — the
   r11 pin-audit discipline — and the bounded multi-consumer frames
   are the ones pinned.

2. Float discipline: ln-based outputs (entropy, KL, PMI) follow the
   q296 precedent — identical expression shapes on both engines,
   round(x, 6) at the output to absorb summation-order ulps; every
   ranking that involves a float orders by the ROUNDED value with an
   integer tiebreak. Everything else is exact integers with
   DECIMAL(38,0)/HUGEINT operand guards where character/rank masses
   cross bigint·1e6 at the 100 TB design point.

Reference analog: the reference pipeline ships fixed sensor decoders
(src/modules/module.h:14-53); these are the corpus-calibration
equivalents a data-engine user runs before trusting tokenization,
dedup, ANN, and sampling at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sensor_data_pipeline_spark.functions.text import tokenize
from sensor_data_pipeline_spark.pins import pin
from sensor_data_pipeline_spark.plans.registry import register
from sensor_data_pipeline_spark.sources.tables import load_table

_DUCK_WORDS = "regexp_split_to_array(text, '\\s+')"


# ---------------------------------------------------------------------------
# q387 — per-source unigram entropy / cross-entropy / KL vs the corpus mixture
# ---------------------------------------------------------------------------


@register(
    "q387_source_entropy_typicality",
    category="corpus",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({_DUCK_WORDS}) AS word FROM documents
),
cnt AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY source, word
),
allcnt AS (
  SELECT source, word, c FROM cnt
  UNION ALL
  SELECT '(all)' AS source, word, CAST(sum(c) AS BIGINT) AS c
  FROM cnt GROUP BY word
),
tot AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_s,
         CAST(count(*) AS BIGINT) AS v_s
  FROM allcnt GROUP BY source
),
corpus AS (SELECT word, c AS c0 FROM allcnt WHERE source = '(all)'),
n0t AS (SELECT n_s AS n0 FROM tot WHERE source = '(all)')
SELECT t.source, t.n_s AS n_tok, t.v_s AS v_distinct,
       round(-sum((a.c / CAST(t.n_s AS DOUBLE))
                  * ln(a.c / CAST(t.n_s AS DOUBLE))), 6) AS entropy_nats,
       round(-sum((a.c / CAST(t.n_s AS DOUBLE))
                  * ln(k.c0 / CAST(n0t.n0 AS DOUBLE))), 6) AS ce_nats,
       round(sum((a.c / CAST(t.n_s AS DOUBLE))
                 * ln((a.c / CAST(t.n_s AS DOUBLE))
                      / (k.c0 / CAST(n0t.n0 AS DOUBLE)))), 6) AS kl_nats
FROM allcnt a
JOIN tot t ON t.source = a.source
JOIN corpus k ON k.word = a.word
CROSS JOIN n0t
GROUP BY t.source, t.n_s, t.v_s
ORDER BY t.source
""",
)
def q387_source_entropy_typicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram Shannon entropy, cross-entropy to the corpus
    mixture, and KL divergence — the "typicality" profile that prices
    how far each source's token distribution sits from the blend the
    model will actually train on (the statistic DoReMi-style mixture
    reweighting consumes; H/CE/KL per Shannon 1948, Cover & Thomas ch.
    2). KL(source‖corpus) = CE − H ≥ 0, and the '(all)' row's KL is
    exactly 0.0 (every log-ratio term is ln(1.0)) — a built-in
    correctness canary for the float path.

    Float discipline: counts and totals are exact integers; each
    p·ln(p/q) term is the SAME expression shape on both engines
    (bigint/bigint division → double, one ln, one multiply), and the
    per-source sums are round(x, 6) — the q296 mutual-information
    precedent for unordered float summation.

    Scale shape: ONE corpus pass key-duplicates each token occurrence
    into (source, w) and ('(all)', w) ahead of a single combinable
    count shuffle (the q380 merge-fold idiom). The count table is
    vocab-bounded (Heaps' law) with three consumers (totals, corpus
    slice, the final join) — pinned, per the pin-reduced-frames-only
    rule. Everything downstream joins vocab-bounded frames."""
    d = load_table(spark, "documents", sf_dir)
    tw = d.select("source", tokenize(F.col("text")).alias("w"))
    tok = tw.select("source", F.explode("w").alias("word"))
    dup = tok.select(
        F.explode(F.array(F.col("source"), F.lit("(all)"))).alias("source"), "word"
    )
    cnt = (
        dup.groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .transform(pin)  # vocab-bounded; 3 consumers
    )
    tot = cnt.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_s"),
        F.count(F.lit(1)).cast("bigint").alias("v_s"),
    )
    corpus = cnt.filter(F.col("source") == "(all)").select(
        "word", F.col("c").alias("c0")
    )
    n0 = tot.filter(F.col("source") == "(all)").select(F.col("n_s").alias("n0"))
    p = F.col("c") / F.col("n_s")
    p0 = F.col("c0") / F.col("n0")
    return (
        cnt.join(tot, "source")
        .join(corpus, "word")
        .crossJoin(F.broadcast(n0))
        .groupBy("source", "n_s", "v_s")
        .agg(
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
            F.round(-F.sum(p * F.log(p0)), 6).alias("ce_nats"),
            F.round(F.sum(p * F.log(p / p0)), 6).alias("kl_nats"),
        )
        .select(
            "source",
            F.col("n_s").alias("n_tok"),
            F.col("v_s").alias("v_distinct"),
            "entropy_nats",
            "ce_nats",
            "kl_nats",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q388 — adjacent-bigram PMI top-k collocations
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOPK = 20


@register(
    "q388_bigram_pmi_topk",
    category="text",
    oracle=f"""
WITH w AS (SELECT {_DUCK_WORDS} AS a FROM documents),
bg AS (
  SELECT a[i] AS x, a[i + 1] AS y
  FROM w CROSS JOIN unnest(range(1, len(a))) AS t(i)
),
joint AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY x, y
),
mx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM joint GROUP BY x),
my AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM joint GROUP BY y),
t AS (SELECT CAST(sum(c) AS BIGINT) AS b FROM joint),
scored AS (
  SELECT j.x, j.y, j.c, mx.cx, my.cy,
         round(ln(CAST(j.c AS DOUBLE) * t.b
                  / (CAST(mx.cx AS DOUBLE) * my.cy)), 6) AS pmi
  FROM joint j
  JOIN mx ON mx.x = j.x
  JOIN my ON my.y = j.y
  CROSS JOIN t
  WHERE j.c >= {_PMI_MIN_COUNT}
)
SELECT CAST(row_number() OVER (ORDER BY pmi DESC, x, y) AS BIGINT) AS rk,
       x AS w1, y AS w2, c AS n_pair, cx AS n_left, cy AS n_right, pmi
FROM (SELECT * FROM scored ORDER BY pmi DESC, x, y LIMIT {_PMI_TOPK})
ORDER BY rk
""",
)
def q388_bigram_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-word collocations by pointwise mutual
    information with a min-count floor (Church & Hanks 1990 — the
    classic collocation screen; the floor removes the rare-pair PMI
    explosion). PMI is defined on the bigram-table marginals:
    pmi(x,y) = ln(c_xy·B / (c_x•·c_•y)), so the joint counts are the
    ONLY corpus-scale statistic.

    Scale shape: one corpus pass builds the joint (x, y) counts in a
    single combinable shuffle; the marginals c_x• and c_•y come from
    the tokens' positional structure in a SECOND combinable pass
    (occurrences excluding doc-final / doc-initial positions — no
    re-consumption of the near-corpus-scale joint frame, the r11
    pin-audit rule), and B = Σ c_x• folds from the vocab-bounded
    marginal frame, which is pinned (three consumers). The min-count
    floor prunes the singleton-dominated tail BEFORE the joins and
    the rank, and the top-k is orderBy().limit() — Spark's
    distributed TakeOrdered, never a global row_number window; the
    20-row result then gets its rank column for free. Float
    discipline: identical PMI expression shape on both engines,
    round 6 for output AND ordering (tiebreak on the words).

    The DuckDB oracle derives the marginals from the joint table —
    mathematically the same numbers (c_x• = Σ_y c_xy) — because
    oracle-side efficiency is irrelevant."""
    d = load_table(spark, "documents", sf_dir)
    tw = d.select(tokenize(F.col("text")).alias("a"))
    # pass 1: joint bigram counts (consumed exactly once)
    bg = tw.select(
        F.explode(
            F.expr(
                "arrays_zip(slice(a, 1, greatest(size(a) - 1, 0)), "
                "slice(a, 2, greatest(size(a) - 1, 0)))"
            )
        ).alias("p")
    ).select(F.expr("p.`0`").alias("x"), F.expr("p.`1`").alias("y"))
    joint = bg.groupBy("x", "y").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    # pass 2: positional marginals — c_x• = occurrences of w outside
    # the doc-final position, c_•y = outside the doc-initial one
    pos = tw.select(
        F.posexplode("a").alias("i", "word"), F.size("a").alias("n")
    )
    marg = (
        pos.groupBy("word")
        .agg(
            F.sum(F.when(F.col("i") < F.col("n") - 1, 1).otherwise(0))
            .cast("bigint")
            .alias("cx"),
            F.sum(F.when(F.col("i") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("cy"),
        )
        .transform(pin)  # vocab-bounded; 3 consumers
    )
    btot = marg.agg(F.sum("cx").cast("bigint").alias("b"))
    scored = (
        joint.filter(F.col("c") >= _PMI_MIN_COUNT)
        .join(marg.select(F.col("word").alias("x"), "cx"), "x")
        .join(marg.select(F.col("word").alias("y"), "cy"), "y")
        .crossJoin(F.broadcast(btot))
        .select(
            "x",
            "y",
            "c",
            "cx",
            "cy",
            F.round(
                F.log(
                    F.col("c").cast("double")
                    * F.col("b")
                    / (F.col("cx").cast("double") * F.col("cy"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(F.col("pmi").desc(), "x", "y").limit(_PMI_TOPK)
    w = Window.orderBy(F.col("pmi").desc(), "x", "y")
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.col("x").alias("w1"),
        F.col("y").alias("w2"),
        F.col("c").alias("n_pair"),
        F.col("cx").alias("n_left"),
        F.col("cy").alias("n_right"),
        "pmi",
    ).orderBy("rk")


# ---------------------------------------------------------------------------
# q389 — multi-probe sign-LSH recall audit
# ---------------------------------------------------------------------------

_MP_BITS = 8
_MP_PROBES = 3
_MP_K = 10
_MP_PANEL = 8

_DUCK_COSINE = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@register(
    "q389_multiprobe_lsh_recall",
    category="similarity",
    oracle=f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
bits AS (
  SELECT e.vec_id, t.i,
         CASE WHEN e.v[t.i + 1] > 0 THEN 1 << t.i ELSE 0 END AS bit,
         abs(e.v[t.i + 1]) AS a
  FROM emb e CROSS JOIN unnest(range(0, {_MP_BITS})) AS t(i)
),
bucket AS (
  SELECT vec_id, CAST(sum(bit) AS BIGINT) AS b FROM bits GROUP BY vec_id
),
qflip AS (
  SELECT vec_id, i,
         row_number() OVER (PARTITION BY vec_id ORDER BY a, i) AS pr
  FROM bits WHERE vec_id < {_MP_PANEL}
),
probes AS (
  SELECT b.vec_id AS query_id, CAST(0 AS BIGINT) AS probe_rank, b.b AS pb
  FROM bucket b WHERE b.vec_id < {_MP_PANEL}
  UNION ALL
  SELECT f.vec_id, CAST(f.pr AS BIGINT), xor(b.b, 1 << f.i)
  FROM qflip f JOIN bucket b ON b.vec_id = f.vec_id
  WHERE f.pr <= {_MP_PROBES}
),
cand AS (
  SELECT p.query_id, c.vec_id AS match_id, p.probe_rank
  FROM probes p JOIN bucket c ON c.b = p.pb
  WHERE c.vec_id != p.query_id
),
q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < {_MP_PANEL}),
exact_top AS (
  SELECT query_id, match_id FROM (
    SELECT q.query_id, c.vec_id AS match_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_DUCK_COSINE.format(a="q.qv", b="c.v")} DESC,
                                       c.vec_id) AS rk
    FROM q, emb c WHERE c.vec_id != q.query_id) WHERE rk <= {_MP_K}
),
depths AS (SELECT unnest([0, {_MP_PROBES}]) AS probe_depth),
cands AS (
  SELECT d.probe_depth, CAST(count(*) AS BIGINT) AS n_candidates
  FROM depths d JOIN cand c ON c.probe_rank <= d.probe_depth
  GROUP BY d.probe_depth
),
hits AS (
  SELECT d.probe_depth, CAST(count(c.match_id) AS BIGINT) AS n_hits
  FROM depths d
  CROSS JOIN exact_top e
  LEFT JOIN cand c ON c.query_id = e.query_id AND c.match_id = e.match_id
                   AND c.probe_rank <= d.probe_depth
  GROUP BY d.probe_depth
)
SELECT CAST(c.probe_depth AS BIGINT) AS probe_depth, c.n_candidates, h.n_hits,
       h.n_hits * 1000000 // {_MP_PANEL * _MP_K} AS recall_ppm
FROM cands c JOIN hits h ON h.probe_depth = c.probe_depth
ORDER BY probe_depth
""",
)
def q389_multiprobe_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH recall audit (Lv et al., VLDB 2007): for an
    8-query panel, compare the candidate SET recall@10 of the home
    bucket alone (probe_depth 0) against home + the 3 buckets reached
    by flipping the least-confident sign bits (probe_depth 3), with
    candidate counts — the recall-vs-probe-budget table that prices
    extra probes against extra index tables. Set recall (is the true
    neighbor IN the candidate set) is the probe-tuning metric, so the
    output is all-integer: no approximate ranking is needed, only the
    exact baseline ranks (the q93/q48 oracle-parity cosine idiom).

    Scale shape: the corpus side carries exactly ONE bucket id per
    vector; only the 8-row query panel fans out 4-fold, so the probe
    join is the same uniform bucket equi-join as single-probe LSH
    (operators/similarity.py:sign_lsh_multiprobe_candidates). The
    exact baseline is an 8-row broadcast against the corpus — the
    bounded audit cost every recall check in this repo pays."""
    from sensor_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        sign_lsh_multiprobe_candidates,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < _MP_PANEL)
    cand = sign_lsh_multiprobe_candidates(
        queries, emb, n_bits=_MP_BITS, n_probes=_MP_PROBES
    ).transform(pin)  # panel-bounded; 2 consumers below
    gt = brute_force_topk(queries, emb, k=_MP_K).select("query_id", "match_id")
    depths = emb.sparkSession.createDataFrame(
        [(0,), (_MP_PROBES,)], "probe_depth bigint"
    )
    cands = (
        cand.join(F.broadcast(depths), F.col("probe_rank") <= F.col("probe_depth"))
        .groupBy("probe_depth")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    )
    hits = (
        gt.crossJoin(F.broadcast(depths))
        .join(
            cand.select(
                F.col("query_id").alias("cq"),
                F.col("match_id").alias("cm"),
                "probe_rank",
            ),
            (F.col("cq") == F.col("query_id"))
            & (F.col("cm") == F.col("match_id"))
            & (F.col("probe_rank") <= F.col("probe_depth")),
            "left",
        )
        .groupBy("probe_depth")
        .agg(F.count("cm").cast("bigint").alias("n_hits"))
    )
    return (
        cands.join(hits, "probe_depth")
        .select(
            "probe_depth",
            "n_candidates",
            "n_hits",
            F.expr(f"n_hits * 1000000 DIV {_MP_PANEL * _MP_K}").alias("recall_ppm"),
        )
        .orderBy("probe_depth")
    )


# ---------------------------------------------------------------------------
# q390 — BPE pre-tokenizer round-trip fidelity
# ---------------------------------------------------------------------------

from sensor_data_pipeline_spark.plans.pipeline_v2 import (  # noqa: E402
    BPE_PAT,
    BPE_PAT_SQL,
)


@register(
    "q390_pretokenizer_fidelity",
    category="text",
    oracle=f"""
WITH rt AS (
  SELECT source, text,
         array_to_string(regexp_extract_all(text, '{BPE_PAT_SQL}'), '') AS rejoined,
         CAST(len(regexp_extract_all(text, '{BPE_PAT_SQL}')) AS BIGINT) AS n_pre,
         CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_ws
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN rejoined = text THEN 1 ELSE 0 END) AS BIGINT) AS n_lossless,
       CAST(sum(length(text)) AS BIGINT) AS chars_total,
       CAST(sum(length(text) - length(rejoined)) AS BIGINT) AS chars_lost,
       CAST(CAST(sum(length(text) - length(rejoined)) AS HUGEINT) * 1000000
            // sum(length(text)) AS BIGINT) AS loss_ppm,
       CAST(sum(n_pre) AS BIGINT) AS n_pretokens,
       CAST(CAST(sum(n_pre) AS HUGEINT) * 1000000 // sum(n_ws) AS BIGINT)
         AS fertility_ppm
FROM rt GROUP BY source ORDER BY source
""",
)
def q390_pretokenizer_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE pre-tokenizer round-trip fidelity: does concatenating the
    GPT-2-style pre-token matches reproduce the original byte stream?
    The tokenizer stack (q172/q221/q329/q383) ASSUMES the pre-token
    split partitions the text; this query proves it per source — or
    prices the loss (characters the pattern cannot consume, e.g.
    whitespace runs beyond the single leading space each match carries)
    in exact integer ppm of character mass. Also reports pre-token /
    whitespace-token fertility, the sizing ratio between the BPE
    pre-token stream and the whitespace stream every per-token budget
    in this repo is denominated in.

    Integer exactness: char-mass ppm rides HUGEINT / DECIMAL(38,0)
    operand guards (character mass crosses bigint·1e6 at the 100 TB
    design point); everything else is bigint counts. The regex is the
    shared BPE_PAT constant (no lookahead — RE2-safe, so BOTH engines
    run the identical pattern; plans/pipeline_v2.py:738).

    Scale shape: one corpus scan, one combinable per-source fold — the
    cheapest possible audit of an assumption everything downstream
    builds on."""
    d = load_table(spark, "documents", sf_dir)
    # run the regex ONCE per doc into a named column; the three
    # derivations below read the stored array, not the expression
    staged = d.select(
        "source",
        "text",
        F.regexp_extract_all(F.col("text"), F.lit(BPE_PAT), F.lit(0)).alias("pt"),
    )
    rt = staged.select(
        "source",
        F.length("text").cast("bigint").alias("len_t"),
        F.length(F.array_join("pt", "")).cast("bigint").alias("len_r"),
        (F.array_join("pt", "") == F.col("text")).cast("int").alias("lossless"),
        F.size("pt").cast("bigint").alias("n_pre"),
        F.size(tokenize(F.col("text"))).cast("bigint").alias("n_ws"),
    )
    return (
        rt.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("lossless").cast("bigint").alias("n_lossless"),
            F.sum("len_t").cast("bigint").alias("chars_total"),
            F.sum(F.col("len_t") - F.col("len_r")).cast("bigint").alias("chars_lost"),
            F.expr(
                "CAST(CAST(sum(len_t - len_r) AS DECIMAL(38,0)) * 1000000"
                " DIV sum(len_t) AS BIGINT)"
            ).alias("loss_ppm"),
            F.sum("n_pre").cast("bigint").alias("n_pretokens"),
            F.expr(
                "CAST(CAST(sum(n_pre) AS DECIMAL(38,0)) * 1000000"
                " DIV sum(n_ws) AS BIGINT)"
            ).alias("fertility_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q391 — dedup keeper manifest (canonical-copy selection)
# ---------------------------------------------------------------------------


@register(
    "q391_dedup_keeper_manifest",
    category="dedup",
    oracle="""
WITH fp AS (
  SELECT doc_id, source, n_chars,
         md5(substr(text, 1, 64)) AS f
  FROM documents
),
ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY f
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM fp
),
flagged AS (
  SELECT source, n_chars, CASE WHEN rk = 1 THEN 1 ELSE 0 END AS kept
  FROM ranked
),
dup AS (
  SELECT source, n_chars, kept FROM flagged
  UNION ALL
  SELECT '(all)' AS source, n_chars, kept FROM flagged
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       CAST(count(*) - sum(kept) AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN kept = 1 THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_kept,
       CAST(sum(CASE WHEN kept = 0 THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_dropped,
       CAST(CAST(sum(CASE WHEN kept = 0 THEN n_chars ELSE 0 END) AS HUGEINT)
            * 1000000 // sum(n_chars) AS BIGINT) AS drop_chars_ppm
FROM dup GROUP BY source ORDER BY source
""",
)
def q391_dedup_keeper_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-copy selection manifest: within each duplicate group
    (the q185 64-char-prefix fingerprint — the boilerplate/template
    key), keep the HIGHEST-QUALITY copy (longest by n_chars, doc_id as
    the deterministic tiebreak) and report, per source and merged, how
    many documents and how much character mass dedup would keep vs
    drop. This is the "which copy survives" decision every production
    dedup must make after clustering — the output a data steward reads
    before signing off on a corpus cut.

    Scale shape: the keeper rank is a window PARTITIONED BY the
    fingerprint (group-bounded, fully distributed — never a global
    window); the per-source/merged fold key-duplicates each decided
    row into (source) and ('(all)') ahead of ONE combinable count
    shuffle (the q380 idiom). The fingerprint frame is consumed
    exactly once (r11 pin-audit rule: no pin on linear lineage).
    Char-mass ppm rides HUGEINT/DECIMAL(38,0) operand guards."""
    d = load_table(spark, "documents", sf_dir)
    fp = d.select(
        "doc_id", "source", "n_chars", F.md5(F.substring("text", 1, 64)).alias("f")
    )
    w = Window.partitionBy("f").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = fp.select(
        "source",
        "n_chars",
        (F.row_number().over(w) == 1).cast("int").alias("kept"),
    )
    dup = ranked.select(
        F.explode(F.array(F.col("source"), F.lit("(all)"))).alias("source"),
        "n_chars",
        "kept",
    )
    return (
        dup.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            (F.count(F.lit(1)) - F.sum("kept")).cast("bigint").alias("n_dropped"),
            F.sum(F.when(F.col("kept") == 1, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("chars_kept"),
            F.sum(F.when(F.col("kept") == 0, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("chars_dropped"),
            F.expr(
                "CAST(CAST(sum(CASE WHEN kept = 0 THEN n_chars ELSE 0 END)"
                " AS DECIMAL(38,0)) * 1000000 DIV sum(n_chars) AS BIGINT)"
            ).alias("drop_chars_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q392 — language-ID ECE reliability table
# ---------------------------------------------------------------------------

_ECE_BINS = 10


@register(
    "q392_langid_ece_calibration",
    category="corpus",
    oracle=f"""
WITH feat AS (
  SELECT lang,
         CAST(len(list_filter({_DUCK_WORDS},
               x -> x IN ('the','a','an','and','or','of','to','in','is','it')))
              AS BIGINT) AS n_sw,
         CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tok
  FROM documents
),
conf AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
         least(1000000, (n_sw * 1000000 // n_tok) * 6) AS conf_ppm
  FROM feat
),
bins AS (
  SELECT least({_ECE_BINS - 1}, conf_ppm // {1000000 // _ECE_BINS}) AS bin,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(CAST(sum(conf_ppm) AS HUGEINT) // count(*) AS BIGINT)
           AS mean_conf_ppm,
         CAST(sum(is_en) AS BIGINT) * 1000000 // count(*) AS acc_ppm
  FROM conf GROUP BY 1
),
ece AS (
  SELECT CAST(CAST(sum(abs(acc_ppm - mean_conf_ppm) * n_docs) AS HUGEINT)
              // sum(n_docs) AS BIGINT) AS ece_ppm
  FROM bins
)
SELECT CAST(b.bin AS BIGINT) AS bin, b.n_docs, b.mean_conf_ppm, b.acc_ppm,
       e.ece_ppm
FROM bins b CROSS JOIN ece e
ORDER BY bin
""",
)
def q392_langid_ece_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected-calibration-error reliability table for the stopword
    language-ID confidence (Naeini et al. 2015's ECE, in exact integer
    ppm): the q47 classifier's raw signal — stopword token share —
    squashed to a [0, 1e6] ppm confidence, binned into 10 equal-width
    bins, with per-bin mean confidence vs realized accuracy against
    the labeled lang column and the mass-weighted |acc − conf| ECE.
    A well-calibrated gate has acc ≈ conf per bin; this table is what
    a quality-gate threshold review reads before trusting the score
    as a probability (the q374 conformal gate is the distribution-free
    alternative; ECE is the calibration diagnosis).

    Integer exactness end-to-end: the confidence is an integer ppm
    (truncating DIV on both engines), bins are integer division,
    per-bin means ride HUGEINT/DECIMAL(38,0) sums, and ECE is a
    mass-weighted integer fold — no floats anywhere, so the hash
    comparison is exact by construction.

    Scale shape: one corpus scan folds to (bin, counts) — a 10-row
    frame; the ECE is an agg over those 10 rows, broadcast back onto
    the bin table. Nothing downstream of the first fold grows with
    the corpus."""
    d = load_table(spark, "documents", sf_dir)
    wcol = tokenize(F.col("text"))
    sw = F.array(
        *[F.lit(s) for s in
          ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")]
    )
    feat = d.select(
        (F.col("lang") == "en").cast("int").alias("is_en"),
        F.size(F.filter(wcol, lambda x: F.array_contains(sw, x)))
        .cast("bigint")
        .alias("n_sw"),
        F.size(wcol).cast("bigint").alias("n_tok"),
    )
    conf = feat.select(
        "is_en",
        F.expr("least(1000000, (n_sw * 1000000 DIV n_tok) * 6)").alias("conf_ppm"),
    )
    bins = (
        conf.groupBy(
            F.expr(
                f"least({_ECE_BINS - 1}, conf_ppm DIV {1000000 // _ECE_BINS})"
            )
            .cast("bigint")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.expr(
                "CAST(CAST(sum(conf_ppm) AS DECIMAL(38,0)) DIV count(*) AS BIGINT)"
            ).alias("mean_conf_ppm"),
            F.expr("CAST(sum(is_en) AS BIGINT) * 1000000 DIV count(*)").alias(
                "acc_ppm"
            ),
        )
        .transform(pin)  # 10 rows; 2 consumers (ece + output)
    )
    ece = bins.agg(
        F.expr(
            "CAST(CAST(sum(abs(acc_ppm - mean_conf_ppm) * n_docs) AS DECIMAL(38,0))"
            " DIV sum(n_docs) AS BIGINT)"
        ).alias("ece_ppm")
    )
    return bins.crossJoin(F.broadcast(ece)).select(
        "bin", "n_docs", "mean_conf_ppm", "acc_ppm", "ece_ppm"
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# q393 — epoch-shuffle order audit (Spearman footrule + block churn)
# ---------------------------------------------------------------------------

_EPOCH_BLOCK = 128


@register(
    "q393_epoch_order_audit",
    category="layout",
    oracle=f"""
WITH r0 AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY md5('0:' || CAST(doc_id AS VARCHAR))
                                     || ':' || CAST(doc_id AS VARCHAR)) AS r
  FROM documents
),
r1 AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY md5('1:' || CAST(doc_id AS VARCHAR))
                                     || ':' || CAST(doc_id AS VARCHAR)) AS r
  FROM documents
),
j AS (
  SELECT r0.r AS ra, r1.r AS rb FROM r0 JOIN r1 ON r1.doc_id = r0.doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(CAST(sum(abs(ra - rb)) AS HUGEINT) AS VARCHAR) AS footrule,
       CAST(CAST(sum(abs(ra - rb)) AS HUGEINT) * 2000000
            // (CAST(count(*) AS HUGEINT) * count(*)) AS BIGINT)
         AS footrule_ppm,
       CAST({_EPOCH_BLOCK} AS BIGINT) AS block_size,
       CAST(sum(CASE WHEN (ra - 1) // {_EPOCH_BLOCK}
                        = (rb - 1) // {_EPOCH_BLOCK}
                     THEN 1 ELSE 0 END) AS BIGINT) AS same_block_docs,
       CAST(sum(CASE WHEN (ra - 1) // {_EPOCH_BLOCK}
                        = (rb - 1) // {_EPOCH_BLOCK}
                     THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // count(*)
         AS same_block_ppm
FROM j
""",
)
def q393_epoch_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-shuffle order audit: two training epochs order the corpus
    by the deterministic hash keys md5(epoch:doc_id) — the
    reproducible, cluster-size-independent shuffle a data loader
    should use — and this query measures how DIFFERENT the two
    resulting orders actually are: the Spearman footrule distance
    Σ|r0 − r1| against its permutation maximum ⌊n²/2⌋ (Diaconis &
    Graham 1977 — a uniform random pair of permutations concentrates
    near 2/3 of the max), and the fraction of documents that land in
    the SAME 128-doc block in both epochs (block churn ≈ 1 −
    block_size/n for a good shuffle — repeated co-batching across
    epochs is a known memorization amplifier).

    Ranks are assigned with operators/prefix.py:stable_global_ids —
    the two-pass range-partition + offset scan — never a global
    row_number window (the single-task collapse this repo's plan
    digests forbid); the oracle uses DuckDB's window because oracle
    efficiency is irrelevant, and the rank VALUES are identical
    because the order key (md5 || ':' || doc_id) is globally unique
    with binary string collation on both engines.

    Integer exactness: the footrule sum crosses bigint at the 100 TB
    design point (n²/2 at 2e10 docs ≈ 2e20), so it rides
    DECIMAL(38,0)/HUGEINT and is EMITTED AS A DIGIT STRING (the
    driver's float64 canonicalization rule); the ppm columns are
    bounded integers."""
    from sensor_data_pipeline_spark.operators.prefix import stable_global_ids

    d = load_table(spark, "documents", sf_dir)

    def ranked(epoch: int, out: str) -> DataFrame:
        key = F.concat(
            F.md5(F.concat(F.lit(f"{epoch}:"), F.col("doc_id").cast("string"))),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        )
        return stable_global_ids(
            d.select("doc_id", key.alias("_k")), "_k", out_col=out
        ).select("doc_id", out)

    j = ranked(0, "ra").join(ranked(1, "rb"), "doc_id")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("CAST(CAST(sum(abs(ra - rb)) AS DECIMAL(38,0)) AS STRING)").alias(
            "footrule"
        ),
        # normalizer written as 2e6·F / n² (one division) so both
        # engines floor the SAME rational — a nested ⌊n²/2⌋ would
        # disagree with it on odd n
        F.expr(
            "CAST(CAST(sum(abs(ra - rb)) AS DECIMAL(38,0)) * 2000000"
            " DIV (CAST(count(*) AS DECIMAL(38,0)) * count(*)) AS BIGINT)"
        ).alias("footrule_ppm"),
        F.lit(_EPOCH_BLOCK).cast("bigint").alias("block_size"),
        F.expr(
            f"CAST(sum(CASE WHEN (ra - 1) DIV {_EPOCH_BLOCK}"
            f" = (rb - 1) DIV {_EPOCH_BLOCK} THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("same_block_docs"),
        F.expr(
            f"CAST(sum(CASE WHEN (ra - 1) DIV {_EPOCH_BLOCK}"
            f" = (rb - 1) DIV {_EPOCH_BLOCK} THEN 1 ELSE 0 END) AS BIGINT)"
            " * 1000000 DIV count(*)"
        ).alias("same_block_ppm"),
    )
