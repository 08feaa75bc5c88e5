"""Round-8 surface extensions — the training-data operations frontier,
part 3: template/boilerplate mining, corpus-statistics profiling (Zipf
octaves), privacy k-anonymity auditing, label-agreement measurement
(Cohen's kappa), data-constrained epoch budgeting (Muennighoff et al.),
filter-stack co-fire diagnostics, vocabulary-coverage (OOV) auditing,
and split-balance chi-square testing.

Family threads (continuing plans/frontier.py and frontier2.py):

1. Sufficient-statistic discipline: every audit reduces the corpus to
   the SMALLEST exact partial that answers the question (per-token
   counts, per-class sizes, a 2x2 confusion, per-stratum split counts)
   before any reshaping/windowing — at 100 TB the one corpus pass is
   the cost and everything downstream runs on bounded frames.

2. Integer-exact statistics: kappa, chi-square, Jaccard co-fire, OOV
   shares, and epoch utilities are all stated as single integer (or
   decimal(38,0)) divisions — ppm outputs, never accumulated floats —
   so both engines land bit-identical values and every gate decision
   is reproducible from a data version.

All operators here go beyond the reference's own surface (its analytics
stop at per-tick scalar derivation, e.g. src/modules/module_rpi_ups_hat.c);
they are the corpus-governance layer a 100 TB training pipeline needs,
re-derived from public papers cited per query.
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
# q348 — template skeleton mining (boilerplate detection)
# ---------------------------------------------------------------------------

_SKEL_PREFIX = 8  # tokens of structural prefix that define a template
_TOP_TEMPLATES = 20


@register(
    "q348_template_skeleton_mining",
    category="quality",
    oracle=f"""
WITH s AS (
  SELECT doc_id, source,
         array_to_string(list_transform(({_DUCK_WORDS})[1:{_SKEL_PREFIX}],
                         t -> CAST(length(t) AS VARCHAR)), '-') AS skeleton
  FROM documents
),
g AS (
  SELECT skeleton,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(min(doc_id) AS BIGINT) AS first_doc
  FROM s GROUP BY skeleton HAVING count(*) >= 2
)
SELECT skeleton, n_docs, n_sources, first_doc
FROM g
ORDER BY n_docs DESC, skeleton
LIMIT {_TOP_TEMPLATES}
""",
)
def q348_template_skeleton_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate mining by structural skeleton — the
    Drain-style log-template idea (He et al. 2017, public paper)
    applied to corpus curation: documents sharing the length-sequence
    of their first {_SKEL_PREFIX} tokens are instances of one
    structural template (navigation chrome, generated boilerplate,
    scraper artifacts), the mass dedup misses because the VALUES
    differ while the SHAPE repeats. Emitted: the top templates by
    instance count with their source spread (a template spanning many
    sources is site-chrome; one source is a generator signature).

    Scale shape: the skeleton is a per-row map (bounded at
    {_SKEL_PREFIX} small integers, <= ~50 chars of grouping key
    regardless of document length), so the corpus pass is one
    map-side-combinable aggregation on a short key; the HAVING >= 2
    filter and top-K ordering run on the template frame (bounded by
    distinct shapes, far below corpus size). No join, one shuffle."""
    d = load_table(spark, "documents", sf_dir)
    skel = F.array_join(
        F.transform(
            F.slice(tokenize(F.col("text")), 1, _SKEL_PREFIX),
            lambda t: F.length(t).cast("string"),
        ),
        "-",
    )
    return (
        d.select(skel.alias("skeleton"), "source", "doc_id")
        .groupBy("skeleton")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), "skeleton")
        .limit(_TOP_TEMPLATES)
    )


# ---------------------------------------------------------------------------
# q349 — Zipf octave profile of the token frequency distribution
# ---------------------------------------------------------------------------


@register(
    "q349_zipf_octave_profile",
    category="text",
    oracle=f"""
WITH tok AS (
  SELECT unnest({_DUCK_WORDS}) AS token FROM documents
),
tc AS (
  SELECT token, count(*) AS cnt FROM tok GROUP BY token
),
oct AS (
  SELECT CAST(length(bin(cnt)) - 1 AS BIGINT) AS octave,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(cnt) AS BIGINT) AS mass
  FROM tc GROUP BY 1
),
tot AS (SELECT sum(mass) AS total FROM oct)
SELECT octave, n_types, mass,
       CAST(CAST(mass AS HUGEINT) * 1000000 // (SELECT total FROM tot) AS BIGINT) AS mass_ppm,
       CAST(CAST(mass AS HUGEINT) * 1000000 // lag(mass) OVER (ORDER BY octave) AS BIGINT) AS ratio_vs_prev_ppm
FROM oct ORDER BY octave
""",
)
def q349_zipf_octave_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-shape profile of the corpus token-frequency distribution
    in frequency OCTAVES — the doubling buckets [2^k, 2^(k+1)). A
    Zipfian corpus (Zipf 1949; Piantadosi 2014 review, public) has
    near-constant token MASS per octave; a bot-inflated or
    deduplicated-to-death corpus bends the curve, so the
    octave-to-octave mass ratio is the drift signal a curation
    pipeline tracks per snapshot. Companion to q249 (Heaps' law vocab
    growth): that audits TYPE growth, this audits the frequency
    spectrum.

    The octave index is length(bin(cnt)) - 1 on both engines — the
    q339 integer-log2 idiom, because float log2 rounds unportably at
    exact powers of two. Ratios are single integer divisions (ppm).

    Scale shape: ONE corpus pass partial-aggregates token counts (the
    sufficient statistic, bounded by vocabulary size, Heaps-sublinear
    in corpus mass); the octave frame is <= 64 rows and PINNED (two
    consumers: the 1-row total and the profile — without the pin the
    corpus tokenizes twice), so its global window (lag over octave)
    is domain-bounded — it runs after an aggregation on every input
    path."""
    d = load_table(spark, "documents", sf_dir)
    tc = (
        d.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    oct_df = (
        tc.groupBy((F.length(F.bin(F.col("cnt"))) - 1).cast("bigint").alias("octave"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum("cnt").cast("bigint").alias("mass"),
        )
        # <= 64 rows; two consumers (total + profile) — without the pin
        # the corpus tokenizes twice for the 1-row total
        .transform(pin)
    )
    w = Window.orderBy("octave")
    total = oct_df.agg(F.sum("mass").alias("total"))
    return (
        oct_df.crossJoin(F.broadcast(total))
        .withColumn("prev_mass", F.lag("mass").over(w))
        .select(
            "octave",
            "n_types",
            "mass",
            F.expr("CAST((CAST(mass AS DECIMAL(38,0)) * 1000000) DIV total AS BIGINT)").alias("mass_ppm"),
            F.expr("CAST((CAST(mass AS DECIMAL(38,0)) * 1000000) DIV prev_mass AS BIGINT)").alias(
                "ratio_vs_prev_ppm"
            ),
        )
        .orderBy("octave")
    )


# ---------------------------------------------------------------------------
# q350 — k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------

_K_LEVELS = (2, 5, 10, 25)


@register(
    "q350_kanonymity_audit",
    category="privacy",
    oracle=f"""
WITH q AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) // 100000 AS bal_bucket
  FROM customer
),
cls AS (
  SELECT c_nationkey, c_mktsegment, bal_bucket, count(*) AS sz
  FROM q GROUP BY 1, 2, 3
),
tot AS (SELECT sum(sz) AS n_rows FROM cls)
SELECT k,
       CAST(sum(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT) AS classes_at_risk,
       CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT) AS rows_at_risk,
       CAST(CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS HUGEINT) * 1000000
            // (SELECT n_rows FROM tot) AS BIGINT) AS rows_at_risk_ppm
FROM cls CROSS JOIN (SELECT unnest([{", ".join(str(k) for k in _K_LEVELS)}]) AS k)
GROUP BY k ORDER BY k
""",
)
def q350_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002, public paper): under the
    quasi-identifier tuple (nation, market segment, $1000 account-
    balance bucket), how many rows sit in equivalence classes smaller
    than k — the re-identification risk profile a privacy review needs
    BEFORE user-derived data enters a training corpus, reported for
    the standard k ladder {_K_LEVELS}. The balance bucket is exact
    integer cents DIV 100000 (truncation identical on both engines,
    including negative balances — the int_div discipline).

    Scale shape: one pass aggregates rows to equivalence CLASSES (the
    sufficient statistic; bounded by the QI domain product, not row
    count), PINNED because two consumers read it (the row total and
    the ladder roll-up); the k-ladder is a 4-row broadcast cross join
    over that class frame. Nothing after the first aggregation sees
    row-scale data."""
    c = load_table(spark, "customer", sf_dir)
    cls = (
        c.select(
            "c_nationkey",
            "c_mktsegment",
            F.expr(
                "CAST(round(c_acctbal * 100, 0) AS BIGINT) DIV 100000"
            ).alias("bal_bucket"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(F.count(F.lit(1)).alias("sz"))
        # bounded by the QI domain product; two consumers (total +
        # ladder) — without the pin the row-scale table is read twice
        .transform(pin)
    )
    ks = spark.createDataFrame([(k,) for k in _K_LEVELS], "k int")
    total = cls.agg(F.sum("sz").alias("n_rows"))
    return (
        cls.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("sz") < F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("classes_at_risk"),
            F.sum(F.when(F.col("sz") < F.col("k"), F.col("sz")).otherwise(0))
            .cast("bigint")
            .alias("rows_at_risk"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col("k").cast("bigint").alias("k"),
            "classes_at_risk",
            "rows_at_risk",
            # DECIMAL(38,0) guard before the *1e6 (ADVICE r8): a bare
            # BIGINT product overflows int64 past ~9.2e12 rows at risk
            # while DuckDB's HUGEINT side would not — divergent engines
            F.expr(
                "CAST((CAST(rows_at_risk AS DECIMAL(38,0)) * 1000000)"
                " DIV n_rows AS BIGINT)"
            ).alias("rows_at_risk_ppm"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# q351 — rater agreement (Cohen's kappa) between two labeling rules
# ---------------------------------------------------------------------------

_KAPPA_TOK = 25  # rater A: document has >= 25 tokens
_KAPPA_CHR = 140  # rater B: document has >= 140 characters


@register(
    "q351_rater_agreement_kappa",
    category="quality",
    oracle=f"""
WITH lab AS (
  SELECT lang,
         CASE WHEN len({_DUCK_WORDS}) >= {_KAPPA_TOK} THEN 1 ELSE 0 END AS ra,
         CASE WHEN n_chars >= {_KAPPA_CHR} THEN 1 ELSE 0 END AS rb
  FROM documents
),
conf AS (
  SELECT lang,
         CAST(sum(ra * rb) AS BIGINT) AS n_pp,
         CAST(sum(ra * (1 - rb)) AS BIGINT) AS n_pn,
         CAST(sum((1 - ra) * rb) AS BIGINT) AS n_np,
         CAST(sum((1 - ra) * (1 - rb)) AS BIGINT) AS n_nn
  FROM lab GROUP BY lang
)
SELECT lang, n_pp, n_pn, n_np, n_nn,
       CAST((
         (CAST(n_pp + n_pn + n_np + n_nn AS HUGEINT) * (n_pp + n_nn)
          - (CAST(n_pp + n_pn AS HUGEINT) * (n_pp + n_np)
             + CAST(n_np + n_nn AS HUGEINT) * (n_pn + n_nn))) * 1000000
         // NULLIF(CAST(n_pp + n_pn + n_np + n_nn AS HUGEINT)
                   * (n_pp + n_pn + n_np + n_nn)
                   - (CAST(n_pp + n_pn AS HUGEINT) * (n_pp + n_np)
                      + CAST(n_np + n_nn AS HUGEINT) * (n_pn + n_nn)), 0)
       ) AS BIGINT) AS kappa_ppm
FROM conf ORDER BY lang
""",
)
def q351_rater_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-rater agreement as Cohen's kappa (Cohen 1960, public) —
    the measurement a labeling/RLHF data pipeline runs before trusting
    annotations: here the two 'raters' are two deterministic quality
    rules (token-count gate vs character-count gate), and kappa says
    how much they agree BEYOND chance per language. kappa = (po - pe)
    / (1 - pe) reduces over the 2x2 confusion (a=both-pos, b, c,
    d=both-neg, n=a+b+c+d) to the single integer division

        (n*(a+d) - ((a+b)*(a+c) + (c+d)*(b+d))) * 1e6
        DIV (n*n - ((a+b)*(a+c) + (c+d)*(b+d)))

    so the statistic is bit-identical on both engines (numerator may
    be negative; DIV/​// truncate toward zero identically — the
    measured int_div semantics). Products ride decimal(38,0)/HUGEINT
    so per-language counts past 2^31 cannot overflow n*n.

    Scale shape: one corpus pass folds to a per-language 2x2 confusion
    (the sufficient statistic, 4 integers per language); the kappa
    arithmetic runs on that bounded frame. No join, one map-side-
    combinable shuffle."""
    d = load_table(spark, "documents", sf_dir)
    ra = F.when(F.size(tokenize(F.col("text"))) >= _KAPPA_TOK, 1).otherwise(0)
    rb = F.when(F.col("n_chars") >= _KAPPA_CHR, 1).otherwise(0)
    conf = (
        d.select("lang", ra.alias("ra"), rb.alias("rb"))
        .groupBy("lang")
        .agg(
            F.sum(F.col("ra") * F.col("rb")).cast("bigint").alias("n_pp"),
            F.sum(F.col("ra") * (1 - F.col("rb"))).cast("bigint").alias("n_pn"),
            F.sum((1 - F.col("ra")) * F.col("rb")).cast("bigint").alias("n_np"),
            F.sum((1 - F.col("ra")) * (1 - F.col("rb"))).cast("bigint").alias("n_nn"),
        )
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    n = "(n_pp + n_pn + n_np + n_nn)"
    pe_num = (
        f"({dec.format('n_pp + n_pn')} * (n_pp + n_np)"
        f" + {dec.format('n_np + n_nn')} * (n_pn + n_nn))"
    )
    return conf.select(
        "lang",
        "n_pp",
        "n_pn",
        "n_np",
        "n_nn",
        F.expr(
            f"CAST((({dec.format(n)} * (n_pp + n_nn) - {pe_num}) * 1000000)"
            f" DIV nullif({dec.format(n)} * {n} - {pe_num}, 0) AS BIGINT)"
        ).alias("kappa_ppm"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# q352 — data-constrained epoch budgeting (repeat-value decay)
# ---------------------------------------------------------------------------

# value of the k-th epoch over the same tokens, per-mille, 0.7 decay
# (Muennighoff et al. 2023 measure rapidly diminishing returns past ~4
# repeats; the fixed rational table keeps both engines bit-identical
# where a float 0.7^k would round unportably)
_EPOCH_W = (1000, 700, 490, 343, 240, 168, 118, 82)
_EPOCH_CUM = (0, 1000, 1700, 2190, 2533, 2773, 2941, 3059, 3141)
_BUDGET_X = 3  # global token budget = 3x the corpus's unique supply


@register(
    "q352_epoch_repeat_budget",
    category="curation",
    oracle=f"""
WITH sup AS (
  SELECT source, CAST(sum(len({_DUCK_WORDS})) AS BIGINT) AS u_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(CAST({_BUDGET_X} AS BIGINT) * sum(u_tokens) // count(*) AS BIGINT) AS per_source
  FROM sup
),
e AS (
  SELECT source, u_tokens, (SELECT per_source FROM tot) AS target_tokens,
         CAST(least((SELECT per_source FROM tot) // u_tokens, 8) AS BIGINT) AS full_epochs
  FROM sup
),
r AS (
  SELECT source, u_tokens, target_tokens, full_epochs,
         CASE WHEN full_epochs >= 8 THEN 0
              ELSE target_tokens - full_epochs * u_tokens END AS rem_tokens,
         ([{", ".join(str(c) for c in _EPOCH_CUM)}])[full_epochs + 1] AS cum_w,
         CASE WHEN full_epochs >= 8 THEN 0
              ELSE ([{", ".join(str(w) for w in _EPOCH_W)}])[full_epochs + 1] END AS w_next
  FROM e
)
SELECT source, u_tokens, target_tokens, full_epochs,
       CAST((CAST(cum_w AS HUGEINT) * u_tokens + CAST(w_next AS HUGEINT) * rem_tokens)
            // 1000 AS BIGINT) AS effective_tokens,
       CAST((CAST(cum_w AS HUGEINT) * u_tokens + CAST(w_next AS HUGEINT) * rem_tokens)
            * 1000 // NULLIF(target_tokens, 0) AS BIGINT) AS utility_ppm
FROM r ORDER BY source
""",
)
def q352_epoch_repeat_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch budgeting (Muennighoff et al. 2023,
    'Scaling Data-Constrained Language Models', public): when the
    token budget exceeds a source's unique supply, repeated epochs
    carry rapidly diminishing value. Each source gets an equal slice
    of a {_BUDGET_X}x-unique-supply budget; the k-th epoch over the
    same tokens is worth the fixed per-mille weight {_EPOCH_W}[k-1]
    (0.7 decay, capped at 8 epochs). Emitted per source: unique
    supply, target, full epochs, EFFECTIVE tokens (decayed value of
    what the budget buys), and utility_ppm = effective*1e6/target —
    the number that says which sources are epoch-starved (utility ~1e6
    at 1 epoch) vs repeat-saturated (utility collapsing toward
    cum_w/epochs). Weights/cumulative sums are fixed integer tables
    indexed by epoch count on both engines — no float power anywhere.

    utility is reported as value-per-mille of target scaled to ppm via
    *1000 on the per-mille weights (weights are already /1000, so
    effective*1e6/target = (cum*u + w*rem)*1000/target).

    Scale shape: one corpus pass sums token counts per source (the
    sufficient statistic — a bounded panel, PINNED: the budget row and
    the per-source arithmetic both read it); every epoch/utility
    column is per-row arithmetic on that panel plus one 1-row budget
    broadcast. The epoch weight 'table' is an array literal indexed by
    full_epochs, so no join at all."""
    d = load_table(spark, "documents", sf_dir)
    sup = (
        d.select("source", F.size(tokenize(F.col("text"))).cast("bigint").alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").alias("u_tokens"))
        # bounded source panel; two consumers (the budget row + the
        # per-source arithmetic) — without the pin the corpus
        # tokenizes twice
        .transform(pin)
    )
    tot = sup.agg(
        F.expr(
            f"CAST({_BUDGET_X} AS BIGINT) * sum(u_tokens) DIV count(*)"
        ).alias("target_tokens")
    )
    cum_arr = "array(" + ", ".join(str(c) for c in _EPOCH_CUM) + ")"
    w_arr = "array(" + ", ".join(str(w) for w in _EPOCH_W) + ")"
    return (
        sup.crossJoin(F.broadcast(tot))
        .withColumn(
            "full_epochs",
            F.expr("CAST(least(target_tokens DIV u_tokens, 8) AS BIGINT)"),
        )
        .withColumn(
            "rem_tokens",
            F.expr(
                "CASE WHEN full_epochs >= 8 THEN CAST(0 AS BIGINT) "
                "ELSE target_tokens - full_epochs * u_tokens END"
            ),
        )
        .withColumn(
            "cum_w", F.expr(f"element_at({cum_arr}, CAST(full_epochs + 1 AS INT))")
        )
        .withColumn(
            "w_next",
            F.expr(
                "CASE WHEN full_epochs >= 8 THEN 0 "
                f"ELSE element_at({w_arr}, CAST(full_epochs + 1 AS INT)) END"
            ),
        )
        .select(
            "source",
            "u_tokens",
            "target_tokens",
            "full_epochs",
            F.expr(
                "CAST((CAST(cum_w AS DECIMAL(38,0)) * u_tokens"
                " + CAST(w_next AS DECIMAL(38,0)) * rem_tokens) DIV 1000 AS BIGINT)"
            ).alias("effective_tokens"),
            F.expr(
                "CAST((CAST(cum_w AS DECIMAL(38,0)) * u_tokens"
                " + CAST(w_next AS DECIMAL(38,0)) * rem_tokens) * 1000"
                " DIV nullif(target_tokens, 0) AS BIGINT)"
            ).alias("utility_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q353 — quality-gate co-fire matrix
# ---------------------------------------------------------------------------

_GATES = ("short", "few_stop", "long_tok", "dup_heavy")
_GATE_PAIRS = [(i, j) for i in range(4) for j in range(4) if i < j]


@register(
    "q353_gate_cofire_matrix",
    category="quality",
    oracle=f"""
WITH g AS (
  SELECT CASE WHEN len({_DUCK_WORDS}) < 20 THEN 1 ELSE 0 END AS g0,
         CASE WHEN len(list_filter({_DUCK_WORDS},
              w -> list_contains(['the','a','an','and','or','of','to','in','is','it'], w))) < 2
              THEN 1 ELSE 0 END AS g1,
         CASE WHEN list_aggregate(list_transform({_DUCK_WORDS}, w -> length(w)), 'max') > 6
              THEN 1 ELSE 0 END AS g2,
         CASE WHEN len(list_distinct({_DUCK_WORDS})) * 2 < len({_DUCK_WORDS})
              THEN 1 ELSE 0 END AS g3
  FROM documents
),
agg AS (
  SELECT CAST(sum(g0) AS BIGINT) AS s0, CAST(sum(g1) AS BIGINT) AS s1,
         CAST(sum(g2) AS BIGINT) AS s2, CAST(sum(g3) AS BIGINT) AS s3,
         CAST(sum(g0 * g1) AS BIGINT) AS b01, CAST(sum(g0 * g2) AS BIGINT) AS b02,
         CAST(sum(g0 * g3) AS BIGINT) AS b03, CAST(sum(g1 * g2) AS BIGINT) AS b12,
         CAST(sum(g1 * g3) AS BIGINT) AS b13, CAST(sum(g2 * g3) AS BIGINT) AS b23
  FROM g
)
SELECT gate_a, gate_b, n_a, n_b, n_both,
       n_a + n_b - n_both AS n_either,
       CAST(n_both * 1000000 // NULLIF(n_a + n_b - n_both, 0) AS BIGINT) AS jaccard_ppm
FROM (
  SELECT '{_GATES[0]}' AS gate_a, '{_GATES[1]}' AS gate_b, s0 AS n_a, s1 AS n_b, b01 AS n_both FROM agg
  UNION ALL SELECT '{_GATES[0]}', '{_GATES[2]}', s0, s2, b02 FROM agg
  UNION ALL SELECT '{_GATES[0]}', '{_GATES[3]}', s0, s3, b03 FROM agg
  UNION ALL SELECT '{_GATES[1]}', '{_GATES[2]}', s1, s2, b12 FROM agg
  UNION ALL SELECT '{_GATES[1]}', '{_GATES[3]}', s1, s3, b13 FROM agg
  UNION ALL SELECT '{_GATES[2]}', '{_GATES[3]}', s2, s3, b23 FROM agg
) ORDER BY gate_a, gate_b
""",
)
def q353_gate_cofire_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-stack co-fire diagnostics: for every pair of quality
    gates, how often they reject the SAME documents (pairwise Jaccard
    over the rejected sets, ppm). This is the audit that tells a
    curation pipeline which gates are redundant (Jaccard ~1e6: drop
    one) and which are orthogonal (~0: both earn their scan) — the
    FineWeb/RefinedWeb ablation question (Penedo et al. 2023/2024,
    public) answered without rerunning the pipeline per gate subset.
    Gates: <20 tokens, <2 stopwords, a >6-char token, >50% duplicate
    token positions.

    Scale shape: gate booleans are per-row maps computed in ONE corpus
    pass that folds straight into a SINGLE aggregation row of 10
    sufficient sums (4 singles + 6 pairs — the q345 sufficient-sums
    rule); the 6-row pair matrix is reshaped from that one row with a
    stack(), touching no row-scale data. No join, no second scan."""
    from sensor_data_pipeline_spark.functions.text import stopword_count

    d = load_table(spark, "documents", sf_dir)
    w = tokenize(F.col("text"))
    flags = d.select(
        F.when(F.size(w) < 20, 1).otherwise(0).alias("g0"),
        F.when(stopword_count(w) < 2, 1).otherwise(0).alias("g1"),
        F.when(
            F.array_max(F.transform(w, lambda t: F.length(t))) > 6, 1
        ).otherwise(0).alias("g2"),
        F.when(F.size(F.array_distinct(w)) * 2 < F.size(w), 1)
        .otherwise(0)
        .alias("g3"),
    )
    agg = flags.agg(
        *[F.sum(f"g{i}").cast("bigint").alias(f"s{i}") for i in range(4)],
        *[
            F.sum(F.col(f"g{i}") * F.col(f"g{j}")).cast("bigint").alias(f"b{i}{j}")
            for i, j in _GATE_PAIRS
        ],
    )
    stack_args = ", ".join(
        f"'{_GATES[i]}', '{_GATES[j]}', s{i}, s{j}, b{i}{j}" for i, j in _GATE_PAIRS
    )
    return (
        agg.select(
            F.expr(
                f"stack({len(_GATE_PAIRS)}, {stack_args})"
                " AS (gate_a, gate_b, n_a, n_b, n_both)"
            )
        )
        .select(
            "gate_a",
            "gate_b",
            "n_a",
            "n_b",
            "n_both",
            (F.col("n_a") + F.col("n_b") - F.col("n_both")).alias("n_either"),
            F.expr(
                "CAST((n_both * 1000000) DIV nullif(n_a + n_b - n_both, 0) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("gate_a", "gate_b")
    )


# ---------------------------------------------------------------------------
# q354 — out-of-vocabulary rate by (lang, source)
# ---------------------------------------------------------------------------

_VOCAB_K = 16  # top-K tokens by corpus frequency form the 'vocabulary'


@register(
    "q354_oov_rate_audit",
    category="text",
    oracle=f"""
WITH tok AS (
  SELECT lang, source, unnest({_DUCK_WORDS}) AS token FROM documents
),
tc AS (
  SELECT token, lang, source, count(*) AS cnt FROM tok GROUP BY 1, 2, 3
),
vocab AS (
  SELECT token FROM (
    SELECT token, sum(cnt) AS total,
           row_number() OVER (ORDER BY sum(cnt) DESC, token) AS rk
    FROM tc GROUP BY token
  ) WHERE rk <= {_VOCAB_K}
)
SELECT lang, source,
       CAST(sum(cnt) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN token IN (SELECT token FROM vocab) THEN 0 ELSE cnt END) AS BIGINT) AS oov_tokens,
       CAST(CAST(sum(CASE WHEN token IN (SELECT token FROM vocab) THEN 0 ELSE cnt END) AS HUGEINT) * 1000000
            // sum(cnt) AS BIGINT) AS oov_ppm
FROM tc GROUP BY lang, source ORDER BY lang, source
""",
)
def q354_oov_rate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage (OOV) audit: with the corpus's own top-
    {_VOCAB_K} tokens as the working vocabulary, the out-of-vocabulary
    token share per (lang, source) — the signal that flags sources a
    fixed tokenizer/vocab will shred into rare pieces (high fertility,
    poor compression) before money is spent training on them
    (complements q329's fertility measure with a per-source roll-up).
    The vocabulary cut is a TOTAL order (count desc, token) so the
    top-K boundary is deterministic on both engines.

    Scale shape: the corpus explodes to tokens exactly once, folding
    immediately into per-(token, lang, source) counts — the sufficient
    statistic, bounded by vocabulary x source panel, Heaps-sublinear
    in corpus mass — which is PINNED (two consumers: the global top-K
    derivation and the per-group OOV roll-up; without the pin the
    corpus tokenizes twice). The vocabulary itself is {_VOCAB_K} rows,
    broadcast into a membership join against the pinned stat, never
    against row-scale data."""
    d = load_table(spark, "documents", sf_dir)
    tc = (
        d.select("lang", "source", F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token", "lang", "source")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(pin)  # two consumers: vocab top-K + OOV roll-up
    )
    wv = Window.orderBy(F.col("total").desc(), "token")
    vocab = (
        tc.groupBy("token")
        .agg(F.sum("cnt").alias("total"))
        .withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") <= _VOCAB_K)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        tc.join(F.broadcast(vocab), "token", "left")
        .groupBy("lang", "source")
        .agg(
            F.sum("cnt").cast("bigint").alias("total_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("oov_tokens"),
        )
        .select(
            "lang",
            "source",
            "total_tokens",
            "oov_tokens",
            F.expr("CAST((CAST(oov_tokens AS DECIMAL(38,0)) * 1000000) DIV total_tokens AS BIGINT)").alias(
                "oov_ppm"
            ),
        )
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# q355 — train/val split balance (per-stratum chi-square)
# ---------------------------------------------------------------------------

_SPLIT_SEED = 11
_SPLIT_MOD = 10
_SPLIT_TRAIN = 8  # hash residues 0-7 -> train (80/20 split)
# chi-square with 1 df at p=0.05 is 3.841; the gate works in ppm
_CHISQ_PPM = 3_841_000


@register(
    "q355_split_balance_chisq",
    category="sampling",
    oracle=f"""
WITH s AS (
  SELECT lang,
         CASE WHEN CAST(('0x' || substr(md5('{_SPLIT_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % {_SPLIT_MOD} < {_SPLIT_TRAIN} THEN 1 ELSE 0 END AS is_train
  FROM documents
),
st AS (
  SELECT lang, CAST(sum(is_train) AS BIGINT) AS o_train,
         CAST(sum(1 - is_train) AS BIGINT) AS o_val
  FROM s GROUP BY lang
),
tot AS (
  SELECT sum(o_train) AS n_train, sum(o_val) AS n_val FROM st
)
SELECT lang, o_train, o_val,
       CAST(CAST(o_train * (SELECT n_val FROM tot) - o_val * (SELECT n_train FROM tot) AS HUGEINT)
            * (o_train * (SELECT n_val FROM tot) - o_val * (SELECT n_train FROM tot))
            * 1000000
            // (CAST(o_train + o_val AS HUGEINT)
                * (SELECT n_train FROM tot) * (SELECT n_val FROM tot)) AS BIGINT) AS chisq_ppm,
       CAST(CAST(o_train * (SELECT n_val FROM tot) - o_val * (SELECT n_train FROM tot) AS HUGEINT)
            * (o_train * (SELECT n_val FROM tot) - o_val * (SELECT n_train FROM tot))
            * 1000000
            // (CAST(o_train + o_val AS HUGEINT)
                * (SELECT n_train FROM tot) * (SELECT n_val FROM tot))
            > {_CHISQ_PPM} AS BOOLEAN) AS imbalanced
FROM st ORDER BY lang
""",
)
def q355_split_balance_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-balance audit: after the deterministic 80/20 hash split
    (the q78 seeded-md5 idiom, reproducible on any engine), the per-
    stratum chi-square statistic against the global train/val ratio —
    the pre-training sanity check that a stratum (language) didn't
    land lopsided in the validation set, which would silently skew
    eval. For a 2x2 stratum-vs-split table the statistic reduces
    exactly to

        chi2 = d^2 / (T * N1 * N2 / N),  d = o_train*N_val - o_val*N_train

    (N1/N2 global train/val totals, T the stratum size, N=N1+N2); the
    emitted chisq_ppm folds the algebra into ONE integer division over
    decimal(38,0)/HUGEINT products — exact while |d| < ~1e16 (the
    binding term is d²·1e6 ≤ 1e38, DECIMAL(38,0) capacity, NOT the
    bigint range of d itself; ADVICE r8 corrected the earlier ~1.8e18
    claim). Past that bound the engines FAIL DIFFERENTLY — Spark
    decimal overflow yields NULL under non-ANSI mode while DuckDB's
    HUGEINT raises — so the bound is a documented contract, not a
    graceful degradation; flag = chisq_ppm > {_CHISQ_PPM} (the 1-df
    95% critical value 3.841 in ppm).

    Note the d^2*1e6 DIV (T*N1*N2) form: chi2 = d^2*N/(T*N1*N2*N) =
    d^2/(T*N1*N2) after the N cancels — no float, no rounding.

    Scale shape: the split flag is a pure scan predicate (md5 of the
    row id — no shuffle, prunable); one pass folds to per-stratum
    counts (the sufficient statistic, PINNED: the global totals and
    the chi-square both read it), the totals are a 1-row broadcast,
    and the chi-square arithmetic runs on the bounded stratum
    frame."""
    from sensor_data_pipeline_spark.functions.text import word_hash32

    d = load_table(spark, "documents", sf_dir)
    is_train = F.when(
        F.pmod(
            word_hash32(F.col("doc_id").cast("string"), seed=_SPLIT_SEED),
            F.lit(_SPLIT_MOD),
        )
        < _SPLIT_TRAIN,
        1,
    ).otherwise(0)
    st = (
        d.select("lang", is_train.alias("is_train"))
        .groupBy("lang")
        .agg(
            F.sum("is_train").cast("bigint").alias("o_train"),
            F.sum(1 - F.col("is_train")).cast("bigint").alias("o_val"),
        )
        # bounded stratum frame; two consumers (global totals + the
        # per-stratum chi-square) — without the pin the corpus is
        # hashed and scanned twice
        .transform(pin)
    )
    tot = st.agg(
        F.sum("o_train").alias("n_train"), F.sum("o_val").alias("n_val")
    )
    chisq = (
        "CAST(CAST(o_train * n_val - o_val * n_train AS DECIMAL(38,0))"
        " * (o_train * n_val - o_val * n_train) * 1000000"
        " DIV (CAST(o_train + o_val AS DECIMAL(38,0)) * n_train * n_val) AS BIGINT)"
    )
    return (
        st.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "o_train",
            "o_val",
            F.expr(chisq).alias("chisq_ppm"),
            F.expr(f"{chisq} > {_CHISQ_PPM}").alias("imbalanced"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q356 — LSH S-curve operating-point audit
# ---------------------------------------------------------------------------

_DUCK_HASH32 = "CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"
_DUCK_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, len(w)-2), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))"
)
# 2^64 = (16^4)^4: the S-curve denominator for the 16-hash/4-band config
_POW64 = "18446744073709551616"


@register(
    "q356_lsh_s_curve_audit",
    category="dedup",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, {_DUCK_SHINGLES} AS shingles
  FROM (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents)
),
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM docs),
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
hist AS (SELECT n_match AS k, CAST(count(*) AS BIGINT) AS n_pairs FROM est GROUP BY n_match),
grid AS (SELECT unnest(generate_series(0, 16)) AS k)
SELECT CAST(g.k AS BIGINT) AS k,
       CAST(g.k * 62500 AS BIGINT) AS est_jaccard_ppm,
       CAST((CAST({_POW64} AS HUGEINT)
             - CAST((65536 - g.k*g.k*g.k*g.k) * (65536 - g.k*g.k*g.k*g.k) AS HUGEINT)
               * ((65536 - g.k*g.k*g.k*g.k) * (65536 - g.k*g.k*g.k*g.k))) * 1000000
            // CAST({_POW64} AS HUGEINT) AS BIGINT) AS analytic_cand_p_ppm,
       COALESCE(h.n_pairs, 0) AS n_cand_pairs
FROM grid g LEFT JOIN hist h ON h.k = g.k
ORDER BY k
""",
)
def q356_lsh_s_curve_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH operating-point audit: the analytic banding S-curve
    P(candidate | s) = 1 - (1 - s^r)^b for the production 16-hash /
    4-band / 4-row MinHash config (Leskovec-Rajaraman-Ullman, 'Mining
    of Massive Datasets' ch.3, public), evaluated EXACTLY at every
    estimated similarity s = k/16 next to the OBSERVED candidate-pair
    histogram at that signature-match count. This is the audit that
    says where the config's recall cliff sits (the s where P crosses
    50%) and whether the corpus's pair mass lives above or below it —
    the go/no-go before committing a 100 TB dedup run to (b, r).

    Exact rational arithmetic: with s = k/16, P*1e6 = (2^64 -
    (65536 - k^4)^4) * 1e6 DIV 2^64 — the fourth power rides
    decimal(38,0)/HUGEINT (m^4 up to 1.8e19 overflows int64), so both
    engines emit identical ppm with no float power anywhere.

    Scale shape: identical to q86's calibration pipeline — the pair
    space is LSH-bounded (never all pairs), the signature table is
    16 ints/doc, and the S-curve itself is a 17-row grid joined to the
    bounded match-count histogram. Candidate generation is the only
    corpus-scale work and it is banded/bucketed."""
    from sensor_data_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    sig = minhash_signatures(d, "doc_id", "text", num_hashes=16, n=3).cache()
    cands = lsh_candidate_pairs(sig, "doc_id", num_hashes=16, bands=4)
    sig_a = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh_{k}").alias(f"a{k}") for k in range(16)],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh_{k}").alias(f"b{k}") for k in range(16)],
    )
    matches = sum(
        F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0) for k in range(16)
    )
    hist = (
        cands.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(matches.cast("bigint").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    grid = spark.createDataFrame([(k,) for k in range(17)], "k bigint")
    m4 = (
        "CAST((65536 - k*k*k*k) * (65536 - k*k*k*k) AS DECIMAL(38,0))"
        " * ((65536 - k*k*k*k) * (65536 - k*k*k*k))"
    )
    return (
        grid.join(hist, "k", "left")
        .select(
            "k",
            (F.col("k") * 62500).cast("bigint").alias("est_jaccard_ppm"),
            F.expr(
                f"CAST((CAST({_POW64} AS DECIMAL(38,0)) - {m4}) * 1000000"
                f" DIV CAST({_POW64} AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("analytic_cand_p_ppm"),
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("bigint").alias("n_cand_pairs"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# q357 — per-source vocabulary drift (total-variation distance)
# ---------------------------------------------------------------------------


@register(
    "q357_source_tv_divergence",
    category="text",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({_DUCK_WORDS}) AS token FROM documents
),
tc AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
gt AS (SELECT token, CAST(sum(c) AS BIGINT) AS ct FROM tc GROUP BY token),
ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM tc GROUP BY source),
tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM gt),
present AS (
  SELECT t.source,
         sum(abs(CAST(t.c AS HUGEINT) * ((SELECT n FROM tot) - s.n_s)
                 - CAST(g.ct - t.c AS HUGEINT) * s.n_s)) AS present_sum,
         CAST(sum(g.ct) AS BIGINT) AS covered_ct
  FROM tc t JOIN gt g ON g.token = t.token JOIN ns s ON s.source = t.source
  GROUP BY t.source
)
SELECT s.source, s.n_s AS n_tokens,
       CAST((p.present_sum
             + CAST(s.n_s AS HUGEINT) * ((SELECT n FROM tot) - p.covered_ct)) * 1000000
            // NULLIF(CAST(2 AS HUGEINT) * s.n_s * ((SELECT n FROM tot) - s.n_s), 0) AS BIGINT) AS tv_ppm
FROM ns s JOIN present p ON p.source = s.source
ORDER BY s.source
""",
)
def q357_source_tv_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary drift as EXACT total-variation distance
    between the source's token distribution and the rest of the
    corpus: TV = 1/2 sum_t |p_s(t) - p_rest(t)|. Sources whose TV is
    high are distribution outliers (different register, boilerplate,
    another language leaking through lang-id) — the per-source drift
    gate a mixture curation pass runs before q239/q346 allocate
    budget. Unlike KL divergence (whose log cannot be computed
    portably), TV folds to integer cross-multiplication:

        sum_t |c_s*(N - N_s) - (C_t - c_s)*N_s| * 1e6
        DIV (2 * N_s * (N - N_s))

    with the absent-token mass added in closed form (tokens missing
    from the source contribute C_t*N_s each, so their sum is
    N_s * (N - sum of C_t over PRESENT tokens) — no row ever
    materializes for an absent (source, token) pair). Products ride
    decimal(38,0)/HUGEINT; the r9 docstring bound: exact while
    c * N < 1e38 (any real corpus).

    Scale shape: the corpus explodes to tokens once, folding into the
    per-(source, token) count — the pinned sufficient statistic
    (vocabulary x sources, Heaps-sublinear); the global token census
    joins it ON TOKEN (bounded by vocabulary, shuffle-joinable at any
    scale — deliberately NOT a forced broadcast); everything after is
    per-source arithmetic on bounded frames."""
    d = load_table(spark, "documents", sf_dir)
    tc = (
        d.select("source", F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        # three consumers: global census, per-source totals, the
        # present-sum join — without the pin the corpus tokenizes 3x
        .transform(pin)
    )
    gt = tc.groupBy("token").agg(F.sum("c").cast("bigint").alias("ct"))
    ns = tc.groupBy("source").agg(F.sum("c").cast("bigint").alias("n_s"))
    tot = gt.agg(F.sum("ct").cast("bigint").alias("n"))
    present = (
        tc.join(gt, "token")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.sum(
                F.expr(
                    "abs(CAST(c AS DECIMAL(38,0)) * (n - n_s)"
                    " - CAST(ct - c AS DECIMAL(38,0)) * n_s)"
                )
            ).alias("present_sum"),
            F.sum("ct").cast("bigint").alias("covered_ct"),
        )
    )
    return (
        ns.join(present, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            F.expr(
                "CAST((present_sum + CAST(n_s AS DECIMAL(38,0)) * (n - covered_ct))"
                " * 1000000 DIV nullif(CAST(2 AS DECIMAL(38,0)) * n_s * (n - n_s), 0) AS BIGINT)"
            ).alias("tv_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q358 — quality-signal AUC via the rank-sum (Mann-Whitney) identity
# ---------------------------------------------------------------------------


@register(
    "q358_quality_auc_ranksum",
    category="quality",
    oracle=f"""
WITH lab AS (
  SELECT lang, CAST(len({_DUCK_WORDS}) AS BIGINT) AS score,
         CASE WHEN n_chars >= 140 THEN 1 ELSE 0 END AS pos
  FROM documents
),
g AS (
  SELECT lang, score, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(pos) AS BIGINT) AS pos_cnt
  FROM lab GROUP BY lang, score
),
r AS (
  SELECT lang, score, cnt, pos_cnt,
         COALESCE(sum(cnt) OVER (PARTITION BY lang ORDER BY score
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM g
),
s AS (
  SELECT lang,
         sum(CAST(pos_cnt AS HUGEINT) * (2 * cum_before + cnt + 1)) AS two_r_pos,
         CAST(sum(pos_cnt) AS BIGINT) AS n_pos,
         CAST(sum(cnt - pos_cnt) AS BIGINT) AS n_neg
  FROM r GROUP BY lang
)
SELECT lang, n_pos, n_neg,
       CAST((two_r_pos - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000
            // NULLIF(CAST(2 AS HUGEINT) * n_pos * n_neg, 0) AS BIGINT) AS auc_ppm
FROM s ORDER BY lang
""",
)
def q358_quality_auc_ranksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC of a quality signal against a weak label, computed EXACTLY
    via the Mann-Whitney rank-sum identity AUC = (R_pos - n_pos(n_pos
    +1)/2) / (n_pos*n_neg) (Hanley & McNeil 1982, public) — the
    discriminative-power audit a pipeline runs before trusting a
    cheap score (here: token count) to predict an expensive gate
    (here: the character-count rule) per language. Ties get average
    ranks; a tie group occupying ranks [a+1, a+m] contributes
    pos_cnt * (2a + m + 1) to 2*R_pos, so the whole statistic stays
    integer (2R is always integral) and lands bit-identically as one
    division in ppm. AUC ~ 500000 means the cheap score carries no
    signal; ~1e6 means it can replace the gate.

    Scale shape: one corpus pass folds to per-(lang, score) counts —
    the sufficient statistic, bounded by the score domain x languages;
    the cumulative rank walk is a KEYED window over that bounded
    frame (partitioned by lang, never global); products ride
    decimal(38,0)/HUGEINT so n ~ 1e10 rows per language cannot
    overflow 2R ~ n^2."""
    d = load_table(spark, "documents", sf_dir)
    g = (
        d.select(
            "lang",
            F.size(tokenize(F.col("text"))).cast("bigint").alias("score"),
            F.when(F.col("n_chars") >= 140, 1).otherwise(0).alias("pos"),
        )
        .groupBy("lang", "score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum("pos").cast("bigint").alias("pos_cnt"),
        )
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s = (
        g.withColumn("cum_before", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
        .groupBy("lang")
        .agg(
            F.sum(
                F.expr("CAST(pos_cnt AS DECIMAL(38,0)) * (2 * cum_before + cnt + 1)")
            ).alias("two_r_pos"),
            F.sum("pos_cnt").cast("bigint").alias("n_pos"),
            F.sum(F.col("cnt") - F.col("pos_cnt")).cast("bigint").alias("n_neg"),
        )
    )
    return s.select(
        "lang",
        "n_pos",
        "n_neg",
        F.expr(
            "CAST((two_r_pos - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)) * 1000000"
            " DIV nullif(CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg, 0) AS BIGINT)"
        ).alias("auc_ppm"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# q359 — rater error triangulation (majority-vote Dawid-Skene init)
# ---------------------------------------------------------------------------


@register(
    "q359_rater_error_triangulation",
    category="quality",
    oracle=f"""
WITH votes AS (
  SELECT lang,
         CASE WHEN len({_DUCK_WORDS}) >= 25 THEN 1 ELSE 0 END AS r1,
         CASE WHEN n_chars >= 140 THEN 1 ELSE 0 END AS r2,
         CASE WHEN len(list_filter({_DUCK_WORDS},
              w -> list_contains(['the','a','an','and','or','of','to','in','is','it'], w))) >= 3
              THEN 1 ELSE 0 END AS r3
  FROM documents
),
m AS (
  SELECT lang, r1, r2, r3,
         CASE WHEN r1 + r2 + r3 >= 2 THEN 1 ELSE 0 END AS mj
  FROM votes
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN r1 <> mj THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS err1_ppm,
       CAST(sum(CASE WHEN r2 <> mj THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS err2_ppm,
       CAST(sum(CASE WHEN r3 <> mj THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS err3_ppm,
       CAST(sum(CASE WHEN r1 = r2 AND r2 = r3 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS unanimous_ppm
FROM m GROUP BY lang ORDER BY lang
""",
)
def q359_rater_error_triangulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rater error estimation by majority-vote triangulation — the
    initialization step of Dawid & Skene 1979 (public), the method a
    labeling pipeline uses to price each annotator (here: three
    deterministic rules — token, character, and stopword gates)
    without any gold labels: take the 2-of-3 majority as pseudo-truth
    and measure each rater's disagreement rate with it, per language.
    A rater whose err_ppm runs far above its peers is down-weighted or
    re-briefed; unanimous_ppm is the easy-fraction of the stream (the
    docs no rater disputes). Complements q351: kappa prices a PAIR's
    agreement, this triangulates WHICH rater is wrong. All rates are
    integer ppm — single divisions of counts.

    Scale shape: pure per-row vote algebra folding into ONE per-
    language aggregation of conditional sums. No join, no window, one
    map-side-combinable shuffle; nothing degrades at 100 TB."""
    from sensor_data_pipeline_spark.functions.text import stopword_count

    d = load_table(spark, "documents", sf_dir)
    w = tokenize(F.col("text"))
    votes = d.select(
        "lang",
        F.when(F.size(w) >= 25, 1).otherwise(0).alias("r1"),
        F.when(F.col("n_chars") >= 140, 1).otherwise(0).alias("r2"),
        F.when(stopword_count(w) >= 3, 1).otherwise(0).alias("r3"),
    ).withColumn(
        "mj", F.when(F.col("r1") + F.col("r2") + F.col("r3") >= 2, 1).otherwise(0)
    )
    n = F.count(F.lit(1))
    return (
        votes.groupBy("lang")
        .agg(
            n.cast("bigint").alias("n_docs"),
            F.expr(
                "CAST(CAST(sum(CASE WHEN r1 <> mj THEN 1 ELSE 0 END) AS DECIMAL(38,0)) * 1000000"
                " DIV count(*) AS BIGINT)"
            ).alias("err1_ppm"),
            F.expr(
                "CAST(CAST(sum(CASE WHEN r2 <> mj THEN 1 ELSE 0 END) AS DECIMAL(38,0)) * 1000000"
                " DIV count(*) AS BIGINT)"
            ).alias("err2_ppm"),
            F.expr(
                "CAST(CAST(sum(CASE WHEN r3 <> mj THEN 1 ELSE 0 END) AS DECIMAL(38,0)) * 1000000"
                " DIV count(*) AS BIGINT)"
            ).alias("err3_ppm"),
            F.expr(
                "CAST(CAST(sum(CASE WHEN r1 = r2 AND r2 = r3 THEN 1 ELSE 0 END) AS DECIMAL(38,0)) * 1000000"
                " DIV count(*) AS BIGINT)"
            ).alias("unanimous_ppm"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q360 — dedup yield forecast (keep-k policy curve)
# ---------------------------------------------------------------------------

_YIELD_KEEP = (1, 2, 4)


@register(
    "q360_dedup_yield_forecast",
    category="dedup",
    oracle=f"""
WITH fp AS (
  SELECT doc_id, substr(text, 1, 64) AS fingerprint,
         CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tok
  FROM documents
),
rk AS (
  SELECT n_tok,
         row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS r
  FROM fp
),
tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total_tokens, CAST(count(*) AS BIGINT) AS total_docs FROM fp),
agg AS (
  SELECT
    {", ".join(f"CAST(sum(CASE WHEN r > {k} THEN 1 ELSE 0 END) AS BIGINT) AS d{k}, CAST(sum(CASE WHEN r > {k} THEN n_tok ELSE 0 END) AS BIGINT) AS t{k}" for k in _YIELD_KEEP)}
  FROM rk
)
SELECT keep_k, docs_removed, tokens_saved,
       CAST(CAST(tokens_saved AS HUGEINT) * 1000000 // (SELECT total_tokens FROM tot) AS BIGINT) AS saved_ppm
FROM (
  {" UNION ALL ".join(f"SELECT CAST({k} AS BIGINT) AS keep_k, d{k} AS docs_removed, t{k} AS tokens_saved FROM agg" for k in _YIELD_KEEP)}
) ORDER BY keep_k
""",
)
def q360_dedup_yield_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup yield forecast: before running (or re-running) the full
    dedup pass, the token mass a keep-k-per-cluster policy would
    remove, for k = {_YIELD_KEEP} — the number that prices the
    pipeline stage ('keep-1 saves 12% of the training budget, keep-2
    only 7% — is the diversity worth 5%?'). Clusters are the 64-char
    opening fingerprint (the q185 boilerplate key — the fixture has no
    byte-identical full texts); the kept k are the lowest doc_ids
    (deterministic canonical choice, the q205 rule). All three policy
    points derive from ONE ranked pass — the q334/q344 multi-point-
    from-one-scan discipline.

    Scale shape: one scan, one KEYED window (rank within fingerprint —
    bounded by cluster sizes, never global), one aggregation row of 6
    sufficient sums, a 3-row unpivot. The fingerprint shuffle is the
    only corpus-scale movement and its key is 64 chars capped."""
    d = load_table(spark, "documents", sf_dir)
    fp = d.select(
        "doc_id",
        F.substring("text", 1, 64).alias("fingerprint"),
        F.size(tokenize(F.col("text"))).cast("bigint").alias("n_tok"),
    )
    wr = Window.partitionBy("fingerprint").orderBy("doc_id")
    rk = fp.withColumn("r", F.row_number().over(wr))
    sums = []
    for k in _YIELD_KEEP:
        sums.append(
            F.sum(F.when(F.col("r") > k, 1).otherwise(0)).cast("bigint").alias(f"d{k}")
        )
        sums.append(
            F.sum(F.when(F.col("r") > k, F.col("n_tok")).otherwise(0))
            .cast("bigint")
            .alias(f"t{k}")
        )
    sums.append(F.sum("n_tok").cast("bigint").alias("total_tokens"))
    agg = rk.agg(*sums)
    stack_args = ", ".join(
        f"CAST({k} AS BIGINT), d{k}, t{k}" for k in _YIELD_KEEP
    )
    return (
        agg.select(
            F.expr(
                f"stack({len(_YIELD_KEEP)}, {stack_args})"
                " AS (keep_k, docs_removed, tokens_saved)"
            ),
            "total_tokens",
        )
        .select(
            "keep_k",
            "docs_removed",
            "tokens_saved",
            F.expr(
                "CAST(CAST(tokens_saved AS DECIMAL(38,0)) * 1000000 DIV total_tokens AS BIGINT)"
            ).alias("saved_ppm"),
        )
        .orderBy("keep_k")
    )


# ---------------------------------------------------------------------------
# q361 — context-window overflow audit (truncate vs split, 3 widths)
# ---------------------------------------------------------------------------

_CTX_WIDTHS = (256, 512, 1024)


@register(
    "q361_context_overflow_audit",
    category="curation",
    oracle=f"""
WITH t AS (
  SELECT CAST(len({_DUCK_WORDS}) AS BIGINT) AS n FROM documents
),
agg AS (
  SELECT CAST(sum(n) AS BIGINT) AS total_tokens,
         {", ".join(f"CAST(sum(CASE WHEN n > {w} THEN 1 ELSE 0 END) AS BIGINT) AS o{w}, CAST(sum(CASE WHEN n > {w} THEN n - {w} ELSE 0 END) AS BIGINT) AS l{w}, CAST(sum(((n + {w} - 1) // {w}) * {w} - n) AS BIGINT) AS p{w}" for w in _CTX_WIDTHS)}
  FROM t
)
SELECT width, n_docs_over, trunc_loss_tokens,
       CAST(CAST(trunc_loss_tokens AS HUGEINT) * 1000000 // total_tokens AS BIGINT) AS trunc_loss_ppm,
       split_pad_tokens,
       CAST(CAST(split_pad_tokens AS HUGEINT) * 1000000 // total_tokens AS BIGINT) AS split_overhead_ppm
FROM (
  {" UNION ALL ".join(f"SELECT CAST({w} AS BIGINT) AS width, o{w} AS n_docs_over, l{w} AS trunc_loss_tokens, p{w} AS split_pad_tokens, total_tokens FROM agg" for w in _CTX_WIDTHS)}
) ORDER BY width
""",
)
def q361_context_overflow_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window overflow audit: for candidate context lengths
    {_CTX_WIDTHS}, the token mass LOST under truncate-to-width and the
    padding overhead under split-into-chunks — the document-to-context
    mapping study that complements q345 (which audits BATCH collation
    of already-sized sequences) and q334 (bin packing). trunc_loss =
    sum(max(n - L, 0)) prices information thrown away; split_pad =
    sum(ceil(n/L)*L - n) prices the compute wasted padding final
    chunks. The curve says which width pays: at the width where
    trunc_loss_ppm falls below the acceptable-loss bar, split overhead
    is usually already sunk. Ceiling division is (n + L - 1) DIV L —
    exact integers on both engines.

    Scale shape: all nine sufficient sums (over/loss/pad at 3 widths)
    fold map-side in ONE corpus pass; the 3-row curve unpivots from
    the single aggregate row. No shuffle touches text; no join."""
    d = load_table(spark, "documents", sf_dir)
    t = d.select(F.size(tokenize(F.col("text"))).cast("bigint").alias("n"))
    sums = [F.sum("n").cast("bigint").alias("total_tokens")]
    for w in _CTX_WIDTHS:
        sums.append(
            F.sum(F.when(F.col("n") > w, 1).otherwise(0)).cast("bigint").alias(f"o{w}")
        )
        sums.append(
            F.sum(F.when(F.col("n") > w, F.col("n") - w).otherwise(0))
            .cast("bigint")
            .alias(f"l{w}")
        )
        sums.append(
            F.sum(F.expr(f"((n + {w} - 1) DIV {w}) * {w} - n"))
            .cast("bigint")
            .alias(f"p{w}")
        )
    agg = t.agg(*sums)
    stack_args = ", ".join(
        f"CAST({w} AS BIGINT), o{w}, l{w}, p{w}" for w in _CTX_WIDTHS
    )
    return (
        agg.select(
            F.expr(
                f"stack({len(_CTX_WIDTHS)}, {stack_args})"
                " AS (width, n_docs_over, trunc_loss_tokens, split_pad_tokens)"
            ),
            "total_tokens",
        )
        .select(
            "width",
            "n_docs_over",
            "trunc_loss_tokens",
            F.expr(
                "CAST(CAST(trunc_loss_tokens AS DECIMAL(38,0)) * 1000000 DIV total_tokens AS BIGINT)"
            ).alias("trunc_loss_ppm"),
            "split_pad_tokens",
            F.expr(
                "CAST(CAST(split_pad_tokens AS DECIMAL(38,0)) * 1000000 DIV total_tokens AS BIGINT)"
            ).alias("split_overhead_ppm"),
        )
        .orderBy("width")
    )


# ---------------------------------------------------------------------------
# q362 — per-source data card census
# ---------------------------------------------------------------------------


@register(
    "q362_datacard_census",
    category="curation",
    oracle=f"""
WITH t AS (
  SELECT source, lang, CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tok,
         CASE WHEN CAST(('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 10 < 8 THEN 1 ELSE 0 END AS is_train
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(n_tok) * 1000 // count(*) AS BIGINT) AS mean_tokens_x1000,
       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS en_ppm,
       CAST(sum(CASE WHEN n_tok < 20 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS short_ppm,
       CAST(sum(is_train) * 1000000 // count(*) AS BIGINT) AS train_ppm
FROM t GROUP BY source ORDER BY source
""",
)
def q362_datacard_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data card (Gebru et al. 'Datasheets for Datasets'
    2018, public): the one-pass census a pipeline publishes with every
    snapshot — document and token counts, mean document length
    (per-mille fixed point), language mix, short-document (quality
    gate) share, and the realized train-split share under the q355
    seeded hash. Every rate is an integer division of counts, so two
    engines (or two snapshot builds) can diff data cards bit-exactly —
    the property that makes the card a CONTRACT rather than a report.

    Scale shape: pure per-row derivation (token count, gate flag,
    portable hash) folding into ONE per-source aggregation of
    conditional sums. No join, no window, one map-side-combinable
    shuffle on the bounded source key."""
    from sensor_data_pipeline_spark.functions.text import word_hash32

    d = load_table(spark, "documents", sf_dir)
    t = d.select(
        "source",
        "lang",
        F.size(tokenize(F.col("text"))).cast("bigint").alias("n_tok"),
        F.when(
            F.pmod(word_hash32(F.col("doc_id").cast("string"), seed=11), F.lit(10)) < 8,
            1,
        )
        .otherwise(0)
        .alias("is_train"),
    )
    return (
        t.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.expr("CAST(CAST(sum(n_tok) AS DECIMAL(38,0)) * 1000 DIV count(*) AS BIGINT)").alias(
                "mean_tokens_x1000"
            ),
            F.expr(
                "CAST(CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DECIMAL(38,0)) * 1000000"
                " DIV count(*) AS BIGINT)"
            ).alias("en_ppm"),
            F.expr(
                "CAST(CAST(sum(CASE WHEN n_tok < 20 THEN 1 ELSE 0 END) AS DECIMAL(38,0)) * 1000000"
                " DIV count(*) AS BIGINT)"
            ).alias("short_ppm"),
            F.expr(
                "CAST(CAST(sum(is_train) AS DECIMAL(38,0)) * 1000000 DIV count(*) AS BIGINT)"
            ).alias("train_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q363 — eval sample sizing (95% / ±2% gate-rate CI)
# ---------------------------------------------------------------------------


@register(
    "q363_eval_sample_sizing",
    category="sampling",
    oracle=f"""
WITH t AS (
  SELECT source,
         CASE WHEN len({_DUCK_WORDS}) < 20 THEN 1 ELSE 0 END AS fail
  FROM documents
),
s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(fail) AS BIGINT) AS n_fail
  FROM t GROUP BY source
)
SELECT source, n_docs, n_fail,
       CAST((CAST(9604 AS HUGEINT) * n_fail * (n_docs - n_fail) + CAST(n_docs AS HUGEINT) * n_docs - 1)
            // (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT) AS n_required,
       CAST((CAST(9604 AS HUGEINT) * n_fail * (n_docs - n_fail) + CAST(n_docs AS HUGEINT) * n_docs - 1)
            // (CAST(n_docs AS HUGEINT) * n_docs) <= n_docs AS BOOLEAN) AS feasible
FROM s ORDER BY source
""",
)
def q363_eval_sample_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source eval sample sizing: the minimum audit-sample size
    for estimating a gate rate within ±2% at 95% confidence (Cochran
    1977 sample-size formula n = z^2 p(1-p) / e^2, public), using each
    source's OBSERVED rate as p-hat. With z^2/e^2 = (1.96/0.02)^2 =
    9604 a fixed rational, the whole formula is the exact ceiling
    division n_req = ceil(9604 * f * (n - f) / n^2) — no float, no
    sqrt. Sources whose n_req exceeds their document count (feasible =
    false, the tiny-source case) need exact enumeration instead of
    sampling; p-hat = 0 or 1 emits n_req = 0 (the audit's signal that
    the normal approximation is off and an exact binomial CI is
    required — documented, not hidden). This prices every human-review
    loop over the corpus.

    Scale shape: one pass to per-source (n, fails) — the bounded
    sufficient statistic; the sizing arithmetic is per-row on that
    panel with decimal(38,0)/HUGEINT products (n^2 past int64 at
    n > 3e9 rows per source)."""
    d = load_table(spark, "documents", sf_dir)
    s = (
        d.select(
            "source",
            F.when(F.size(tokenize(F.col("text"))) < 20, 1).otherwise(0).alias("fail"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("fail").cast("bigint").alias("n_fail"),
        )
    )
    n_req = (
        "CAST((CAST(9604 AS DECIMAL(38,0)) * n_fail * (n_docs - n_fail)"
        " + CAST(n_docs AS DECIMAL(38,0)) * n_docs - 1)"
        " DIV (CAST(n_docs AS DECIMAL(38,0)) * n_docs) AS BIGINT)"
    )
    return s.select(
        "source",
        "n_docs",
        "n_fail",
        F.expr(n_req).alias("n_required"),
        F.expr(f"{n_req} <= n_docs").alias("feasible"),
    ).orderBy("source")
