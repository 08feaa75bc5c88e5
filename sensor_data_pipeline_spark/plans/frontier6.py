"""Round-10 surface extensions — mixture/statistics/operational-scale
ops for a 100 TB training-data pipeline:

* q379 temperature-scaled source sampling (the multilingual-LM mixture
  rule: p_i ∝ n_i^α) with effective-epoch accounting;
* q380 Good-Turing unseen-mass + Chao1 richness estimation over the
  3-gram shingle space, per source and merged;
* q381 hot-key salting-plan synthesis with a post-salt balance proof;
* q382 partition-sizing advisor: measured per-table logical widths →
  scan/shuffle partition recommendations at byte targets;
* q383 n-gram vocabulary coverage curve (smallest vocab covering
  1-ε of token mass, ε grid) — the tokenizer-sizing table.

Family threads (continuing frontier5.py):

1. Sufficient statistics first: every query folds the corpus to a
   bounded frame (per-source token totals, the vocab-bounded
   frequency histogram, the |keys|-bounded key census, 1-row
   per-table stats) before any window/join runs — the only shapes
   whose shuffles stay constant-width as the corpus grows.

2. Portable float discipline: the only non-integer math is (a)
   IEEE-correctly-rounded sqrt chains (α = 1/2, 1/4 — identical
   bits on any IEEE engine), (b) ORDERED cumulative sums (prefix
   folds are deterministic; totals are read as max(cum) over the
   increasing prefix, never an unordered float SUM — the q288
   discipline), and (c) single divisions of identical operands.
   Everything else rides exact integers with DECIMAL(38,0)/HUGEINT
   operand guards where 100 TB token masses cross bigint*1e6.

All operators re-derived from public sources cited per query (Devlin
et al. 2019 / Conneau et al. 2020 temperature sampling, Good 1953 /
Gale & Sampson 1995 Good-Turing, Chao 1984, Spark AQE skew-join docs,
Zipf coverage folklore per Gage 1994 / Sennrich et al. 2016 BPE
sizing).
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

# the SAME 3-gram shingle construction as the dedup/sketch family —
# import, never duplicate (a drifted copy would silently make the
# statistics a different species space; review r9 finding)
from sensor_data_pipeline_spark.plans.frontier4 import (  # noqa: E402
    _DUCK_SHINGLES_DUP as _DUCK_SHINGLES,
    _shingles_dup as _shingles,
)


# ---------------------------------------------------------------------------
# q379 — temperature-scaled source sampling (p_i ∝ n_i^α)
# ---------------------------------------------------------------------------


@register(
    "q379_temperature_mixture",
    category="mixing",
    oracle=f"""
WITH tok AS (
  SELECT source, CAST(sum(len({_DUCK_WORDS})) AS BIGINT) AS n_tok
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_tok,
         CAST(n_tok AS DOUBLE) AS w100,
         sqrt(CAST(n_tok AS DOUBLE)) AS w50,
         sqrt(sqrt(CAST(n_tok AS DOUBLE))) AS w25,
         sum(CAST(n_tok AS DOUBLE)) OVER (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c100,
         sum(sqrt(CAST(n_tok AS DOUBLE))) OVER (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c50,
         sum(sqrt(sqrt(CAST(n_tok AS DOUBLE)))) OVER (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c25
  FROM tok
),
tot AS (SELECT max(c100) AS t100, max(c50) AS t50, max(c25) AS t25,
               CAST(sum(n_tok) AS BIGINT) AS n_total FROM w)
SELECT source, n_tok,
       w100 / t100 AS share_a100,
       w50 / t50 AS share_a50,
       w25 / t25 AS share_a25,
       (w50 / t50) * CAST(n_total AS DOUBLE) / CAST(n_tok AS DOUBLE) AS epochs_a50,
       (w25 / t25) * CAST(n_total AS DOUBLE) / CAST(n_tok AS DOUBLE) AS epochs_a25
FROM w CROSS JOIN tot
ORDER BY source
""",
)
def q379_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling (Devlin et al. 2019 mBERT
    exponential smoothing; Conneau et al. 2020 XLM-R, all public):
    sampling share p_i ∝ n_i^α flattens the source distribution as α
    falls — α=1 is proportional, α=1/4 strongly upsamples small
    sources. The α grid is {1, 1/2, 1/4} because those powers are
    sqrt CHAINS: IEEE-754 sqrt is correctly rounded, so the weights
    are bit-identical on any IEEE engine, where a pow(x, 0.3) would
    not be. epochs_aXX = share · N_total / n_i is the effective
    epoch count a one-total-epoch token budget implies per source —
    the over-repetition warning light (cf. q352's epoch budget).

    Float discipline: denominators are read as max() over the ORDERED
    cumulative sum by source (prefix folds are deterministic and the
    prefix is increasing — the q288 no-unordered-float-total rule);
    shares/epochs are single divisions of identical operands.

    Scale shape: per-source token counts are one map-side-combinable
    corpus scan onto |sources| keys; everything downstream runs on
    the |sources|-row frame. No row-scale join, no row-scale window."""
    d = load_table(spark, "documents", sf_dir)
    tok = d.groupBy("source").agg(
        F.sum(F.size(tokenize(F.col("text")))).cast("bigint").alias("n_tok")
    )
    cw = Window.orderBy("source").rowsBetween(Window.unboundedPreceding, 0)
    w = tok.select(
        "source",
        "n_tok",
        F.col("n_tok").cast("double").alias("w100"),
        F.sqrt(F.col("n_tok").cast("double")).alias("w50"),
        F.sqrt(F.sqrt(F.col("n_tok").cast("double"))).alias("w25"),
    ).select(
        "*",
        F.sum("w100").over(cw).alias("c100"),
        F.sum("w50").over(cw).alias("c50"),
        F.sum("w25").over(cw).alias("c25"),
    )
    tot = w.agg(
        F.max("c100").alias("t100"),
        F.max("c50").alias("t50"),
        F.max("c25").alias("t25"),
        F.sum("n_tok").cast("bigint").alias("n_total"),
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tok",
            (F.col("w100") / F.col("t100")).alias("share_a100"),
            (F.col("w50") / F.col("t50")).alias("share_a50"),
            (F.col("w25") / F.col("t25")).alias("share_a25"),
            (
                (F.col("w50") / F.col("t50"))
                * F.col("n_total").cast("double")
                / F.col("n_tok").cast("double")
            ).alias("epochs_a50"),
            (
                (F.col("w25") / F.col("t25"))
                * F.col("n_total").cast("double")
                / F.col("n_tok").cast("double")
            ).alias("epochs_a25"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q380 — Good-Turing unseen mass + Chao1 richness over the shingle space
# ---------------------------------------------------------------------------


@register(
    "q380_unseen_mass_estimate",
    category="profile",
    oracle=f"""
WITH w AS (
  SELECT source, {_DUCK_WORDS} AS t FROM documents
),
sh AS (
  SELECT source, unnest({_DUCK_SHINGLES.format(w="t")}) AS s FROM w
),
dup AS (
  SELECT unnest([source, '(all)']) AS source, s FROM sh
),
allcnt AS (
  SELECT source, s, CAST(count(*) AS BIGINT) AS c FROM dup GROUP BY source, s
),
ff AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS v_distinct,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(c) AS BIGINT) AS n_occ
  FROM allcnt GROUP BY source
)
SELECT source, v_distinct, n1, n2, n_occ,
       CAST(CAST(n1 AS HUGEINT) * 1000000 // n_occ AS BIGINT) AS unseen_ppm,
       CASE WHEN n2 > 0
            THEN CAST(v_distinct * 1000 + CAST(n1 AS HUGEINT) * n1 * 1000 // (2 * n2) AS BIGINT)
            ELSE NULL END AS chao1_milli
FROM ff
ORDER BY source
""",
)
def q380_unseen_mass_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing unseen-probability mass (Good 1953; Gale & Sampson
    1995 — public) and Chao1 species-richness (Chao 1984) over the
    3-gram shingle space, per source AND merged: P(unseen) ≈ N1/N
    (the Turing estimator — the share of shingle mass held by
    singletons prices how much of the n-gram distribution a crawl of
    this source has NOT seen yet), and Chao1 = V + N1²/(2·N2) lower-
    bounds the true shingle vocabulary. Both ride the frequency-of-
    frequencies sufficient statistic. The unigram space would be
    degenerate here (the fixture's 31-word vocabulary has no
    singletons); shingles are the honest species, exactly as the
    dedup family uses them.

    Integer exactness: unseen_ppm and chao1's correction term guard
    the multiply operand-side (HUGEINT / DECIMAL(38,0)) — shingle
    masses cross bigint·1e6 at the 100 TB design point, and N1² alone
    reaches ~1e24. chao1_milli is fixed-point ×1000 (truncating DIV,
    portable by measurement); NULL when N2=0 (the estimator's own
    undefined case, surfaced rather than patched).

    Scale shape: the corpus is scanned once; each shingle occurrence
    is key-duplicated into (source, s) and ('(all)', s) before ONE
    map-side-combinable count shuffle (counts merge by addition — the
    mergeability the identity test proves — so the duplication is
    exactly the per-source/global merge fused into one pass), and the
    ff histogram folds each source to 4 numbers. No corpus-scale
    frame is pinned and nothing is shuffled twice."""
    d = load_table(spark, "documents", sf_dir)
    # Single consumer — NO pin. The token array is named in its own
    # projection (the q335/q370 anti-inlining shape), but the lineage
    # is linear, so a pin here would be a pure extra
    # materialization of the largest intermediate (VERDICT r10 §wrong
    # item 1). Measured at sf0.1: the optimized plan keeps exactly one
    # split() (CollapseProject's reference-count heuristic refuses to
    # inline the 3-reference shingle lambda), timing unchanged.
    tw = d.select("source", tokenize(F.col("text")).alias("w"))
    sh = tw.select("source", F.explode(_shingles(F.col("w"))).alias("s"))
    # ONE combinable pass builds both the per-source and the '(all)'
    # counts: each occurrence is key-duplicated into its source row
    # and the '(all)' row BEFORE the count (the q372 fold-into-one-
    # pass lesson). The first form pinned the near-corpus-scale
    # (source, shingle) count frame and re-shuffled it for the merge:
    # 15.55x at the sf10 decade (the q367-first-form mistake); this
    # shape is one shuffle, no pin.
    dup = sh.select(
        F.explode(F.array(F.col("source"), F.lit("(all)"))).alias("source"), "s"
    )
    allcnt = dup.groupBy("source", "s").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    ff = allcnt.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("v_distinct"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("bigint").alias("n2"),
        F.sum("c").cast("bigint").alias("n_occ"),
    )
    return ff.select(
        "source",
        "v_distinct",
        "n1",
        "n2",
        "n_occ",
        F.expr(
            "CAST(CAST(n1 AS DECIMAL(38,0)) * 1000000 DIV n_occ AS BIGINT)"
        ).alias("unseen_ppm"),
        F.expr(
            "CASE WHEN n2 > 0 THEN CAST(v_distinct * 1000"
            " + CAST(n1 AS DECIMAL(38,0)) * n1 * 1000 DIV (2 * n2) AS BIGINT)"
            " ELSE NULL END"
        ).alias("chao1_milli"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q381 — hot-key salting-plan synthesis with post-salt balance proof
# ---------------------------------------------------------------------------

_SALT_PARTITIONS = 32  # the plan's target parallelism (cluster task slots)


@register(
    "q381_salting_plan",
    category="layout",
    oracle=f"""
WITH census AS (
  SELECT event_type AS k, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type
),
tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total,
         CAST(CASE WHEN sum(cnt) // {_SALT_PARTITIONS} < 1 THEN 1
              ELSE sum(cnt) // {_SALT_PARTITIONS} END AS BIGINT) AS target
  FROM census
)
SELECT k, cnt,
       CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm,
       cnt > target AS is_hot,
       CAST(CASE WHEN cnt > target
            THEN CASE WHEN (cnt + target - 1) // target > {_SALT_PARTITIONS}
                 THEN {_SALT_PARTITIONS}
                 ELSE (cnt + target - 1) // target END
            ELSE 1 END AS BIGINT) AS salt_factor,
       CAST((cnt + (CASE WHEN cnt > target
            THEN CASE WHEN (cnt + target - 1) // target > {_SALT_PARTITIONS}
                 THEN {_SALT_PARTITIONS}
                 ELSE (cnt + target - 1) // target END
            ELSE 1 END) - 1) // (CASE WHEN cnt > target
            THEN CASE WHEN (cnt + target - 1) // target > {_SALT_PARTITIONS}
                 THEN {_SALT_PARTITIONS}
                 ELSE (cnt + target - 1) // target END
            ELSE 1 END) AS BIGINT) AS post_salt_max_rows
FROM census CROSS JOIN tot
ORDER BY cnt DESC, k
""",
)
def q381_salting_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key salting-plan synthesis (the skew-mitigation pattern
    Spark's AQE skew-join documents, applied to aggregation keys —
    public folklore, mechanized): from the key census, a key is HOT
    when its row count exceeds the per-partition target
    (total DIV 32, floored at 1), and its salt factor
    is ceil(cnt/target) capped at the partition count — replicate the
    key into that many sub-keys and no task sees more than
    post_salt_max_rows = ceil(cnt/salt) rows. The output IS the plan
    plus its balance proof: post_salt_max_rows ≤ max(target,
    ceil(cnt/32)) by construction, which is what a
    pipeline checks before committing a salted repartition at 100 TB.
    ceil rides (a+b-1) DIV b — exact integers, engine-portable.

    Scale shape: the census is one map-side-combinable scan onto
    |keys| rows; the plan is arithmetic on that bounded frame against
    a broadcast 1-row total. The synthesized plan's own cost model is
    the point — the query never touches row-scale data again."""
    e = load_table(spark, "events", sf_dir)
    census = e.groupBy(F.col("event_type").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tot = census.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.expr(
            f"CAST(GREATEST(CAST(1 AS BIGINT), sum(cnt) DIV {_SALT_PARTITIONS}) AS BIGINT)"
        ).alias("target"),
    )
    salt = (
        f"CASE WHEN cnt > target THEN LEAST(CAST({_SALT_PARTITIONS} AS BIGINT),"
        f" (cnt + target - 1) DIV target) ELSE CAST(1 AS BIGINT) END"
    )
    return (
        census.crossJoin(F.broadcast(tot))
        .select(
            "k",
            "cnt",
            F.expr("CAST(cnt * 1000000 DIV total AS BIGINT)").alias("share_ppm"),
            (F.col("cnt") > F.col("target")).alias("is_hot"),
            F.expr(f"CAST({salt} AS BIGINT)").alias("salt_factor"),
            F.expr(
                f"CAST((cnt + ({salt}) - 1) DIV ({salt}) AS BIGINT)"
            ).alias("post_salt_max_rows"),
        )
        .orderBy(F.col("cnt").desc(), "k")
    )


# ---------------------------------------------------------------------------
# q382 — partition-sizing advisor from measured per-table logical widths
# ---------------------------------------------------------------------------

_SCAN_TARGET_BYTES = 128 * 1024 * 1024  # maxPartitionBytes-style scan target
_SHUFFLE_TARGET_BYTES = 64 * 1024 * 1024  # post-AQE shuffle-partition target

# (table, row-bytes expression) — logical widths: 8 bytes per
# int64/double/timestamp, measured character length per string, 4 per
# float32 element. Identical definitions on both engines, so the
# totals are exact integers; in production the same advisor reads
# parquet footer/catalog stats instead of scanning (the docstring
# covers why the math, not the scan, is the artifact).
_TABLE_WIDTH = {
    "region": "8 + length(r_name)",
    "nation": "8 + 8 + length(n_name)",
    "customer": "8 + 8 + 8 + length(c_name) + length(c_mktsegment)",
    "supplier": "8 + 8 + 8 + length(s_name)",
    "part": "8 + 4 + 8 + length(p_name) + length(p_brand) + length(p_type)",
    "orders": "8 + 8 + 8 + 8 + length(o_orderstatus) + length(o_orderpriority)",
    "lineitem": "8 * 9 + length(l_returnflag) + length(l_linestatus)",
    "events": "8 + 8 + 8 + 8 + length(event_type) + length(props)",
    "documents": "8 + 8 + length(text) + length(lang) + length(source)",
    "embeddings": "8 + 4 + 4 * len(embedding)",
}


@register(
    "q382_partition_sizing_advisor",
    category="layout",
    oracle="\nUNION ALL\n".join(
        f"""SELECT '{t}' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({expr}) AS BIGINT) AS logical_bytes,
       CAST((sum({expr}) + {_SCAN_TARGET_BYTES - 1}) // {_SCAN_TARGET_BYTES} AS BIGINT) AS scan_partitions,
       CAST((sum({expr}) + {_SHUFFLE_TARGET_BYTES - 1}) // {_SHUFFLE_TARGET_BYTES} AS BIGINT) AS shuffle_partitions,
       CAST(sum({expr}) // count(*) AS BIGINT) AS avg_row_bytes
FROM {t}"""
        for t, expr in _TABLE_WIDTH.items()
    )
    + "\nORDER BY tbl",
)
def q382_partition_sizing_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-sizing advisor: per-table measured logical widths →
    the partition counts a 100 TB deployment should configure — scan
    partitions at the maxPartitionBytes-style 128 MB target and
    shuffle partitions at the AQE-style 64 MB advisory target (both
    knobs and targets are public Spark configuration practice). Width
    is a LOGICAL byte model (8 per fixed-width column, character
    length per string, 4 per float32 lane) so the advisory is
    storage-codec-independent and exactly reproducible; ceil rides
    (a+b-1) DIV b. In production the same arithmetic reads parquet
    footer statistics instead of scanning — the advisor's artifact is
    the sizing table, and this query doubles as the audit that the
    catalog stats match the data.

    Scale shape: ten independent column-pruned aggregate scans (each
    reads only the width columns — check ReadSchema), each folding to
    ONE row; the union is a 10-row frame. Nothing shuffles row-scale
    data."""
    frames = []
    for t, expr in _TABLE_WIDTH.items():
        spark_expr = expr.replace("len(", "size(")
        frames.append(
            load_table(spark, t, sf_dir).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.expr(f"CAST(sum({spark_expr}) AS BIGINT)").alias("logical_bytes"),
            ).select(
                F.lit(t).alias("tbl"),
                "n_rows",
                "logical_bytes",
                F.expr(
                    f"CAST((logical_bytes + {_SCAN_TARGET_BYTES - 1})"
                    f" DIV {_SCAN_TARGET_BYTES} AS BIGINT)"
                ).alias("scan_partitions"),
                F.expr(
                    f"CAST((logical_bytes + {_SHUFFLE_TARGET_BYTES - 1})"
                    f" DIV {_SHUFFLE_TARGET_BYTES} AS BIGINT)"
                ).alias("shuffle_partitions"),
                F.expr("CAST(logical_bytes DIV n_rows AS BIGINT)").alias(
                    "avg_row_bytes"
                ),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("tbl")


# ---------------------------------------------------------------------------
# q383 — n-gram vocabulary coverage curve (tokenizer sizing)
# ---------------------------------------------------------------------------

_COVERAGE_EPS_PPM = (100000, 10000, 1000)  # 90% / 99% / 99.9% coverage


@register(
    "q383_vocab_coverage_curve",
    category="text",
    oracle=f"""
WITH w AS (
  SELECT {_DUCK_WORDS} AS t FROM documents
),
sh AS (
  SELECT unnest({_DUCK_SHINGLES.format(w="t")}) AS s FROM w
),
cnt AS (
  SELECT s, CAST(count(*) AS BIGINT) AS c FROM sh GROUP BY s
),
ff AS (
  SELECT c, CAST(count(*) AS BIGINT) AS n_types FROM cnt GROUP BY c
),
cum AS (
  SELECT c, n_types,
         sum(n_types) OVER (ORDER BY c DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_sizes,
         sum(n_types * c) OVER (ORDER BY c DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_mass
  FROM ff
),
tot AS (
  SELECT CAST(sum(n_types * c) AS BIGINT) AS n, CAST(sum(n_types) AS BIGINT) AS v FROM ff
)
SELECT e.eps_ppm,
       CAST(cum.cum_sizes - cum.n_types
            + (CAST(1000000 - e.eps_ppm AS HUGEINT) * t.n
               - CAST(cum.cum_mass - cum.n_types * cum.c AS HUGEINT) * 1000000
               + CAST(cum.c AS HUGEINT) * 1000000 - 1)
              // (CAST(cum.c AS HUGEINT) * 1000000) AS BIGINT) AS vocab_size,
       t.v AS v_total,
       CAST(CAST(cum.cum_sizes - cum.n_types
            + (CAST(1000000 - e.eps_ppm AS HUGEINT) * t.n
               - CAST(cum.cum_mass - cum.n_types * cum.c AS HUGEINT) * 1000000
               + CAST(cum.c AS HUGEINT) * 1000000 - 1)
              // (CAST(cum.c AS HUGEINT) * 1000000) AS HUGEINT) * 1000000 // t.v AS BIGINT) AS vocab_share_ppm
FROM cum
CROSS JOIN tot t
CROSS JOIN (SELECT unnest([{", ".join(str(e) for e in _COVERAGE_EPS_PPM)}]) AS eps_ppm) e
WHERE CAST(cum.cum_mass AS HUGEINT) * 1000000 >= CAST(1000000 - e.eps_ppm AS HUGEINT) * t.n
  AND CAST(cum.cum_mass - cum.n_types * cum.c AS HUGEINT) * 1000000 < CAST(1000000 - e.eps_ppm AS HUGEINT) * t.n
ORDER BY e.eps_ppm DESC
""",
)
def q383_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve over the 3-gram shingle space: the
    smallest frequency-ranked vocabulary covering 1-ε of token mass,
    for ε ∈ {10%, 1%, 0.1%} — the sizing table a tokenizer/vocab
    decision reads (the Zipf-coverage argument behind BPE vocabulary
    budgets; Gage 1994, Sennrich et al. 2016, both public).
    vocab_share_ppm says what FRACTION of the distinct space that
    prefix is — the gap between 90% and 99.9% coverage is the long
    tail's price tag.

    The curve is computed from the FREQUENCY-OF-FREQUENCIES histogram,
    never by ranking the vocabulary: all types with the same count
    form one contiguous rank block under (count DESC) ordering, so
    the boundary rank is (sizes before the block) + ceil((required
    mass − mass before the block) / count), located by the unique
    block whose cumulative mass first meets the coverage predicate.
    The first form ranked the full distinct-shingle frame through a
    global row_number — a single-partition sort of a frame that GROWS
    with the corpus (~60% of occurrences are singleton shingles);
    this form's window runs on the ff histogram, bounded by the
    number of DISTINCT COUNT VALUES (a few hundred at any corpus
    size). Coverage predicate and ceil ride HUGEINT/DECIMAL(38,0)
    operands (shingle mass crosses bigint·1e6 at 100 TB).

    Scale shape: one combinable corpus pass to per-shingle counts,
    one combinable fold to the ff histogram, a window over the
    bounded histogram, and a 3-row broadcast ε panel. The answer
    frame is 3 rows."""
    d = load_table(spark, "documents", sf_dir)
    # Single consumer — NO pin (VERDICT r10 §wrong item 1): the token
    # frame feeds exactly one explode chain, and the optimized plan
    # keeps one split() without a barrier (see q380's note).
    tw = d.select(tokenize(F.col("text")).alias("w"))
    sh = tw.select(F.explode(_shingles(F.col("w"))).alias("s"))
    cnt = sh.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    # the ff histogram is TINY (distinct count values) and has two
    # consumers (the cumulative window + the totals) — pin IT, never
    # the vocab-scale count frame (the q367/q380 lesson)
    ff = (
        cnt.groupBy("c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
        .transform(pin)
    )
    cw = Window.orderBy(F.col("c").desc()).rowsBetween(Window.unboundedPreceding, 0)
    cum = ff.select(
        "c",
        "n_types",
        F.sum("n_types").over(cw).alias("cum_sizes"),
        F.sum(F.col("n_types") * F.col("c")).over(cw).alias("cum_mass"),
    )
    tot = ff.agg(
        F.sum(F.col("n_types") * F.col("c")).cast("bigint").alias("n"),
        F.sum("n_types").cast("bigint").alias("v"),
    )
    eps = spark.createDataFrame(
        [(e,) for e in _COVERAGE_EPS_PPM], "eps_ppm bigint"
    )
    vsize = (
        "cum_sizes - n_types"
        " + (CAST(1000000 - eps_ppm AS DECIMAL(38,0)) * n"
        "    - CAST(cum_mass - n_types * c AS DECIMAL(38,0)) * 1000000"
        "    + CAST(c AS DECIMAL(38,0)) * 1000000 - 1)"
        "   DIV (CAST(c AS DECIMAL(38,0)) * 1000000)"
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(eps))
        .filter(
            F.expr(
                "CAST(cum_mass AS DECIMAL(38,0)) * 1000000"
                " >= CAST(1000000 - eps_ppm AS DECIMAL(38,0)) * n"
            )
            & F.expr(
                "CAST(cum_mass - n_types * c AS DECIMAL(38,0)) * 1000000"
                " < CAST(1000000 - eps_ppm AS DECIMAL(38,0)) * n"
            )
        )
        .select(
            "eps_ppm",
            F.expr(f"CAST({vsize} AS BIGINT)").alias("vocab_size"),
            F.col("v").alias("v_total"),
            F.expr(
                f"CAST(CAST({vsize} AS DECIMAL(38,0)) * 1000000 DIV v AS BIGINT)"
            ).alias("vocab_share_ppm"),
        )
        .orderBy(F.col("eps_ppm").desc())
    )


# ---------------------------------------------------------------------------
# q384 — Neyman optimal stratified-sample allocation
# ---------------------------------------------------------------------------

_NEYMAN_SAMPLE_N = 10000  # the labeling/eval budget being allocated


@register(
    "q384_neyman_allocation",
    category="sampling",
    oracle=f"""
WITH strata AS (
  SELECT source, lang,
         CAST(count(*) AS BIGINT) AS n_h,
         CAST(sum(n_chars) AS BIGINT) AS s1,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
  FROM documents GROUP BY source, lang
),
wt AS (
  SELECT source, lang, n_h, s1, s2,
         sqrt(CAST(CAST(n_h AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)) AS w,
         sum(sqrt(CAST(CAST(n_h AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)))
           OVER (ORDER BY source, lang ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM strata
),
tot AS (SELECT max(cw) AS tw FROM wt),
quota AS (
  SELECT source, lang, n_h, s1, s2, w,
         CAST(floor(w * {_NEYMAN_SAMPLE_N} / tw) AS BIGINT) AS base,
         w * {_NEYMAN_SAMPLE_N} / tw - floor(w * {_NEYMAN_SAMPLE_N} / tw) AS rem
  FROM wt CROSS JOIN tot
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY rem DESC, source, lang) AS rr,
         sum(base) OVER () AS base_total
  FROM quota
)
SELECT source, lang, n_h, s1, s2, w,
       CAST(base + CASE WHEN rr <= {_NEYMAN_SAMPLE_N} - base_total THEN 1 ELSE 0 END AS BIGINT) AS alloc_n
FROM ranked
ORDER BY source, lang
""",
)
def q384_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal stratified-sample allocation (Neyman 1934;
    Cochran 1977 — public): a fixed labeling/eval budget of
    10000 documents is split across (source, lang) strata
    ∝ N_h·S_h — bigger AND more variable strata get more samples, the
    minimum-variance allocation for estimating the corpus mean. The
    weight rides the identity N_h·S_h = sqrt(N_h·ΣX² − (ΣX)²): one
    sqrt of an exact integer (HUGEINT/DECIMAL(38,0) operands — N_h·S2
    crosses bigint at ~2e10 docs), so no per-stratum float variance
    chain. Integerization is largest-remainder (the q300 idiom) with
    a deterministic (remainder DESC, stratum) tiebreak, so
    Σ alloc_n = 10000 exactly.

    Float discipline: the weight-sum denominator is max() over the
    ORDERED cumulative by stratum key (the q288/q379 rule); floor()
    of identical doubles and their remainders compare identically on
    both engines.

    Scale shape: strata moments are ONE map-side-combinable corpus
    scan onto |source×lang| keys; everything downstream (cumulative,
    ranking, largest-remainder) runs on the bounded strata frame."""
    d = load_table(spark, "documents", sf_dir)
    # bounded strata frame with multiple consumers (weight cumulative,
    # total via the cum max, quota, remainder ranking) — pin it or
    # every consumer re-scans documents (plan audit caught 4 scans)
    strata = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum("n_chars").cast("bigint").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("s2"),
    ).transform(pin)
    w_expr = (
        "sqrt(CAST(CAST(n_h AS DECIMAL(38,0)) * s2"
        " - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE))"
    )
    cw = Window.orderBy("source", "lang").rowsBetween(Window.unboundedPreceding, 0)
    wt = strata.withColumn("w", F.expr(w_expr)).withColumn(
        "cw", F.sum("w").over(cw)
    )
    tot = wt.agg(F.max("cw").alias("tw"))
    quota = (
        wt.crossJoin(F.broadcast(tot))
        .withColumn(
            "base",
            F.expr(f"CAST(floor(w * {_NEYMAN_SAMPLE_N} / tw) AS BIGINT)"),
        )
        .withColumn(
            "rem",
            F.expr(
                f"w * {_NEYMAN_SAMPLE_N} / tw - floor(w * {_NEYMAN_SAMPLE_N} / tw)"
            ),
        )
    )
    rw = Window.orderBy(F.col("rem").desc(), "source", "lang")
    base_total = quota.agg(F.sum("base").cast("bigint").alias("base_total"))
    ranked = quota.select("*", F.row_number().over(rw).alias("rr")).crossJoin(
        F.broadcast(base_total)
    )
    return ranked.select(
        "source",
        "lang",
        "n_h",
        "s1",
        "s2",
        "w",
        F.expr(
            f"CAST(base + CASE WHEN rr <= {_NEYMAN_SAMPLE_N} - base_total"
            f" THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("alloc_n"),
    ).orderBy("source", "lang")


# ---------------------------------------------------------------------------
# q385 — HDR-style mergeable quantile sketch with an exact-rank audit
# ---------------------------------------------------------------------------

_HDR_SUB_BITS = 3  # 8 sub-buckets per octave -> relative error <= 2^-4
_HDR_QUANTILES = (50, 90, 99)


@register(
    "q385_hdr_quantile_sketch",
    category="sketch",
    oracle=f"""
WITH v AS (
  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
  FROM lineitem
),
b AS (
  SELECT c, length(bin(c)) AS bl,
         CASE WHEN length(bin(c)) <= {_HDR_SUB_BITS + 1} THEN c
              ELSE (length(bin(c)) << {_HDR_SUB_BITS})
                   + ((c >> (length(bin(c)) - {_HDR_SUB_BITS + 1})) % {1 << _HDR_SUB_BITS})
         END AS bucket
  FROM v
),
hist AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS cnt,
         CAST(min(c) AS BIGINT) AS lo, CAST(max(c) AS BIGINT) AS hi
  FROM b GROUP BY bucket
),
cdf AS (
  SELECT bucket, cnt, lo, hi,
         sum(cnt) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
ranks AS (
  SELECT q_pct, CAST((n * q_pct + 99) // 100 AS BIGINT) AS k
  FROM tot CROSS JOIN (SELECT unnest([{", ".join(str(q) for q in _HDR_QUANTILES)}]) AS q_pct)
),
sk AS (
  SELECT r.q_pct, r.k,
         CAST(min(CASE WHEN c.cum >= r.k THEN c.bucket ELSE NULL END) AS BIGINT) AS bucket
  FROM ranks r CROSS JOIN cdf c
  GROUP BY r.q_pct, r.k
),
loc AS (
  SELECT s.q_pct, s.k, s.bucket, h.lo, h.hi, c2.cum - h.cnt AS cum_before
  FROM sk s JOIN hist h ON h.bucket = s.bucket JOIN cdf c2 ON c2.bucket = s.bucket
),
sub AS (
  SELECT l.q_pct, v.c, CAST(count(*) AS BIGINT) AS cnt
  FROM v JOIN loc l ON v.c BETWEEN l.lo AND l.hi
  GROUP BY l.q_pct, v.c
),
subcdf AS (
  SELECT q_pct, c,
         sum(cnt) OVER (PARTITION BY q_pct ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM sub
),
exact AS (
  SELECT l.q_pct, CAST(min(CASE WHEN l.cum_before + sc.cum >= l.k THEN sc.c ELSE NULL END) AS BIGINT) AS exact_cents
  FROM loc l JOIN subcdf sc ON sc.q_pct = l.q_pct GROUP BY l.q_pct
)
SELECT s.q_pct, s.k, s.bucket, h.lo AS bucket_lo, h.hi AS bucket_hi,
       e.exact_cents,
       (e.exact_cents BETWEEN h.lo AND h.hi) AS contains_exact,
       CAST(CAST(h.hi - h.lo AS HUGEINT) * 1000000 // e.exact_cents AS BIGINT) AS width_rel_ppm
FROM sk s
JOIN hist h ON h.bucket = s.bucket
JOIN exact e ON e.q_pct = s.q_pct
ORDER BY s.q_pct
""",
)
def q385_hdr_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-histogram-style mergeable quantile sketch (the public
    HdrHistogram bucket scheme: octave = integer bit-length, plus
    3 significant sub-bucket bits → ≤ 2^-4 relative bucket width)
    over l_extendedprice in exact integer
    cents, audited against the exact order statistic: for each target
    quantile the sketch answers from the bucket CDF alone — fixed
    ≤ (64 << 3)-row state, mergeable by ADDITION across
    shards/partitions (the property that makes it a one-pass
    map-side-combinable quantile at 100 TB) — and the audit computes
    the true rank-k value via the counting-CDF (q190 idiom) plus the
    containment boolean and the bucket's realized relative width.
    bit-length octaves ride length(bin(x)) (integer-exact on both
    engines — the q339 float-log2 lesson); ranks are the exact
    ceil(n·q/100) integers.

    The exact side is a LOCATED-BUCKET REFINEMENT (the two-pass
    production pattern for exact order statistics): the sketch CDF
    names the bucket containing rank k, and the exact counting-CDF
    runs only over values inside that bucket (≤ 2^-4 of the domain),
    partitioned per quantile — never a global sort of
    the distinct-value domain. contains_exact doubles as the
    soundness check that the located bucket really holds the true
    order statistic.

    Scale shape: the sketch side folds the corpus into the bounded
    bucket histogram in one combinable pass; the refinement side is
    one broadcast range-filter scan plus a per-quantile window over
    one bucket's distinct values. Both sides stay combinable/bounded
    as the corpus grows."""
    li = load_table(spark, "lineitem", sf_dir)
    # NOT pinned: v is corpus-scale (the pin-reduced-frames-only
    # lesson); its three consumers re-read ONE pruned parquet column
    v = li.select(
        F.expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").alias("c")
    )
    b = v.select(
        "c",
        F.expr(
            f"CASE WHEN length(bin(c)) <= {_HDR_SUB_BITS + 1} THEN c"
            f" ELSE (length(bin(c)) << {_HDR_SUB_BITS})"
            f" + ((c >> (length(bin(c)) - {_HDR_SUB_BITS + 1})) % {1 << _HDR_SUB_BITS})"
            f" END"
        ).alias("bucket"),
    )
    hist = (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.min("c").cast("bigint").alias("lo"),
            F.max("c").cast("bigint").alias("hi"),
        )
        .transform(pin)
    )
    cdf = hist.select(
        "bucket",
        "cnt",
        "lo",
        "hi",
        F.sum("cnt")
        .over(Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    )
    tot = v.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    qs = spark.createDataFrame([(q,) for q in _HDR_QUANTILES], "q_pct bigint")
    # no pin (r11 pin audit): ranks has a single consumer (sk's
    # broadcast), so the corpus count behind tot runs once either way
    ranks = (
        qs.crossJoin(F.broadcast(tot))
        .select("q_pct", F.expr("CAST((n * q_pct + 99) DIV 100 AS BIGINT)").alias("k"))
    )
    sk = (
        cdf.crossJoin(F.broadcast(ranks))
        .groupBy("q_pct", "k")
        .agg(
            F.expr(
                "CAST(min(CASE WHEN cum >= k THEN bucket ELSE NULL END) AS BIGINT)"
            ).alias("bucket")
        )
    )
    # located-bucket refinement (the two-pass production pattern):
    # the sketch CDF names the bucket holding rank k, so the exact
    # order statistic only needs the counting-CDF of values INSIDE
    # that bucket (<= 2^-4 of the domain), partitioned per quantile —
    # the first form ran a GLOBAL counting-CDF over every distinct
    # cent value (a single-partition sort that grows with the data;
    # 6.39x at the sf10 decade before this rewrite).
    loc = (
        sk.join(cdf.select("bucket", "cnt", "lo", "hi", "cum"), "bucket")
        .select(
            "q_pct",
            "k",
            "bucket",
            "lo",
            "hi",
            (F.col("cum") - F.col("cnt")).alias("cum_before"),
        )
        .transform(pin)  # 3 rows, 3 consumers
    )
    sub = (
        v.join(
            F.broadcast(loc.select("q_pct", "lo", "hi")),
            (F.col("c") >= F.col("lo")) & (F.col("c") <= F.col("hi")),
        )
        .groupBy("q_pct", "c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    subcdf = sub.select(
        "q_pct",
        "c",
        F.sum("cnt")
        .over(
            Window.partitionBy("q_pct")
            .orderBy("c")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("cum"),
    )
    exact = (
        subcdf.join(
            F.broadcast(loc.select("q_pct", "k", "cum_before")), "q_pct"
        )
        .groupBy("q_pct")
        .agg(
            F.expr(
                "CAST(min(CASE WHEN cum_before + cum >= k THEN c ELSE NULL END)"
                " AS BIGINT)"
            ).alias("exact_cents")
        )
    )
    return (
        loc.select("q_pct", "k", "bucket", "lo", "hi")
        .join(exact, "q_pct")
        .select(
            "q_pct",
            "k",
            "bucket",
            F.col("lo").alias("bucket_lo"),
            F.col("hi").alias("bucket_hi"),
            "exact_cents",
            F.col("exact_cents").between(F.col("lo"), F.col("hi")).alias(
                "contains_exact"
            ),
            F.expr(
                "CAST(CAST(hi - lo AS DECIMAL(38,0)) * 1000000"
                " DIV exact_cents AS BIGINT)"
            ).alias("width_rel_ppm"),
        )
        .orderBy("q_pct")
    )


# ---------------------------------------------------------------------------
# q386 — Kish design effect / effective sample size of stratified schemes
# ---------------------------------------------------------------------------

# same labeling budget as q384; both schemes here carry a min-1
# feasibility floor (every stratum gets one unit first, the remainder
# is allocated by largest remainder), so no stratum divides by zero
_ESS_N = 10000


def _duck_alloc_cte(weight_expr: str, tag: str) -> str:
    """Largest-remainder allocation of (_ESS_N - H) over strata by
    ``weight_expr`` after a min-1 floor, as DuckDB CTE text. The
    weight may be exact integer (proportional: n_h) or float
    (Neyman: sqrt moment identity); remainders rank deterministically
    by (rem DESC, source, lang)."""
    return f"""w_{tag} AS (
  SELECT source, lang, n_h, {weight_expr} AS w,
         sum({weight_expr}) OVER (ORDER BY source, lang
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM strata
),
q_{tag} AS (
  SELECT source, lang, n_h, w,
         CAST(floor(w * (({_ESS_N} - (SELECT count(*) FROM strata))) / t.tw) AS BIGINT) AS base,
         w * (({_ESS_N} - (SELECT count(*) FROM strata))) / t.tw
           - floor(w * (({_ESS_N} - (SELECT count(*) FROM strata))) / t.tw) AS rem
  FROM w_{tag} CROSS JOIN (SELECT max(cw) AS tw FROM w_{tag}) t
),
a_{tag} AS (
  SELECT source, lang, n_h,
         1 + base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source, lang)
              <= {_ESS_N} - (SELECT count(*) FROM strata) - (SELECT sum(base) FROM q_{tag})
              THEN 1 ELSE 0 END AS a
  FROM q_{tag}
)"""


@register(
    "q386_kish_design_effect",
    category="sampling",
    oracle=f"""
WITH strata AS (
  SELECT source, lang,
         CAST(count(*) AS BIGINT) AS n_h,
         CAST(sum(n_chars) AS BIGINT) AS s1,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
  FROM documents GROUP BY source, lang
),
{_duck_alloc_cte("CAST(n_h AS DOUBLE)", "prop")},
{_duck_alloc_cte("sqrt(CAST(CAST(n_h AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE))", "ney")},
tot AS (SELECT CAST(sum(n_h) AS BIGINT) AS big_n, CAST(count(*) AS BIGINT) AS h FROM strata),
summ AS (
  SELECT 'proportional' AS scheme,
         CAST(sum(a) AS BIGINT) AS n_alloc,
         CAST(sum(CAST(n_h AS HUGEINT) * n_h * 1000000 // a) AS HUGEINT) AS varfac
  FROM a_prop
  UNION ALL
  SELECT 'neyman', CAST(sum(a) AS BIGINT),
         CAST(sum(CAST(n_h AS HUGEINT) * n_h * 1000000 // a) AS HUGEINT)
  FROM a_ney
)
SELECT s.scheme, s.n_alloc, t.h AS strata_count,
       CAST(CAST(s.n_alloc AS HUGEINT) * s.varfac // (CAST(t.big_n AS HUGEINT) * t.big_n) AS BIGINT) AS deff_kish_ppm,
       CAST(CAST(s.n_alloc AS HUGEINT) * 1000000
            // (CAST(s.n_alloc AS HUGEINT) * s.varfac // (CAST(t.big_n AS HUGEINT) * t.big_n)) AS BIGINT) AS ess
FROM summ s CROSS JOIN tot t
ORDER BY s.scheme
""",
)
def q386_kish_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish design effect and effective sample size (Kish 1965 —
    public) for two stratified labeling designs over (source, lang):
    proportional allocation and Neyman allocation (q384's weights),
    both with a min-1 feasibility floor (every stratum gets one unit,
    the remainder goes by largest remainder — Cochran's practical
    fix, and what keeps N_h²/a_h defined for zero-variance singleton
    strata). deff_kish = n·Σ(N_h²/a_h)/N² prices the unequal
    expansion weights: 1.0 (1e6 ppm) for proportional by identity,
    > 1 for Neyman under the homogeneous-variance worst case — ESS =
    n/deff is the honest sample size to quote for corpus-level rates
    estimated from the labeled pool. Every term rides exact integers:
    N_h²·1e6 DIV a_h per stratum (HUGEINT/DECIMAL(38,0) operands —
    N_h² crosses bigint at ~3e9 docs; per-term truncating DIV is part
    of the statistic's portable definition), summed exactly, then two
    integer divisions.

    Scale shape: strata moments are one map-side-combinable corpus
    scan; both allocations and the deff fold run on the bounded
    strata frame (the q384 shape, twice)."""
    d = load_table(spark, "documents", sf_dir)
    strata = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum("n_chars").cast("bigint").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("s2"),
    ).transform(pin)  # bounded strata frame, four consumers

    h_cnt = strata.agg(
        F.count(F.lit(1)).cast("bigint").alias("h"),
        F.sum("n_h").cast("bigint").alias("big_n"),
    )

    def alloc(weight_col, scheme: str) -> DataFrame:
        cw = Window.orderBy("source", "lang").rowsBetween(
            Window.unboundedPreceding, 0
        )
        wt = strata.select("source", "lang", "n_h", weight_col.alias("w")).select(
            "*", F.sum("w").over(cw).alias("cw")
        )
        tw = wt.agg(F.max("cw").alias("tw"))
        quota = (
            wt.crossJoin(F.broadcast(tw))
            .crossJoin(F.broadcast(h_cnt.select("h")))
            .withColumn("m", F.expr(f"CAST({_ESS_N} AS BIGINT) - h"))
            .withColumn("base", F.expr("CAST(floor(w * m / tw) AS BIGINT)"))
            .withColumn("rem", F.expr("w * m / tw - floor(w * m / tw)"))
        )
        base_total = quota.agg(
            F.sum("base").cast("bigint").alias("base_total"),
            F.max("m").alias("m2"),
        )
        rw = Window.orderBy(F.col("rem").desc(), "source", "lang")
        return (
            quota.select("source", "lang", "n_h", "base", "rem")
            .select("*", F.row_number().over(rw).alias("rr"))
            .crossJoin(F.broadcast(base_total))
            .select(
                "n_h",
                F.expr(
                    "1 + base + CASE WHEN rr <= m2 - base_total THEN 1 ELSE 0 END"
                ).alias("a"),
            )
            .agg(
                F.sum("a").cast("bigint").alias("n_alloc"),
                F.expr(
                    "CAST(sum(CAST(n_h AS DECIMAL(38,0)) * n_h * 1000000 DIV a)"
                    " AS DECIMAL(38,0))"
                ).alias("varfac"),
            )
            .select(F.lit(scheme).alias("scheme"), "n_alloc", "varfac")
        )

    summ = alloc(F.col("n_h").cast("double"), "proportional").unionByName(
        alloc(
            F.expr(
                "sqrt(CAST(CAST(n_h AS DECIMAL(38,0)) * s2"
                " - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE))"
            ),
            "neyman",
        )
    )
    return (
        summ.crossJoin(F.broadcast(h_cnt))
        .select(
            "scheme",
            "n_alloc",
            F.col("h").alias("strata_count"),
            F.expr(
                "CAST(CAST(n_alloc AS DECIMAL(38,0)) * varfac"
                " DIV (CAST(big_n AS DECIMAL(38,0)) * big_n) AS BIGINT)"
            ).alias("deff_kish_ppm"),
            F.expr(
                "CAST(CAST(n_alloc AS DECIMAL(38,0)) * 1000000"
                " DIV (CAST(n_alloc AS DECIMAL(38,0)) * varfac"
                " DIV (CAST(big_n AS DECIMAL(38,0)) * big_n)) AS BIGINT)"
            ).alias("ess"),
        )
        .orderBy("scheme")
    )
