"""Round-9 surface extensions — the training-data operations frontier,
part 4: corpus-safety scrubbing (C4-style term blocklists) and the
mergeable-sketch family (HyperLogLog distinct, source-level MinHash,
count-min frequency), plus language-id confusion auditing, intra-
document repetition (Gopher-style), and corpus novelty-decay curves.

Family threads (continuing plans/frontier.py .. frontier3.py):

1. Mergeable sufficient statistics: the three sketch queries (q367
   HLL, q368 MinHash signatures, q372 count-min) reduce the corpus to
   FIXED-SIZE state (64 registers / 16 minima / 256 counters) whose
   combine is max / min / sum — exactly the shape Spark's map-side
   partial aggregation ships for free, so the shuffle payload is
   constant no matter the corpus size. Each sketch rides next to its
   exact audit so the estimate error is itself a checked value.

2. Integer-exact portability: register indices and rho values come
   from md5-derived 32-bit hashes and bin()-length integer log2 (the
   q339 lesson: float log2 rounds unportably at exact powers); the
   one float in the family — the HLL estimate — is a SINGLE division
   of exact integers by a literal, bit-identical on both engines.

All operators here go beyond the reference's own surface (its
analytics stop at per-tick scalar derivation, e.g.
src/modules/module_rpi_ups_hat.c); they are re-derived from public
papers cited per query (Flajolet et al. 2007 HyperLogLog, Broder 1997
MinHash, Cormode & Muthukrishnan 2005 count-min, Raffel et al. 2020
C4, Rae et al. 2021 Gopher).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sensor_data_pipeline_spark.functions.text import tokenize, word_hash32
from sensor_data_pipeline_spark.pins import pin
from sensor_data_pipeline_spark.plans.registry import register
from sensor_data_pipeline_spark.sources.tables import load_table

_DUCK_WORDS = "regexp_split_to_array(text, '\\s+')"

# 3-gram shingles WITH duplicates (positional) — q370/q371 need the
# multiset, unlike functions.text.word_shingles which distincts.
_DUCK_SHINGLES_DUP = (
    "list_transform(range(0, greatest(len({w}) - 2, 0)),"
    " i -> {w}[i+1] || ' ' || {w}[i+2] || ' ' || {w}[i+3])"
)


def _shingles_dup(words):
    """Positional 3-gram shingles (duplicates preserved)."""
    return F.when(
        F.size(words) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(words, i + 1),
                F.element_at(words, i + 2),
                F.element_at(words, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _duck_hash32(expr: str, seed: int) -> str:
    """DuckDB twin of functions.text.word_hash32."""
    return (
        f"CAST(('0x' || substr(md5('{seed}:' || {expr}), 1, 8)) AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# q365 — blocklist scrub census (C4-style bad-term filter)
# ---------------------------------------------------------------------------

#: deterministic "sensitive term" blocklist (stands in for the C4
#: bad-words list; the fixture vocabulary is synthetic, so the list is
#: drawn from it to exercise real hit paths).
_BLOCKLIST = ("customer", "vector", "stream")
_BLOCK_SQL = ", ".join(f"'{t}'" for t in _BLOCKLIST)


@register(
    "q365_blocklist_scrub_census",
    category="curation",
    oracle=f"""
WITH t AS (
  SELECT source,
         len({_DUCK_WORDS}) AS n_tok,
         len(list_filter({_DUCK_WORDS}, w -> w IN ({_BLOCK_SQL}))) AS n_hits
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_flagged,
       CAST(sum(n_hits) AS BIGINT) AS total_hits,
       CAST(CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
            // count(*) AS BIGINT) AS flagged_ppm,
       CAST(CAST(sum(n_hits) AS HUGEINT) * 1000000
            // sum(n_tok) AS BIGINT) AS token_hit_ppm
FROM t GROUP BY source ORDER BY source
""",
)
def q365_blocklist_scrub_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-blocklist scrub census — the C4 "bad words" filter (Raffel
    et al. 2020, public) as a measurement pass BEFORE the destructive
    drop: per source, how many documents and tokens a blocklist would
    remove. Running the census first is the curation discipline that
    caught C4's over-filtering of dialect text (Dodge et al. 2021) —
    you want the per-source impact profile before committing the gate.

    Scale shape: a per-row array filter (JVM higher-order function
    over the bounded blocklist) folding into ONE map-side-combinable
    per-source aggregation; ppm rates are DECIMAL(38,0)-guarded
    integer divisions (token sums cross 9.2e12 at the 100 TB design
    point). No join, no window, one shuffle on the bounded source
    key."""
    d = load_table(spark, "documents", sf_dir)
    w = tokenize(F.col("text"))
    bl = F.array(*[F.lit(t) for t in _BLOCKLIST])
    t = d.select(
        "source",
        F.size(w).alias("n_tok"),
        F.size(F.filter(w, lambda x: F.array_contains(bl, x))).alias("n_hits"),
    )
    return (
        t.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n_hits") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_flagged"),
            F.sum("n_hits").cast("bigint").alias("total_hits"),
            F.expr(
                "CAST(CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END)"
                " AS DECIMAL(38,0)) * 1000000 DIV count(*) AS BIGINT)"
            ).alias("flagged_ppm"),
            F.expr(
                "CAST(CAST(sum(n_hits) AS DECIMAL(38,0)) * 1000000"
                " DIV sum(n_tok) AS BIGINT)"
            ).alias("token_hit_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q366 — blocklist redaction with content checksum audit
# ---------------------------------------------------------------------------


@register(
    "q366_blocklist_redaction_checksum",
    category="curation",
    oracle=f"""
WITH r AS (
  SELECT source,
         len(list_filter({_DUCK_WORDS}, w -> w IN ({_BLOCK_SQL}))) AS n_red,
         array_to_string(list_transform({_DUCK_WORDS},
             w -> CASE WHEN w IN ({_BLOCK_SQL}) THEN '[TERM]' ELSE w END), ' ') AS red_text
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_red > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_changed,
       CAST(sum(n_red) AS BIGINT) AS total_redactions,
       CAST(CAST(sum({_duck_hash32("red_text", 31)}) AS HUGEINT)
            % 2147483648 AS BIGINT) AS content_checksum
FROM r GROUP BY source ORDER BY source
""",
)
def q366_blocklist_redaction_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist REDACTION (replace, don't drop) with an order-
    independent content checksum — the transform side of q365's
    census: every blocklisted token becomes the literal '[TERM]', and
    each source emits the per-source sum-of-row-hashes of the redacted
    text (mod 2^31 so the exact value survives every renderer — the
    q179 checksum idiom with the 100 TB overflow guard: a bigint sum
    of 32-bit hashes crosses 2^63 past ~2e9 rows, so the sum rides
    DECIMAL(38,0)/HUGEINT and only the modulus leaves). Two engines
    (or two runs) producing the same checksum proves the redaction
    transform is byte-reproducible — the property that lets a scrub
    job be re-run anywhere and verified without diffing 100 TB of
    text.

    Scale shape: per-row transform + hash (JVM-side), ONE map-side-
    combinable per-source aggregation. No join, no window."""
    d = load_table(spark, "documents", sf_dir)
    w = tokenize(F.col("text"))
    bl = F.array(*[F.lit(t) for t in _BLOCKLIST])
    red_text = F.array_join(
        F.transform(
            w, lambda x: F.when(F.array_contains(bl, x), F.lit("[TERM]")).otherwise(x)
        ),
        " ",
    )
    r = d.select(
        "source",
        F.size(F.filter(w, lambda x: F.array_contains(bl, x))).alias("n_red"),
        word_hash32(red_text, seed=31).alias("h"),
    )
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n_red") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_changed"),
            F.sum("n_red").cast("bigint").alias("total_redactions"),
            # the guard must wrap the OPERAND, not the result: summing
            # in BIGINT first overflows past ~2e9 rows before the cast
            # ever runs (review r9 finding)
            F.expr(
                "CAST(sum(CAST(h AS DECIMAL(38,0))) % 2147483648 AS BIGINT)"
            ).alias("content_checksum"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q367 — portable HyperLogLog distinct sketch (per source + merged)
# ---------------------------------------------------------------------------

_HLL_P = 6  # 2^6 = 64 registers
_HLL_M = 1 << _HLL_P
_HLL_SEED = 7
# rho operates on the 26 hash bits left after the register index; the
# all-zero remainder conventionally scores width+1 = 27.
_HLL_W = 32 - _HLL_P
# alpha_64 * m^2 * 2^33 precomputed as ONE double literal so the
# estimate is a single division of exact integers on both engines
# (0.709 is Flajolet et al. 2007's alpha for m=64).
_HLL_NUM = 24945719810981.887


@register(
    "q367_hll_distinct_sketch",
    category="aggregation",
    oracle=f"""
WITH w AS (
  SELECT source, {_DUCK_WORDS} AS t FROM documents
),
sh AS (
  SELECT source, unnest({_DUCK_SHINGLES_DUP.format(w="t")}) AS s FROM w
),
h AS (
  SELECT source, {_duck_hash32("s", _HLL_SEED)} AS hv, s FROM sh
),
rho AS (
  SELECT source, hv % {_HLL_M} AS j,
         CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_W + 1}
              ELSE {_HLL_W + 1} - length(bin(hv // {_HLL_M})) END AS r,
         s
  FROM h
),
regs AS (
  SELECT source, j, max(r) AS mj FROM rho GROUP BY source, j
),
merged AS (
  SELECT '(all)' AS source, j, max(mj) AS mj FROM regs GROUP BY j
),
allregs AS (SELECT * FROM regs UNION ALL SELECT * FROM merged)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_used,
       CAST(sum(CAST(1 AS BIGINT) << (33 - mj)) + ({_HLL_M} - count(*)) * 8589934592 AS BIGINT) AS s_scaled,
       {_HLL_NUM!r} / CAST(sum(CAST(1 AS BIGINT) << (33 - mj)) + ({_HLL_M} - count(*)) * 8589934592 AS DOUBLE) AS est_distinct
FROM allregs GROUP BY source
ORDER BY source
""",
)
def q367_hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct-count sketch (Flajolet et al.
    2007, public) over the 3-gram shingle space, per source AND
    merged: register index and rho come from the md5-derived 32-bit
    hash (j = h mod 64; rho = integer leading-zero count of the
    remaining 26 bits via bin()-length — the q339 lesson: float log2
    is unportable at exact powers), registers combine by MAX (the
    mergeable-sketch property: the '(all)' row is computed FROM the
    per-source registers, never from re-scanned data), and the sum
    2^-M_j rides an exact INTEGER scale (2^(33-M_j); every partial
    fits 53 bits of dynamic range, so the float estimate is ONE
    division of exact integers by a literal — bit-identical on both
    engines, no correction branch).

    Scale shape: the corpus pass folds every shingle occurrence into
    64 registers per source via map-side-combinable MAX — the shuffle
    payload is 64 rows per source regardless of corpus size, which is
    the entire point of the sketch at 100 TB. The exact-distinct
    audit that rode along through r9 (a count-distinct shuffle of the
    FULL shingle space — the 9.68×/113s decade-2 row in BENCH_SF10)
    is split out to q378's fixed-cost K-document calibration, exactly
    as q364 split q191's exact closure (VERDICT r9 item 3); this
    query now ships registers only and measures linear."""
    d = load_table(spark, "documents", sf_dir)
    # Tokenize through a NAMED projection (never pass tokenize(text)
    # directly into the shingle helper — that duplicates the split
    # into every element_at at construction time, the q370 first-form
    # O(len²) blowup). No pin: the lineage below is linear until the
    # pinned register frame, and CollapseProject keeps the single
    # split() (measured, r11 pin audit — VERDICT r10 item 3).
    tw = d.select("source", tokenize(F.col("text")).alias("w"))
    sh = tw.select("source", F.explode(_shingles_dup(F.col("w"))).alias("s"))
    hv = word_hash32(F.col("s"), seed=_HLL_SEED)
    rho = sh.withColumn("h_", hv).select(
        "source",
        F.pmod(F.col("h_"), F.lit(_HLL_M)).alias("j"),
        F.when(F.expr(f"h_ DIV {_HLL_M}") == 0, F.lit(_HLL_W + 1))
        .otherwise(F.lit(_HLL_W + 1) - F.length(F.bin(F.expr(f"h_ DIV {_HLL_M}"))))
        .alias("r"),
    )
    # the register frame is TINY (sources × ≤64 rows) and has two
    # consumers (per-source stats + the merged '(all)' row) — pin IT,
    # never the corpus-scale shingle stream (the first form pinned the
    # full exploded stream: 10.2s at sf0.1, 59s at the 10x replica)
    regs = (
        rho.groupBy("source", "j")
        .agg(F.max("r").alias("mj"))
        .transform(pin)
    )
    merged = regs.groupBy("j").agg(F.max("mj").alias("mj")).select(
        F.lit("(all)").alias("source"), "j", "mj"
    )
    allregs = regs.unionByName(merged)
    return (
        allregs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_used"),
            F.expr(
                f"CAST(sum(CAST(1 AS BIGINT) << (33 - mj))"
                f" + ({_HLL_M} - count(*)) * 8589934592 AS BIGINT)"
            ).alias("s_scaled"),
        )
        .select(
            "source",
            "n_used",
            "s_scaled",
            (F.lit(_HLL_NUM) / F.col("s_scaled").cast("double")).alias(
                "est_distinct"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q378 — fixed-cost HLL error calibration (the audit half split out of q367)
# ---------------------------------------------------------------------------

# K documents give ~K·avg_shingles distinct candidates — the exact
# COUNT(DISTINCT) over them costs O(K·doclen) REGARDLESS of corpus
# size, the q364 shape that lets an exact-vs-sketch audit ride in a
# 100 TB battery.
_HLL_CAL_K = 500


@register(
    "q378_hll_error_calibration",
    category="aggregation",
    oracle=f"""
WITH samp AS (
  SELECT doc_id, source, text FROM documents
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
  LIMIT {_HLL_CAL_K}
),
w AS (
  SELECT source, {_DUCK_WORDS} AS t FROM samp
),
sh AS (
  SELECT source, unnest({_DUCK_SHINGLES_DUP.format(w="t")}) AS s FROM w
),
h AS (
  SELECT source, {_duck_hash32("s", _HLL_SEED)} AS hv, s FROM sh
),
rho AS (
  SELECT source, hv % {_HLL_M} AS j,
         CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_W + 1}
              ELSE {_HLL_W + 1} - length(bin(hv // {_HLL_M})) END AS r,
         s
  FROM h
),
regs AS (
  SELECT source, j, max(r) AS mj FROM rho GROUP BY source, j
),
merged AS (
  SELECT '(all)' AS source, j, max(mj) AS mj FROM regs GROUP BY j
),
allregs AS (SELECT * FROM regs UNION ALL SELECT * FROM merged),
stats AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_used,
         CAST(sum(CAST(1 AS BIGINT) << (33 - mj)) + ({_HLL_M} - count(*)) * 8589934592 AS BIGINT) AS s_scaled
  FROM allregs GROUP BY source
),
exact AS (
  SELECT source, CAST(count(DISTINCT s) AS BIGINT) AS exact_distinct FROM rho GROUP BY source
  UNION ALL
  SELECT '(all)', CAST(count(DISTINCT s) AS BIGINT) FROM rho
)
SELECT st.source, st.n_used, st.s_scaled,
       {_HLL_NUM!r} / CAST(st.s_scaled AS DOUBLE) AS est_distinct,
       e.exact_distinct,
       CAST(round(({_HLL_NUM!r} / CAST(st.s_scaled AS DOUBLE) - e.exact_distinct)
                  * 1000000 / e.exact_distinct, 0) AS BIGINT) AS err_ppm
FROM stats st JOIN exact e USING (source)
ORDER BY st.source
""",
)
def q378_hll_error_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-cost HLL-vs-exact error calibration — the audit half
    split out of q367 (VERDICT r9 item 3, the q364/q191 discipline).
    A deterministic K-document subsample (global top-K by
    md5(doc_id) — TakeOrderedAndProject, one linear scan, never a
    full-table shuffle) gets BOTH sides: the m=64 HLL registers
    (identical seed/index/rho mechanics as q367, per source plus the
    max-merged '(all)' row) and the exact distinct shingle count,
    with err_ppm pricing the sketch against truth. Unlike banding
    (whose q364 calibration had to mirror the production's
    data-dependent band WIDTH), HLL has no data-dependent parameter:
    the error distribution depends only on m and the hash family
    (Flajolet et al. 2007, ~1.04/sqrt(64) ≈ 13% standard error), so a
    K-doc sample exercises exactly the register mechanics production
    ships.

    Scale shape: selection is one linear corpus scan + a fixed-K
    ordered take; everything downstream is O(K·doclen) constant —
    including the exact COUNT(DISTINCT) shuffle, which is the whole
    point of the split (the pre-split q367 ran that shuffle over the
    FULL shingle space: 9.68×/113s at the sf10 replica)."""
    d = load_table(spark, "documents", sf_dir)
    # samp not pinned (r11 pin audit): it flows only into tw, whose
    # pin below materializes the ordered take exactly once anyway
    samp = (
        d.select("doc_id", "source", "text")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .limit(_HLL_CAL_K)
    )
    # tw pin KEPT: sh fans out to TWO consumers (the register fold
    # and the exact-distinct audit), so unpinned the K-doc sample +
    # tokenize would execute twice
    tw = samp.select("source", tokenize(F.col("text")).alias("w")).transform(pin)
    sh = tw.select("source", F.explode(_shingles_dup(F.col("w"))).alias("s"))
    hv = word_hash32(F.col("s"), seed=_HLL_SEED)
    rho = sh.withColumn("h_", hv).select(
        "source",
        F.pmod(F.col("h_"), F.lit(_HLL_M)).alias("j"),
        F.when(F.expr(f"h_ DIV {_HLL_M}") == 0, F.lit(_HLL_W + 1))
        .otherwise(F.lit(_HLL_W + 1) - F.length(F.bin(F.expr(f"h_ DIV {_HLL_M}"))))
        .alias("r"),
    )
    regs = (
        rho.groupBy("source", "j")
        .agg(F.max("r").alias("mj"))
        .transform(pin)
    )
    merged = regs.groupBy("j").agg(F.max("mj").alias("mj")).select(
        F.lit("(all)").alias("source"), "j", "mj"
    )
    allregs = regs.unionByName(merged)
    stats = allregs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_used"),
        F.expr(
            f"CAST(sum(CAST(1 AS BIGINT) << (33 - mj))"
            f" + ({_HLL_M} - count(*)) * 8589934592 AS BIGINT)"
        ).alias("s_scaled"),
    )
    # exact audit over the K-doc sample only: the distinct shuffle is
    # sample-bounded; pinned (two consumers: per-source + global)
    ss = sh.distinct().transform(pin)
    exact = ss.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_distinct")
    )
    exact_all = ss.select("s").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_distinct")
    ).select(F.lit("(all)").alias("source"), "exact_distinct")
    est = F.lit(_HLL_NUM) / F.col("s_scaled").cast("double")
    return (
        stats.join(exact.unionByName(exact_all), "source")
        .select(
            "source",
            "n_used",
            "s_scaled",
            est.alias("est_distinct"),
            "exact_distinct",
            F.round(
                (est - F.col("exact_distinct")) * 1000000 / F.col("exact_distinct"),
                0,
            )
            .cast("bigint")
            .alias("err_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q368 — source-level MinHash similarity matrix (signatures + exact audit)
# ---------------------------------------------------------------------------

_MH_SEEDS = (21, 22, 23, 24)  # 4 md5 digests -> 16 independent 32-bit hashes


def _duck_mh_cols() -> str:
    cols = []
    for s in _MH_SEEDS:
        for i in range(4):
            cols.append(
                f"min(CAST(('0x' || substr(md5('{s}:' || s_), {i * 8 + 1}, 8)) AS BIGINT))"
                f" AS sig_{s}_{i}"
            )
    return ",\n         ".join(cols)


_SIG_NAMES = [f"sig_{s}_{i}" for s in _MH_SEEDS for i in range(4)]


@register(
    "q368_source_minhash_matrix",
    category="similarity",
    oracle=f"""
WITH w AS (
  SELECT source, {_DUCK_WORDS} AS t FROM documents
),
sh AS (
  SELECT DISTINCT source, unnest({_DUCK_SHINGLES_DUP.format(w="t")}) AS s_ FROM w
),
sigs AS (
  SELECT source,
         {_duck_mh_cols()}
  FROM sh GROUP BY source
),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON a.s_ = b.s_ AND a.source < b.source
  GROUP BY 1, 2
),
est AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST({" + ".join(f"CASE WHEN a.{c} = b.{c} THEN 1 ELSE 0 END" for c in _SIG_NAMES)} AS BIGINT) AS est_matches
  FROM sigs a JOIN sigs b ON a.source < b.source
)
SELECT e.src_a, e.src_b, e.est_matches,
       CAST(e.est_matches * 1000000 // 16 AS BIGINT) AS est_jaccard_ppm,
       CAST(CAST(COALESCE(i.n_inter, 0) AS HUGEINT) * 1000000
            // (sa.n + sb.n - COALESCE(i.n_inter, 0)) AS BIGINT) AS exact_jaccard_ppm
FROM est e
LEFT JOIN inter i ON i.src_a = e.src_a AND i.src_b = e.src_b
JOIN sizes sa ON sa.source = e.src_a
JOIN sizes sb ON sb.source = e.src_b
ORDER BY e.src_a, e.src_b
""",
)
def q368_source_minhash_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level (source-pair) MinHash similarity matrix (Broder
    1997, public): each source reduces to a 16-value signature —
    per-hash MIN over its shingle stream, the mergeable-sketch shape
    (min combines map-side; the signature is the shuffle payload, 16
    numbers per source regardless of corpus size) — and every source
    pair's estimated Jaccard is the signature agreement fraction.
    This is how a pipeline prices inter-crawl overlap WITHOUT any
    document-pair work: 100 TB of text becomes S×16 numbers, then an
    S² comparison on a bounded frame. The exact set-Jaccard (posting
    self-join over distinct (source, shingle)) rides along as the
    audit; 16 hashes price the estimate at ~1/sqrt(16) = 25% standard
    error, visible in est vs exact ppm.

    The 16 hashes come from FOUR md5 digests (4 seeds × 4 8-hex
    slices — the q332 schedule: one digest yields four independent
    32-bit hashes)."""
    d = load_table(spark, "documents", sf_dir)
    # named projection only, no pin (r11 pin audit): single consumer
    # (the pinned distinct frame below); see q367's note
    tw = d.select("source", tokenize(F.col("text")).alias("w"))
    # distinct (source, shingle): the set semantics both sides need —
    # THREE consumers (signatures + posting join self-join sides) so
    # pin the reduced distinct frame
    sh = (
        tw.select("source", F.explode(_shingles_dup(F.col("w"))).alias("s_"))
        .distinct()
        .transform(pin)
    )
    sig_cols = []
    for s in _MH_SEEDS:
        digest = F.md5(F.concat(F.lit(f"{s}:"), F.col("s_")))
        for i in range(4):
            sig_cols.append(
                F.min(
                    F.conv(F.substring(digest, i * 8 + 1, 8), 16, 10).cast("bigint")
                ).alias(f"sig_{s}_{i}")
            )
    sigs = sh.groupBy("source").agg(*sig_cols)
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.s_") == F.col("b.s_")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    matches = sum(
        F.when(F.col(f"a.{c}") == F.col(f"b.{c}"), 1).otherwise(0)
        for c in _SIG_NAMES
    ).cast("bigint")
    est = (
        sigs.alias("a")
        .join(F.broadcast(sigs.alias("b")), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            matches.alias("est_matches"),
        )
    )
    return (
        est.join(inter, ["src_a", "src_b"], "left")
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "src_a").withColumnRenamed("n", "na")),
            "src_a",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "src_b").withColumnRenamed("n", "nb")),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "est_matches",
            F.expr("CAST(est_matches * 1000000 DIV 16 AS BIGINT)").alias(
                "est_jaccard_ppm"
            ),
            F.expr(
                "CAST(CAST(COALESCE(n_inter, 0) AS DECIMAL(38,0)) * 1000000"
                " DIV (na + nb - COALESCE(n_inter, 0)) AS BIGINT)"
            ).alias("exact_jaccard_ppm"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# q369 — language-id confusion matrix (profile classifier audit)
# ---------------------------------------------------------------------------

_PROFILE_K = 8  # discriminative tokens per language profile


@register(
    "q369_langid_confusion",
    category="quality",
    oracle=f"""
WITH tok AS (
  SELECT lang, unnest({_DUCK_WORDS}) AS t FROM documents
),
cnt AS (SELECT lang, t, count(*) AS n FROM tok GROUP BY lang, t),
prof AS (
  SELECT lang AS plang, list(t ORDER BY rk) AS toks
  FROM (SELECT lang, t, row_number() OVER (PARTITION BY lang ORDER BY n DESC, t) AS rk FROM cnt)
  WHERE rk <= {_PROFILE_K}
  GROUP BY lang
),
scored AS (
  SELECT d.doc_id, d.lang AS declared, p.plang,
         len(list_filter({_DUCK_WORDS}, w -> list_contains(p.toks, w))) AS score
  FROM documents d CROSS JOIN prof p
),
best AS (
  SELECT doc_id, declared, plang AS predicted
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rk
        FROM scored)
  WHERE rk = 1
)
SELECT declared, predicted,
       CAST(count(*) AS BIGINT) AS n_docs
FROM best GROUP BY declared, predicted
ORDER BY declared, predicted
""",
)
def q369_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix — the audit a pipeline runs on its
    declared `lang` labels before trusting them as a mixing key: a
    Cavnar-Trenkle-style profile classifier (1994, public; unigram
    profiles here — the fixture is whitespace-token text) is trained
    IN-QUERY (top-{_PROFILE_K} tokens per declared language), every
    document is scored against each profile by occurrence overlap
    (integer counts, tie-break = lang ascending), and the output is
    the declared×predicted matrix. Off-diagonal mass localizes label
    noise to (declared, predicted) pairs — the labels a curation pass
    re-checks first.

    Scale shape: the profile build is one token-count aggregation
    reduced to a ≤(langs×{_PROFILE_K})-row frame; classification
    BROADCASTS that frame (a 5-row cross join — never a shuffle of
    the corpus) and scores each document with a JVM array filter; the
    argmax is a per-row reduction over the langs dimension, not a
    window over rows. One corpus scan for profiles, one for scoring,
    final aggregation on the bounded (declared, predicted) key."""
    d = load_table(spark, "documents", sf_dir)
    tok = d.select("lang", F.explode(tokenize(F.col("text"))).alias("t"))
    cnt = tok.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("n"))
    rk = Window.partitionBy("lang").orderBy(F.col("n").desc(), "t")
    prof = (
        cnt.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= _PROFILE_K)
        .groupBy("lang")
        .agg(F.sort_array(F.collect_list(F.struct("rk", "t"))).alias("rt"))
        .select(
            F.col("lang").alias("plang"),
            F.transform(F.col("rt"), lambda s: s["t"]).alias("toks"),
        )
    )
    scored = (
        d.select("doc_id", F.col("lang").alias("declared"), "text")
        .crossJoin(F.broadcast(prof))
        .select(
            "doc_id",
            "declared",
            "plang",
            F.size(
                F.filter(
                    tokenize(F.col("text")),
                    lambda w: F.array_contains(F.col("toks"), w),
                )
            ).alias("score"),
        )
    )
    # per-doc argmax with lang-ascending tie-break: min over
    # (-score, plang) structs — a reduction, not a window
    best = (
        scored.groupBy("doc_id", "declared")
        .agg(F.min(F.struct((-F.col("score")).alias("ns"), F.col("plang"))).alias("b"))
        .select("declared", F.col("b.plang").alias("predicted"))
    )
    return (
        best.groupBy("declared", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("declared", "predicted")
    )


# ---------------------------------------------------------------------------
# q370 — intra-document repetition (Gopher-style duplicate n-gram mass)
# ---------------------------------------------------------------------------


@register(
    "q370_intradoc_repetition",
    category="quality",
    oracle=f"""
WITH g AS (
  SELECT doc_id, source,
         len({_DUCK_SHINGLES_DUP.format(w=_DUCK_WORDS)}) AS n_g,
         len(list_distinct({_DUCK_SHINGLES_DUP.format(w=_DUCK_WORDS)})) AS d_g
  FROM documents
)
SELECT source,
       CAST(sum(n_g) AS BIGINT) AS total_ngrams,
       CAST(sum(n_g - d_g) AS BIGINT) AS dup_ngrams,
       CAST(CAST(sum(n_g - d_g) AS HUGEINT) * 1000000
            // sum(n_g) AS BIGINT) AS dup_ppm,
       CAST(sum(CASE WHEN (n_g - d_g) * 5 > n_g THEN 1 ELSE 0 END) AS BIGINT) AS heavy_docs
FROM g GROUP BY source ORDER BY source
""",
)
def q370_intradoc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition audit — the Gopher repetition filter
    family (Rae et al. 2021 §A1.1 "duplicate n-gram fraction",
    public): per document, the fraction of its positional 3-grams
    that are repeats (n_grams − distinct_n_grams), rolled up per
    source as exact integer ppm plus the count of heavy repeaters
    (>20% duplicate mass, stated as the integer cross-multiplication
    (n−d)·5 > n — no float threshold). Generated/looped text scores
    high here while passing length and vocabulary gates, which is why
    the repetition gate exists alongside q231's rule set.

    Scale shape: both n-gram counts are per-row array computations
    (positional shingles + list_distinct — bounded by document
    length, never materialized through a shuffle); ONE map-side-
    combinable per-source aggregation with the DECIMAL(38,0) ppm
    guard (n-gram mass ≈ token mass, past 9.2e12 at design point)."""
    d = load_table(spark, "documents", sf_dir)
    # Tokenize through a NAMED projection: the first form passed
    # tokenize(text) straight into the shingle helper, which copies
    # the split into every element_at at CONSTRUCTION time —
    # O(len²)/doc, >5 min at the 10x replica. The projection boundary
    # alone fixes that (CollapseProject refuses to inline the
    # multi-reference alias — single split() in the optimized plan,
    # measured); no pin needed, the lineage is linear (r11 pin audit).
    tw = d.select("source", tokenize(F.col("text")).alias("w"))
    # n_g needs no shingle build at all: positional 3-gram count is
    # pure arithmetic on the token count
    g = tw.select(
        "source",
        F.greatest(F.size(F.col("w")) - 2, F.lit(0)).alias("n_g"),
        F.size(F.array_distinct(_shingles_dup(F.col("w")))).alias("d_g"),
    )
    return (
        g.groupBy("source")
        .agg(
            F.sum("n_g").cast("bigint").alias("total_ngrams"),
            F.sum(F.col("n_g") - F.col("d_g")).cast("bigint").alias("dup_ngrams"),
            F.expr(
                "CAST(CAST(sum(n_g - d_g) AS DECIMAL(38,0)) * 1000000"
                " DIV sum(n_g) AS BIGINT)"
            ).alias("dup_ppm"),
            F.sum(F.when((F.col("n_g") - F.col("d_g")) * 5 > F.col("n_g"), 1).otherwise(0))
            .cast("bigint")
            .alias("heavy_docs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q371 — corpus novelty-decay curve (new-shingle rate by ingest octave)
# ---------------------------------------------------------------------------


@register(
    "q371_novelty_decay_curve",
    category="text",
    oracle=f"""
WITH w AS (
  SELECT doc_id, {_DUCK_WORDS} AS t FROM documents
),
sh AS (
  SELECT doc_id, unnest({_DUCK_SHINGLES_DUP.format(w="t")}) AS s FROM w
),
first_seen AS (
  SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s
),
oct AS (
  SELECT length(bin(first_doc + 1)) - 1 AS octave, count(*) AS n_new
  FROM first_seen GROUP BY 1
)
SELECT CAST(octave AS BIGINT) AS octave,
       CAST(n_new AS BIGINT) AS n_new_shingles,
       CAST(sum(n_new) OVER (ORDER BY octave) AS BIGINT) AS cum_shingles
FROM oct ORDER BY octave
""",
)
def q371_novelty_decay_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty-decay curve: for each ingest octave (documents
    2^k−1 .. 2^(k+1)−2, from the bin()-length integer log2 of
    doc_id+1 — no float log), how many 3-gram shingles appear for the
    FIRST time. The curve is the empirical Heaps'-law trace
    (Heaps 1978, public) a pipeline reads before buying more crawl:
    flat n_new across octaves (each octave doubles the data) means
    the corpus is still producing novelty; collapsing n_new means new
    data is rehashing old content and the marginal crawl dollar
    should move upstream (dedup harder, or change sources). Same
    decision input as q352's epoch budgeting, measured from the
    corpus itself.

    Scale shape: one groupBy(shingle).min(doc_id) shuffle — the only
    corpus-scale stage, map-side combinable — then the octave rollup
    and cumulative window run on a ≤64-row frame (octaves of a
    bigint), where a running-sum window is free."""
    d = load_table(spark, "documents", sf_dir)
    # named projection only, no pin (r11 pin audit): linear lineage
    # into one groupBy; see q367's note
    tw = d.select("doc_id", tokenize(F.col("text")).alias("w"))
    sh = tw.select("doc_id", F.explode(_shingles_dup(F.col("w"))).alias("s"))
    first_seen = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    oct_ = (
        first_seen.select(
            (F.length(F.bin(F.col("first_doc") + 1)) - 1).alias("octave")
        )
        .groupBy("octave")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    w = Window.orderBy("octave").rowsBetween(Window.unboundedPreceding, 0)
    return oct_.select(
        F.col("octave").cast("bigint").alias("octave"),
        F.col("n_new").cast("bigint").alias("n_new_shingles"),
        F.sum("n_new").over(w).cast("bigint").alias("cum_shingles"),
    ).orderBy("octave")


# ---------------------------------------------------------------------------
# q372 — count-min frequency sketch with exact audit
# ---------------------------------------------------------------------------

_CMS_D = 4  # hash rows (one md5 slice each)
_CMS_W = 64  # counters per row
_CMS_SEED = 41
_CMS_TOPK = 20


@register(
    "q372_countmin_freq_sketch",
    category="aggregation",
    oracle=f"""
WITH tok AS (
  SELECT unnest({_DUCK_WORDS}) AS t FROM documents
),
hashed AS (
  SELECT t,
         {", ".join(f"CAST(('0x' || substr(md5('{_CMS_SEED}:' || t), {i * 8 + 1}, 8)) AS BIGINT) % {_CMS_W} AS c{i}" for i in range(_CMS_D))}
  FROM tok
),
counters AS (
  {" UNION ALL ".join(f"SELECT {i} AS row_, c{i} AS col_, count(*) AS n FROM hashed GROUP BY c{i}" for i in range(_CMS_D))}
),
exact AS (
  SELECT t, CAST(count(*) AS BIGINT) AS exact_n FROM tok GROUP BY t
),
top AS (
  SELECT t, exact_n FROM exact ORDER BY exact_n DESC, t LIMIT {_CMS_TOPK}
),
probes AS (
  SELECT top.t, top.exact_n, c.n AS counter
  FROM top
  JOIN counters c
    ON {" OR ".join(f"(c.row_ = {i} AND c.col_ = CAST(('0x' || substr(md5('{_CMS_SEED}:' || top.t), {i * 8 + 1}, 8)) AS BIGINT) % {_CMS_W})" for i in range(_CMS_D))}
)
SELECT t AS token, exact_n,
       CAST(min(counter) AS BIGINT) AS est_n,
       CAST(CAST(min(counter) - exact_n AS HUGEINT) * 1000000 // exact_n AS BIGINT) AS over_ppm
FROM probes GROUP BY t, exact_n
ORDER BY exact_n DESC, token
""",
)
def q372_countmin_freq_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch (Cormode & Muthukrishnan 2005,
    public) over the token stream, audited against exact counts for
    the top-{_CMS_TOPK} tokens: {_CMS_D} hash rows × {_CMS_W}
    counters (the 4 rows are the 4 independent 8-hex slices of ONE
    md5 digest — the q332 schedule), every counter a plain SUM, the
    estimate the MIN over a token's {_CMS_D} counters, and the
    one-sided overestimate priced in ppm. The sketch answers "how
    often does token X appear in 100 TB" from {_CMS_D * _CMS_W}
    numbers — the state a streaming ingest keeps when the true
    frequency table would not fit anywhere.

    Scale shape: counters are map-side-combinable sums onto a FIXED
    {_CMS_D}×{_CMS_W} key space — the shuffle payload is 256 rows no
    matter the corpus; the exact side (one token-count shuffle) is
    the audit. The probe join broadcasts the 256-counter frame."""
    d = load_table(spark, "documents", sf_dir)
    tok = d.select(F.explode(tokenize(F.col("text"))).alias("t"))
    digest = F.md5(F.concat(F.lit(f"{_CMS_SEED}:"), F.col("t")))
    # NOT pinned: the exploded token stream is corpus-scale, and each
    # consumer (counters / exact counts) reduces it map-side in one
    # pass — two column-pruned parquet scans beat materializing the
    # stream (the q367 first-form lesson)
    hashed = tok.select(
        "t",
        *[
            F.pmod(
                F.conv(F.substring(digest, i * 8 + 1, 8), 16, 10).cast("bigint"),
                F.lit(_CMS_W),
            ).alias(f"c{i}")
            for i in range(_CMS_D)
        ],
    )
    # ONE pass builds all 4 rows' counters: explode the (row, col)
    # probes per occurrence, then a single map-side-combinable shuffle
    # onto the fixed 4×64 key space (4 separate groupBys would re-scan
    # the corpus 4 times)
    counters = (
        hashed.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("row_"), F.col(f"c{i}").alias("col_")
                        )
                        for i in range(_CMS_D)
                    ]
                )
            ).alias("p")
        )
        .groupBy(F.col("p.row_").alias("row_"), F.col("p.col_").alias("col_"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    exact = tok.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
    top = exact.orderBy(F.col("exact_n").desc(), "t").limit(_CMS_TOPK)
    # re-derive each top token's (row, col) probes in ONE select (a
    # 4-way union would consume `top` four times and re-run the exact
    # count shuffle per branch — the audit read 5 documents scans) and
    # join the broadcast counter frame
    tdigest = F.md5(F.concat(F.lit(f"{_CMS_SEED}:"), F.col("t")))
    probes = top.select(
        "t",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_"),
                        F.pmod(
                            F.conv(
                                F.substring(tdigest, i * 8 + 1, 8), 16, 10
                            ).cast("bigint"),
                            F.lit(_CMS_W),
                        ).alias("col_"),
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("p"),
    ).select("t", "exact_n", F.col("p.row_").alias("row_"), F.col("p.col_").alias("col_"))
    return (
        probes.join(F.broadcast(counters), ["row_", "col_"])
        .groupBy(F.col("t").alias("token"), "exact_n")
        .agg(F.min("n").cast("bigint").alias("est_n"))
        .select(
            "token",
            "exact_n",
            "est_n",
            F.expr(
                "CAST(CAST(est_n - exact_n AS DECIMAL(38,0)) * 1000000"
                " DIV exact_n AS BIGINT)"
            ).alias("over_ppm"),
        )
        .orderBy(F.col("exact_n").desc(), "token")
    )
