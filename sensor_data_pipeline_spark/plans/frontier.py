"""Round-5/6 surface extensions: Spark-4 semi-structured (VARIANT),
SQL UDF + session variables, prefix-filtered set-similarity join
(PPJoin), Fellegi-Sunter record linkage, l-diversity privacy audit,
tokenizer fertility profiling, incremental corpus-snapshot dedup,
exact weighted (multiset) Jaccard, weighted MinHash LSH, and the
round-6 training-data efficiency audits (hard-negative mining,
packing-efficiency curve, ROUGE-style candidate F1, Matryoshka
truncation recall).

Two threads tie the family together:

1. API-surface parity beyond the reference: the reference parses its
   wire payloads with a hand-rolled JSON walk per message
   (src/modules/dd/consumer.cpp:122-133 json_pointer extraction with
   per-key defaults); q324 is the engine-grade version — VARIANT
   shredding with typed path extraction that Catalyst pushes through
   codegen — and q325 shows logic shared between queries as SQL-level
   functions/variables instead of C macros
   (src/modules/module_rpi_ups_hat.c:35-38 hard #defines).

2. 100 TB dedup/linkage discipline: every pairwise operator here is
   candidate-generated by an equi-join on a derived key (prefix token,
   nation block, shingle fingerprint) and NEVER all-pairs — the same
   posting-list contract the q41/q197/q271 family established, extended
   with the provably-complete prefix filter (Chaudhuri et al. SSJoin /
   Xiao et al. PPJoin, public papers) and the Fellegi-Sunter (JASA
   1969) integer log-odds match scorer.

Exactness: all similarity/score thresholds are rational (integer
cross-multiplication, never float division); md5 128-bit fingerprints
everywhere a 64-bit hash would birthday-collide at corpus scale (the
q314 round-4 ADVICE lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sensor_data_pipeline_spark.functions.scalar import int_div
from sensor_data_pipeline_spark.functions.text import tokenize
from sensor_data_pipeline_spark.pins import pin
from sensor_data_pipeline_spark.plans.registry import register
from sensor_data_pipeline_spark.sources.tables import load_table, register_views

_DUCK_WORDS = "regexp_split_to_array(text, '\\s+')"


# ---------------------------------------------------------------------------
# q324 — VARIANT shredding (Spark 4 semi-structured type)
# ---------------------------------------------------------------------------


@register(
    "q324_variant_shredding",
    category="json",
    oracle="""
SELECT event_type,
       CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS BIGINT)
         AS k_band,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(sum(CASE WHEN json_extract_string(props, '$.missing') IS NULL
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_has_missing
FROM events
GROUP BY event_type, k_band
ORDER BY event_type, k_band
""",
)
def q324_variant_shredding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured shredding through Spark 4's VARIANT type:
    ``parse_json`` turns the wire payload into the binary VARIANT
    encoding once, then ``variant_get`` extracts typed paths without
    re-parsing per field — the engine-grade replacement for the
    reference's per-message json_pointer walk with per-key defaults
    (src/modules/dd/consumer.cpp:122-133). ``try_variant_get`` on an
    absent path is the P12/P13 missing-key guard: it yields NULL
    instead of failing, counted here to prove the guard fires on every
    row. At 100 TB the win is that VARIANT parses each payload exactly
    once into a binary form whose path extraction is O(depth) —
    against N fields re-running N full-text JSON parses — and the
    shredded columns (not the blob) are all that reaches the shuffle:
    this aggregation moves (type, band) integer rows only. DuckDB has
    no VARIANT, so the oracle uses its JSON path functions — same
    values, which is the point: VARIANT is an encoding, not a
    semantic."""
    ev = load_table(spark, "events", sf_dir)
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    missing = F.expr("try_variant_get(parse_json(props), '$.missing', 'bigint')")
    return (
        ev.select(
            "event_type",
            k.alias("k"),
            missing.alias("m"),
        )
        # int_div, NOT floor(k / 10): measured on DuckDB 1.0 the
        # oracle's integer // TRUNCATES (the r5 ADVICE premise that it
        # floors was wrong), and the floor-through-double form is both
        # wrong on negative $.k and inexact past 2^53 (ADVICE r6) —
        # int_div is integer-exact truncation on the full bigint range
        .groupBy("event_type", int_div(F.col("k"), 10).alias("k_band"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.sum(F.when(F.col("m").isNull(), 0).otherwise(1))
            .cast("bigint")
            .alias("n_has_missing"),
        )
        .orderBy("event_type", "k_band")
    )


# ---------------------------------------------------------------------------
# q325 — SQL UDF + session variables + GROUP BY ALL
# ---------------------------------------------------------------------------


@register(
    "q325_sql_udf_variables",
    category="sql",
    oracle="""
SELECT l_returnflag,
       l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT)
         AS net_scaled
FROM lineitem
WHERE l_quantity >= 30
GROUP BY ALL
ORDER BY l_returnflag, l_linestatus
""",
)
def q325_sql_udf_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language UDF + session variable + GROUP BY ALL — the Spark 4
    way to share computation between queries WITHOUT leaving the
    optimizer: ``CREATE TEMPORARY FUNCTION ... RETURN <expr>`` is
    inlined by Catalyst at plan time (the function body lands inside
    whole-stage codegen exactly as if written inline — zero UDF-server
    round trips, unlike Python UDFs), and ``DECLARE VARIABLE`` gives
    parameterized thresholds the C version hard-codes as #defines
    (src/modules/module_rpi_ups_hat.c:35-38). The oracle is the same
    query with the function body hand-inlined — bit-identical results
    prove the inlining claim. GROUP BY ALL groups on every
    non-aggregate select item (both engines support it). Scale: this
    IS q01's shape — pushdown + map-side partial aggregation — the
    query exists to pin the API surface, not a new plan."""
    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_scaled_cents(p DOUBLE, d DOUBLE) "
        "RETURNS BIGINT "
        "RETURN CAST(round(p * 100, 0) AS BIGINT) "
        "* (100 - CAST(round(d * 100, 0) AS BIGINT))"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE min_qty DOUBLE DEFAULT 0.0")
    spark.sql("SET VARIABLE min_qty = 30.0")
    return spark.sql(
        """
        SELECT l_returnflag,
               l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(net_scaled_cents(l_extendedprice, l_discount)) AS BIGINT)
                 AS net_scaled
        FROM lineitem
        WHERE l_quantity >= min_qty
        GROUP BY ALL
        ORDER BY l_returnflag, l_linestatus
        """
    )


# ---------------------------------------------------------------------------
# q326 — prefix-filtered set-similarity self-join (PPJoin-style)
# ---------------------------------------------------------------------------

# Jaccard threshold 3/5 as a rational: 5*inter >= 3*union; prefix length
# n - ceil(3n/5) + 1; ceil(3n/5) = (3n+4) DIV 5. Elements are DISTINCT
# 4-word shingles: the fixture text has a 31-token vocabulary, so
# word-level sets are degenerate (nearly every pair is similar and no
# filter can prune below the true O(N^2) result); 4-shingles have
# ~210k vocabulary at sf0.1 with max df 6 — the granularity at which
# near-dup detection is meaningful and prefix filtering selective.
_PF_NUM, _PF_DEN = 3, 5
_PF_K = 4


@register(
    "q326_prefix_filter_simjoin",
    category="dedup",
    oracle=f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS a FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         list_aggregate(a[i:i + {_PF_K} - 1], 'string_agg', ' ') AS sh
  FROM w CROSS JOIN unnest(range(1, len(a) - {_PF_K} + 2)) AS t(i)
),
sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.n_inter,
       sa.n + sb.n - i.n_inter AS n_union,
       i.n_inter * 1000000 // (sa.n + sb.n - i.n_inter) AS jaccard_ppm
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE {_PF_DEN} * i.n_inter >= {_PF_NUM} * (sa.n + sb.n - i.n_inter)
ORDER BY i.doc_a, i.doc_b
""",
)
def q326_prefix_filter_simjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join with PREFIX FILTERING (SSJoin,
    Chaudhuri et al. ICDE'06; PPJoin, Xiao et al. WWW'08): candidate
    pairs come only from docs sharing a shingle inside each doc's
    PREFIX — its (n - ceil(t*n) + 1) globally-rarest distinct
    4-shingles under a total (df, fingerprint) order — which is
    provably complete for Jaccard >= t: two sets whose prefixes are
    disjoint under a COMMON global element order cannot intersect
    enough to reach the threshold. The PPJoin length filter stacks on
    top: |A ∩ B| >= t/(1+t)·(|A|+|B|) forces t·max(n_a,n_b) <=
    min(n_a,n_b), pruning size-mismatched pairs before verification.
    Against the q41 posting-list join (which explodes EVERY shingle's
    posting list), the prefix filter concentrates candidate generation
    on each doc's rarest elements, whose posting lists are shortest —
    at 100 TB that asymmetry is the difference between shuffling the
    long tail and shuffling the stopword head. A round-5 stress run
    proved why the ELEMENT choice matters as much as the filter:
    word-level sets over this fixture's 31-token vocabulary made every
    pair a candidate (12.5M of 12.5M at sf0.1 — no filter can beat a
    degenerate similarity space), so the elements are 4-shingles, the
    granularity where similarity is sparse. Shingles travel as 16-byte
    md5 binaries (the q314 128-bit lesson). Threshold is rational
    (5*inter >= 3*union) — no float compare. The oracle is the
    unfiltered all-shared-shingle join: identical survivors prove the
    filter's completeness, not just its speed."""
    docs = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    zips = ", ".join(
        f"slice(a, {j + 1}, greatest(size(a) - {_PF_K - 1}, 0))"
        for j in range(_PF_K)
    )
    g = (
        docs.select("doc_id", tokenize(F.col("text")).alias("a"))
        .select("doc_id", F.expr(f"arrays_zip({zips})").alias("z"))
        .select("doc_id", F.explode("z").alias("p"))
        .select("doc_id", F.unhex(F.md5(F.expr("concat_ws(' ', p.*)"))).alias("fp"))
        .distinct()
    )
    g = g.transform(pin, lazy=True)  # consumed 3x: freq, prefix rank, verify sets
    sizes = g.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n"))
    freq = g.groupBy("fp").agg(F.count("*").cast("bigint").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "fp")
    ranked = (
        g.join(freq, "fp")
        .withColumn("rk", F.row_number().over(w))
        .join(sizes, "doc_id")
    )
    # prefix length: n - ceil(t*n) + 1 with ceil(3n/5) = (3n+4) DIV 5
    prefix = ranked.filter(
        F.col("rk") <= F.expr(f"n - ({_PF_NUM}*n + {_PF_DEN - 1}) DIV {_PF_DEN} + 1")
    ).select("doc_id", "fp", "n")
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "fp")
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            # PPJoin length filter: t * max <= min
            & (
                _PF_DEN * F.least(F.col("a.n"), F.col("b.n"))
                >= _PF_NUM * F.greatest(F.col("a.n"), F.col("b.n"))
            )
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sets = g.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("fp")).alias("fps"),
        F.count("*").cast("bigint").alias("n"),
    )
    return (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("fps").alias("fps_a"),
                F.col("n").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("fps").alias("fps_b"),
                F.col("n").alias("n_b"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("fps_a", "fps_b"))
            .cast("bigint")
            .alias("n_inter"),
            (F.col("n_a") + F.col("n_b")).alias("_sz"),
        )
        .withColumn("n_union", (F.col("_sz") - F.col("n_inter")).cast("bigint"))
        .filter(_PF_DEN * F.col("n_inter") >= _PF_NUM * F.col("n_union"))
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_union",
            F.expr("n_inter * 1000000 DIV n_union").alias("jaccard_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# q327 — Fellegi-Sunter record-linkage scoring (multi-pass blocked)
# ---------------------------------------------------------------------------

# integer log-odds weights (scaled ln(m/u) analogs): agreement earns the
# field's discriminating power, disagreement costs a small penalty
_FS_W = {
    "key_tail": (21, -3),
    "acct_band": (18, -2),
    "name_mod": (25, -1),
}
_FS_MATCH, _FS_POSSIBLE = 40, 15


@register(
    "q327_fellegi_sunter_linkage",
    category="join",
    oracle=f"""
WITH pairs AS (
  SELECT c.c_nationkey AS nation,
         CASE WHEN c.c_custkey % 10 = s.s_suppkey % 10
              THEN {_FS_W["key_tail"][0]} ELSE {_FS_W["key_tail"][1]} END
       + CASE WHEN CAST(floor(c.c_acctbal / 1000) AS BIGINT)
                   = CAST(floor(s.s_acctbal / 1000) AS BIGINT)
              THEN {_FS_W["acct_band"][0]} ELSE {_FS_W["acct_band"][1]} END
       + CASE WHEN CAST(substr(c.c_name, 10) AS BIGINT) % 100
                   = CAST(substr(s.s_name, 10) AS BIGINT) % 100
              THEN {_FS_W["name_mod"][0]} ELSE {_FS_W["name_mod"][1]} END
         AS score
  FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey
  WHERE CAST(floor(c.c_acctbal / 1000) AS BIGINT)
          = CAST(floor(s.s_acctbal / 1000) AS BIGINT)
     OR CAST(substr(c.c_name, 10) AS BIGINT) % 100
          = CAST(substr(s.s_name, 10) AS BIGINT) % 100
)
SELECT CAST(nation AS BIGINT) AS nation,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN score >= {_FS_MATCH} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_match,
       CAST(sum(CASE WHEN score >= {_FS_POSSIBLE} AND score < {_FS_MATCH}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_possible,
       CAST(sum(score) AS BIGINT) AS sum_score
FROM pairs
GROUP BY nation
ORDER BY nation
""",
)
def q327_fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage, Fellegi-Sunter (JASA 1969), with
    MULTI-PASS BLOCKING (Hernandez-Stolfo's multi-key discipline):
    candidate pairs are the union of two compound equi-joins —
    (nation, account-kilo-band) and (nation, name-suffix residue) —
    then scored with per-field integer log-odds weights (agreement
    earns ~ln(m/u), disagreement pays a small penalty) and classified
    against the two F-S thresholds. The blocking is provably complete
    for the match class: a pair disagreeing on BOTH blocked fields
    scores at most 21 - 2 - 1 = 18 < 40, so no true match escapes.
    Why multi-pass instead of the single nation block: a round-5 10x
    stress run measured the nation-only block at 31.4x for 10x data —
    per-block pair count is |C_b| x |S_b|, QUADRATIC in scale-up when
    the key's cardinality is fixed; compounding each pass with a
    discriminating field divides the block occupancy by that field's
    cardinality and turns the explosion into the candidate set the
    scorer actually needs. Two more round-5 stress findings are baked
    in: (a) the passes are disjoint by construction (pass 2 requires
    band disagreement), so the union needs no distinct; (b) the dim
    side broadcasts, so the probe side is repartitioned across every
    core first — without it AQE coalesced the ~O(sum of block
    products) candidate fan-out onto 8 tasks and one straggler drained
    it (measured 165s -> 9.8s at the 100x replica). The candidate
    count itself still grows with block occupancy — the fixed 11-value
    band cardinality is a fixture artifact; a real estate blocks on
    high-cardinality fields. At 100 TB the
    rule generalizes: blocking keys must be high-cardinality enough
    that block occupancy stays bounded as the estate grows — and skew
    in n_candidates per nation is the salting trigger. Field
    comparators are deterministic integer tests (entity-key tail
    digit, account kilo-band, name-suffix residue; the fixture's
    reduced schema has no phone/address columns — see TESTDATA.md);
    scores are exact integer algebra. Weights are compile-time
    constants here; learning them (EM over agreement frequencies) is
    an orthogonal aggregation pass."""
    # the dim side broadcasts, so the PROBE side's partitioning is the
    # output partitioning — a single-file scan would leave the ~B(N)
    # candidate fan-out on a handful of AQE-coalesced tasks (round-5
    # 100x stress: 7 of 8 tasks idle while one drained the pairs);
    # spread the probe across every core before the join
    c = load_table(spark, "customer", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    ).select(
        "c_custkey",
        F.col("c_nationkey").alias("nation"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("c_band"),
        F.expr("CAST(substr(c_name, 10) AS BIGINT) % 100").alias("c_mod"),
        (F.col("c_custkey") % 10).alias("c_tail"),
    )
    s = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey",
        F.col("s_nationkey").alias("nation"),
        F.floor(F.col("s_acctbal") / 1000).cast("bigint").alias("s_band"),
        F.expr("CAST(substr(s_name, 10) AS BIGINT) % 100").alias("s_mod"),
        (F.col("s_suppkey") % 10).alias("s_tail"),
    )
    # the two passes are DISJOINT BY CONSTRUCTION: pass 2 admits only
    # band-disagreeing pairs, so the union needs NO distinct — the
    # round-5 100x stress run showed the 9-column distinct exchange as
    # the straggler stage (one task draining the unioned candidates);
    # disjointness replaces that shuffle with a filter predicate
    pass1 = c.join(
        s, (c["nation"] == s["nation"]) & (c["c_band"] == s["s_band"])
    ).select(c["nation"], "c_custkey", "s_suppkey", "c_band", "s_band", "c_mod", "s_mod", "c_tail", "s_tail")
    pass2 = (
        c.join(s, (c["nation"] == s["nation"]) & (c["c_mod"] == s["s_mod"]))
        .filter(c["c_band"] != s["s_band"])
        .select(c["nation"], "c_custkey", "s_suppkey", "c_band", "s_band", "c_mod", "s_mod", "c_tail", "s_tail")
    )
    cand = pass1.unionByName(pass2)
    agree = lambda cond, w: F.when(cond, F.lit(w[0])).otherwise(F.lit(w[1]))
    score = (
        agree(F.col("c_tail") == F.col("s_tail"), _FS_W["key_tail"])
        + agree(F.col("c_band") == F.col("s_band"), _FS_W["acct_band"])
        + agree(F.col("c_mod") == F.col("s_mod"), _FS_W["name_mod"])
    )
    return (
        cand.select(F.col("nation").cast("bigint").alias("nation"), score.alias("score"))
        .groupBy("nation")
        .agg(
            F.count("*").cast("bigint").alias("n_candidates"),
            F.sum(F.when(F.col("score") >= _FS_MATCH, 1).otherwise(0))
            .cast("bigint")
            .alias("n_match"),
            F.sum(
                F.when(
                    (F.col("score") >= _FS_POSSIBLE) & (F.col("score") < _FS_MATCH),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_possible"),
            F.sum("score").cast("bigint").alias("sum_score"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# q328 — l-diversity privacy audit
# ---------------------------------------------------------------------------

_LDIV_L = 4


@register(
    "q328_l_diversity_audit",
    category="quality",
    oracle=f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(count(*) AS BIGINT) AS k_size,
         CAST(count(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT)) AS BIGINT)
           AS l_div
  FROM customer
  GROUP BY c_nationkey, c_mktsegment
)
SELECT CASE WHEN l_div >= {_LDIV_L} THEN 'diverse' ELSE 'violating' END AS status,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(k_size) AS BIGINT) AS n_rows,
       CAST(min(l_div) AS BIGINT) AS min_l,
       CAST(max(l_div) AS BIGINT) AS max_l,
       CAST(min(k_size) AS BIGINT) AS min_k
FROM g
GROUP BY status
ORDER BY status
""",
)
def q328_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. ICDE'06) — the
    release-gate k-anonymity (q244) cannot express: a group can be
    k-anonymous yet leak its sensitive attribute completely if every
    member SHARES the value. Per quasi-identifier group (nation x
    market segment), count DISTINCT sensitive values (account-balance
    2k-band); groups below l=3 are violating — their rows are
    attribute-disclosure risks even at high k. Plan: one groupBy with
    count + count(DISTINCT ...) (Spark expands to a two-level
    aggregate: partial distinct per (QI, sensitive), then the group
    reduce — both map-side combinable), then a 2-row status census.
    At 100 TB this is one shuffle keyed by the QI; the distinct
    expansion is bounded by the sensitive domain, not row count."""
    c = load_table(spark, "customer", sf_dir)
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("bigint").alias("k_size"),
        F.countDistinct(F.floor(F.col("c_acctbal") / 2000).cast("bigint"))
        .cast("bigint")
        .alias("l_div"),
    )
    return (
        g.select(
            F.when(F.col("l_div") >= _LDIV_L, "diverse")
            .otherwise("violating")
            .alias("status"),
            "k_size",
            "l_div",
        )
        .groupBy("status")
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum("k_size").cast("bigint").alias("n_rows"),
            F.min("l_div").cast("bigint").alias("min_l"),
            F.max("l_div").cast("bigint").alias("max_l"),
            F.min("k_size").cast("bigint").alias("min_k"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# q329 — tokenizer fertility profile
# ---------------------------------------------------------------------------

from sensor_data_pipeline_spark.plans.pipeline_v2 import BPE_PAT, BPE_PAT_SQL


@register(
    "q329_tokenizer_fertility",
    category="corpus",
    oracle=f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '{BPE_PAT_SQL}'))) AS BIGINT)
         AS n_bpe,
       CAST(sum(len({_DUCK_WORDS})) AS BIGINT) AS n_words,
       CAST(sum(length(text)) AS BIGINT) AS n_chars,
       CAST(sum(len(regexp_extract_all(text, '{BPE_PAT_SQL}'))) AS BIGINT)
         * 1000000
         // CAST(sum(len({_DUCK_WORDS})) AS BIGINT) AS fertility_ppm,
       CAST(sum(length(text)) AS BIGINT) * 1000000
         // CAST(sum(len(regexp_extract_all(text, '{BPE_PAT_SQL}'))) AS BIGINT)
         AS chars_per_token_ppm
FROM documents
GROUP BY lang
ORDER BY lang
""",
)
def q329_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — the multilingual-budget audit
    every training-mix decision needs: subword tokens per whitespace
    word (fertility) and characters per subword token, using the same
    GPT-2-style pre-tokenizer regex as q172. High-fertility languages
    consume disproportionate sequence length for the same text mass,
    so a mix specified in DOCUMENTS silently over-trains on
    low-fertility English unless rebalanced in TOKENS — this query is
    the per-language conversion table (exact integer ppm ratios of
    exact BIGINT sums; division happens once per language, after the
    reduce). Plan: pure per-row codegen'd regex counting (zero
    row-Python), one 5-group aggregate — scan-bound and map-side
    combinable, the cheapest possible shape at 100 TB."""
    d = load_table(spark, "documents", sf_dir)
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_PAT), 0)
    per = d.select(
        "lang",
        F.size(toks).cast("bigint").alias("bpe"),
        F.size(tokenize(F.col("text"))).cast("bigint").alias("words"),
        F.length("text").cast("bigint").alias("chars"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("bpe").cast("bigint").alias("n_bpe"),
            F.sum("words").cast("bigint").alias("n_words"),
            F.sum("chars").cast("bigint").alias("n_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "n_bpe",
            "n_words",
            "n_chars",
            F.expr("n_bpe * 1000000 DIV n_words").alias("fertility_ppm"),
            F.expr("n_chars * 1000000 DIV n_bpe").alias("chars_per_token_ppm"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q330 — incremental snapshot dedup (new batch vs existing corpus)
# ---------------------------------------------------------------------------

_SNAP_K = 5  # shingle width
_SNAP_DUP_PPM = 800_000  # containment >= 0.8 -> dup_of_old
_SNAP_PART_PPM = 300_000  # containment >= 0.3 -> partial_overlap


@register(
    "q330_incremental_snapshot_dedup",
    category="dedup",
    oracle=f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS a FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         md5(list_aggregate(a[i:i + {_SNAP_K} - 1], 'string_agg', ' ')) AS fp
  FROM w CROSS JOIN unnest(range(1, len(a) - {_SNAP_K} + 2)) AS t(i)
),
old_fps AS (SELECT DISTINCT fp FROM g WHERE doc_id % 2 = 0),
new_docs AS (
  SELECT g.doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN o.fp IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_seen
  FROM g LEFT JOIN old_fps o USING (fp)
  WHERE g.doc_id % 2 = 1
  GROUP BY g.doc_id
)
SELECT doc_id, n_shingles, n_seen,
       n_seen * 1000000 // n_shingles AS containment_ppm,
       CASE WHEN n_seen * 1000000 // n_shingles >= {_SNAP_DUP_PPM}
              THEN 'dup_of_old'
            WHEN n_seen * 1000000 // n_shingles >= {_SNAP_PART_PPM}
              THEN 'partial_overlap'
            ELSE 'novel' END AS verdict
FROM new_docs
ORDER BY doc_id
""",
)
def q330_incremental_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a NEW crawl batch against the EXISTING
    corpus snapshot — the op a daily ingestion pipeline runs, as
    opposed to the whole-corpus self-dedup of q41/q236: new docs
    (odd doc_id here) are classified by the fraction of their distinct
    5-word shingles already present in the old snapshot's fingerprint
    index (even doc_id) — >=80% containment is a near-dup of existing
    data, >=30% partial overlap (quote/boilerplate mass), else novel.
    Fingerprints are 128-bit md5 (the q314 lesson: 64-bit birthday-
    collides at corpus-scale gram cardinality). Plan: ONE equi-join of
    new shingle fingerprints against the deduplicated old index — at
    100 TB the old index is the persistent artifact (bucketed by fp),
    so the daily cost is shuffling only the new batch's fingerprints;
    nothing pairwise, nothing all-pairs. The left join + null-count
    computes containment without a second scan. Reference analog: the
    reference appends sensor readings idempotently by timestamp key
    (src/modules/dd/consumer.cpp:241-268 upserts per reading); this is
    the corpus-scale generalization where the 'key' is content."""
    docs = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    zips = ", ".join(
        f"slice(a, {j + 1}, greatest(size(a) - {_SNAP_K - 1}, 0))"
        for j in range(_SNAP_K)
    )
    g = (
        docs.select("doc_id", tokenize(F.col("text")).alias("a"))
        .select("doc_id", F.expr(f"arrays_zip({zips})").alias("z"))
        .select("doc_id", F.explode("z").alias("p"))
        .select("doc_id", F.md5(F.expr("concat_ws(' ', p.*)")).alias("fp"))
        .distinct()
    )
    old_fps = g.filter(F.col("doc_id") % 2 == 0).select("fp").distinct()
    new_g = g.filter(F.col("doc_id") % 2 == 1)
    seen = (
        new_g.join(
            old_fps.withColumn("_hit", F.lit(1)), "fp", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_seen"),
        )
    )
    ppm = F.expr("n_seen * 1000000 DIV n_shingles")
    return (
        seen.select(
            "doc_id",
            "n_shingles",
            "n_seen",
            ppm.alias("containment_ppm"),
            F.when(ppm >= _SNAP_DUP_PPM, "dup_of_old")
            .when(ppm >= _SNAP_PART_PPM, "partial_overlap")
            .otherwise("novel")
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q331 — exact weighted (multiset) Jaccard self-join
# ---------------------------------------------------------------------------

# weighted-Jaccard threshold 1/2 as a rational: 2*I >= (Ta + Tb - I)
_WJ_NUM, _WJ_DEN = 1, 2
_WJ_K = 3


@register(
    "q331_weighted_jaccard",
    category="dedup",
    oracle=f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS a FROM documents),
bag AS (
  SELECT doc_id, md5(list_aggregate(a[i:i + {_WJ_K} - 1], 'string_agg', ' ')) AS fp,
         CAST(count(*) AS BIGINT) AS c
  FROM w CROSS JOIN unnest(range(1, len(a) - {_WJ_K} + 2)) AS t(i)
  GROUP BY 1, 2
),
tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS tc FROM bag GROUP BY doc_id),
mins AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(sum(least(a.c, b.c)) AS BIGINT) AS w_inter
  FROM bag a JOIN bag b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT m.doc_a, m.doc_b, m.w_inter,
       ta.tc + tb.tc - m.w_inter AS w_union,
       m.w_inter * 1000000 // (ta.tc + tb.tc - m.w_inter) AS wjaccard_ppm
FROM mins m
JOIN tot ta ON ta.doc_id = m.doc_a
JOIN tot tb ON tb.doc_id = m.doc_b
WHERE {_WJ_DEN} * m.w_inter >= {_WJ_NUM} * (ta.tc + tb.tc - m.w_inter)
ORDER BY m.doc_a, m.doc_b
""",
)
def q331_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED (multiset) Jaccard near-dup pairs: documents as
    BAGS of 3-word shingles — J_w = sum_s min(c_a, c_b) / sum_s
    max(c_a, c_b) — the similarity the set-based q41 underestimates on
    repetitive text: a page that repeats its boilerplate 10x has the
    same shingle SET as one that states it once, but a very different
    bag, and it is the bag that predicts token-level memorization.
    Identity used: sum(max) = Ta + Tb - sum(min), so only sum(min)
    needs the pair join; Ta/Tb come from per-doc totals. Plan: shingle
    counts reduce per (doc, fingerprint) map-side; pairs generate from
    the fingerprint-keyed posting join (max df 25 at sf0.1 — bounded
    fan-out, never all-pairs); two broadcast-size total joins; the
    threshold is rational (2*I >= U). Fingerprints are md5 (128-bit,
    the q314 lesson). At 100 TB the df cap discipline (drop shingles
    above a frequency ceiling, q41's max_shingle_freq) applies
    unchanged — the weights ride the same posting lists. Reference
    analog: the reference dedups repeated sensor readings by exact
    equality one tick at a time (src/modules/dd/consumer.cpp:241-268
    display refresh vs prior value); this is the corpus-scale weighted
    generalization."""
    docs = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    zips = ", ".join(
        f"slice(a, {j + 1}, greatest(size(a) - {_WJ_K - 1}, 0))"
        for j in range(_WJ_K)
    )
    bag = (
        docs.select("doc_id", tokenize(F.col("text")).alias("a"))
        .select("doc_id", F.expr(f"arrays_zip({zips})").alias("z"))
        .select("doc_id", F.explode("z").alias("p"))
        .select("doc_id", F.md5(F.expr("concat_ws(' ', p.*)")).alias("fp"))
        .groupBy("doc_id", "fp")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    # consumed 3x: totals + both join sides; a static build beats
    # AQE's one-job-per-stage build (A/B mean 2.44s -> 2.16s)
    bag = bag.transform(pin, adaptive=False)
    tot = bag.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("tc"))
    a = bag.select(
        F.col("doc_id").alias("doc_a"), "fp", F.col("c").alias("c_a")
    )
    b = bag.select(
        F.col("doc_id").alias("doc_b"), "fp", F.col("c").alias("c_b")
    )
    mins = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("c_a", "c_b")).cast("bigint").alias("w_inter"))
    )
    return (
        mins.join(tot.select(F.col("doc_id").alias("doc_a"), F.col("tc").alias("ta")), "doc_a")
        .join(tot.select(F.col("doc_id").alias("doc_b"), F.col("tc").alias("tb")), "doc_b")
        .withColumn("w_union", (F.col("ta") + F.col("tb") - F.col("w_inter")).cast("bigint"))
        .filter(_WJ_DEN * F.col("w_inter") >= _WJ_NUM * F.col("w_union"))
        .select(
            "doc_a",
            "doc_b",
            "w_inter",
            "w_union",
            F.expr("w_inter * 1000000 DIV w_union").alias("wjaccard_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# q332 — weighted MinHash LSH (replication construction) + exact calibration
# ---------------------------------------------------------------------------

_WMH_CAP = 3  # per-element replication cap
_WMH_HASHES = 16
_WMH_BANDS = 4  # 4 bands x 4 rows
# Bucket-occupancy ceiling (r11, VERDICT r10 item 5): band buckets
# holding more than this many docs are excluded from candidate
# generation — the q41 max-df posting-list discipline applied to LSH
# buckets. Unlike sign-LSH (where fixed band_bits give every random
# pair a 2^-bits collision rate, so occupancy grows ~n/2^bits and the
# width must ADAPT to n — q191/q339), a MinHash band collides with
# probability J^r: occupancy only grows where the data holds genuine
# near-dup mass. Measured: max occupancy 4 / 4 / 8 and 0.18 / 0.18 /
# 0.58 band-pairs per doc at sf0.1 / sf1 / sf10 — the cap never
# engages below 100x fixture scale, and at 100 TB it bounds pair
# generation at buckets * cap^2 / 2 while the dropped hot buckets are
# exactly the boilerplate clusters the components family (q74/q343)
# owns. Both engines apply the same windowed-count filter.
_WMH_OCC_CAP = 64


@register(
    "q332_weighted_minhash_lsh",
    category="dedup",
    oracle=f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS a FROM documents),
bag AS (
  SELECT doc_id, list_aggregate(a[i:i + {_WJ_K} - 1], 'string_agg', ' ') AS sh,
         CAST(count(*) AS BIGINT) AS c
  FROM w CROSS JOIN unnest(range(1, len(a) - {_WJ_K} + 2)) AS t(i)
  GROUP BY 1, 2
),
elems AS (
  SELECT doc_id, sh || '#' || CAST(r AS VARCHAR) AS elem
  FROM bag CROSS JOIN unnest(range(1, least(c, {_WMH_CAP}) + 1)) AS t(r)
),
hashes AS (
  -- k = 4*seed + slice: one md5 per (elem, seed) yields FOUR 32-bit
  -- hashes (hex slices), quartering the md5 count vs one-md5-per-k
  SELECT doc_id, s * 4 + j AS k,
         min(CAST(('0x' || substr(md5(CAST(s AS VARCHAR) || ':' || elem),
                                  j * 8 + 1, 8)) AS BIGINT)) AS mh
  FROM elems
  CROSS JOIN (SELECT unnest(generate_series(0, {_WMH_HASHES // 4 - 1})) AS s)
  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j)
  GROUP BY doc_id, s * 4 + j
),
bands AS (
  SELECT doc_id, k // {_WMH_HASHES // _WMH_BANDS} AS band_id,
         md5(string_agg(CAST(mh AS VARCHAR), '_' ORDER BY k)) AS band_hash
  FROM hashes GROUP BY doc_id, k // {_WMH_HASHES // _WMH_BANDS}
),
hot AS (
  SELECT band_id, band_hash FROM bands
  GROUP BY band_id, band_hash HAVING count(*) > {_WMH_OCC_CAP}
),
capped AS (
  SELECT doc_id, band_id, band_hash FROM bands b
  WHERE NOT EXISTS (SELECT 1 FROM hot h
                    WHERE h.band_id = b.band_id
                      AND h.band_hash = b.band_hash)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS tc FROM bag GROUP BY doc_id),
mins AS (
  SELECT cd.doc_a, cd.doc_b,
         CAST(sum(least(a.c, b.c)) AS BIGINT) AS w_inter
  FROM cand cd
  JOIN bag a ON a.doc_id = cd.doc_a
  JOIN bag b ON b.doc_id = cd.doc_b AND b.sh = a.sh
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       COALESCE(m.w_inter, 0) AS w_inter,
       ta.tc + tb.tc - COALESCE(m.w_inter, 0) AS w_union,
       COALESCE(m.w_inter, 0) * 1000000
         // (ta.tc + tb.tc - COALESCE(m.w_inter, 0)) AS wjaccard_ppm,
       CASE WHEN {_WJ_DEN} * COALESCE(m.w_inter, 0)
                 >= {_WJ_NUM} * (ta.tc + tb.tc - COALESCE(m.w_inter, 0))
            THEN 1 ELSE 0 END AS is_true_dup
FROM cand c
LEFT JOIN mins m ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
JOIN tot ta ON ta.doc_id = c.doc_a
JOIN tot tb ON tb.doc_id = c.doc_b
ORDER BY c.doc_a, c.doc_b
""",
)
def q332_weighted_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED MinHash LSH via the integer-replication construction:
    each bag element appears as min(count, cap) replicas 'sh#r', so
    the plain MinHash of the replicated set estimates the capped
    weighted Jaccard — the sketch-path twin of q331's exact join
    (replication is the classic integer-weight reduction; Ioffe's ICWS
    is the real-weight generalization, unnecessary for integer counts).
    16 min-hashes per doc computed in ONE pass as 16 parallel min
    aggregates with FOUR md5 calls per element (each md5 digest is
    sliced into four independent 32-bit hashes — same trick both
    engines replay; measured 10.4s -> 3.3s at sf0.1 vs the naive
    16-md5 schedule), banded 4x4; candidates are band-hash collisions
    (equi-join, never all-pairs), each verified against the EXACT
    weighted Jaccard and flagged is_true_dup — the output is the
    calibration table showing precisely which collisions are real at
    the 1/2 threshold. The exact verify routes candidate bags through
    the pair key (cost O(candidate bags)), never the corpus-wide
    sum-of-df^2 posting explosion. At 100 TB only the banded
    signatures shuffle (fixed 16 ints + 4 band hashes per doc), and
    pair generation is bounded by the bucket-occupancy cap (see
    _WMH_OCC_CAP): MinHash bands need no n-adaptive WIDTH — a band
    collision has probability J^r, not sign-LSH's similarity-blind
    2^-bits, so occupancy grows only where genuine near-dup mass
    exists (measured 0.18/0.18/0.58 band-pairs per doc across two
    decades) — but hot boilerplate buckets are df-capped exactly like
    q41's posting lists, on both engines."""
    docs = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    zips = ", ".join(
        f"slice(a, {j + 1}, greatest(size(a) - {_WJ_K - 1}, 0))"
        for j in range(_WJ_K)
    )
    bag = (
        docs.select("doc_id", tokenize(F.col("text")).alias("a"))
        .select("doc_id", F.expr(f"arrays_zip({zips})").alias("z"))
        .select("doc_id", F.explode("z").alias("p"))
        .select("doc_id", F.expr("concat_ws(' ', p.*)").alias("sh"))
        .groupBy("doc_id", "sh")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    bag = bag.transform(pin, lazy=True)  # consumed 3x: elems, totals, verify
    elems = bag.select(
        "doc_id",
        F.explode(
            F.expr(f"transform(sequence(1, least(c, {_WMH_CAP})), "
                   f"r -> concat(sh, '#', CAST(r AS STRING)))")
        ).alias("elem"),
    )
    def _h32(seed: int, j: int):
        # k = 4*seed + j: slice j of md5(seed:elem) — one md5 yields
        # four 32-bit hashes, quartering the per-element md5 cost
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"), F.col("elem"))), j * 8 + 1, 8
            ),
            16,
            10,
        ).cast("bigint")

    hashes = elems.groupBy("doc_id").agg(
        *[
            F.min(_h32(k // 4, k % 4)).alias(f"mh{k}")
            for k in range(_WMH_HASHES)
        ]
    )
    rows_per_band = _WMH_HASHES // _WMH_BANDS
    bands = hashes.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                "_",
                                *[
                                    F.col(f"mh{b * rows_per_band + j}").cast("string")
                                    for j in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(_WMH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band_id", "bb.band_hash").transform(pin, lazy=True)
    # ^ pin: the REDUCED signature frame (4 fixed-width rows/doc) has
    # three consumers (hot list + both self-join sides); unpinned, the
    # md5 min-hash fold re-executes per side. Keying the pin on the
    # band (a static build) cuts the plan from 20 Exchanges and 15
    # Sorts to 12 and 11 but ran ~1.5x slower at sf0.1, so it is unkeyed.
    # Occupancy cap (see _WMH_OCC_CAP note): hot buckets are FEW by
    # definition (occupancy > cap), so exclude them with a broadcast
    # anti-join against the aggregated hot list — a corpus-wide
    # window count would instead sort every partition of the bands
    # frame (measured +20% at sf0.1 for a filter that drops nothing)
    hot = (
        bands.groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") > _WMH_OCC_CAP)
        .select("band_id", "band_hash")
    )
    capped = bands.join(
        F.broadcast(hot), ["band_id", "band_hash"], "left_anti"
    )
    # the band self-join must SHUFFLE, never broadcast: both sides are
    # corpus-sized (4 rows/doc), and AQE's compressed-shuffle estimate
    # under-sizes the in-memory build (integer signatures compress ~10x)
    # — the 100x stress run OOM'd the broadcast build without the hint
    cand = (
        capped.alias("x")
        .join(capped.alias("y").hint("merge"), ["band_id", "band_hash"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    tot = bag.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("tc"))
    a = bag.select(F.col("doc_id").alias("doc_a"), "sh", F.col("c").alias("c_a"))
    b = bag.select(F.col("doc_id").alias("doc_b"), "sh", F.col("c").alias("c_b"))
    # verify ONLY candidate pairs: route each candidate's bag through the
    # pair key instead of generating every sharing pair corpus-wide —
    # the verify cost is O(candidate docs' bags), not O(sum df^2)
    # every verify-path join is hinted to SHUFFLE: the inputs are
    # corpus-proportional (bags, totals), and AQE's compressed-size
    # estimates under-size broadcast builds ~10x on integer columns
    # (100x stress OOM without the hints); candidate cardinality is the
    # one genuinely small frame and it rides the join's small side
    mins = (
        cand.join(a.hint("merge"), "doc_a")
        .join(b.hint("merge"), ["sh", "doc_b"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("c_a", "c_b")).cast("bigint").alias("w_inter_raw"))
    )
    return (
        cand.join(mins, ["doc_a", "doc_b"], "left")
        .join(tot.select(F.col("doc_id").alias("doc_a"), F.col("tc").alias("ta")).hint("merge"), "doc_a")
        .join(tot.select(F.col("doc_id").alias("doc_b"), F.col("tc").alias("tb")).hint("merge"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce("w_inter_raw", F.lit(0)).cast("bigint").alias("w_inter"),
            (F.col("ta") + F.col("tb") - F.coalesce("w_inter_raw", F.lit(0)))
            .cast("bigint")
            .alias("w_union"),
        )
        .select(
            "doc_a",
            "doc_b",
            "w_inter",
            "w_union",
            F.expr("w_inter * 1000000 DIV w_union").alias("wjaccard_ppm"),
            F.when(
                _WJ_DEN * F.col("w_inter") >= _WJ_NUM * F.col("w_union"), 1
            )
            .otherwise(0)
            .cast("bigint")
            .alias("is_true_dup"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Round-6 additions: training-data efficiency audits
# (hard-negative mining, packing-efficiency curve, Matryoshka recall,
#  ROUGE-style lexical F1 over dedup candidates)
# ---------------------------------------------------------------------------

_DUCK_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


# promoted to the shared vector layer (round-7 review: three plan
# modules consumed a private sibling symbol); kept as a module alias so
# existing imports and the citation guard stay valid
from sensor_data_pipeline_spark.functions.vector import seg_dot as _seg_dot  # noqa: E402


_HN_QUERIES = 8  # query vectors: vec_id < 8
_HN_BITS = 8  # sign-LSH bucket width
_HN_NEARDUP = 0.4  # the corpus-wide near-dup threshold (q50/q167)
_HN_K = 3  # hard negatives kept per query


@register(
    "q333_hard_negative_mining",
    category="similarity",
    oracle=f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         CAST(list_aggregate(list_transform(generate_series(1, {_HN_BITS}),
              i -> CASE WHEN embedding[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END),
              'sum') AS BIGINT) AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM emb WHERE vec_id < {_HN_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id AS match_id,
         {_DUCK_COS.format(a="q.qv", b="c.v")} AS cosine
  FROM q JOIN emb c ON q.bucket = c.bucket
  WHERE c.vec_id != q.query_id
),
negs AS (
  SELECT query_id, match_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, match_id) AS BIGINT) AS rk
  FROM scored
  WHERE cosine < CAST({_HN_NEARDUP} AS DOUBLE)
)
SELECT query_id, match_id, cosine, rk
FROM negs WHERE rk <= {_HN_K}
ORDER BY query_id, rk
""",
)
def q333_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for
    each query vector, the top-k most-similar corpus vectors that are
    NOT near-duplicates (cosine below the corpus-wide 0.4 near-dup
    threshold the q50/q167 family uses) — the negatives that sit just
    outside the positive band are the ones that sharpen a retriever's
    decision boundary (the standard in-batch/ANN-mined negative recipe
    for dual encoders). Candidates come from the query's sign-LSH
    bucket — an equi-join on the bucket id, the q49 scale path — so at
    100 TB each query scores ~n/2^bits vectors, never the corpus, and
    the shuffle is keyed uniformly by bucket. Cosine folds JVM-side in
    strict index order (no Python workers in this plan), bit-matching
    DuckDB's list_dot_product; ties break on match_id, so the mined
    pair list is reproducible run-to-run — a hard requirement for a
    training-data artifact that must be regenerable from a data
    version. The near-dup EXCLUSION (not inclusion) is what makes this
    the complement of the dedup family: q50 finds the positives, this
    mines the closest non-positives."""
    emb = load_table(spark, "embeddings", sf_dir)
    from sensor_data_pipeline_spark.functions.vector import sign_lsh_bucket

    base = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        sign_lsh_bucket(F.col("embedding"), _HN_BITS).alias("bucket"),
    )
    q = base.filter(F.col("vec_id") < _HN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "bucket"
    )
    cos = _seg_dot(F.col("qv"), F.col("cv"), 1, 64) / (
        F.sqrt(_seg_dot(F.col("qv"), F.col("qv"), 1, 64))
        * F.sqrt(_seg_dot(F.col("cv"), F.col("cv"), 1, 64))
    )
    scored = (
        base.select(F.col("vec_id").alias("match_id"), F.col("v").alias("cv"), "bucket")
        .join(q, "bucket")
        .filter(F.col("match_id") != F.col("query_id"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") < F.lit(_HN_NEARDUP))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "match_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _HN_K)
        .select("query_id", "match_id", "cosine", "rk")
        .orderBy("query_id", "rk")
    )


_PACK_BUDGETS = (128, 512, 2048)  # context lengths (chars as token proxy)


@register(
    "q334_packing_efficiency_curve",
    category="corpus",
    oracle=f"""
WITH s AS (
  SELECT doc_id, n_chars,
         sum(n_chars) OVER (ORDER BY doc_id) AS running
  FROM documents WHERE n_chars > 0
),
b AS (
  SELECT t.L, doc_id, n_chars, running,
         (running - n_chars) // t.L AS first_bin,
         (running - 1) // t.L AS last_bin
  FROM s CROSS JOIN (VALUES ({_PACK_BUDGETS[0]}), ({_PACK_BUDGETS[1]}), ({_PACK_BUDGETS[2]})) AS t(L)
)
SELECT CAST(L AS BIGINT) AS budget,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(max(last_bin) + 1 AS BIGINT) AS n_bins,
       CAST(sum(CASE WHEN first_bin != last_bin THEN 1 ELSE 0 END) AS BIGINT)
         AS n_split_docs,
       CAST(sum(n_chars) * 1000000 // ((max(last_bin) + 1) * L) AS BIGINT)
         AS fill_ppm
FROM b
GROUP BY L
ORDER BY budget
""",
)
def q334_packing_efficiency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing efficiency CURVE: q158's concat-and-chunk
    packing evaluated at three context budgets in one pass — the
    fill-ratio / split-rate trade study a training team runs before
    fixing the context length (bigger contexts waste less tail but
    split more documents across chunk boundaries, which costs
    attention-mask quality). One distributed prefix scan
    (operators/prefix.py — range partition + pid-keyed window +
    O(partitions) offsets, never a single-partition window) gives
    every document its exclusive start offset; each budget L is then
    pure arithmetic on that offset (start DIV L vs (end-1) DIV L), so
    the whole curve costs ONE corpus scan plus a 3-budget explode of
    integer columns. The oracle computes the same packing with the
    naive global window — the differential proof that the distributed
    scan bit-matches the plan shape that dies at 100 TB. Zero-length
    documents are excluded on both sides (they occupy no bin).
    Budgets are in characters (the fixture's length unit, q158's
    convention); a token-budget variant only swaps the column."""
    from sensor_data_pipeline_spark.operators.prefix import global_running_sum

    d = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", "n_chars")
        .filter(F.col("n_chars") > 0)
    )
    scanned = global_running_sum(d, "doc_id", "n_chars", out_col="running")
    b = scanned.select(
        "doc_id",
        "n_chars",
        "running",
        F.explode(F.array(*[F.lit(v) for v in _PACK_BUDGETS])).alias("L"),
    ).select(
        "L",
        "n_chars",
        F.expr("(running - n_chars) DIV L").alias("first_bin"),
        F.expr("(running - 1) DIV L").alias("last_bin"),
    )
    return (
        b.groupBy(F.col("L").cast("bigint").alias("budget"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            (F.max("last_bin") + 1).cast("bigint").alias("n_bins"),
            F.sum(F.when(F.col("first_bin") != F.col("last_bin"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_split_docs"),
        )
        .select(
            "budget",
            "n_docs",
            "total_chars",
            "n_bins",
            "n_split_docs",
            # decimal(38,0) intermediates: total_chars * 1e6 wraps int64
            # past ~9.2e12 corpus characters (a few TB of text) while
            # the DuckDB oracle's sum() is already HUGEINT — the ppm
            # arithmetic must stay exact at the 100 TB scale this query
            # targets, not just at the fixture sizes (ADVICE r6)
            F.expr(
                "CAST(CAST(total_chars AS DECIMAL(38,0)) * 1000000"
                " DIV (CAST(n_bins AS DECIMAL(38,0)) * budget) AS BIGINT)"
            ).alias("fill_ppm"),
        )
        .orderBy("budget")
    )


_MAT_QUERIES = 8
_MAT_K = 5


@register(
    "q336_matryoshka_recall",
    category="similarity",
    oracle=f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < {_MAT_QUERIES}),
seg AS (
  SELECT q.query_id, c.vec_id AS match_id,
         list_dot_product(q.qv[1:16], c.v[1:16])   AS d1,
         list_dot_product(q.qv[17:32], c.v[17:32]) AS d2,
         list_dot_product(q.qv[33:64], c.v[33:64]) AS d3,
         list_dot_product(q.qv[1:16], q.qv[1:16])   AS qa1,
         list_dot_product(q.qv[17:32], q.qv[17:32]) AS qa2,
         list_dot_product(q.qv[33:64], q.qv[33:64]) AS qa3,
         list_dot_product(c.v[1:16], c.v[1:16])   AS ca1,
         list_dot_product(c.v[17:32], c.v[17:32]) AS ca2,
         list_dot_product(c.v[33:64], c.v[33:64]) AS ca3
  FROM q JOIN emb c ON c.vec_id != q.query_id
),
cosd AS (
  SELECT query_id, match_id, d, cosine FROM (
    SELECT query_id, match_id, 16 AS d,
           d1 / (sqrt(qa1) * sqrt(ca1)) AS cosine FROM seg
    UNION ALL
    SELECT query_id, match_id, 32,
           (d1 + d2) / (sqrt(qa1 + qa2) * sqrt(ca1 + ca2)) FROM seg
    UNION ALL
    SELECT query_id, match_id, 64,
           (d1 + d2 + d3) / (sqrt(qa1 + qa2 + qa3) * sqrt(ca1 + ca2 + ca3)) FROM seg
  )
),
ranked AS (
  SELECT query_id, match_id, d,
         row_number() OVER (PARTITION BY query_id, d
                            ORDER BY cosine DESC, match_id) AS rk
  FROM cosd
),
tops AS (SELECT query_id, match_id, d FROM ranked WHERE rk <= {_MAT_K}),
full_top AS (SELECT query_id, match_id FROM tops WHERE d = 64)
SELECT t.query_id, CAST(t.d AS BIGINT) AS d,
       CAST(count(f.match_id) AS BIGINT) AS n_hits,
       count(f.match_id) / CAST({_MAT_K} AS DOUBLE) AS recall
FROM tops t
LEFT JOIN full_top f ON f.query_id = t.query_id AND f.match_id = t.match_id
GROUP BY t.query_id, t.d
ORDER BY t.query_id, d
""",
)
def q336_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: recall@5 of top-k retrieval
    using only the first 16 / 32 dimensions of the embedding against
    the full-64-dim baseline — the measurement that decides whether a
    cheap truncated index (4x less memory and bandwidth) is good
    enough for first-stage retrieval (MRL, Kusupati et al. 2022,
    public paper). The scale trick: ONE scoring pass computes three
    SEGMENT dot products per pair (dims 1-16, 17-32, 33-64 — plus the
    matching norm partials), and every truncation's cosine is pure
    arithmetic over those partials: cos@16 = d1/.., cos@32 =
    (d1+d2)/.., cos@64 = (d1+d2+d3)/.. — so auditing 3 widths costs
    one corpus scan, not three. Exactness: both engines fold each
    segment in index order and add partials left-to-right, so every
    cosine is bit-identical; ties break on match_id. The scored frame
    is pinned (pair keys + 9 doubles) because three ranking passes
    consume it. At 100 TB the query panel rides a broadcast and the
    per-(query, d) top-k is a keyed window over bucket-prunable
    candidates (compose with q49's bucketing for a production index
    audit)."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = (
        emb.filter(F.col("vec_id") < _MAT_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    )
    qa, cv = F.col("qv"), F.col("cv")
    seg = (
        emb.select(F.col("vec_id").alias("match_id"), F.col("embedding").alias("cv"))
        .join(F.broadcast(q))
        .filter(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id",
            "match_id",
            _seg_dot(qa, cv, 1, 16).alias("d1"),
            _seg_dot(qa, cv, 17, 16).alias("d2"),
            _seg_dot(qa, cv, 33, 32).alias("d3"),
            _seg_dot(qa, qa, 1, 16).alias("qa1"),
            _seg_dot(qa, qa, 17, 16).alias("qa2"),
            _seg_dot(qa, qa, 33, 32).alias("qa3"),
            _seg_dot(cv, cv, 1, 16).alias("ca1"),
            _seg_dot(cv, cv, 17, 16).alias("ca2"),
            _seg_dot(cv, cv, 33, 32).alias("ca3"),
        )
    )
    # no pin (r11 pin audit): the three per-width rankings all flow
    # through ONE downstream frame (cosd → the pinned tops), so the
    # segment-dot frame executes exactly once either way — the old
    # "3 ranking consumers" comment described rows, not executions
    cosd = seg.select(
        "query_id",
        "match_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(16).alias("d"),
                    (F.col("d1") / (F.sqrt("qa1") * F.sqrt("ca1"))).alias("cosine"),
                ),
                F.struct(
                    F.lit(32).alias("d"),
                    (
                        (F.col("d1") + F.col("d2"))
                        / (F.sqrt(F.col("qa1") + F.col("qa2")) * F.sqrt(F.col("ca1") + F.col("ca2")))
                    ).alias("cosine"),
                ),
                F.struct(
                    F.lit(64).alias("d"),
                    (
                        (F.col("d1") + F.col("d2") + F.col("d3"))
                        / (
                            F.sqrt(F.col("qa1") + F.col("qa2") + F.col("qa3"))
                            * F.sqrt(F.col("ca1") + F.col("ca2") + F.col("ca3"))
                        )
                    ).alias("cosine"),
                ),
            )
        ).alias("s"),
    ).select("query_id", "match_id", F.col("s.d").alias("d"), F.col("s.cosine").alias("cosine"))
    w = Window.partitionBy("query_id", "d").orderBy(F.col("cosine").desc(), "match_id")
    tops = (
        cosd.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _MAT_K)
        .select("query_id", "match_id", "d")
        .transform(pin, lazy=True)  # consumed as probe AND baseline sides
    )
    full_top = tops.filter(F.col("d") == 64).select(
        F.col("query_id").alias("fq"), F.col("match_id").alias("fm")
    )
    return (
        tops.join(
            full_top,
            (F.col("query_id") == F.col("fq")) & (F.col("match_id") == F.col("fm")),
            "left",
        )
        .groupBy("query_id", F.col("d").cast("bigint").alias("d"))
        .agg(
            F.count("fm").cast("bigint").alias("n_hits"),
            (F.count("fm") / F.lit(float(_MAT_K))).alias("recall"),
        )
        .orderBy("query_id", "d")
    )


_RG_MIN_SHARED = 5  # candidate gate: >=5 shared distinct 4-word shingles


@register(
    "q335_rouge_candidate_f1",
    category="text",
    oracle=f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS a FROM documents),
sh AS (
  SELECT DISTINCT doc_id, md5(list_aggregate(a[i:i + 3], 'string_agg', ' ')) AS fp
  FROM w CROSS JOIN unnest(range(1, len(a) - 2)) AS t(i)
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS shared_shingles
  FROM sh a JOIN sh b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {_RG_MIN_SHARED}
),
bg AS (
  SELECT DISTINCT doc_id, md5(a[i] || ' ' || a[i + 1]) AS g
  FROM w CROSS JOIN unnest(range(1, len(a))) AS t(i)
),
nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN bg ga ON ga.doc_id = c.doc_a
  JOIN bg gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b, c.shared_shingles,
       COALESCE(i.n_inter, 0) AS n_inter,
       na.n AS n_bigrams_a,
       nbb.n AS n_bigrams_b,
       2 * COALESCE(i.n_inter, 0) * 1000000 // (na.n + nbb.n) AS f1_ppm
FROM cand c
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN nb na ON na.doc_id = c.doc_a
JOIN nb nbb ON nbb.doc_id = c.doc_b
ORDER BY c.doc_a, c.doc_b
""",
)
def q335_rouge_candidate_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-style lexical F1 over dedup candidates: for every
    document pair sharing >= 5 distinct 4-word shingles (the posting
    candidate gate — probed at 25/402 sharing pairs at sf0.01, never
    all-pairs), the distinct-bigram overlap F1 = 2|A∩B|/(|A|+|B|) in
    exact integer ppm — the summarization-eval-style overlap score
    that complements set Jaccard (q41) and weighted Jaccard (q331)
    with a precision/recall-symmetric measure, the metric used to
    audit near-dup VERDICTS before mass deletion (a high-Jaccard pair
    with low bigram F1 is reordered text, not a copy). Scale shape:
    tokenize ONCE into a pinned word-array frame; shingle fingerprints
    and bigram sets both derive from it (pinned — each is consumed by
    both sides of its self-join); candidates come from the shingle
    posting equi-join with a HAVING count gate; the verify routes
    bigram bags through the pair key (join on (gram, doc)) — the
    ArrayIntersect-free discipline the round-5 verify notes mandate.
    All md5 128-bit keys (no birthday collisions at corpus scale);
    every output is an exact integer."""
    d = load_table(spark, "documents", sf_dir)
    # tokenize once: shingles AND bigrams derive from this frame. The
    # repartition spreads the token arrays: an unsplittable one-row-
    # group input would pin single-partition blocks and run every
    # derived pass on one core (21.5x at the 100x stress). Lazy static
    # builds: the three pins fill as one pipelined action at first use
    # (A/B 3.94s -> 2.88s against AQE builds).
    wdf = (
        d.select("doc_id", tokenize(F.col("text")).alias("a"))
        .repartition(F.col("doc_id"))
        .transform(pin, lazy=True, adaptive=False)
    )
    sh = (
        wdf.select(
            "doc_id",
            # guard short docs: Spark's sequence(1, 0) REVERSES to
            # [1, 0] instead of yielding empty, so the bound must be
            # branched, not clamped
            F.explode(
                F.expr(
                    "CASE WHEN size(a) >= 4 THEN transform(sequence(1, size(a) - 3), "
                    "i -> concat_ws(' ', slice(a, i, 4))) ELSE array() END"
                )
            ).alias("s"),
        )
        .select("doc_id", F.md5(F.col("s")).alias("fp"))
        .distinct()
        .transform(pin, lazy=True, adaptive=False)  # both posting self-join sides
    )
    bg = (
        wdf.select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(a) >= 2 THEN "
                    "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1), "
                    "(x, y) -> concat(x, ' ', y)) ELSE array() END"
                )
            ).alias("g0"),
        )
        .select("doc_id", F.md5(F.col("g0")).alias("g"))
        .distinct()
        .transform(pin, lazy=True, adaptive=False)  # per-doc sizes + both verify sides
    )
    cand = (
        sh.select(F.col("doc_id").alias("doc_a"), "fp")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "fp"), "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= _RG_MIN_SHARED)
    )
    nb = bg.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # shuffle-hash hints on the CANDIDATE-DERIVED side of every join
    # against a corpus-sized frame (bg is the full bigram posting
    # frame, nb one row per document): at the 100x replica AQE's size
    # estimate under-prices the posting frame and tries to BROADCAST
    # it — the driver OOM q332 hit in round 5. With only one side
    # hinted, Spark builds the hash map on the HINTED relation, so the
    # hint must ride the small side: candidates build per-partition
    # hash maps, the corpus streams past them, and nothing
    # corpus-sized is ever broadcast or built (round-7 review finding:
    # the first fix hinted bg/nb, which would have built corpus-sized
    # maps per partition).
    inter = (
        cand.select("doc_a", "doc_b")
        .hint("shuffle_hash")
        .join(bg.select(F.col("doc_id").alias("doc_a"), "g"), "doc_a")
        .hint("shuffle_hash")
        .join(bg.select(F.col("doc_id").alias("doc_b"), "g"), ["doc_b", "g"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter_raw"))
    )
    return (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .hint("shuffle_hash")
        .join(
            nb.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_bigrams_a")),
            "doc_a",
        )
        .hint("shuffle_hash")
        .join(
            nb.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_bigrams_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "shared_shingles",
            F.coalesce("n_inter_raw", F.lit(0)).cast("bigint").alias("n_inter"),
            "n_bigrams_a",
            "n_bigrams_b",
            F.expr(
                "2 * coalesce(n_inter_raw, 0) * 1000000 DIV (n_bigrams_a + n_bigrams_b)"
            ).alias("f1_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )


_CUR_HEAD = 50  # interleave positions emitted


@register(
    "q337_curriculum_interleave",
    category="corpus",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
  FROM documents
),
srcs AS (
  SELECT source,
         CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS src_idx,
         CAST((SELECT count(DISTINCT source) FROM documents) AS BIGINT) AS n_src
  FROM (SELECT DISTINCT source FROM documents)
)
SELECT CAST((r.rk - 1) * s.n_src + s.src_idx + 1 AS BIGINT) AS position,
       r.source, r.doc_id, r.rk,
       CAST(r.n_chars AS BIGINT) AS n_chars
FROM ranked r JOIN srcs s USING (source)
ORDER BY position, source
LIMIT {_CUR_HEAD}
""",
)
def q337_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering with balanced source interleave: rank
    documents WITHIN each source by a quality proxy (longest first,
    doc_id tiebreak), then round-robin the per-source streams into one
    global order — position = (rank-1)·n_sources + source_index + 1 —
    so early training steps see every source's best documents instead
    of whichever shard happened to list first (the data-ordering step
    curriculum/annealing recipes and multi-source schedulers both
    need, stated as pure rank arithmetic). Deterministic end to end:
    the within-source rank is a keyed window (never global — the
    per-source streams are independent), the source index comes from
    the source-cardinality census, and the emitted head is a
    TakeOrdered over the computed position. At 100 TB this IS the
    shuffle-free write plan: position is a pure function of (rank,
    source), so a writer can range-partition on it directly;
    interleaving costs rank arithmetic, not a global sort of the
    corpus."""
    d = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = d.select("doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars")).withColumn(
        "rk", F.row_number().over(w).cast("bigint")
    )
    srcs = (
        d.select("source")
        .distinct()
        .withColumn(
            "src_idx", (F.row_number().over(Window.orderBy("source")) - 1).cast("bigint")
        )
        .withColumn("n_src", F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint"))
    )
    return (
        ranked.join(F.broadcast(srcs), "source")
        .select(
            ((F.col("rk") - 1) * F.col("n_src") + F.col("src_idx") + 1)
            .cast("bigint")
            .alias("position"),
            "source",
            "doc_id",
            "rk",
            "n_chars",
        )
        .orderBy("position", "source")
        .limit(_CUR_HEAD)
    )


_BLOOM_M2 = 256  # deliberately undersized (bits) so false positives occur


@register(
    "q338_bloom_dedup_fpr_audit",
    category="dedup",
    oracle=f"""
WITH h AS (
  SELECT doc_id, md5(text) AS fp,
         doc_id < (SELECT CAST(max(doc_id) + 1 AS BIGINT) // 2 FROM documents) AS is_old
  FROM documents
),
a_fp AS (SELECT DISTINCT fp FROM h WHERE is_old),
positions AS (
  SELECT fp,
         CAST(('0x' || substr(md5('21:' || fp), 1, 8)) AS BIGINT) % {_BLOOM_M2} AS p1,
         CAST(('0x' || substr(md5('22:' || fp), 1, 8)) AS BIGINT) % {_BLOOM_M2} AS p2
  FROM a_fp
),
bits AS (
  SELECT w, bit_or(m) AS word FROM (
    SELECT p1 // 63 AS w, (CAST(1 AS BIGINT) << (p1 % 63)) AS m FROM positions
    UNION ALL
    SELECT p2 // 63, (CAST(1 AS BIGINT) << (p2 % 63)) FROM positions
  ) GROUP BY w
),
probe AS (
  SELECT h.doc_id, h.fp,
         CAST(('0x' || substr(md5('21:' || h.fp), 1, 8)) AS BIGINT) % {_BLOOM_M2} AS p1,
         CAST(('0x' || substr(md5('22:' || h.fp), 1, 8)) AS BIGINT) % {_BLOOM_M2} AS p2,
         (a.fp IS NOT NULL) AS exact_dup
  FROM h LEFT JOIN a_fp a ON h.fp = a.fp
  WHERE NOT h.is_old
),
tested AS (
  SELECT p.doc_id, p.exact_dup,
         (COALESCE(b1.word, 0) & (CAST(1 AS BIGINT) << (p.p1 % 63))) != 0
         AND (COALESCE(b2.word, 0) & (CAST(1 AS BIGINT) << (p.p2 % 63))) != 0 AS bloom_hit
  FROM probe p
  LEFT JOIN bits b1 ON b1.w = p.p1 // 63
  LEFT JOIN bits b2 ON b2.w = p.p2 // 63
)
SELECT CAST(count(*) AS BIGINT) AS n_probed,
       CAST(sum(CASE WHEN exact_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
       CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hit,
       CAST(sum(CASE WHEN exact_dup AND NOT bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_neg,
       CAST(sum(CASE WHEN bloom_hit AND NOT exact_dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos,
       CAST(sum(CASE WHEN bloom_hit AND NOT exact_dup THEN 1 ELSE 0 END) * 1000000
            // greatest(sum(CASE WHEN NOT exact_dup THEN 1 ELSE 0 END), 1) AS BIGINT)
         AS fpr_ppm
FROM tested
""",
)
def q338_bloom_dedup_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-shard Bloom dedup with a measured false-positive rate:
    the old corpus half publishes a 256-bit Bloom filter of
    its exact-text fingerprints (deliberately undersized so false
    positives are observable); the new half probes it, and the exact
    fingerprint join runs alongside to price the filter — false-pos
    count, the structurally-guaranteed zero false negatives, and the
    FPR among true negatives in exact ppm. This is how inter-shard /
    inter-datacenter dedup avoids co-shuffling fingerprints at 100 TB:
    each shard ships kilobytes of bitmap instead of its key column,
    and candidates that pass the filter are the ONLY keys that travel
    for exact verification (q214 uses the same trick as a join
    pre-filter; this is the dedup-flavored audit with the error rate
    as a first-class output). Plan shape: the bitmap is a bit_or
    aggregate into 63-bit words (bit 63 — the sign bit — stays unused:
    DuckDB overflow-checks 1::BIGINT << 63 while Spark wraps two's-
    complement, so the portable packing is 63 bits/word; map-side
    combinable,
    mergeable across shards); probing joins each hash position against
    the broadcast word table — map-only on the probe side; the two
    md5-seed hash positions replay exactly in SQL; all shifts stay in
    bits 0-62, so the bit algebra is engine-exact positive int64 on
    both sides."""
    d = load_table(spark, "documents", sf_dir)
    from sensor_data_pipeline_spark.functions.text import word_hash32

    mid = d.agg(F.expr("CAST(max(doc_id) + 1 AS BIGINT) DIV 2").alias("mid"))
    h = (
        d.crossJoin(F.broadcast(mid))
        .select(
            "doc_id",
            F.md5(F.col("text")).alias("fp"),
            (F.col("doc_id") < F.col("mid")).alias("is_old"),
        )
        .transform(pin)  # build side AND probe side
    )
    a_fp = h.filter(F.col("is_old")).select("fp").distinct().transform(pin)
    p1 = F.pmod(word_hash32(F.col("fp"), seed=21), F.lit(_BLOOM_M2))
    p2 = F.pmod(word_hash32(F.col("fp"), seed=22), F.lit(_BLOOM_M2))
    pos = a_fp.select(p1.alias("p1"), p2.alias("p2"))
    bits = (
        pos.select(F.expr("p1 DIV 63").alias("w"), F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p1 % 63 AS INT))").alias("m"))
        .unionAll(
            pos.select(F.expr("p2 DIV 63"), F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p2 % 63 AS INT))"))
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("word"))
    )
    probe = (
        h.filter(~F.col("is_old"))
        .join(a_fp.withColumn("_a", F.lit(1)), "fp", "left")
        .select(
            "doc_id",
            p1.alias("p1"),
            p2.alias("p2"),
            F.col("_a").isNotNull().alias("exact_dup"),
        )
    )
    b1 = bits.select(F.col("w").alias("w1"), F.col("word").alias("word1"))
    b2 = bits.select(F.col("w").alias("w2"), F.col("word").alias("word2"))
    tested = (
        probe.join(F.broadcast(b1), F.expr("p1 DIV 63") == F.col("w1"), "left")
        .join(F.broadcast(b2), F.expr("p2 DIV 63") == F.col("w2"), "left")
        .select(
            "doc_id",
            "exact_dup",
            (
                (
                    F.expr("coalesce(word1, CAST(0 AS BIGINT)) & shiftleft(CAST(1 AS BIGINT), CAST(p1 % 63 AS INT))")
                    != 0
                )
                & (
                    F.expr("coalesce(word2, CAST(0 AS BIGINT)) & shiftleft(CAST(1 AS BIGINT), CAST(p2 % 63 AS INT))")
                    != 0
                )
            ).alias("bloom_hit"),
        )
    )
    fp_cnt = F.sum(F.when(F.col("bloom_hit") & ~F.col("exact_dup"), 1).otherwise(0))
    neg_cnt = F.sum(F.when(~F.col("exact_dup"), 1).otherwise(0))
    return tested.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probed"),
        F.sum(F.when(F.col("exact_dup"), 1).otherwise(0)).cast("bigint").alias("n_exact_dup"),
        F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0)).cast("bigint").alias("n_bloom_hit"),
        F.sum(F.when(F.col("exact_dup") & ~F.col("bloom_hit"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_neg"),
        fp_cnt.cast("bigint").alias("n_false_pos"),
        F.expr(
            "CAST(sum(CASE WHEN bloom_hit AND NOT exact_dup THEN 1 ELSE 0 END) * 1000000"
            " DIV greatest(sum(CASE WHEN NOT exact_dup THEN 1 ELSE 0 END), 1) AS BIGINT)"
        ).alias("fpr_ppm"),
    )


_RNN_K = 3  # neighbor list depth on each side

# occupancy-adaptive bucket width, integer-exact in BOTH engines (no
# float log2 — its rounding at exact-power boundaries is not portable):
# bits = 8 + (smallest e with 4096 * 2^e >= n) via the binary length of
# (n-1) DIV 4096. The decade-1 stress run measured 27x for 10x data at
# a FIXED 8-bit width (occupancy grows 10x, per-bucket pair work 100x —
# the embedding_neardup_pairs sizing note, now enforced instead of
# documented): with the adaptive width sf0.1 holds ~10 rows/bucket and
# the pair mass scales ~linearly.
_RNN_BITS_SQL = (
    "8 + CASE WHEN {n} <= 4096 THEN 0 "
    "ELSE length(bin(CAST(({n} - 1) DIV 4096 AS BIGINT))) END"
)


@register(
    "q339_reciprocal_nn_pairs",
    category="similarity",
    oracle=f"""
WITH params AS (
  SELECT CAST(8 + CASE WHEN n <= 4096 THEN 0
              ELSE length(bin((n - 1) // 4096)) END AS BIGINT) AS bits
  FROM (SELECT count(*) AS n FROM embeddings)
),
emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         CAST(list_aggregate(list_transform(
              generate_series(1, (SELECT bits FROM params)),
              i -> CASE WHEN embedding[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END),
              'sum') AS BIGINT) AS bucket
  FROM embeddings
),
scored AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {_DUCK_COS.format(a="a.v", b="b.v")} AS cosine
  FROM emb a JOIN emb b ON a.bucket = b.bucket AND a.vec_id != b.vec_id
),
ranked AS (
  SELECT src, dst, cosine,
         row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rk
  FROM scored
),
top AS (SELECT src, dst, cosine FROM ranked WHERE rk <= {_RNN_K})
SELECT f.src AS id_a, f.dst AS id_b, f.cosine
FROM top f JOIN top r ON r.src = f.dst AND r.dst = f.src
WHERE f.src < f.dst
ORDER BY id_a, id_b
""",
)
def q339_reciprocal_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal nearest neighbors: unordered pairs where EACH vector
    is in the other's top-k neighbor list — the mutual-kNN criterion
    used for bitext mining, cluster seeding, and margin-based
    filtering (Artetxe & Schwenk 2019's margin criterion starts from
    exactly this mutual-neighbor set; public paper). One-directional
    kNN is noisy near hubs (a hub appears in everyone's list);
    reciprocity filters hubness without a tunable threshold, which is
    why large-scale mining pipelines use it as the candidate gate.

    Scale shape: candidates come from the sign-LSH bucket self-join
    (equi-join on the bucket id), with the bucket WIDTH adaptive to
    corpus size — bits = 8 + ceil-log2(n/4096) computed integer-exactly
    from the binary length of (n-1) DIV 4096, identical in both
    engines, holding bucket occupancy ~constant so per-decade pair
    mass stays linear (the first decade-1 stress of the fixed-width
    form measured 27x for 10x data; the adaptive width is the
    embedding_neardup_pairs band_bits sizing rule, enforced). The
    per-vector top-k is a bucket-local keyed window, the top-k lists
    are PINNED (consumed as both the forward and reverse sides of the
    mutuality join), and mutuality itself is an equi-join of two
    k-row-per-vector lists on the flipped pair key. Cosine folds
    JVM-side in index order (no Python in this plan); ties break on
    neighbor id, so the mined pair set is exactly reproducible — and
    the oracle replays the adaptive width, bucket assignment, ranking
    and the mutuality join verbatim."""
    emb = load_table(spark, "embeddings", sf_dir)

    n1 = emb.agg(F.count(F.lit(1)).alias("n"))
    bits_col = F.expr(_RNN_BITS_SQL.format(n="n")).cast("int").alias("bits")
    params = n1.select(bits_col)
    bucket = F.expr(
        "aggregate(transform(sequence(1, bits), "
        "i -> IF(element_at(v, i) > CAST(0 AS FLOAT), shiftleft(CAST(1 AS BIGINT), i - 1), CAST(0 AS BIGINT))), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    base = (
        emb.select("vec_id", F.col("embedding").alias("v"))
        .crossJoin(F.broadcast(params))
        .select("vec_id", "v", bucket.alias("bucket"))
        # pinned BEFORE the bucket self-join: unpinned, each join side
        # re-scans embeddings AND re-runs the count-derived params
        # broadcast (4 physical embeddings reads per run — invisible to
        # the round-6 audit because they happened inside the top-k pin
        # build; the round-7 pin_scans digest surfaced it, ADVICE r6)
        .transform(pin)
    )
    a = base.select(F.col("vec_id").alias("src"), F.col("v").alias("av"), "bucket")
    b = base.select(F.col("vec_id").alias("dst"), F.col("v").alias("bv"), "bucket")
    cos = _seg_dot(F.col("av"), F.col("bv"), 1, 64) / (
        F.sqrt(_seg_dot(F.col("av"), F.col("av"), 1, 64))
        * F.sqrt(_seg_dot(F.col("bv"), F.col("bv"), 1, 64))
    )
    scored = (
        a.join(b, "bucket")
        .filter(F.col("src") != F.col("dst"))
        .withColumn("cosine", cos)
    )
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), "dst")
    top = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _RNN_K)
        .select("src", "dst", "cosine")
        .transform(pin)  # forward AND reverse mutuality sides
    )
    rev = top.select(F.col("src").alias("r_src"), F.col("dst").alias("r_dst"))
    return (
        top.join(rev, (F.col("r_src") == F.col("dst")) & (F.col("r_dst") == F.col("src")))
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"), "cosine")
        .orderBy("id_a", "id_b")
    )
