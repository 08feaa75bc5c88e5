"""Round-7 surface extensions — the training-data efficiency frontier,
part 2: intra-document repetition gating (Gopher §A1.2), token-budget
greedy data selection, quantizer-migration auditing, dedup-aware split
leakage, the multi-width decontamination curve, padding-waste batching
audits, water-filling source caps, and the IVF recall-vs-probes
operating curve.

Family threads (continuing plans/frontier.py):

1. Multi-width-from-one-pass discipline: wherever a tuning curve is
   wanted (contamination n-gram width, padding strategy, nprobe), ONE
   corpus/scoring pass computes shared partials and every curve point
   is derived arithmetically — the q334/q336 rule, because at 100 TB
   the scan is the cost and the curve is free.

2. Integer-exact allocation/gating: every gate and every allocation is
   stated in integer cross-multiplication or exact DIV arithmetic
   (ppm thresholds, largest-remainder/water-filling levels), so the
   result is bit-identical on any engine and reproducible from a data
   version — the property a training-data artifact must have.

All operators here go beyond the reference's own surface (its analytics
stop at per-tick scalar derivation, e.g. src/modules/module_rpi_ups_hat.c);
they are the corpus-curation layer a 100 TB training pipeline needs,
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
# q340 — intra-document repetition signals (Gopher §A1.2)
# ---------------------------------------------------------------------------

_REP_TOP2_PPM = 100_000  # reject: most-frequent 2-gram covers > 10% of tokens
_REP_DUP2_PPM = 50_000  # reject: > 5% of 2-gram positions are repeats


@register(
    "q340_repetition_signals",
    category="quality",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, {_DUCK_WORDS} AS w FROM documents
),
g AS (
  SELECT doc_id, lang, len(w) AS n,
         CASE WHEN len(w) >= 2
              THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
              ELSE [] END AS g2
  FROM t
),
m AS (
  SELECT doc_id, lang, n,
         CASE WHEN len(g2) > 0
              THEN list_aggregate(list_transform(list_distinct(g2),
                     d -> len(list_filter(g2, x -> x = d))), 'max') * 2 * 1000000 // n
              ELSE 0 END AS top2_ppm,
         CASE WHEN len(g2) > 0
              THEN (len(g2) - len(list_distinct(g2))) * 1000000 // len(g2)
              ELSE 0 END AS dup2_ppm
  FROM g
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN top2_ppm > {_REP_TOP2_PPM} THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_top2,
       CAST(sum(CASE WHEN dup2_ppm > {_REP_DUP2_PPM} THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_dup2,
       CAST(sum(CASE WHEN top2_ppm > {_REP_TOP2_PPM}
                       OR dup2_ppm > {_REP_DUP2_PPM} THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected,
       CAST(sum(top2_ppm) AS BIGINT) AS sum_top2_ppm,
       CAST(sum(dup2_ppm) AS BIGINT) AS sum_dup2_ppm
FROM m GROUP BY lang ORDER BY lang
""",
)
def q340_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition gate — the Gopher §A1.2 signal family
    (Rae et al. 2021, public paper): documents dominated by a repeated
    n-gram (boilerplate, navigation chrome, degenerate generations)
    are rejected on (a) the token mass of the MOST FREQUENT word
    2-gram and (b) the fraction of duplicated 2-gram positions. The
    paper states both as character fractions; here they are token-ppm
    integers (occurrences*2*1e6 DIV n_tokens), so the gate decides on
    exact integer compares — no float ever enters, and the two engines
    cannot disagree on a boundary document. Complements q231 (the
    §A1.1 length/alphabetic rules): together they are the full Gopher
    heuristic stack.

    Scale shape: a pure per-row map — the n-gram position list, its
    distinct set, and the per-distinct-gram occurrence counts are
    higher-order array expressions over each document's own tokens
    (O(distinct x positions) per row, bounded by document length,
    embarrassingly parallel), followed by ONE tiny per-lang
    aggregation. No shuffle touches text; nothing here degrades at
    100 TB because per-document work is independent of corpus size."""
    d = load_table(spark, "documents", sf_dir)
    w = tokenize(F.col("text"))
    g2 = F.when(
        F.size(F.col("w")) >= 2,
        F.expr(
            "transform(sequence(1, size(w) - 1), "
            "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_doc = (
        d.select("doc_id", "lang", w.alias("w"))
        .withColumn("n", F.size("w").cast("bigint"))
        .withColumn("g2", g2)
        .select(
            "lang",
            # the occurrence counts are CAST TO BIGINT before the *2e6
            # multiplies: size() is int32 and Spark 4 runs ANSI-on, so
            # a repetitive ~2200+ token document — exactly what this
            # gate exists to reject — would overflow int32 and crash
            # (or, ANSI-off, wrap negative and ESCAPE the gate) while
            # the DuckDB oracle's len() is already BIGINT (round-7
            # review finding, verified against PySpark 4.1)
            F.when(
                F.size("g2") > 0,
                F.expr(
                    "CAST(array_max(transform(array_distinct(g2), "
                    "d -> size(filter(g2, x -> x = d)))) AS BIGINT) * 2 * 1000000 DIV n"
                ),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("top2_ppm"),
            F.when(
                F.size("g2") > 0,
                F.expr(
                    "CAST(size(g2) - size(array_distinct(g2)) AS BIGINT)"
                    " * 1000000 DIV size(g2)"
                ),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("dup2_ppm"),
        )
    )
    flag_top2 = F.col("top2_ppm") > _REP_TOP2_PPM
    flag_dup2 = F.col("dup2_ppm") > _REP_DUP2_PPM
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(flag_top2, 1).otherwise(0)).cast("bigint").alias("n_flag_top2"),
            F.sum(F.when(flag_dup2, 1).otherwise(0)).cast("bigint").alias("n_flag_dup2"),
            F.sum(F.when(flag_top2 | flag_dup2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_rejected"),
            F.sum("top2_ppm").cast("bigint").alias("sum_top2_ppm"),
            F.sum("dup2_ppm").cast("bigint").alias("sum_dup2_ppm"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q341 — token-budget greedy data selection (quality-density knapsack)
# ---------------------------------------------------------------------------

_SEL_SHIFT = 8796093022208  # 2^43: packs (density desc, doc_id asc) into one bigint


@register(
    "q341_token_budget_selection",
    category="mixing",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source,
         len({_DUCK_WORDS}) AS ntok,
         len(list_distinct({_DUCK_WORDS})) AS ndis
  FROM documents
),
d AS (
  SELECT doc_id, source, ntok,
         (1000000 - ndis * 1000000 // ntok) * {_SEL_SHIFT} + doc_id AS k
  FROM t
),
s AS (SELECT *, sum(ntok) OVER (ORDER BY k) AS cum FROM d),
tot AS (SELECT sum(ntok) * 2 // 5 AS budget FROM d)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS tok_total,
       CAST(sum(CASE WHEN cum <= budget THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       CAST(sum(CASE WHEN cum <= budget THEN ntok ELSE 0 END) AS BIGINT) AS tok_selected
FROM s CROSS JOIN tot
GROUP BY source ORDER BY source
""",
)
def q341_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget greedy data selection: rank the corpus by a
    quality DENSITY (here lexical diversity per token — distinct/total
    in integer ppm) and keep documents in density order until a fixed
    token budget (40% of the corpus) is spent — the knapsack-greedy
    selection step of budgeted-pretraining recipes (quality-classifier
    ordering + token cap; cf. DataComp-LM and the data-constrained
    scaling literature, public work). The report is the per-source
    composition of the selected set — what the budget cut actually did
    to the mixture.

    Engine-exactness: the order key packs (density desc, doc_id asc)
    into ONE bigint — (1e6 - density) * 2^43 + doc_id, headroom proven:
    1e6 * 2^43 < 2^63 — so the greedy order is a pure integer sort with
    no float anywhere and no tie ambiguity. Scale shape: the cumulative
    token spend is the distributed two-pass prefix scan
    (operators/prefix.py — range partition + pid-keyed window +
    O(partitions) broadcast offsets, never a single-partition window);
    the budget is a 1-row broadcast; the per-doc feature frame is
    pinned (consumed by the budget aggregate AND the prefix scan), so
    documents is read once per run. The oracle replays the greedy with
    the naive global window — the differential proof the distributed
    scan bit-matches the plan that dies at 100 TB."""
    from sensor_data_pipeline_spark.operators.prefix import global_running_sum

    d = load_table(spark, "documents", sf_dir)
    w = tokenize(F.col("text"))
    per_doc = (
        d.select(
            "doc_id",
            "source",
            F.size(w).cast("bigint").alias("ntok"),
            F.size(F.array_distinct(w)).cast("bigint").alias("ndis"),
        )
        .select(
            "doc_id",
            "source",
            "ntok",
            (
                (F.lit(1_000_000) - F.expr("ndis * 1000000 DIV ntok"))
                * F.lit(_SEL_SHIFT)
                + F.col("doc_id")
            ).alias("k"),
        )
        .transform(pin)  # consumed by the budget agg AND the prefix scan
    )
    budget = per_doc.agg(F.expr("sum(ntok) * 2 DIV 5").alias("budget"))
    s = global_running_sum(per_doc, "k", "ntok", out_col="cum")
    sel = F.col("cum") <= F.col("budget")
    return (
        s.crossJoin(F.broadcast(budget))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("tok_total"),
            F.sum(F.when(sel, 1).otherwise(0)).cast("bigint").alias("n_selected"),
            F.sum(F.when(sel, F.col("ntok")).otherwise(0)).cast("bigint").alias("tok_selected"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q343 — dedup-aware split leakage audit
# ---------------------------------------------------------------------------

_DUCK_FP = "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"


@register(
    "q343_split_leakage_audit",
    category="dedup",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {_DUCK_FP} AS fp FROM documents
),
lab AS (
  SELECT strategy, fp,
         CASE WHEN h < 'cc' THEN 'train' WHEN h < 'e6' THEN 'val' ELSE 'test' END AS split
  FROM (
    SELECT 'doc_hash' AS strategy, fp, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h FROM d
    UNION ALL
    SELECT 'cluster_hash', fp, substr(md5(fp), 1, 2) FROM d
  )
),
cl AS (
  SELECT strategy, fp, count(*) AS cnt,
         sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS c_tr,
         sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS c_va,
         sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS c_te
  FROM lab GROUP BY strategy, fp
)
SELECT strategy,
       CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_clusters,
       CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS dup_docs,
       CAST(sum(CASE WHEN (CASE WHEN c_tr > 0 THEN 1 ELSE 0 END)
                        + (CASE WHEN c_va > 0 THEN 1 ELSE 0 END)
                        + (CASE WHEN c_te > 0 THEN 1 ELSE 0 END) >= 2
                THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling,
       CAST(sum((cnt * (cnt - 1) - c_tr * (c_tr - 1)
                 - c_va * (c_va - 1) - c_te * (c_te - 1)) // 2) AS BIGINT) AS leaked_pairs
FROM cl GROUP BY strategy ORDER BY strategy
""",
)
def q343_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware train/val/test split leakage audit: exact-duplicate
    clusters (normalized-text md5, the q40 fingerprint) are checked
    against two deterministic 80/10/10 hash splits — the standard
    per-document md5(doc_id) lottery, and a CLUSTER-KEYED lottery
    (md5 of the fingerprint itself), under which same-text documents
    land in the same split BY CONSTRUCTION. Reported per strategy:
    duplicate clusters, straddling clusters (members in >= 2 splits)
    and leaked cross-split pairs — the quantity that inflates eval
    scores when train and test share near-identical text (the
    deduplicate-before-split rule; Lee et al. 2022 measure exactly
    this train-test overlap effect, public paper). Complements q153
    (which keys the split on SOURCE and audits source leakage — that
    split still leaks duplicate TEXT across sources; this one closes
    the text side).

    Scale shape: one documents scan, both strategies' labels emitted
    by a 2-element executor-side explode (never a second scan), one
    shuffle keyed by (strategy, fingerprint) — the cluster census —
    then a 2-row rollup. leaked_pairs comes from per-cluster count
    algebra (all-pairs minus within-split pairs, exact integers,
    always even before the halving DIV), so no pair is ever
    materialized: the audit is O(clusters), not O(pairs), at any
    corpus size."""
    from sensor_data_pipeline_spark.functions.text import doc_fingerprint

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fp")
    )
    split_of = (
        lambda h: F.when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
    )
    lab = d.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("doc_hash").alias("strategy"),
                    split_of(
                        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
                    ).alias("split"),
                ),
                F.struct(
                    F.lit("cluster_hash").alias("strategy"),
                    split_of(F.substring(F.md5(F.col("fp")), 1, 2)).alias("split"),
                ),
            )
        ).alias("s"),
        F.col("fp"),
    ).select("s.strategy", "fp", "s.split")
    cl = lab.groupBy("strategy", "fp").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("c_tr"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("c_va"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("c_te"),
    )
    straddles = (
        F.when(F.col("c_tr") > 0, 1).otherwise(0)
        + F.when(F.col("c_va") > 0, 1).otherwise(0)
        + F.when(F.col("c_te") > 0, 1).otherwise(0)
    ) >= 2
    return (
        cl.groupBy("strategy")
        .agg(
            F.sum(F.when(F.col("cnt") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_clusters"),
            F.sum(F.when(F.col("cnt") >= 2, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("dup_docs"),
            F.sum(F.when(straddles, 1).otherwise(0)).cast("bigint").alias("n_straddling"),
            F.sum(
                F.expr(
                    "(cnt * (cnt - 1) - c_tr * (c_tr - 1)"
                    " - c_va * (c_va - 1) - c_te * (c_te - 1)) DIV 2"
                )
            )
            .cast("bigint")
            .alias("leaked_pairs"),
        )
        .orderBy("strategy")
    )


# ---------------------------------------------------------------------------
# q345 — padding-waste audit under three batching strategies
# ---------------------------------------------------------------------------


@register(
    "q345_padding_waste_audit",
    category="corpus",
    oracle=f"""
WITH t AS (
  SELECT len({_DUCK_WORDS}) AS ntok FROM documents
),
agg AS (
  SELECT count(*) AS n_docs,
         sum(ntok) AS token_mass,
         max(ntok) AS mx,
         sum(CASE WHEN ntok <= 1 THEN CAST(ntok AS BIGINT)
                  ELSE (CAST(1 AS BIGINT) << length(bin(ntok - 1))) END) AS s_p2,
         sum(((ntok + 63) // 64) * 64) AS s_64
  FROM t
),
waste AS (
  SELECT 'global_max' AS strategy, n_docs, token_mass,
         n_docs * mx - token_mass AS waste FROM agg
  UNION ALL
  SELECT 'mult64', n_docs, token_mass, s_64 - token_mass FROM agg
  UNION ALL
  SELECT 'pow2', n_docs, token_mass, s_p2 - token_mass FROM agg
)
SELECT strategy,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(token_mass AS BIGINT) AS token_mass,
       CAST(token_mass + waste AS BIGINT) AS padded_mass,
       CAST(CAST(waste AS HUGEINT) * 1000000 // (token_mass + waste) AS BIGINT) AS waste_ppm
FROM waste ORDER BY strategy
""",
)
def q345_padding_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit for three batching strategies in ONE pass:
    pad-to-global-max (the naive collator), pad-to-next-power-of-two
    (bucketed batching with geometric buckets — the shape-compilation
    strategy XLA-style runtimes want), and pad-to-multiple-of-64 (the
    tensor-core alignment rule). Padding waste is pure token
    accounting — the fraction of compute spent attending to pad
    tokens — and this audit is the measurement that picks a collator
    before training (packing, q334/q158, is the zero-waste
    alternative; this quantifies what it saves).

    Scale shape: ALL four sufficient statistics (count, token mass,
    max, and the two strategy-padded masses) combine map-side in one
    aggregate over one scan; the 3-strategy report is a post-aggregate
    unpivot of the 1-row result (the q316 stack-downstream rule), so
    the explode never touches data. The next-power-of-two is computed
    integer-exactly from bin() length (the q339 rule — float log2
    rounds unportably at exact powers), and waste_ppm goes through
    decimal(38,0) because waste*1e6 wraps int64 past ~9.2e12 padded
    tokens (the q334 ADVICE-r6 lesson, applied at authoring time)."""
    d = load_table(spark, "documents", sf_dir)
    w = tokenize(F.col("text"))
    agg = (
        d.select(F.size(w).cast("bigint").alias("ntok"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("token_mass"),
            F.max("ntok").cast("bigint").alias("mx"),
            F.sum(
                F.expr(
                    "CASE WHEN ntok <= 1 THEN ntok"
                    " ELSE shiftleft(CAST(1 AS BIGINT), length(bin(ntok - 1))) END"
                )
            )
            .cast("bigint")
            .alias("s_p2"),
            F.sum(F.expr("((ntok + 63) DIV 64) * 64")).cast("bigint").alias("s_64"),
        )
    )
    return (
        agg.selectExpr(
            "n_docs",
            "token_mass",
            "stack(3, 'global_max', n_docs * mx - token_mass,"
            "         'mult64', s_64 - token_mass,"
            "         'pow2', s_p2 - token_mass) AS (strategy, waste)",
        )
        .select(
            "strategy",
            "n_docs",
            "token_mass",
            (F.col("token_mass") + F.col("waste")).cast("bigint").alias("padded_mass"),
            F.expr(
                "CAST(CAST(waste AS DECIMAL(38,0)) * 1000000"
                " DIV (token_mass + waste) AS BIGINT)"
            ).alias("waste_ppm"),
        )
        .orderBy("strategy")
    )


# ---------------------------------------------------------------------------
# q342 — quantizer migration matrix (index maintenance audit)
# ---------------------------------------------------------------------------

_MIG_CELLS = 8  # cells per epoch: epoch A = vec_id 0..7, epoch B = vec_id 8..15


@register(
    "q342_centroid_migration",
    category="similarity",
    oracle=f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
cents AS (
  SELECT CASE WHEN vec_id < {_MIG_CELLS} THEN 'A' ELSE 'B' END AS epoch,
         vec_id % {_MIG_CELLS} AS cid, v AS cv
  FROM emb WHERE vec_id < {2 * _MIG_CELLS}
),
scored AS (
  SELECT e.vec_id, c.epoch, c.cid,
         list_dot_product(e.v, c.cv) / sqrt(list_dot_product(c.cv, c.cv)) AS score
  FROM emb e CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, epoch, cid FROM (
    SELECT vec_id, epoch, cid,
           row_number() OVER (PARTITION BY vec_id, epoch
                              ORDER BY score DESC, cid) AS rk
    FROM scored
  ) WHERE rk = 1
),
cells AS (
  SELECT a.vec_id, a.cid AS cell_a, b.cid AS cell_b
  FROM assign a JOIN assign b ON a.vec_id = b.vec_id
  WHERE a.epoch = 'A' AND b.epoch = 'B'
)
SELECT CAST(cell_a AS BIGINT) AS cell_a,
       CAST(cell_b AS BIGINT) AS cell_b,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM cells GROUP BY cell_a, cell_b ORDER BY cell_a, cell_b
""",
)
def q342_centroid_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer migration matrix — the index-maintenance audit run
    when an IVF/PQ coarse quantizer is retrained (epoch A centroids vs
    epoch B centroids, both deterministic corpus prefixes here): every
    vector is assigned to its nearest centroid under BOTH epochs in one
    scoring pass, and the (old cell, new cell) contingency matrix
    measures how much of the index must physically move — the number
    that decides between re-sharding in place and a full rebuild, and
    the drift alarm for embedding-space shift (complements q177, which
    tracks per-label centroid SHIFT; this tracks per-vector
    REASSIGNMENT flow). Scale shape: the 2k-row centroid panel rides a
    broadcast (the q217 k-means rule — the vector corpus never shuffles
    for scoring), assignment is a vec-keyed ranking window (never
    global), the migration matrix is one map-side-combinable groupBy
    over (cell_a, cell_b) integer pairs — at most cells² rows. Scores
    fold JVM-side in strict index order, bit-matching DuckDB's
    list_dot_product; ties break on centroid id, so the matrix is
    exactly reproducible."""
    from sensor_data_pipeline_spark.functions.vector import seg_dot as _seg_dot

    emb = load_table(spark, "embeddings", sf_dir)
    cents = (
        emb.filter(F.col("vec_id") < 2 * _MIG_CELLS)
        .select(
            F.when(F.col("vec_id") < _MIG_CELLS, "A").otherwise("B").alias("epoch"),
            (F.col("vec_id") % _MIG_CELLS).alias("cid"),
            F.col("embedding").alias("cv"),
        )
    )
    score = _seg_dot(F.col("embedding"), F.col("cv"), 1, 64) / F.sqrt(
        _seg_dot(F.col("cv"), F.col("cv"), 1, 64)
    )
    w = Window.partitionBy("vec_id", "epoch").orderBy(F.col("score").desc(), "cid")
    assign = (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cents))
        .withColumn("score", score)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "epoch", "cid")
    )
    # both epochs' cells fold in ONE conditional aggregation keyed by
    # vec_id — a self-join of `assign` on vec_id would duplicate the
    # whole scoring subtree and re-scan embeddings per side (the exact
    # pin_scans class this round's audit rework exists to catch)
    return (
        assign.groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("epoch") == "A", F.col("cid"))).alias("cell_a"),
            F.max(F.when(F.col("epoch") == "B", F.col("cid"))).alias("cell_b"),
        )
        .groupBy(
            F.col("cell_a").cast("bigint").alias("cell_a"),
            F.col("cell_b").cast("bigint").alias("cell_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
        .orderBy("cell_a", "cell_b")
    )


# ---------------------------------------------------------------------------
# q344 — multi-width decontamination curve
# ---------------------------------------------------------------------------

_DECON_WIDTHS = (2, 3, 5)  # n-gram widths audited in one pass
_DECON_MOD = 97  # doc_id % 97 == 0 marks the held-out benchmark (q84's rule)


@register(
    "q344_decontamination_curve",
    category="text",
    oracle=f"""
WITH t AS (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents),
g AS (
  SELECT doc_id, wd, CASE WHEN len(w) >= wd
           THEN list_distinct(list_transform(range(1, len(w) - wd + 2),
                                             i -> array_to_string(w[i:i+wd-1], ' ')))
           ELSE [] END AS grams
  FROM t CROSS JOIN (VALUES ({_DECON_WIDTHS[0]}), ({_DECON_WIDTHS[1]}), ({_DECON_WIDTHS[2]})) AS v(wd)
),
bench AS (
  SELECT DISTINCT wd, unnest(grams) AS gram FROM g WHERE doc_id % {_DECON_MOD} = 0
),
corpus AS (
  SELECT g.doc_id, g.wd, unnest(g.grams) AS gram FROM g WHERE doc_id % {_DECON_MOD} != 0
),
flagged AS (
  SELECT DISTINCT c.wd, c.doc_id
  FROM corpus c JOIN bench b ON b.wd = c.wd AND b.gram = c.gram
),
nc AS (SELECT count(*) AS n_corpus FROM documents WHERE doc_id % {_DECON_MOD} != 0)
SELECT CAST(v.wd AS BIGINT) AS width,
       CAST((SELECT count(*) FROM bench b WHERE b.wd = v.wd) AS BIGINT) AS n_bench_grams,
       CAST((SELECT count(*) FROM flagged f WHERE f.wd = v.wd) AS BIGINT) AS n_flagged,
       CAST((SELECT count(*) FROM flagged f WHERE f.wd = v.wd) * 1000000
            // (SELECT n_corpus FROM nc) AS BIGINT) AS flagged_ppm
FROM (VALUES ({_DECON_WIDTHS[0]}), ({_DECON_WIDTHS[1]}), ({_DECON_WIDTHS[2]})) AS v(wd)
ORDER BY width
""",
)
def q344_decontamination_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination operating curve: the benchmark n-gram overlap
    flag rate at THREE n-gram widths in one pass — the measurement
    that picks the width before running decontamination at scale
    (too narrow over-flags natural phrase reuse and deletes good data;
    too wide misses paraphrased contamination: GPT-3 used 13-grams,
    PaLM 8-grams — the curve is how a team picks theirs; public
    technical reports). q84 is the single-width production scan; this
    is its tuning study, built under the multi-width-from-one-pass
    rule (q334/q336): ONE tokenize pass emits (width, gram) postings
    for all widths via a 3-element executor-side explode.

    Scale shape: the benchmark gram set (held-out docs, q84's doc_id %
    97 rule) is PINNED (two consumers: the flagging join and the
    per-width census) and is the BUILD side of a shuffle-hash LEFT
    SEMI on (width, gram) — for a left-semi Spark can only build on
    the right, so the hint rides bench and the corpus postings stream
    through the probe without ever being sorted or broadcast. The
    round-7 ADVICE is why this is NOT a forced broadcast: the fixture
    rule makes bench proportional to the corpus (~1/97 of its grams),
    and 1% of a 100 TB corpus is far past broadcastable — the same
    driver-OOM class the q335/q332 fixes removed. With AQE on, runtime
    stats still upgrade the exchange to a broadcast whenever the real
    benchmark panel IS small (the production case: a fixed eval set),
    so the plan degrades gracefully instead of OOMing the driver. Flag
    rates are integer ppm. Guard rule: gram lists branch on
    size(w) >= width (sequence(1, n) REVERSES for n < 1 — the q335
    lesson)."""
    d = load_table(spark, "documents", sf_dir)
    w = tokenize(F.col("text"))

    def grams_of(width: int):
        return F.when(
            F.size(F.col("w")) >= width,
            F.expr(
                f"array_distinct(transform(sequence(1, size(w) - {width} + 1), "
                f"i -> concat_ws(' ', slice(w, i, {width}))))"
            ),
        ).otherwise(F.array().cast("array<string>"))

    postings = (
        d.select("doc_id", w.alias("w"))
        .select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(wd).alias("wd"), grams_of(wd).alias("grams"))
                        for wd in _DECON_WIDTHS
                    ]
                )
            ).alias("s"),
        )
        .select("doc_id", "s.wd", F.explode("s.grams").alias("gram"))
    )
    bench = (
        postings.filter(F.col("doc_id") % _DECON_MOD == 0)
        .select("wd", "gram")
        .distinct()
        .transform(pin, lazy=True)  # two consumers: flag join + census
    )
    flagged = (
        postings.filter(F.col("doc_id") % _DECON_MOD != 0)
        .join(bench.hint("shuffle_hash"), ["wd", "gram"], "left_semi")
        .select("wd", "doc_id")
        .distinct()
        .groupBy("wd")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_flagged"))
    )
    census = bench.groupBy("wd").agg(F.count(F.lit(1)).cast("bigint").alias("n_bench_grams"))
    n_corpus = d.filter(F.col("doc_id") % _DECON_MOD != 0).agg(
        F.count(F.lit(1)).alias("n_corpus")
    )
    grid = spark.createDataFrame([(wd,) for wd in _DECON_WIDTHS], "wd int")
    return (
        grid.join(census, "wd", "left")
        .join(flagged, "wd", "left")
        .crossJoin(F.broadcast(n_corpus))
        .select(
            F.col("wd").cast("bigint").alias("width"),
            F.coalesce("n_bench_grams", F.lit(0)).cast("bigint").alias("n_bench_grams"),
            F.coalesce("n_flagged", F.lit(0)).cast("bigint").alias("n_flagged"),
            F.expr("coalesce(n_flagged, 0) * 1000000 DIV n_corpus")
            .cast("bigint")
            .alias("flagged_ppm"),
        )
        .orderBy("width")
    )


# ---------------------------------------------------------------------------
# q346 — water-filling source cap allocation
# ---------------------------------------------------------------------------


@register(
    "q346_waterfill_source_caps",
    category="mixing",
    oracle="""
WITH census AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
tot AS (SELECT count(*) AS s, sum(n) * 3 // 5 AS b FROM census),
ordered AS (
  SELECT source, n,
         row_number() OVER (ORDER BY n, source) AS j,
         sum(n) OVER (ORDER BY n, source
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
         lag(n) OVER (ORDER BY n, source) AS prev_n
  FROM census
),
cand AS (
  SELECT o.*, t.b, t.s, (t.b - (o.p - o.n)) // (t.s - o.j + 1) AS t_cand
  FROM ordered o CROSS JOIN tot t
),
lvl AS (
  SELECT coalesce(max(CASE WHEN t_cand < n AND (j = 1 OR prev_n <= t_cand)
                           THEN 1 ELSE 0 END), 0) AS has_level,
         max(CASE WHEN t_cand < n AND (j = 1 OR prev_n <= t_cand)
                  THEN t_cand END) AS lvl_t,
         max(CASE WHEN t_cand < n AND (j = 1 OR prev_n <= t_cand)
                  THEN b - (p - n) - (s - j + 1) * t_cand END) AS leftover
  FROM cand
),
ranked AS (
  SELECT c.source, c.n, l.has_level, l.lvl_t, l.leftover,
         row_number() OVER (
           ORDER BY CASE WHEN l.has_level = 1 AND c.n > l.lvl_t THEN 0 ELSE 1 END,
                    c.source) AS r
  FROM cand c CROSS JOIN lvl l
),
final AS (
  SELECT source, n,
         CASE WHEN has_level = 0 THEN n
              WHEN n <= lvl_t THEN n
              WHEN r <= leftover THEN lvl_t + 1
              ELSE lvl_t END AS alloc
  FROM ranked
)
SELECT source,
       CAST(n AS BIGINT) AS n_docs,
       CAST(alloc AS BIGINT) AS alloc,
       alloc < n AS capped
FROM final ORDER BY source
""",
)
def q346_waterfill_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling source-cap allocation: spend a document budget
    (60% of the corpus) across sources proportionally UP TO a common
    cap — the classic water-filling level t where every source
    contributes min(n_i, t) and the level exactly exhausts the budget
    — so no single crawl dominates the mixture while small sources
    keep everything they have. This is the third allocation policy in
    the mixing family: q239 flattens by temperature, q165 targets a
    uniform rate, q123 caps at a CONSTANT; water-filling derives the
    cap FROM the budget (the max-min fair allocation, standard in
    resource allocation and used for per-domain caps in corpus
    mixing).

    Exactness and scale: the level has the closed form t_j =
    (B - P_{j-1}) DIV (S - j + 1) evaluated on the SORTED source
    census — exactly one row satisfies the validity bracket
    (t_cand < n_j and n_{j-1} <= t_cand), found by window arithmetic
    over the |sources|-row census (a bounded post-aggregation global
    window — the machine-checked ALLOW class), never an iterative
    driver loop. The integer remainder is distributed +1 to the first
    `leftover` capped sources in source order (remainder < #capped by
    construction), so sum(alloc) == B exactly whenever B < corpus and
    the allocation is bit-reproducible on any engine — both engines'
    integer division TRUNCATES (measured; functions/scalar.py:int_div)
    and every operand here is non-negative in the valid bracket."""
    census = (
        load_table(spark, "documents", sf_dir)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        # pinned: the |sources|-row census feeds the budget aggregate,
        # the level-bracket scan AND the remainder ranking — unpinned,
        # each consumer re-derived it from parquet (4 documents scans,
        # caught by this round's pin-aware audit before shipping)
        .transform(pin)
    )
    tot = census.agg(
        F.count(F.lit(1)).cast("bigint").alias("s"),
        F.expr("sum(n) * 3 DIV 5").alias("b"),
    )
    w = Window.orderBy("n", "source")
    ordered = (
        census.withColumn("j", F.row_number().over(w).cast("bigint"))
        .withColumn("p", F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("prev_n", F.lag("n").over(w))
    )
    cand = ordered.crossJoin(F.broadcast(tot)).withColumn(
        "t_cand", F.expr("(b - (p - n)) DIV (s - j + 1)")
    )
    valid = F.expr("t_cand < n AND (j = 1 OR prev_n <= t_cand)")
    lvl = cand.agg(
        F.coalesce(F.max(F.when(valid, 1).otherwise(0)), F.lit(0)).alias("has_level"),
        F.max(F.when(valid, F.col("t_cand"))).alias("lvl_t"),
        F.max(
            F.when(valid, F.expr("b - (p - n) - (s - j + 1) * t_cand"))
        ).alias("leftover"),
    )
    wr = Window.orderBy(
        F.when(
            (F.col("has_level") == 1) & (F.col("n") > F.col("lvl_t")), 0
        ).otherwise(1),
        "source",
    )
    ranked = cand.crossJoin(F.broadcast(lvl)).withColumn(
        "r", F.row_number().over(wr).cast("bigint")
    )
    alloc = F.expr(
        "CASE WHEN has_level = 0 THEN n"
        " WHEN n <= lvl_t THEN n"
        " WHEN r <= leftover THEN lvl_t + 1"
        " ELSE lvl_t END"
    )
    return (
        ranked.select(
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            alloc.cast("bigint").alias("alloc"),
        )
        .withColumn("capped", F.col("alloc") < F.col("n_docs"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q347 — IVF recall-vs-probes operating curve
# ---------------------------------------------------------------------------

_IVF_CELLS = 8  # coarse cells: centroids = vec_id 0..7 (q66's deterministic rule)
_IVF_QUERIES = 8  # query panel: vec_id 8..15 (disjoint from the centroids)
_IVF_K = 5  # exact top-k baseline per query
_IVF_PROBES = (1, 2, 4)  # curve points


@register(
    "q347_ivf_probe_recall_curve",
    category="similarity",
    oracle=f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
cents AS (SELECT vec_id AS cid, v AS cv FROM emb WHERE vec_id < {_IVF_CELLS}),
queries AS (SELECT vec_id AS query_id, v AS qv FROM emb
            WHERE vec_id >= {_IVF_CELLS} AND vec_id < {_IVF_CELLS + _IVF_QUERIES}),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_dot_product(e.v, c.cv) / sqrt(list_dot_product(c.cv, c.cv)) DESC,
             c.cid) AS rk
    FROM emb e CROSS JOIN cents c
  ) WHERE rk = 1
),
qrank AS (
  SELECT query_id, cid,
         row_number() OVER (PARTITION BY query_id ORDER BY
           list_dot_product(qv, cv) / sqrt(list_dot_product(cv, cv)) DESC,
           cid) AS crank
  FROM queries CROSS JOIN cents
),
top5 AS (
  SELECT query_id, match_id FROM (
    SELECT q.query_id, e.vec_id AS match_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) DESC,
             e.vec_id) AS rk
    FROM queries q JOIN emb e ON e.vec_id != q.query_id
  ) WHERE rk <= {_IVF_K}
),
hits AS (
  SELECT t.query_id, r.crank
  FROM top5 t
  JOIN assign a ON a.vec_id = t.match_id
  JOIN qrank r ON r.query_id = t.query_id AND r.cid = a.cell
)
SELECT q.query_id,
       CAST(p.probes AS BIGINT) AS probes,
       CAST(coalesce(sum(CASE WHEN h.crank <= p.probes THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits,
       coalesce(sum(CASE WHEN h.crank <= p.probes THEN 1 ELSE 0 END), 0)
         / CAST({_IVF_K} AS DOUBLE) AS recall
FROM queries q
CROSS JOIN (VALUES ({_IVF_PROBES[0]}), ({_IVF_PROBES[1]}), ({_IVF_PROBES[2]})) AS p(probes)
LEFT JOIN hits h ON h.query_id = q.query_id
GROUP BY q.query_id, p.probes
ORDER BY q.query_id, probes
""",
)
def q347_ivf_probe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall-vs-nprobe operating curve: exact top-5 recall of the
    inverted-file index at probe counts 1/2/4, per query — the curve
    that sizes an IVF deployment (every IVF system exposes nprobe as
    ITS latency/recall dial; the curve is measured once on a sample
    panel before fixing the production setting — cf. the IVFADC
    evaluation protocol of Jégou et al. 2011, public paper). q66 is
    the index at one operating point and q93 audits that single point;
    this measures the whole dial in ONE pass under the q334/q336
    multi-width rule: cell assignment and the query->centroid
    preference ranking are computed once, and every probe count is
    pure arithmetic on the centroid rank (hit iff the true neighbor's
    cell ranks within the first p probes).

    Scale shape: the centroid panel and query panel ride broadcasts
    (the corpus never shuffles for scoring — q48/q217 rule); the exact
    top-5 baseline is panel-bounded brute force, O(|queries| x n),
    the same deliberate audit cost as q93 — the production path stays
    approximate, the audit proves its recall. The multiply-consumed
    base vectors are pinned (assignment pass + brute-force pass +
    both panels), so embeddings is physically read ONCE per run
    (q339's pin_scans discipline). Scores fold JVM-side in strict
    index order; all ties break on vector/centroid id, so the curve
    is exactly reproducible."""
    from sensor_data_pipeline_spark.functions.vector import seg_dot as _seg_dot

    emb = (
        load_table(spark, "embeddings", sf_dir)
        .select("vec_id", F.col("embedding").alias("v"))
        .transform(pin)  # 4 consumers: panels, assignment, brute force
    )
    cents = emb.filter(F.col("vec_id") < _IVF_CELLS).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    queries = emb.filter(
        (F.col("vec_id") >= _IVF_CELLS) & (F.col("vec_id") < _IVF_CELLS + _IVF_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    cscore = _seg_dot(F.col("v"), F.col("cv"), 1, 64) / F.sqrt(
        _seg_dot(F.col("cv"), F.col("cv"), 1, 64)
    )
    wa = Window.partitionBy("vec_id").orderBy(F.col("cscore").desc(), "cid")
    assign = (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("cscore", cscore)
        .withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") == 1)
        .select("vec_id", F.col("cid").alias("cell"))
    )
    qscore = _seg_dot(F.col("qv"), F.col("cv"), 1, 64) / F.sqrt(
        _seg_dot(F.col("cv"), F.col("cv"), 1, 64)
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("qscore").desc(), "cid")
    qrank = (
        queries.crossJoin(F.broadcast(cents))
        .withColumn("qscore", qscore)
        .withColumn("crank", F.row_number().over(wq))
        .select("query_id", "cid", "crank")
    )
    cos = _seg_dot(F.col("qv"), F.col("v"), 1, 64) / (
        F.sqrt(_seg_dot(F.col("qv"), F.col("qv"), 1, 64))
        * F.sqrt(_seg_dot(F.col("v"), F.col("v"), 1, 64))
    )
    wt = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    top5 = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", cos)
        .withColumn("rk", F.row_number().over(wt))
        .filter(F.col("rk") <= _IVF_K)
        .select("query_id", F.col("vec_id").alias("match_id"))
    )
    hits = (
        top5.join(assign, top5["match_id"] == assign["vec_id"])
        .join(qrank, ["query_id"] , "inner")
        .filter(F.col("cid") == F.col("cell"))
        .select("query_id", "crank")
    )
    grid = queries.select("query_id").crossJoin(
        F.broadcast(spark.createDataFrame([(p,) for p in _IVF_PROBES], "probes int"))
    )
    return (
        grid.join(hits, "query_id", "left")
        .groupBy("query_id", F.col("probes").cast("bigint").alias("probes"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("crank") <= F.col("probes"), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_hits"),
            (
                F.coalesce(
                    F.sum(F.when(F.col("crank") <= F.col("probes"), 1).otherwise(0)),
                    F.lit(0),
                )
                / F.lit(float(_IVF_K))
            ).alias("recall"),
        )
        .orderBy("query_id", "probes")
    )
