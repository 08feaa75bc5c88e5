"""Data-curation operators, round 3: the retrieval / filtering /
mining layer a training-data pipeline runs between raw corpus and
tokenizer — each one expressed as a single Catalyst DAG with the
100 TB shuffle story stated in its docstring, each audited by a
bit-exact DuckDB oracle.

- q223: BM25 ranked retrieval with a RATIONAL idf ((N-df+0.5)/(df+0.5)
  instead of its log) so every arithmetic step is an IEEE-754
  correctly-rounded op that DuckDB reproduces bit-for-bit; per-term
  scores are fixed-pointed (floor 1e6) BEFORE the per-doc sum so the
  aggregation is integer and order-independent.
- q224: positional inverted index + exact phrase query — the postings
  shape (term, doc, pos) that substring-level corpus search needs;
  the phrase is answered by an adjacency self-join of two posting
  lists, never a full-text rescan.
- q225: bigram-LM fluency gate — train add-one-smoothed bigram
  probabilities over a capped vocabulary (OOV -> <unk>), score every
  document map-side against the broadcast model, keep docs above a
  fixed fluency floor. The model is vocabulary-bounded, never
  corpus-bounded.
- q226: SemDeDup (semantic dedup): quantized k-means assignment
  against broadcast centroids, then pairwise integer-cosine ONLY
  within a cluster — the all-pairs work is bounded by cluster size,
  the cross-cluster pair space is never generated.
- q227: deterministic contrastive negative sampling — (anchor,
  positive, k hash-drawn negatives) triples, map-only: the "random"
  draw is a pure hash so resampling any shard reproduces itself.
- q228: robust anomaly gate (median/MAD) per sensor stream — exact
  medians on integer cents, 3-sigma-equivalent MAD fence, one
  aggregation pass + one broadcast-back scoring pass.

Reference basis: the reference guards each reading with fixed
fallbacks before display (src/modules/dd/consumer.cpp:125-131
sentinel 888.8 for missing keys; :251-263 staleness reset fence);
q228 is the learned-fence version of that gate. The
retrieval trio (q223-q225) and SemDeDup extend the corpus layer the
reference lacks but a 100 TB training pipeline requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_data_pipeline_spark.functions.text import tokenize, word_hash32
from sensor_data_pipeline_spark.pins import pin
from sensor_data_pipeline_spark.plans.registry import register
from sensor_data_pipeline_spark.sources.tables import load_table

_DUCK_WORDS = "regexp_split_to_array(text, '\\s+')"

# ---------------------------------------------------------------------------
# q223 — BM25 ranked retrieval (rational idf, fixed-point scores)
# ---------------------------------------------------------------------------

_BM25_K1 = "CAST(1.2 AS DOUBLE)"
_BM25_B = "CAST(0.75 AS DOUBLE)"
# Per-(doc, term) BM25 partial, fixed-pointed at 1e6. The SAME text is
# compiled by Spark SQL and DuckDB so the double-precision expression
# tree is identical: +, *, / are IEEE correctly-rounded, so identical
# inputs + identical tree = identical bits, and floor() of identical
# bits is the same integer in both engines.
_BM25_TERM_FP = (
    "CAST(floor(CAST(1000000 AS DOUBLE) * "
    "((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))"
    " * (CAST(tf AS DOUBLE) * ({k1} + CAST(1 AS DOUBLE)) / "
    "(CAST(tf AS DOUBLE) + {k1} * (CAST(1 AS DOUBLE) - {b} + {b} * (CAST(dl AS DOUBLE) / avgdl))))"
    ") AS BIGINT)"
).format(k1=_BM25_K1, b=_BM25_B)


@register(
    "q223_bm25_retrieval",
    category="text",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_WORDS}) AS token FROM documents
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM dl
),
df AS (
  SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY token
),
qterms AS (
  SELECT token, df
  FROM (SELECT token, df, row_number() OVER (ORDER BY df DESC, token) AS rnk FROM df)
  WHERE rnk BETWEEN 5 AND 8
),
tf AS (
  SELECT t.doc_id, t.token, CAST(count(*) AS BIGINT) AS tf
  FROM toks t JOIN qterms q USING (token)
  GROUP BY t.doc_id, t.token
),
scored AS (
  SELECT tf.doc_id,
         {_BM25_TERM_FP} AS term_fp
  FROM tf
  JOIN qterms USING (token)
  JOIN dl USING (doc_id)
  CROSS JOIN corpus
),
ranked AS (
  SELECT doc_id,
         CAST(sum(term_fp) AS BIGINT) AS bm25_fp,
         CAST(count(*) AS BIGINT) AS n_terms_hit,
         row_number() OVER (ORDER BY CAST(sum(term_fp) AS BIGINT) DESC, doc_id) AS rnk
  FROM scored
  GROUP BY doc_id
)
SELECT doc_id, bm25_fp, n_terms_hit, CAST(rnk AS BIGINT) AS rank
FROM ranked WHERE rnk <= 10 ORDER BY rank
""",
)
def q223_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 over the corpus for a df-derived 4-term query.

    Scale shape: one tokenize scan feeds doc-length, doc-frequency and
    term-frequency aggregates; the query's term set (4 rows) and the
    corpus constants (1 row) ride broadcasts, so scoring is the tf
    aggregate (pre-filtered to query terms by a broadcast semi-join —
    the shuffle carries |query| terms per doc, not the vocabulary) plus
    map-side arithmetic. Rational idf (N-df+0.5)/(df+0.5) keeps the
    monotone ordering of log-idf without a transcendental, so Spark and
    DuckDB agree to the bit; per-term scores are floored to 1e6
    fixed-point BEFORE summation, making the per-doc reduce an integer
    sum that no partial-aggregation order can perturb.

    At 100 TB: df/avgdl are corpus statistics maintained incrementally
    (q194's delta-merge pattern) rather than recomputed per query; the
    per-query cost is then the broadcast-pruned tf scan only.
    """
    d = load_table(spark, "documents", sf_dir)
    # ONE tokenize scan, pinned: dl, df and tf are three independent
    # consumers, and unpinned each re-read + re-tokenized the corpus
    # (5 documents scans in the r5 plan — at 100 TB each is a full
    # corpus pass). The pinned token frame is the inverted-index build
    # intermediate every IR system materializes anyway; dl (doc-sized,
    # tiny) is pinned too since both the corpus constants and the
    # scoring join consume it.
    toks = d.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("token")
    ).transform(pin)
    dl = (
        toks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dl"))
        .transform(pin)
    )
    corpus = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias("avgdl"),
    )
    df = toks.groupBy("token").agg(F.count_distinct("doc_id").cast("bigint").alias("df"))
    # ranks 5-8 of the df table: TakeOrderedAndProject(8) then a window
    # over those 8 rows — never a global row_number over the vocabulary.
    qterms = (
        df.orderBy(F.col("df").desc(), "token")
        .limit(8)
        .withColumn("rnk", F.row_number().over(Window.orderBy(F.col("df").desc(), "token")))
        .filter(F.col("rnk").between(5, 8))
        .select("token", "df")
    )
    tf = (
        toks.join(F.broadcast(qterms.select("token")), "token")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    scored = (
        tf.join(F.broadcast(qterms), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", F.expr(_BM25_TERM_FP).alias("term_fp"))
    )
    ranked = scored.groupBy("doc_id").agg(
        F.sum("term_fp").cast("bigint").alias("bm25_fp"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
    )
    # top-10 via TakeOrderedAndProject (per-partition heaps + driver
    # merge of 10-row tops), then rank the 10 survivors — the global
    # row_number window never sees corpus-sized input.
    w = Window.orderBy(F.col("bm25_fp").desc(), "doc_id")
    return (
        ranked.orderBy(F.col("bm25_fp").desc(), "doc_id")
        .limit(10)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "bm25_fp", "n_terms_hit", "rank")
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# q224 — positional inverted index + exact phrase query
# ---------------------------------------------------------------------------


@register(
    "q224_phrase_search",
    category="text",
    # Oracle sidesteps the positional join with a per-doc bigram-list
    # count — a different algorithm for the same answer, which is the
    # point of a differential oracle.
    oracle=f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS a FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i + 1])) AS bigram
  FROM w
),
top AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS n_total,
         row_number() OVER (ORDER BY count(*) DESC, bigram) AS rnk
  FROM bg GROUP BY bigram
),
phrase AS (SELECT bigram, n_total FROM top WHERE rnk = 1)
SELECT b.doc_id,
       p.bigram AS phrase,
       CAST(count(*) AS BIGINT) AS n_occ
FROM bg b JOIN phrase p ON b.bigram = p.bigram
GROUP BY b.doc_id, p.bigram
ORDER BY n_occ DESC, b.doc_id
LIMIT 25
""",
)
def q224_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index + exact phrase query.

    Spark side builds the REAL search structure: postings
    (term, doc_id, pos) via posexplode — the index a corpus-scale
    substring search engine shuffles once and bucket-stores by term.
    The most frequent corpus bigram (deterministic tie-break) is then
    answered as an adjacency self-join: postings(w1) ⋈ postings(w2)
    ON same doc AND pos+1 — touching only the two terms' posting
    lists, never rescanning text. The DuckDB oracle computes the same
    answer by per-doc bigram counting — an independent algorithm, so
    agreement checks the index construction, not the arithmetic.

    At 100 TB: postings partition by term (the phrase probe prunes to
    2 partitions); pos fits int; the bigram-frequency side (phrase
    selection) is the q192 heavy-hitter problem and would run sketched.
    """
    d = load_table(spark, "documents", sf_dir)
    # the posting list is probed twice (w1 side, w2 side) — pinned, so
    # the index is BUILT once and probed twice, matching the docstring's
    # own claim ("shuffles once and bucket-stores"); r5's unpinned form
    # re-tokenized the corpus per probe (4 documents scans -> 2: index
    # build + the independent bigram-frequency pass).
    postings = d.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "term")
    ).transform(pin)
    # arrays_zip(slice, slice), NOT transform(sequence, element_at):
    # CollapseProject inlines the upstream split into every lambda
    # reference, turning the bigram build O(len^2) regex splits per
    # doc (the q107 lesson — ~5s of optimizer+exec at sf0.1).
    # ONE tokenization for both index structures: postings above and
    # bigrams here both split the UNTRIMMED text, exactly like the
    # oracle's regexp_split_to_array(text, ...) — a trim on only one
    # side would desynchronize positions the moment a document carries
    # edge whitespace (fixture-independence, round-3 ADVICE).
    w = tokenize(F.col("text"))
    bg = F.expr("arrays_zip(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1))")
    bigrams = (
        d.select("doc_id", w.alias("w"))
        .select("doc_id", F.explode(bg).alias("p"))
        .select("doc_id", F.concat_ws(" ", F.col("p.0"), F.col("p.1")).alias("bigram"))
    )
    phrase = (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
        # winner via TakeOrderedAndProject(1), not a global window
        .orderBy(F.col("n_total").desc(), "bigram")
        .limit(1)
        .select(
            F.split("bigram", " ").getItem(0).alias("w1"),
            F.split("bigram", " ").getItem(1).alias("w2"),
            F.col("bigram").alias("phrase"),
        )
    )
    p = F.broadcast(phrase)
    p1 = postings.join(p, postings["term"] == p["w1"]).select(
        "doc_id", F.col("pos").alias("pos1"), "phrase"
    )
    p2 = postings.join(p, postings["term"] == p["w2"]).select(
        F.col("doc_id").alias("doc_id2"), F.col("pos").alias("pos2")
    )
    hits = p1.join(
        p2,
        (p1["doc_id"] == p2["doc_id2"]) & (p2["pos2"] == p1["pos1"] + 1),
    )
    return (
        hits.groupBy("doc_id", "phrase")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"))
        .orderBy(F.col("n_occ").desc(), "doc_id")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# q225 — bigram-LM fluency gate (capped vocab, add-one smoothing)
# ---------------------------------------------------------------------------

_LM_VOCAB = 20  # tokens ranked > _LM_VOCAB map to <unk> — the OOV path is exercised
_LM_FLOOR = 30_000_000  # fixed-point avg P(w2|w1) floor (1e9 scale)


@register(
    "q225_lm_fluency_gate",
    category="quality",
    oracle=f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS a FROM documents),
pos AS (
  SELECT doc_id, i AS pos, a[i] AS raw
  FROM w CROSS JOIN unnest(range(1, len(a) + 1)) AS t(i)
),
vocab AS (
  SELECT raw AS token
  FROM (SELECT raw, row_number() OVER (ORDER BY count(*) DESC, raw) AS rnk
        FROM pos GROUP BY raw)
  WHERE rnk <= {_LM_VOCAB}
),
m AS (
  SELECT doc_id, pos,
         CASE WHEN raw IN (SELECT token FROM vocab) THEN raw ELSE '<unk>' END AS tok
  FROM pos
),
uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1 FROM m GROUP BY tok),
bi AS (
  SELECT a.tok AS t1, b.tok AS t2, CAST(count(*) AS BIGINT) AS c12
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2
),
docbg AS (
  SELECT a.doc_id, a.tok AS t1, b.tok AS t2
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
scored AS (
  SELECT d.doc_id,
         CAST(floor(CAST(1000000000 AS DOUBLE) *
              (CAST(bi.c12 + 1 AS DOUBLE) / CAST(uni.c1 + {_LM_VOCAB + 1} AS DOUBLE))
         ) AS BIGINT) AS p_fp
  FROM docbg d
  JOIN uni ON uni.tok = d.t1
  JOIN bi ON bi.t1 = d.t1 AND bi.t2 = d.t2
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(CAST(sum(p_fp) AS BIGINT) // count(*) AS BIGINT) AS fluency_fp,
       CAST(CAST(sum(p_fp) AS BIGINT) // count(*) >= {_LM_FLOOR} AS BOOLEAN) AS keep
FROM scored
GROUP BY doc_id
ORDER BY doc_id
""",
)
def q225_lm_fluency_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model fluency gate — the KenLM-style quality
    filter of an LLM data pipeline, reduced to exact arithmetic.

    Train: map tokens through a capped vocabulary (top-20, _LM_VOCAB,
    by corpus frequency, deterministic tie-break; everything else
    becomes <unk>), count unigrams and bigrams. The MODEL is
    vocabulary-bounded — at most (V+1)^2 bigram rows regardless of
    corpus size — so it broadcasts. Score: every document's bigrams
    join the broadcast model map-side; add-one-smoothed conditional
    probability (c12+1)/(c1+V+1) is fixed-pointed at 1e9 per bigram
    (IEEE division, identical bits in DuckDB), summed as integers, and
    divided (integer div) by the bigram count — so the per-doc
    fluency score is bit-deterministic under any partitioning. Gate:
    keep docs whose mean bigram probability clears a fixed floor.

    At 100 TB: two corpus scans (vocab candidates, token mapping) with
    the train shuffle keyed by a bounded vocabulary; the mapped token
    stream is materialized once (a pin — the tokenized-shard
    artifact every KenLM pipeline persists) and train/score both read
    it; scoring is map-only.
    """
    d = load_table(spark, "documents", sf_dir)
    pos = d.select("doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "raw"))
    # top-V vocabulary via TakeOrderedAndProject — the candidate pool
    # a production pipeline would pre-sketch (q192); never a global
    # row_number over the full vocabulary.
    vocab = (
        pos.groupBy("raw")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "raw")
        .limit(_LM_VOCAB)
        .select(F.col("raw").alias("token"))
    )
    m = pos.join(F.broadcast(vocab), pos["raw"] == vocab["token"], "left").select(
        "doc_id", "pos", F.coalesce("token", F.lit("<unk>")).alias("tok")
    )
    # the vocab-mapped token stream feeds the bigram build, the unigram
    # counts, and (through docbg) the scorer — unpinned, every consumer
    # re-ran scan+explode+vocab-join (10 documents scans, round-5
    # plan_audit). Materializing the mapped stream once is exactly what
    # a production KenLM-style pipeline does with its tokenized shards.
    m = m.transform(pin)
    nxt = m.select(F.col("doc_id").alias("doc_id2"), (F.col("pos") - 1).alias("pos2"), F.col("tok").alias("t2"))
    docbg = m.join(
        nxt, (m["doc_id"] == nxt["doc_id2"]) & (m["pos"] == nxt["pos2"])
    ).select("doc_id", F.col("tok").alias("t1"), "t2")
    uni = m.groupBy(F.col("tok").alias("t1")).agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    bi = docbg.groupBy("t1", "t2").agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
    p_fp = F.expr(
        f"CAST(floor(CAST(1000000000 AS DOUBLE) * "
        f"(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + {_LM_VOCAB + 1} AS DOUBLE))) AS BIGINT)"
    )
    scored = (
        docbg.join(F.broadcast(uni), "t1")
        .join(F.broadcast(bi), ["t1", "t2"])
        .select("doc_id", p_fp.alias("p_fp"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.floor(F.sum("p_fp").cast("bigint") / F.count(F.lit(1))).cast("bigint").alias("fluency_fp"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        "fluency_fp",
        (F.col("fluency_fp") >= _LM_FLOOR).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q226 — SemDeDup: cluster-then-dedup on quantized embeddings
# ---------------------------------------------------------------------------

_SEM_K = 8  # centroid-count floor (deterministic init: first k quantized vectors)
_SEM_DOCS_PER_CLUSTER = 64  # k = max(_SEM_K, N / this) keeps cluster size O(1) in N
_SEM_THR2_E4 = 9025  # cos >= 0.95  <=>  1e4*dot^2 >= 9025*|a|^2*|b|^2 (dot > 0)

_QUANT = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127) AS BIGINT))"
_DOT = "CAST(list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i])) AS BIGINT)"


@register(
    "q226_semdedup",
    category="dedup",
    oracle=f"""
WITH qz AS (SELECT vec_id, {_QUANT} AS qv FROM embeddings),
k AS (SELECT greatest({_SEM_K}, count(*) // {_SEM_DOCS_PER_CLUSTER}) AS k FROM qz),
cdef AS (SELECT k, greatest(1, CAST(floor(sqrt(k)) AS BIGINT)) AS c FROM k),
cent AS (SELECT vec_id AS cid, qv AS cv FROM qz CROSS JOIN cdef WHERE vec_id < cdef.k),
coarse AS (SELECT vec_id AS gid, qv AS gv FROM qz CROSS JOIN cdef WHERE vec_id < cdef.c),
centcell AS (
  SELECT cid, gid, cv
  FROM (SELECT t.cid, g.gid, t.cv,
               row_number() OVER (PARTITION BY t.cid ORDER BY
                 CAST(list_sum(list_transform(range(1, len(t.cv) + 1),
                      i -> (t.cv[i] - g.gv[i]) * (t.cv[i] - g.gv[i]))) AS BIGINT), g.gid) AS rnk
        FROM cent t CROSS JOIN coarse g)
  WHERE rnk = 1
),
cells_used AS (SELECT g.gid, g.gv FROM coarse g WHERE g.gid IN (SELECT DISTINCT gid FROM centcell)),
veccell AS (
  SELECT vec_id, gid
  FROM (SELECT q.vec_id, g.gid,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
                      i -> (q.qv[i] - g.gv[i]) * (q.qv[i] - g.gv[i]))) AS BIGINT), g.gid) AS rnk
        FROM qz q CROSS JOIN cells_used g)
  WHERE rnk = 1
),
assign AS (
  SELECT vec_id, cid
  FROM (SELECT q.vec_id, t.cid,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
                      i -> (q.qv[i] - t.cv[i]) * (q.qv[i] - t.cv[i]))) AS BIGINT), t.cid) AS rnk
        FROM qz q JOIN veccell v ON v.vec_id = q.vec_id
        JOIN centcell t ON t.gid = v.gid)
  WHERE rnk = 1
),
norms AS (
  SELECT vec_id, CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2 FROM qz
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_DOT.format(a="qa.qv", b="qb.qv")} AS dot,
         na.n2 AS n2_a, nb.n2 AS n2_b
  FROM assign a
  JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN qz qa ON qa.vec_id = a.vec_id
  JOIN qz qb ON qb.vec_id = b.vec_id
  JOIN norms na ON na.vec_id = a.vec_id
  JOIN norms nb ON nb.vec_id = b.vec_id
),
dup AS (
  SELECT DISTINCT id_b AS vec_id
  FROM pairs
  WHERE dot > 0 AND 10000 * dot * dot >= {_SEM_THR2_E4} * n2_a * n2_b
)
SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster,
       CAST(d.vec_id IS NULL AS BOOLEAN) AS kept
FROM assign a LEFT JOIN dup d ON d.vec_id = a.vec_id
ORDER BY a.vec_id
""",
)
def q226_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate removal
    by clustering embeddings and comparing pairs ONLY within a
    cluster — the trick that makes embedding dedup feasible at
    corpus scale, because the quadratic term is bounded by cluster
    size, not corpus size.

    Assignment is TWO-LEVEL (the IVF coarse-quantizer trick): the
    first c = floor(sqrt(k)) centroids act as coarse cells; every
    fine centroid binds to its nearest coarse cell once (k*c integer
    ops, broadcast x broadcast), then each vector finds its coarse
    cell (N*c) and takes the squared-L2 argmin ONLY over that cell's
    ~sqrt(k) fine centroids (N*sqrt(k)). Every argmin is
    min(struct(d2, id)) — partially aggregable, map-side combined,
    deterministic tie-break on id — so total assignment work is
    O(N*sqrt(k)) = O(N^1.5/sqrt(64)). The first cut of this query
    assigned against ALL k broadcast centroids, which with k = N/64
    is O(N^2/64) — invisible at sf0.1, caught as a 16.8x ratio by
    the 10x scale stress (BENCH_SF1.json round 4), and exactly the
    class of bug that suite exists to catch. Vectors probe only
    cells that own >= 1 centroid, so no row can land in an empty
    cell regardless of duplicate-vector degeneracy in the data.

    k tracks the corpus (max(8, N/64)) so mean cluster size — and
    with it the quadratic within-cluster pair term — stays constant
    as the corpus grows: the within-cluster self-join emits ~N*64/2
    pairs at ANY scale. Dedup: integer cosine test
    (1e4*dot^2 >= thr*|a|^2*|b|^2, dot>0) avoids sqrt entirely; of
    any near-dup pair the lower vec_id is kept.

    At 100 TB: the cell->centroid map stays a broadcast (k rows);
    the pair join keys on cluster id so each task handles one
    cluster's block; oversized clusters get the q41 skew cap.

    Materialization: the multi-consumer frames are pinned — qz (5
    consumers), centcell (3), assign (2) and side (both sides of the
    pair join); unpinned, every consumer re-runs the whole quantize +
    argmin assignment pipeline. The pin is the local analog of the
    SemDeDup pipeline's assignment table write.
    """
    emb = load_table(spark, "embeddings", sf_dir)
    qz = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: F.round(x.cast("double") * 127, 0).cast("bigint")).alias("qv"),
    ).transform(pin)
    kval = qz.agg(
        F.greatest(F.lit(_SEM_K).cast("bigint"), F.floor(F.count(F.lit(1)) / _SEM_DOCS_PER_CLUSTER)).alias("k")
    ).select("k", F.greatest(F.lit(1), F.floor(F.sqrt("k"))).cast("bigint").alias("c"))
    cent = (
        qz.crossJoin(F.broadcast(kval))
        .filter(F.col("vec_id") < F.col("k"))
        .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"))
    )
    coarse = (
        qz.crossJoin(F.broadcast(kval))
        .filter(F.col("vec_id") < F.col("c"))
        .select(F.col("vec_id").alias("gid"), F.col("qv").alias("gv"))
    )

    def _d2(x: str, y: str):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    # fine centroid -> coarse cell (k x c, both broadcast-sized)
    centcell = (
        cent.crossJoin(F.broadcast(coarse))
        .select("cid", "gid", "cv", _d2("cv", "gv").alias("d2"))
        .groupBy("cid")
        .agg(F.min(F.struct("d2", "gid", "cv")).alias("m"))
        .select("cid", F.col("m.gid").alias("gid"), F.col("m.cv").alias("cv"))
        .transform(pin)  # k rows; consumed by cells_used + assign
    )
    # only cells that own centroids are probe targets (no empty-cell
    # strandings under duplicate-vector degeneracy)
    cells_used = coarse.join(centcell.select("gid").distinct(), "gid")
    # vector -> coarse cell (N x c)
    veccell = (
        qz.crossJoin(F.broadcast(cells_used))
        .select("vec_id", "gid", _d2("qv", "gv").alias("d2"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "gid")).alias("m"))
        .select("vec_id", F.col("m.gid").alias("gid"))
    )
    # vector -> fine centroid within its cell (N x ~sqrt(k))
    assign = (
        qz.join(veccell, "vec_id")
        .join(F.broadcast(centcell), "gid")
        .select("vec_id", "cid", _d2("qv", "cv").alias("d2"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid")).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cid"))
        .transform(pin)  # (vec_id, cid); consumed by side + final projection
    )
    n2 = F.aggregate(
        F.transform("qv", lambda x: x * x), F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    side = (
        qz.join(assign, "vec_id")
        .select("vec_id", "cid", "qv", n2.alias("n2"))
        .transform(pin)  # consumed by BOTH sides of the pair join
    )
    a = side.select(
        F.col("vec_id").alias("id_a"), "cid", F.col("qv").alias("qv_a"), F.col("n2").alias("n2_a")
    )
    b = side.select(
        F.col("vec_id").alias("id_b"), F.col("cid").alias("cid_b"), F.col("qv").alias("qv_b"), F.col("n2").alias("n2_b")
    )
    dot = F.aggregate(
        F.zip_with("qv_a", "qv_b", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    dup = (
        a.join(b, (a["cid"] == b["cid_b"]) & (a["id_a"] < b["id_b"]))
        .select("id_b", dot.alias("dot"), "n2_a", "n2_b")
        .filter((F.col("dot") > 0) & (10000 * F.col("dot") * F.col("dot") >= _SEM_THR2_E4 * F.col("n2_a") * F.col("n2_b")))
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        assign.join(dup, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cid").cast("bigint").alias("cluster"),
            F.col("is_dup").isNull().alias("kept"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# q227 — deterministic contrastive negative sampling
# ---------------------------------------------------------------------------

_NEG_K = 4


@register(
    "q227_negative_sampling",
    category="sampling",
    oracle=f"""
WITH anchors AS (
  SELECT doc_id AS qid, source,
         lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS pid
  FROM documents
),
pairs AS (SELECT qid, pid, source FROM anchors WHERE pid IS NOT NULL),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
draws AS (
  SELECT p.qid, p.pid, p.source, t.j,
         CAST(('0x' || substr(md5('0:' || CAST(p.qid AS VARCHAR) || ':' || CAST(t.j AS VARCHAR)), 1, 8)) AS BIGINT)
           % n.n_docs AS neg_id
  FROM pairs p
  CROSS JOIN unnest(range(1, {_NEG_K} + 1)) AS t(j)
  CROSS JOIN n
)
SELECT d.qid, d.pid, CAST(d.j AS BIGINT) AS j, d.neg_id,
       CAST(d.neg_id = d.qid OR d.neg_id = d.pid AS BOOLEAN) AS is_collision,
       CAST(nd.source = d.source AS BOOLEAN) AS is_hard
FROM draws d JOIN documents nd ON nd.doc_id = d.neg_id
ORDER BY d.qid, j
""",
)
def q227_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triple mining: (anchor, positive, k
    negatives) where the positive is the next same-source document
    and each negative is a HASH-drawn corpus row — md5(qid:j) mod N,
    a pure function of the anchor, so any shard of the output can be
    regenerated independently (the property "random" sampling loses
    the moment a task retries). Collisions with the anchor/positive
    are flagged, not silently redrawn (redraw loops are not
    shard-stable); hard negatives (same source as the anchor) are
    labeled for curriculum weighting.

    Scale shape: the positive comes from a per-source window (one
    shuffle, same key the corpus is naturally bucketed by); draws are
    a map-side k-fold expand; the only other cost is the join that
    fetches each negative's metadata, keyed by doc_id. Nothing is
    ever sampled via orderBy(rand()) — there is no global sort.
    """
    d = load_table(spark, "documents", sf_dir)
    anchors = d.select(
        F.col("doc_id").alias("qid"),
        "source",
        F.lead("doc_id").over(Window.partitionBy("source").orderBy("doc_id")).alias("pid"),
    ).filter(F.col("pid").isNotNull())
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    draws = (
        anchors.crossJoin(F.broadcast(n))
        .select(
            "qid", "pid", "source", "n_docs",
            F.explode(F.sequence(F.lit(1), F.lit(_NEG_K))).alias("j"),
        )
        .select(
            "qid", "pid", "source",
            F.col("j").cast("bigint").alias("j"),
            (word_hash32(F.concat_ws(":", F.col("qid"), F.col("j"))) % F.col("n_docs")).alias("neg_id"),
        )
    )
    meta = d.select(F.col("doc_id").alias("neg_id"), F.col("source").alias("neg_source"))
    return (
        draws.join(meta, "neg_id")
        .select(
            "qid", "pid", "j", "neg_id",
            ((F.col("neg_id") == F.col("qid")) | (F.col("neg_id") == F.col("pid"))).alias("is_collision"),
            (F.col("neg_source") == F.col("source")).alias("is_hard"),
        )
        .orderBy("qid", "j")
    )


# ---------------------------------------------------------------------------
# q228 — median/MAD robust anomaly gate per sensor stream
# ---------------------------------------------------------------------------

_MAD_SIGMA = "CAST(1.4826 AS DOUBLE)"  # MAD -> sigma consistency constant
_MAD_FENCE = "CAST(3 AS DOUBLE)"


@register(
    "q228_mad_anomaly_gate",
    category="quality",
    oracle=f"""
WITH cents AS (
  SELECT user_id, event_id, CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
med AS (
  SELECT user_id, quantile_cont(cents, 0.5) AS med
  FROM cents GROUP BY user_id
),
dev AS (
  SELECT c.user_id, c.event_id, c.cents, m.med,
         abs(CAST(c.cents AS DOUBLE) - m.med) AS adev
  FROM cents c JOIN med m USING (user_id)
),
mad AS (
  SELECT user_id, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY user_id
)
SELECT d.user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(any_value(d.med), 4) AS med,
       round(any_value(m.mad), 4) AS mad,
       CAST(sum(CASE WHEN d.adev > {_MAD_FENCE} * {_MAD_SIGMA} * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies
FROM dev d JOIN mad m USING (user_id)
GROUP BY d.user_id
ORDER BY d.user_id
""",
)
def q228_mad_anomaly_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-stream anomaly gate: median + MAD (median absolute
    deviation) fences instead of mean/stddev, so the fence itself is
    not dragged by the outliers it is meant to catch. The learned
    version of the reference's fixed per-reading guards
    (src/modules/dd/consumer.cpp:125-131 substitutes the 888.8
    sentinel for missing keys; :251-263 resets a stale display).

    Exactness: readings become integer cents; both medians are exact
    (`percentile`, not approx) over integers or integer-diff doubles,
    so every median is k or k+0.5 exactly and both engines agree
    bit-for-bit; the 3*1.4826*MAD fence multiplies identical doubles.
    Display columns round(4) per the repo's float-emission convention.

    Scale shape: two groupBy passes on the stream key (median, then
    MAD of deviations) and a final count — at 100 TB the exact
    median would swap for the repo's counting-based quantile
    (cardinality-bounded cents domain, plans/pipeline_v2.py) without
    changing this query's contract.
    """
    e = load_table(spark, "events", sf_dir)
    cents = e.select(
        "user_id", "event_id", F.round(F.col("value") * 100, 0).cast("bigint").alias("cents")
    )
    med = cents.groupBy("user_id").agg(F.expr("percentile(cents, 0.5)").alias("med"))
    # the deviation frame feeds BOTH the MAD aggregate and the final
    # gate — pinned, so the two-pass median shape scans events twice
    # (cents for med + dev build) instead of r5's four
    dev = (
        cents.join(med, "user_id")
        .select(
            "user_id",
            "event_id",
            "med",
            F.abs(F.col("cents").cast("double") - F.col("med")).alias("adev"),
        )
        .transform(pin)
    )
    mad = dev.groupBy("user_id").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    fence = F.expr(f"{_MAD_FENCE} * {_MAD_SIGMA} * mad")
    return (
        dev.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.first("med"), 4).alias("med"),
            F.round(F.first("mad"), 4).alias("mad"),
            F.sum(F.when(F.col("adev") > fence, 1).otherwise(0)).cast("bigint").alias("n_anomalies"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q229 — triangle counting on the part co-purchase graph
# ---------------------------------------------------------------------------

_TRI_MIN_W = 2  # keep edges co-occurring in >= 2 orders ("strong" edges)


@register(
    "q229_triangle_count",
    category="graph",
    oracle=f"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {_TRI_MIN_W}
),
tri AS (
  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
  FROM e e1
  JOIN e e2 ON e2.pa = e1.pb
  JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
),
total AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles_total FROM tri),
pernode AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
  GROUP BY node
),
ranked AS (
  SELECT node, n_triangles, row_number() OVER (ORDER BY n_triangles DESC, node) AS rnk
  FROM pernode
)
SELECT r.node AS part, r.n_triangles, t.n_triangles_total, CAST(r.rnk AS BIGINT) AS rank
FROM ranked r CROSS JOIN total t
WHERE r.rnk <= 10
ORDER BY rank
""",
)
def q229_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the part co-purchase graph (parts bought
    together in one order; edges kept when the pair co-occurs in >=
    {w} orders — the strong-edge floor). The graph-analytics primitive behind clustering
    coefficients and community pruning of near-dup clusters.

    Shape: co-occurrence edges come from the one-shuffle posting-list
    combinator keyed by order (operators/dedup._posting_pairs — never
    a row-level self-join of lineitem). Triangles close via
    DEGREE-ORDERED ORIENTATION (Chiba-Nishizeki / the standard
    distributed-triangle refinement): every strong edge is oriented
    from its lower-(degree, id) endpoint toward the higher one, the
    wedge join pairs two out-edges of the same source with the
    destinations (deg, id)-ordered, and the closing join probes the
    oriented edge between the two destinations. Under the total order
    each triangle {x ≺ y ≺ z} is emitted exactly once (wedge at x,
    closure y→z), and every node's OUT-degree is O(sqrt(m)) no matter
    how large its raw degree — a hub of degree d contributes
    d-choose-2 wedges under naive id-ordering but only
    out-deg-choose-2 here, which is what makes the wedge join
    skew-proof at 100 TB. The co-occurrence-count floor additionally
    thins the graph to signal edges before any join runs.

    Reference basis: none (the reference has no graph layer); this is
    part of the warehouse-analytics superset, like q216's PageRank.
    """
    li = load_table(spark, "lineitem", sf_dir)
    # collect_set fuses the per-order part dedup INTO the posting-list
    # groupBy — one shuffle where distinct() + _posting_pairs would
    # spend two on the same 600k-row relation (measured 6.8s -> 4.4s
    # cold at sf0.1). The combos expression is _posting_pairs's.
    posts = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ids")
    ).filter(F.size("ids") >= 2)
    combos = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    # The strong-edge list is a LOOP INVARIANT consumed three times
    # (degree count x2 via the endpoint union, plus the orientation
    # join); without pinning, every consumer re-executes the whole
    # posting-pairs pipeline above — measured as ~30 base-table
    # re-reads in the executed plan and a 2.3s -> 10-20s blowup when
    # the base tables are cached (InMemoryTableScan pays full
    # decompression per re-read; the parquet path hid the waste behind
    # pushdown + the OS page cache). Eager pin, same rationale as
    # operators/prefix.py: a lost block fails loud instead of silently
    # recomputing.
    e = (
        posts.select(F.explode(combos).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _TRI_MIN_W)
        .select("pa", "pb")
        .transform(pin)
    )
    # --- degree-ordered orientation -------------------------------------
    # degree over the strong-edge graph (each undirected edge counts
    # once per endpoint), then orient src -> dst toward the
    # higher-(deg, id) endpoint. dst_deg rides along so the wedge join
    # can order the two destinations by the SAME total order without a
    # third lookup.
    deg = (
        e.select(F.col("pa").alias("node"))
        .unionAll(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ed = (
        e.join(deg.select(F.col("node").alias("pa"), F.col("deg").alias("dega")), "pa")
        .join(deg.select(F.col("node").alias("pb"), F.col("deg").alias("degb")), "pb")
    )
    pa_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("pa") < F.col("pb"))
    )
    # oriented edges feed three consumers (both wedge sides + the
    # closing probe) — pin them too, or each consumer re-runs the two
    # degree joins
    o = ed.select(
        F.when(pa_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(pa_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        F.when(pa_first, F.col("degb")).otherwise(F.col("dega")).alias("dst_deg"),
    ).transform(pin)
    # wedges: two out-edges of one source, destinations (deg, id)-ordered
    o1 = o.select(F.col("src").alias("a"), F.col("dst").alias("b"), F.col("dst_deg").alias("b_deg"))
    o2 = o.select(F.col("src").alias("a2"), F.col("dst").alias("c"), F.col("dst_deg").alias("c_deg"))
    wedges = o1.join(
        o2,
        (o1["a"] == o2["a2"])
        & ((o1["b_deg"] < o2["c_deg"]) | ((o1["b_deg"] == o2["c_deg"]) & (o1["b"] < o2["c"]))),
    ).select("a", "b", "c")
    # closure: the oriented edge b -> c must exist (b ≺ c by construction)
    closing = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    total = tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles_total"))
    pernode = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    top = (
        pernode.orderBy(F.col("n_triangles").desc(), "node")
        .limit(10)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.col("n_triangles").desc(), "node")).cast("bigint"),
        )
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(F.col("node").alias("part"), "n_triangles", "n_triangles_total", "rank")
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# q230 — Simpson-diversity repetition gate (log-free "entropy")
# ---------------------------------------------------------------------------

_SIMPSON_FLOOR = 940_000_000  # keep docs with diversity >= 0.94 (1e9 fixed-point)


@register(
    "q230_simpson_diversity_gate",
    category="quality",
    oracle=f"""
WITH t AS (
  SELECT doc_id, unnest({_DUCK_WORDS}) AS tok FROM documents
),
c1 AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
d AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(c * c) AS BIGINT) AS sum_sq
  FROM c1 GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       CAST(floor(CAST(1000000000 AS DOUBLE) *
            (CAST(n_tokens * n_tokens - sum_sq AS DOUBLE) / CAST(n_tokens * n_tokens AS DOUBLE))
       ) AS BIGINT) AS diversity_fp,
       CAST(floor(CAST(1000000000 AS DOUBLE) *
            (CAST(n_tokens * n_tokens - sum_sq AS DOUBLE) / CAST(n_tokens * n_tokens AS DOUBLE))
       ) AS BIGINT) >= {_SIMPSON_FLOOR} AS keep
FROM d
ORDER BY doc_id
""",
)
def q230_simpson_diversity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-diversity quality gate via the Simpson index
    1 - sum(p_i^2) — the log-free stand-in for Shannon entropy, so the
    whole gate is rational arithmetic: the numerator n^2 - sum(c_i^2)
    and denominator n^2 are exact integers, one IEEE division +
    floor(1e9 ...) fixed-points it identically in both engines. Low
    diversity = token-stuffed/repetitive document (the famous failure
    mode exact dedup misses because each spammy doc is unique).

    Shape: one tokenize scan -> per-(doc, token) counts -> per-doc
    integer moments; everything keys on doc_id, no broadcast needed,
    no window. Complements q107 (verbatim n-gram repetition) and
    q225 (bigram fluency): q107 catches phrase loops, q225 catches
    ungrammatical noise, this catches low-vocabulary stuffing.
    """
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
    c1 = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    agg = c1.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_sq"),
    )
    div_fp = F.expr(
        "CAST(floor(CAST(1000000000 AS DOUBLE) * "
        "(CAST(n_tokens * n_tokens - sum_sq AS DOUBLE) / CAST(n_tokens * n_tokens AS DOUBLE))) AS BIGINT)"
    )
    return (
        agg.select("doc_id", "n_tokens", div_fp.alias("diversity_fp"))
        .withColumn("keep", F.col("diversity_fp") >= _SIMPSON_FLOOR)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q231 — Gopher-style rule gate (all-integer rule algebra)
# ---------------------------------------------------------------------------

_GOPHER_STOP = "('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'is', 'it')"


@register(
    "q231_gopher_rules_gate",
    category="quality",
    oracle=f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS a, text FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(a) AS BIGINT) AS n_tokens,
         CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
         CAST(len(list_filter(a, x -> x IN {_GOPHER_STOP})) AS BIGINT) AS n_stop,
         CAST(len(list_filter(a, x -> regexp_full_match(x, '[A-Za-z]+'))) AS BIGINT) AS n_alpha
  FROM w
)
SELECT doc_id,
       n_tokens >= 20 AND n_tokens <= 1000 AS rule_len,
       n_chars >= 3 * n_tokens AND n_chars <= 10 * n_tokens AS rule_wordlen,
       n_stop >= 2 AS rule_stopwords,
       5 * n_alpha >= 4 * n_tokens AS rule_alpha,
       (n_tokens >= 20 AND n_tokens <= 1000)
         AND (n_chars >= 3 * n_tokens AND n_chars <= 10 * n_tokens)
         AND n_stop >= 2
         AND 5 * n_alpha >= 4 * n_tokens AS keep
FROM m
ORDER BY doc_id
""",
)
def q231_gopher_rules_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style heuristic rule gate (Rae et al. 2021 §A1.1, the
    public rule family every big English corpus pipeline reuses):
    document length in [20, 1000] tokens, mean word length in [3, 10]
    chars, >= 2 stopwords, >= 80% alphabetic tokens. Every rule is
    stated as INTEGER algebra (3*n <= chars <= 10*n instead of a
    float mean; 5*alpha >= 4*n instead of a 0.8 ratio), so the gate
    has no float anywhere and is trivially partitioning-invariant.

    Shape: one map-side pass — per-doc counters come from Catalyst
    higher-order functions on the token array (functions/text.py
    style), no shuffle at all except the presentation sort. At 100 TB
    this is the cheapest gate in the pipeline and runs first; per-rule
    booleans are emitted (not just the conjunction) because curation
    tuning needs the per-rule rejection rates (q174's funnel reads
    them).
    """
    d = load_table(spark, "documents", sf_dir)
    words = tokenize(F.col("text"))
    sw = F.array(*[F.lit(s) for s in ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")])
    m = d.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_tokens"),
        F.length(F.regexp_replace("text", " ", "")).cast("bigint").alias("n_chars"),
        F.size(F.filter(words, lambda w: F.array_contains(sw, w))).cast("bigint").alias("n_stop"),
        F.size(F.filter(words, lambda w: w.rlike("^[A-Za-z]+$"))).cast("bigint").alias("n_alpha"),
    )
    rule_len = (F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 1000)
    rule_wordlen = (F.col("n_chars") >= 3 * F.col("n_tokens")) & (
        F.col("n_chars") <= 10 * F.col("n_tokens")
    )
    rule_stop = F.col("n_stop") >= 2
    rule_alpha = 5 * F.col("n_alpha") >= 4 * F.col("n_tokens")
    return m.select(
        "doc_id",
        rule_len.alias("rule_len"),
        rule_wordlen.alias("rule_wordlen"),
        rule_stop.alias("rule_stopwords"),
        rule_alpha.alias("rule_alpha"),
        (rule_len & rule_wordlen & rule_stop & rule_alpha).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q232 — sparse TF-IDF pairwise cosine (posting-keyed, stop-term capped)
# ---------------------------------------------------------------------------

_TFIDF_MAX_DF_PCT = 20  # terms in more than 20% of docs are stop-terms: skipped
_TFIDF_MAX_DF_ABS = 100  # absolute posting cap: bounds pairs/term at ANY corpus size
_TFIDF_THR2_E4 = 2500  # cos >= 0.5  <=>  1e4*dot^2 >= 2500*|a|^2*|b|^2

_IDF_FP = (
    # scale 10, not 1000: wt = tf*idf_fp enters dot^2, and the
    # threshold algebra multiplies 1e4 * dot^2 — headroom math:
    # wt <~ 2e3, dot <~ 1e7, 1e4*dot^2 <~ 1e18 < int64 max.
    "CAST(floor(CAST(10 AS DOUBLE) * "
    "((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) / "
    "(CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))) AS BIGINT)"
)


@register(
    "q232_tfidf_cosine_pairs",
    category="similarity",
    oracle=f"""
WITH toks AS (SELECT doc_id, unnest({_DUCK_WORDS}) AS token FROM documents),
n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM toks),
df AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY token),
rare AS (
  SELECT token, {_IDF_FP} AS idf_fp
  FROM df CROSS JOIN n
  WHERE 100 * df <= {_TFIDF_MAX_DF_PCT} * n_docs AND df <= {_TFIDF_MAX_DF_ABS}
),
w AS (
  SELECT t.doc_id, t.token, CAST(count(*) AS BIGINT) * r.idf_fp AS wt
  FROM toks t JOIN rare r USING (token)
  GROUP BY t.doc_id, t.token, r.idf_fp
),
norms AS (SELECT doc_id, CAST(sum(wt * wt) AS BIGINT) AS n2 FROM w GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(sum(a.wt * b.wt) AS BIGINT) AS dot
  FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d.id_a, d.id_b, d.dot, na.n2 AS n2_a, nb.n2 AS n2_b
FROM dots d
JOIN norms na ON na.doc_id = d.id_a
JOIN norms nb ON nb.doc_id = d.id_b
WHERE d.dot > 0 AND 10000 * d.dot * d.dot >= {_TFIDF_THR2_E4} * na.n2 * nb.n2
ORDER BY id_a, id_b
""",
)
def q232_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity pairs — the lexical twin of
    q50's dense-embedding near-dup: documents sharing RARE vocabulary
    score high even when their token sets differ enough to beat
    Jaccard. Weights are integer (tf * 1e3-fixed-point rational idf),
    dot products and norms are integer sums, and the cosine threshold
    is the sqrt-free algebra of q226 (1e4*dot^2 >= thr*|a|^2*|b|^2) —
    bit-exact end to end.

    Scale shape: the pair space is generated ONLY through shared-term
    posting lists (one shuffle keyed by term), bounded by TWO caps:
    the relative stop-term cap (df > 20% of corpus) AND an ABSOLUTE
    posting cap (df <= 100). The percentage rule alone is a scale
    bug the 10x-replica sweep caught red-handed: a 19%-df term's
    posting list grows linearly with the corpus, its pair space
    quadratically — at the sf1 replica the result exceeded
    spark.driver.maxResultSize. The absolute cap bounds pairs/term at
    any corpus size (rare-term blocking, the q41 skew cap restated
    for weighted vectors); at sf0.001/sf0.01 it is non-binding, so
    the oracle gate is unchanged. Norms ride broadcast-able
    doc-keyed joins.
    """
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("token"))
    n = toks.agg(F.count_distinct("doc_id").cast("bigint").alias("n_docs"))
    df = toks.groupBy("token").agg(F.count_distinct("doc_id").cast("bigint").alias("df"))
    rare = (
        df.crossJoin(F.broadcast(n))
        .filter(
            (100 * F.col("df") <= _TFIDF_MAX_DF_PCT * F.col("n_docs"))
            & (F.col("df") <= _TFIDF_MAX_DF_ABS)
        )
        .select("token", F.expr(_IDF_FP).alias("idf_fp"))
    )
    w = (
        toks.join(F.broadcast(rare), "token")
        .groupBy("doc_id", "token", "idf_fp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .select("doc_id", "token", (F.col("tf") * F.col("idf_fp")).alias("wt"))
    )
    # w (rare-term weighted postings, bounded by the df caps) feeds the
    # norms AND both posting-join sides — unpinned, each consumer re-ran
    # the scan+explode+joins (12 documents scans, round-5 plan_audit)
    w = w.transform(pin)
    norms = w.groupBy("doc_id").agg(F.sum(F.col("wt") * F.col("wt")).cast("bigint").alias("n2"))
    wa = w.select(F.col("doc_id").alias("id_a"), "token", F.col("wt").alias("wt_a"))
    wb = w.select(F.col("doc_id").alias("id_b"), F.col("token").alias("token_b"), F.col("wt").alias("wt_b"))
    dots = (
        wa.join(wb, (wa["token"] == wb["token_b"]) & (wa["id_a"] < wb["id_b"]))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wt_a") * F.col("wt_b")).cast("bigint").alias("dot"))
    )
    return (
        dots.join(norms.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("n2_a")), "id_a")
        .join(norms.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("n2_b")), "id_b")
        .filter(
            (F.col("dot") > 0)
            & (10000 * F.col("dot") * F.col("dot") >= _TFIDF_THR2_E4 * F.col("n2_a") * F.col("n2_b"))
        )
        .select("id_a", "id_b", "dot", "n2_a", "n2_b")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# q234 — per-domain quota sampling (hash-ranked, shard-stable)
# ---------------------------------------------------------------------------

_QUOTA_K = 10


@register(
    "q234_domain_quota_sample",
    category="sampling",
    oracle=f"""
WITH h AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5('0:q234:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
  FROM documents
),
r AS (
  SELECT doc_id, source, hv,
         row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rnk
  FROM h
)
SELECT doc_id, source, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= {_QUOTA_K}
ORDER BY source, rnk
""",
)
def q234_domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling — cap every source domain at K
    documents, chosen by HASH rank (md5 of the doc id under a query
    salt), not by rand(): the selection is a pure function of the
    row, so shard retries, incremental re-runs, and cross-engine
    replays all pick the identical sample (the q227 shard-stability
    argument, applied to the "don't let one crawl domain dominate the
    mixture" step every corpus pipeline runs).

    Shape: one shuffle on the domain key, a keyed window (never
    global), and the top-K filter — at 100 TB the window input is
    bounded per domain, and a domain too large for one task would move
    to the q192-sketch + threshold form of the same selection.
    """
    d = load_table(spark, "documents", sf_dir)
    h = d.select(
        "doc_id",
        "source",
        word_hash32(F.concat(F.lit("q234:"), F.col("doc_id"))).alias("hv"),
    )
    w = Window.partitionBy("source").orderBy("hv", "doc_id")
    return (
        h.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= _QUOTA_K)
        .select("doc_id", "source", "rnk")
        .orderBy("source", "rnk")
    )


# ---------------------------------------------------------------------------
# q235 — exact equi-depth histogram via distributed prefix scan
# ---------------------------------------------------------------------------

_EQD_BUCKETS = 16


@register(
    "q235_equidepth_histogram",
    category="aggregation",
    oracle=f"""
WITH cents AS (
  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v FROM lineitem
),
vc AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM cents GROUP BY v),
cum AS (
  SELECT v, cnt,
         CAST(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS BIGINT)
           AS cum_before,
         CAST(sum(cnt) OVER () AS BIGINT) AS n_total
  FROM vc
),
b AS (
  SELECT least({_EQD_BUCKETS} - 1, cum_before * {_EQD_BUCKETS} // n_total) AS bucket, v, cnt
  FROM cum
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(min(v) AS BIGINT) AS lo_cents,
       CAST(max(v) AS BIGINT) AS hi_cents,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct
FROM b GROUP BY bucket ORDER BY bucket
""",
)
def q235_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth (equi-height) histogram of the price column —
    the optimizer/profiling statistic — with bucket boundaries from
    EXACT ranks, not approx_percentile: each distinct value's
    exclusive cumulative count assigns it bucket
    floor(cum_before * B / N), so equal values always share a bucket
    and bucket populations are as equal as ties allow.

    Scale shape: the rank computation is the repo's two-pass
    distributed prefix scan (operators/prefix.py — range partition,
    intra-partition window, O(numPartitions) offset combine), never a
    single-partition global window; everything else is a groupBy on
    the bounded distinct-value domain. The DuckDB oracle uses the
    plain global window the scan replaces — agreement IS the proof
    the scan equals the single-partition semantics.
    """
    from sensor_data_pipeline_spark.operators.prefix import global_running_sum

    li = load_table(spark, "lineitem", sf_dir)
    # pin the distinct-value (REDUCED) frame: it feeds both the prefix
    # scan and the grand total, each of which would otherwise re-run
    # the full-column groupBy. Lazy: the scan's offsets job reads every
    # partition, the total reads the filled blocks.
    vc = (
        li.select(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .transform(pin, lazy=True)
    )
    cum = global_running_sum(vc, "v", "cnt", out_col="running")
    total = vc.agg(F.sum("cnt").cast("bigint").alias("n_total"))
    b = (
        cum.crossJoin(F.broadcast(total))
        .select(
            "v",
            "cnt",
            # integer DIV, not floor(double /): exact past 2^53 rows
            F.least(
                F.lit(_EQD_BUCKETS - 1).cast("bigint"),
                F.expr(f"(running - cnt) * {_EQD_BUCKETS} DIV n_total"),
            ).cast("bigint").alias("bucket"),
        )
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.min("v").cast("bigint").alias("lo_cents"),
            F.max("v").cast("bigint").alias("hi_cents"),
            F.sum("cnt").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q236 — exact duplicate-span detection (k-gram posting lists + islands)
# ---------------------------------------------------------------------------

_SPAN_K = 8  # span window, tokens


@register(
    "q236_span_dedup_audit",
    category="dedup",
    oracle=f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS a FROM documents),
g AS (
  SELECT doc_id, i AS pos,
         list_aggregate(a[i:i + {_SPAN_K} - 1], 'string_agg', ' ') AS gram
  FROM w CROSS JOIN unnest(range(1, len(a) - {_SPAN_K} + 2)) AS t(i)
),
shared AS (
  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
),
hits AS (SELECT g.doc_id, g.pos FROM g JOIN shared USING (gram)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(max(pos + {_SPAN_K} - 1) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island
  FROM hits
),
lab AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, island,
         min(pos) AS s, max(pos) + {_SPAN_K} - 1 AS e
  FROM lab GROUP BY doc_id, island
),
cov AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_dup_spans,
         CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
  FROM spans GROUP BY doc_id
),
base AS (SELECT doc_id, CAST(len(a) AS BIGINT) AS n_tokens FROM w)
SELECT b.doc_id, b.n_tokens,
       coalesce(c.n_dup_spans, 0) AS n_dup_spans,
       coalesce(c.dup_tokens, 0) AS dup_tokens,
       coalesce(c.dup_tokens, 0) * 2 >= b.n_tokens AS flagged
FROM base b LEFT JOIN cov c USING (doc_id)
ORDER BY b.doc_id
""",
)
def q236_span_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-SPAN detection — the substring-level dedup of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"), which catches boilerplate shared between
    otherwise-distinct documents that whole-doc dedup (q40) and
    set-similarity dedup (q41/q42) both miss. A span is any k-token
    window occurring in >= 2 distinct documents; per document,
    overlapping duplicated windows are merged into maximal islands
    (running-max interval union) and the audit reports span count,
    duplicated-token coverage, and a >=50%-duplicated flag.

    Scale shape: the k-gram table is built with arrays_zip over k
    shifted slices (k references to the token array — constant per
    doc, never the O(len^2) inlined-split trap), the shared-gram set
    is one groupBy on the gram key, and the island merge is a window
    partitioned BY DOCUMENT (bounded by doc length). The reference
    algorithm's suffix array is inherently sequential; k-gram posting
    lists are its standard distributed surrogate. At 100 TB grams
    would carry a 64-bit hash instead of the string (q44's
    fingerprint), cutting shuffle bytes ~5x.
    """
    # the fixture table is one parquet file -> ONE input partition, and
    # the k-gram build (tokenize + 8-way zip + hash per window) is the
    # most expensive per-row map in the suite — spread it across the
    # cluster before exploding. On a real lake the scan already has
    # file-level parallelism and this repartition collapses to a no-op
    # choice; the 2 MB doc shuffle is noise next to the map it unlocks.
    d = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # untrimmed, matching the oracle's regexp_split_to_array(text, ...):
    # one tokenization per query, so token counts/positions can't
    # desynchronize on edge whitespace (round-3 ADVICE).
    w = tokenize(F.col("text"))
    zips = ", ".join(f"slice(a, {j + 1}, size(a) - {_SPAN_K - 1})" for j in range(_SPAN_K))
    base = d.select("doc_id", w.alias("a")).select(
        "doc_id", F.size("a").cast("bigint").alias("n_tokens"), F.expr(f"arrays_zip({zips})").alias("z")
    )
    # shuffle a 64-bit hash of the k-token window struct, not the
    # ~50-byte gram string (the df groupBy and the membership join
    # both key on it — measured 4.9s -> ~2.5s warm at sf0.1). A
    # 64-bit collision would need ~2^32 distinct grams to be likely;
    # if one ever fired, the differential oracle (which compares by
    # the actual strings) would catch the false span.
    # pin the hashed-window table (the Lee et al. "fingerprint table
    # once" step): the shared-gram census and the membership join both
    # read it, and its tokenize + zip + xxhash build is the costliest
    # map in the suite. Lazy static build: it fills inside the one
    # final action (A/B 3.10s -> 2.57s against an AQE build).
    g = base.select(
        "doc_id", F.posexplode("z").alias("pos0", "p")
    ).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), F.xxhash64("p").alias("gh")
    ).transform(pin, lazy=True, adaptive=False)
    shared = g.groupBy("gh").agg(F.count_distinct("doc_id").alias("dfc")).filter(F.col("dfc") >= 2).select("gh")
    hits = g.join(shared, "gh").select("doc_id", "pos")
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + _SPAN_K - 1).over(wdoc.rowsBetween(Window.unboundedPreceding, -1))
    lab = (
        hits.withColumn("new_island", (F.col("pos") > F.coalesce(prev_end, F.lit(-1))).cast("int"))
        .withColumn("island", F.sum("new_island").over(wdoc.rowsBetween(Window.unboundedPreceding, 0)))
    )
    spans = lab.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + _SPAN_K - 1).alias("e")
    )
    cov = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("dup_tokens"),
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            (F.coalesce("dup_tokens", F.lit(0)) * 2 >= F.col("n_tokens")).alias("flagged"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q237 — exact correlation-moment matrix (profiling, one pass)
# ---------------------------------------------------------------------------

_CORR_COLS = ["qty", "price", "disc", "tax"]


@register(
    "q237_correlation_moments",
    category="profile",
    oracle="""
WITH m AS (
  SELECT CAST(round(l_quantity, 0) AS BIGINT) AS qty,
         CAST(round(l_extendedprice, 0) AS BIGINT) AS price,
         CAST(round(l_discount * 100, 0) AS BIGINT) AS disc,
         CAST(round(l_tax * 100, 0) AS BIGINT) AS tax
  FROM lineitem
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(qty) AS BIGINT) AS s_qty, CAST(sum(price) AS BIGINT) AS s_price,
         CAST(sum(disc) AS BIGINT) AS s_disc, CAST(sum(tax) AS BIGINT) AS s_tax,
         CAST(sum(qty * price) AS BIGINT) AS s_qty_price,
         CAST(sum(qty * disc) AS BIGINT) AS s_qty_disc,
         CAST(sum(qty * tax) AS BIGINT) AS s_qty_tax,
         CAST(sum(price * disc) AS BIGINT) AS s_price_disc,
         CAST(sum(price * tax) AS BIGINT) AS s_price_tax,
         CAST(sum(disc * tax) AS BIGINT) AS s_disc_tax
  FROM m
)
SELECT t.col_x, t.col_y, a.n,
       CASE t.col_x WHEN 'qty' THEN a.s_qty WHEN 'price' THEN a.s_price WHEN 'disc' THEN a.s_disc ELSE a.s_tax END AS sum_x,
       CASE t.col_y WHEN 'price' THEN a.s_price WHEN 'disc' THEN a.s_disc ELSE a.s_tax END AS sum_y,
       CASE t.col_x || '|' || t.col_y
         WHEN 'qty|price' THEN a.s_qty_price WHEN 'qty|disc' THEN a.s_qty_disc
         WHEN 'qty|tax' THEN a.s_qty_tax WHEN 'price|disc' THEN a.s_price_disc
         WHEN 'price|tax' THEN a.s_price_tax ELSE a.s_disc_tax END AS sum_xy,
       CAST(CAST(a.n AS HUGEINT) * (CASE t.col_x || '|' || t.col_y
         WHEN 'qty|price' THEN a.s_qty_price WHEN 'qty|disc' THEN a.s_qty_disc
         WHEN 'qty|tax' THEN a.s_qty_tax WHEN 'price|disc' THEN a.s_price_disc
         WHEN 'price|tax' THEN a.s_price_tax ELSE a.s_disc_tax END)
       - CAST(CASE t.col_x WHEN 'qty' THEN a.s_qty WHEN 'price' THEN a.s_price WHEN 'disc' THEN a.s_disc ELSE a.s_tax END AS HUGEINT)
         * (CASE t.col_y WHEN 'price' THEN a.s_price WHEN 'disc' THEN a.s_disc ELSE a.s_tax END)
         AS VARCHAR) AS cov_num
FROM (VALUES ('qty','price'),('qty','disc'),('qty','tax'),
             ('price','disc'),('price','tax'),('disc','tax')) AS t(col_x, col_y)
CROSS JOIN agg a
ORDER BY col_x, col_y
""",
)
def q237_correlation_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlation-moment matrix over the numeric measure
    columns — the profiling statistic behind a feature-correlation
    heatmap, emitted as EXACT integer moments (n, sum_x, sum_y,
    sum_xy, and the covariance numerator n*sum_xy - sum_x*sum_y)
    instead of the float Pearson r: the caller divides by the sqrt
    term; the engine's contract is the moments, which no aggregation
    order can perturb. built-in corr() is float partial-aggregation
    (Welford merge order changes low bits); this is the deterministic
    replacement.

    Scale shape: ONE scan computes all 10 sums (Catalyst evaluates
    the 6 pairwise products map-side, partial aggregation combines
    per-partition moments — the classic one-pass moment matrix); the
    pair expansion joins a 6-row literal frame against the broadcast
    1-row aggregate. Integer headroom: rounded price (~1e5) squared
    times 1e9 rows nears int64 — the 100 TB variant moves the sums to
    DECIMAL(38,0) (q99's exact-decimal path) with the same shape.

    Round-3 bench flagged 7.2 s for this query; solo warm re-measure
    (the q118 wobble protocol, commit 947630e) reads 0.97-1.25 s over
    four runs at sf0.1/local[32] — the 7.2 s was suite-level run
    wobble (GC pause / CPU steal on a shared host), not a plan cost.
    """
    li = load_table(spark, "lineitem", sf_dir)
    m = li.select(
        F.round("l_quantity", 0).cast("bigint").alias("qty"),
        F.round("l_extendedprice", 0).cast("bigint").alias("price"),
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("disc"),
        F.round(F.col("l_tax") * 100, 0).cast("bigint").alias("tax"),
    )
    sums = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for c in _CORR_COLS:
        sums.append(F.sum(c).cast("bigint").alias(f"s_{c}"))
    pairs = [
        (a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1 :]
    ]
    for a, b in pairs:
        sums.append(F.sum(F.col(a) * F.col(b)).cast("bigint").alias(f"s_{a}_{b}"))
    agg = m.agg(*sums)
    pair_lits = F.array(
        *[F.struct(F.lit(a).alias("col_x"), F.lit(b).alias("col_y")) for a, b in pairs]
    )
    long = agg.select(F.explode(pair_lits).alias("p"), "*")
    sum_of = lambda side: F.coalesce(  # noqa: E731
        *[
            F.when(F.col(f"p.{side}") == c, F.col(f"s_{c}"))
            for c in _CORR_COLS
        ]
    )
    sum_xy = F.coalesce(
        *[
            F.when(
                (F.col("p.col_x") == a) & (F.col("p.col_y") == b), F.col(f"s_{a}_{b}")
            )
            for a, b in pairs
        ]
    )
    # cov_num = n*sum_xy - sum_x*sum_y exceeds int64 one decade above
    # sf0.1 (6M rows: n*sum_xy ~ 2e20 — caught by the 10x stress run,
    # BENCH_SF1.json), so the product is computed in DECIMAL(38,0) on
    # both engines but EMITTED AS A STRING: round-4 driver verification
    # proved scale-0 decimal outputs hash differently across engines
    # (a float64 render path drops bits above 2^53 — VERDICT r4 §wrong
    # 1-3), so >2^53 exact integers must leave the engine as digits,
    # never as decimal128. The raw moments stay BIGINT.
    dec = "decimal(38,0)"
    return long.select(
        F.col("p.col_x").alias("col_x"),
        F.col("p.col_y").alias("col_y"),
        "n",
        sum_of("col_x").alias("sum_x"),
        sum_of("col_y").alias("sum_y"),
        sum_xy.alias("sum_xy"),
        (
            F.col("n").cast(dec) * sum_xy.cast(dec)
            - sum_of("col_x").cast(dec) * sum_of("col_y").cast(dec)
        ).cast(dec).cast("string").alias("cov_num"),
    ).orderBy("col_x", "col_y")


# ---------------------------------------------------------------------------
# q238 — retrieval evaluation: ANN rank-of-truth + hit@k (all integer)
# ---------------------------------------------------------------------------

_EVAL_NQ = 10  # queries = vec_id < 10
_EVAL_BITS = 16  # axis-parallel sign bucket over the first 16 dims
_EVAL_AT = 10


@register(
    "q238_ann_eval_metrics",
    category="similarity",
    oracle=f"""
WITH qz AS (SELECT vec_id, {_QUANT} AS qv FROM embeddings),
sig AS (
  SELECT vec_id, qv,
         list_aggregate(list_transform(range(1, {_EVAL_BITS} + 1),
             i -> CASE WHEN qv[i] >= 0 THEN '1' ELSE '0' END), 'string_agg', '') AS bucket
  FROM qz
),
qry AS (SELECT vec_id AS qid, qv AS qvec, bucket AS qbucket FROM sig WHERE vec_id < {_EVAL_NQ}),
scored AS (
  SELECT q.qid, s.vec_id AS cid, s.bucket, q.qbucket,
         {_DOT.format(a="q.qvec", b="s.qv")} AS qdot
  FROM qry q JOIN sig s ON s.vec_id <> q.qid
),
exact AS (
  SELECT qid, cid AS exact_top1
  FROM (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, cid) AS rnk FROM scored)
  WHERE rnk = 1
),
cand AS (
  SELECT qid, cid,
         row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, cid) AS ann_rank
  FROM scored WHERE bucket = qbucket
),
nc AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_candidates FROM cand GROUP BY qid)
SELECT e.qid, e.exact_top1,
       CAST(coalesce(c.ann_rank, 0) AS BIGINT) AS ann_rank,
       coalesce(c.ann_rank, 0) BETWEEN 1 AND {_EVAL_AT} AS hit_at_k,
       coalesce(n.n_candidates, 0) AS n_candidates
FROM exact e
LEFT JOIN cand c ON c.qid = e.qid AND c.cid = e.exact_top1
LEFT JOIN nc n ON n.qid = e.qid
ORDER BY e.qid
""",
)
def q238_ann_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-eval harness for the ANN stack: for each query, where
    does the TRUE top-1 neighbor (by exact quantized dot product) land
    in the LSH-bucketed candidate ranking? Emits rank-of-truth (0 =
    candidate set missed it), hit@k, and candidate-set size — the
    integer sufficient statistics behind recall@k / MRR curves, so the
    eval itself is bit-deterministic (the q93/q150 audit pattern
    extended from set-recall to rank-aware metrics).

    The bucket key is axis-parallel sign-LSH (sign of the first 16
    quantized dims) — deterministic, oracle-portable, and the same
    family as q49's hyperplane buckets. Scale shape: queries ride a
    broadcast; exact scoring is the map-only brute-force scan (the
    eval HAS to touch everything once — that is what makes it exact);
    candidate ranking keys on (query, bucket) with per-query windows
    over candidate-sized input.
    """
    emb = load_table(spark, "embeddings", sf_dir)
    qz = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: F.round(x.cast("double") * 127, 0).cast("bigint")).alias("qv"),
    )
    sig = qz.select(
        "vec_id",
        "qv",
        F.expr(
            f"concat_ws('', transform(slice(qv, 1, {_EVAL_BITS}),"
            " x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END))"
        ).alias("bucket"),
    )
    qry = sig.filter(F.col("vec_id") < _EVAL_NQ).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("qvec"), F.col("bucket").alias("qbucket")
    )
    dot = F.aggregate(
        F.zip_with("qvec", "qv", lambda a, b: a * b), F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    scored = (
        sig.crossJoin(F.broadcast(qry))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cid"), "bucket", "qbucket", dot.alias("qdot"))
    )
    wq = Window.partitionBy("qid").orderBy(F.col("qdot").desc(), "cid")
    exact = (
        scored.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") == 1)
        .select("qid", F.col("cid").alias("exact_top1"))
    )
    cand = (
        scored.filter(F.col("bucket") == F.col("qbucket"))
        .withColumn("ann_rank", F.row_number().over(wq))
        .select("qid", "cid", "ann_rank")
    )
    nc = cand.groupBy("qid").agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    return (
        exact.join(
            cand.select("qid", F.col("cid").alias("exact_top1"), "ann_rank"),
            ["qid", "exact_top1"],
            "left",
        )
        .join(nc, "qid", "left")
        .select(
            "qid",
            "exact_top1",
            F.coalesce("ann_rank", F.lit(0)).cast("bigint").alias("ann_rank"),
            F.coalesce("ann_rank", F.lit(0)).between(1, _EVAL_AT).alias("hit_at_k"),
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias("n_candidates"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# q239 — temperature-flattened mixture allocation (largest remainder)
# ---------------------------------------------------------------------------

_MIX_BUDGET = 1000  # total samples to allocate across source domains


@register(
    "q239_mixture_allocation",
    category="sampling",
    oracle=f"""
WITH s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
),
w AS (
  SELECT source, n_docs,
         CAST(floor(CAST(1000000 AS DOUBLE) * sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS weight_fp
  FROM s
),
t AS (SELECT CAST(sum(weight_fp) AS BIGINT) AS w_total, CAST(count(*) AS BIGINT) AS n_src FROM w),
q AS (
  SELECT w.source, w.n_docs, w.weight_fp,
         {_MIX_BUDGET} * w.weight_fp // t.w_total AS base_quota,
         {_MIX_BUDGET} * w.weight_fp % t.w_total AS rem
  FROM w CROSS JOIN t
),
leftover AS (SELECT {_MIX_BUDGET} - CAST(sum(base_quota) AS BIGINT) AS extra_n FROM q),
r AS (
  SELECT q.*, row_number() OVER (ORDER BY rem DESC, source) AS rrank, l.extra_n
  FROM q CROSS JOIN leftover l
)
SELECT source, n_docs, weight_fp,
       CAST(base_quota AS BIGINT) AS base_quota,
       CAST(CASE WHEN rrank <= extra_n THEN 1 ELSE 0 END AS BIGINT) AS extra,
       CAST(base_quota + CASE WHEN rrank <= extra_n THEN 1 ELSE 0 END AS BIGINT) AS final_quota
FROM r
ORDER BY source
""",
)
def q239_mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened domain-mixture allocation: sample quotas
    proportional to n^tau with tau=0.5 — the standard flattening that
    up-weights small domains (multilingual / multi-source training
    mixes) — allocated as EXACT integers by the largest-remainder
    method, so quotas always sum to the budget and the allocation is
    reproducible: sqrt is IEEE-correctly-rounded (bit-identical in
    both engines, unlike log/pow), fixed-pointed at 1e6 before any
    arithmetic that could diverge, and every subsequent step is
    integer division/modulo with a deterministic remainder ranking.

    Scale shape: one groupBy on the domain key; everything after runs
    on the domain-cardinality table (broadcast-sized); the remainder
    ranking is a window over that same bounded set. The final quotas
    feed q234's per-domain hash-ranked selection.
    """
    d = load_table(spark, "documents", sf_dir)
    # the domain census is re-derived by every downstream consumer
    # chain (weights -> total, quotas -> leftover, ranking) — pinned
    # (domain-cardinality rows), so documents is scanned ONCE instead
    # of r5's four
    s = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .transform(pin)
    )
    w = s.select(
        "source",
        "n_docs",
        F.floor(F.lit(1e6) * F.sqrt(F.col("n_docs").cast("double"))).cast("bigint").alias("weight_fp"),
    )
    t = w.agg(F.sum("weight_fp").cast("bigint").alias("w_total"))
    q = w.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "weight_fp",
        F.expr(f"{_MIX_BUDGET} * weight_fp DIV w_total").alias("base_quota"),
        F.expr(f"{_MIX_BUDGET} * weight_fp % w_total").alias("rem"),
    )
    leftover = q.agg((F.lit(_MIX_BUDGET) - F.sum("base_quota")).cast("bigint").alias("extra_n"))
    r = (
        q.crossJoin(F.broadcast(leftover))
        .withColumn("rrank", F.row_number().over(Window.orderBy(F.col("rem").desc(), "source")))
    )
    extra = F.when(F.col("rrank") <= F.col("extra_n"), 1).otherwise(0).cast("bigint")
    return r.select(
        "source",
        "n_docs",
        "weight_fp",
        F.col("base_quota").cast("bigint").alias("base_quota"),
        extra.alias("extra"),
        (F.col("base_quota") + extra).cast("bigint").alias("final_quota"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q240 — conjunctive (AND) posting-list search
# ---------------------------------------------------------------------------

_AND_NTERMS = 3
_AND_MIN_DF = 10


@register(
    "q240_conjunctive_search",
    category="text",
    oracle=f"""
WITH toks AS (SELECT doc_id, unnest({_DUCK_WORDS}) AS token FROM documents),
df AS (
  SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks GROUP BY token HAVING count(DISTINCT doc_id) >= {_AND_MIN_DF}
),
qt AS (SELECT token FROM df ORDER BY df ASC, token LIMIT {_AND_NTERMS}),
tf AS (
  SELECT t.doc_id, t.token, CAST(count(*) AS BIGINT) AS tf
  FROM toks t JOIN qt USING (token) GROUP BY 1, 2
),
hits AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score
  FROM tf GROUP BY doc_id HAVING count(DISTINCT token) = {_AND_NTERMS}
)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
FROM hits
QUALIFY rank <= 20
ORDER BY rank
""",
)
def q240_conjunctive_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (all-terms-must-match) search over the inverted
    index — the AND twin of q224's phrase query and q223's ranked OR:
    documents containing every query term, ranked by total term
    frequency. The query is the 3 rarest sufficiently-common terms
    (df >= 10, rarity-ordered, deterministic tie-break) — the
    smallest-posting-lists-first heuristic every search engine uses,
    expressed as data: the broadcast term set prunes the postings scan
    to the shortest lists BEFORE any shuffle, so the intersection
    groupBy touches only candidate (doc, term) rows.

    At 100 TB: postings bucket by term; the conjunctive check is
    HAVING count(DISTINCT term) = |query| on the pruned rows — one
    shuffle keyed by doc, input bounded by the rarest term's df.
    """
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("token"))
    df = (
        toks.groupBy("token")
        .agg(F.count_distinct("doc_id").cast("bigint").alias("df"))
        .filter(F.col("df") >= _AND_MIN_DF)
    )
    qt = df.orderBy(F.col("df").asc(), "token").limit(_AND_NTERMS).select("token")
    tf = (
        toks.join(F.broadcast(qt), "token")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    hits = (
        tf.groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("score"),
            F.count_distinct("token").alias("nt"),
        )
        .filter(F.col("nt") == _AND_NTERMS)
        .select("doc_id", "score")
    )
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return (
        hits.orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# q241 — join-cardinality estimation audit (capped key histograms)
# ---------------------------------------------------------------------------

_CARD_TOPK = 100  # per-side frequent-key histogram size


@register(
    "q241_join_cardinality_estimate",
    category="profile",
    oracle=f"""
WITH a AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1),
b AS (SELECT o_custkey % 2000 AS k, CAST(count(*) AS BIGINT) AS cnt FROM orders GROUP BY 1),
ta AS (SELECT k, cnt FROM a ORDER BY cnt DESC, k LIMIT {_CARD_TOPK}),
tb AS (SELECT k, cnt FROM b ORDER BY cnt DESC, k LIMIT {_CARD_TOPK}),
top_est AS (
  SELECT CAST(coalesce(sum(ta.cnt * tb.cnt), 0) AS BIGINT) AS est_top
  FROM ta JOIN tb USING (k)
),
rest AS (
  SELECT CAST(coalesce(sum(CASE WHEN ta.k IS NULL THEN a.cnt END), 0) AS BIGINT) AS rest_a_rows,
         CAST(coalesce(count(CASE WHEN ta.k IS NULL THEN 1 END), 0) AS BIGINT) AS rest_a_keys
  FROM a LEFT JOIN ta ON ta.k = a.k
),
restb AS (
  SELECT CAST(coalesce(sum(CASE WHEN tb.k IS NULL THEN b.cnt END), 0) AS BIGINT) AS rest_b_rows,
         CAST(coalesce(count(CASE WHEN tb.k IS NULL THEN 1 END), 0) AS BIGINT) AS rest_b_keys
  FROM b LEFT JOIN tb ON tb.k = b.k
),
exact AS (
  SELECT CAST(coalesce(sum(a.cnt * b.cnt), 0) AS BIGINT) AS exact_rows
  FROM a JOIN b USING (k)
)
SELECT e.exact_rows,
       t.est_top + CASE WHEN greatest(r.rest_a_keys, rb.rest_b_keys) > 0
            THEN r.rest_a_rows * rb.rest_b_rows // greatest(r.rest_a_keys, rb.rest_b_keys)
            ELSE 0 END AS est_rows,
       t.est_top AS est_top,
       r.rest_a_rows, r.rest_a_keys, rb.rest_b_rows, rb.rest_b_keys
FROM exact e CROSS JOIN top_est t CROSS JOIN rest r CROSS JOIN restb rb
""",
)
def q241_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-statistics audit: estimate |A join B| from capped
    per-side key histograms (top-100 frequent keys exact, tail
    uniform-over-distinct), next to the TRUE join cardinality computed
    without materializing the join (sum of per-key count products).
    This is the statistic a cost-based planner consults before
    choosing broadcast vs shuffle vs skew-salting (q56) — histogram
    stats that miss a heavy key are how 100 TB joins explode, and
    this query makes the estimate-vs-truth gap a first-class, exactly
    reproducible number (all-integer arithmetic, DIV for the tail).

    Scale shape: two groupBys (one per side, keyed by the join key),
    top-k via TakeOrderedAndProject, everything downstream operates
    on histogram-sized (broadcast) data. The exact cardinality uses
    the count-product identity — a key-keyed join of two COUNT tables,
    never the row-level join itself.
    """
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    # per-side key histograms are consumed 3x each (top-k, tail rest,
    # exact product) — pinned, so each fact table is scanned ONCE (the
    # r5 plan read lineitem and orders 4x each). Histograms are
    # key-cardinality-sized, the thing a stats subsystem materializes
    # anyway; the 100-row top-k frames pin too (2 consumers each).
    a = (
        li.groupBy(F.col("l_partkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .transform(pin)
    )
    b = (
        o.groupBy((F.col("o_custkey") % 2000).alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .transform(pin)
    )
    ta = a.orderBy(F.col("cnt").desc(), "k").limit(_CARD_TOPK).transform(pin)
    tb = b.orderBy(F.col("cnt").desc(), "k").limit(_CARD_TOPK).transform(pin)
    est_top = (
        ta.select("k", F.col("cnt").alias("cnt_a"))
        .join(tb.select("k", F.col("cnt").alias("cnt_b")), "k")
        .agg(F.coalesce(F.sum(F.col("cnt_a") * F.col("cnt_b")), F.lit(0)).cast("bigint").alias("est_top"))
    )
    rest_a = (
        a.join(ta.select("k", F.lit(1).alias("_t")), "k", "left")
        .filter(F.col("_t").isNull())
        .agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("rest_a_rows"),
            F.count(F.lit(1)).cast("bigint").alias("rest_a_keys"),
        )
    )
    rest_b = (
        b.join(tb.select("k", F.lit(1).alias("_t")), "k", "left")
        .filter(F.col("_t").isNull())
        .agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("rest_b_rows"),
            F.count(F.lit(1)).cast("bigint").alias("rest_b_keys"),
        )
    )
    exact = (
        a.select("k", F.col("cnt").alias("cnt_a"))
        .join(b.select("k", F.col("cnt").alias("cnt_b")), "k")
        .agg(F.coalesce(F.sum(F.col("cnt_a") * F.col("cnt_b")), F.lit(0)).cast("bigint").alias("exact_rows"))
    )
    tail_est = F.when(
        F.greatest("rest_a_keys", "rest_b_keys") > 0,
        F.expr("rest_a_rows * rest_b_rows DIV greatest(rest_a_keys, rest_b_keys)"),
    ).otherwise(F.lit(0))
    return (
        exact.crossJoin(F.broadcast(est_top))
        .crossJoin(F.broadcast(rest_a))
        .crossJoin(F.broadcast(rest_b))
        .select(
            "exact_rows",
            (F.col("est_top") + tail_est).cast("bigint").alias("est_rows"),
            "est_top",
            "rest_a_rows",
            "rest_a_keys",
            "rest_b_rows",
            "rest_b_keys",
        )
    )


# ---------------------------------------------------------------------------
# q243 — event-time disorder profile (the watermark-delay diagnostic)
# ---------------------------------------------------------------------------


@register(
    "q243_disorder_profile",
    category="time",
    oracle="""
WITH seq AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
lat AS (
  SELECT user_id, event_id, es,
         greatest(CAST(0 AS BIGINT),
           coalesce(max(es) OVER (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), es) - es)
           AS late_s
  FROM seq
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_order,
       CAST(max(late_s) AS BIGINT) AS max_late_s,
       CAST(sum(CASE WHEN late_s > 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_over_1m,
       CAST(sum(CASE WHEN late_s > 3600 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_over_1h
FROM lat
GROUP BY user_id
ORDER BY user_id
""",
)
def q243_disorder_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder profile: per stream key, how late does each
    event arrive relative to the running event-time high-watermark of
    its ARRIVAL order (event_id — the ingestion sequence)? Emits
    out-of-order counts, worst lateness, and threshold buckets — the
    exact statistic that justifies a `withWatermark` delay: q67's
    10-minute watermark is a CLAIM about disorder; this query measures
    it (pick the delay that covers n_late_over_* at your loss
    tolerance). The reference has the same problem in miniature — its
    consumer tolerates sensor ticks arriving behind the display clock
    (src/modules/dd/consumer.cpp) with a fixed 6 s grace.

    Shape: one keyed window (running max over the arrival order — per
    key, never global), one groupBy; integer epoch-second lateness
    end to end.
    """
    e = load_table(spark, "events", sf_dir)
    seq = e.select(
        "user_id", "event_id", F.floor(F.unix_timestamp("ts")).cast("bigint").alias("es")
    )
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(Window.unboundedPreceding, -1)
    lat = seq.select(
        "user_id",
        F.greatest(
            F.lit(0).cast("bigint"),
            F.coalesce(F.max("es").over(w), F.col("es")) - F.col("es"),
        ).alias("late_s"),
    )
    return (
        lat.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("late_s") > 0, 1).otherwise(0)).cast("bigint").alias("n_out_of_order"),
            F.max("late_s").cast("bigint").alias("max_late_s"),
            F.sum(F.when(F.col("late_s") > 60, 1).otherwise(0)).cast("bigint").alias("n_late_over_1m"),
            F.sum(F.when(F.col("late_s") > 3600, 1).otherwise(0)).cast("bigint").alias("n_late_over_1h"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q244 — k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------

_KANON_K = 5


@register(
    "q244_k_anonymity_audit",
    category="quality",
    oracle=f"""
WITH q AS (
  SELECT doc_id, lang, source,
         CAST(n_chars // 100 AS BIGINT) AS len_bucket
  FROM documents
),
g AS (
  SELECT lang, source, len_bucket, CAST(count(*) AS BIGINT) AS grp_n
  FROM q GROUP BY 1, 2, 3
)
SELECT g.lang, g.source, g.len_bucket, g.grp_n,
       g.grp_n < {_KANON_K} AS below_k,
       CAST(CASE WHEN g.grp_n < {_KANON_K} THEN g.grp_n ELSE 0 END AS BIGINT) AS n_suppressed
FROM g
ORDER BY g.lang, g.source, g.len_bucket
""",
)
def q244_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple
    (lang, source, length-bucket): any equivalence class smaller than
    k re-identifies its members by attribute combination alone, so a
    privacy-preserving release must suppress or generalize those rows.
    Emits every class with its size, the below-k flag, and the
    suppression count — the audit that runs AFTER q163's direct-PII
    redaction (direct identifiers and quasi-identifiers are different
    attack surfaces; a pipeline needs both gates).

    Shape: one groupBy on the quasi-identifier key (map-side
    combinable counts), integer bucketing via DIV — no window, no
    broadcast, trivially 100 TB-safe. Generalization (widening the
    length bucket until every class clears k) iterates this same
    query over coarser keys.
    """
    d = load_table(spark, "documents", sf_dir)
    q = d.select(
        "lang", "source", F.expr("n_chars DIV 100").cast("bigint").alias("len_bucket")
    )
    g = q.groupBy("lang", "source", "len_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("grp_n")
    )
    return g.select(
        "lang",
        "source",
        "len_bucket",
        "grp_n",
        (F.col("grp_n") < _KANON_K).alias("below_k"),
        F.when(F.col("grp_n") < _KANON_K, F.col("grp_n")).otherwise(0).cast("bigint").alias("n_suppressed"),
    ).orderBy("lang", "source", "len_bucket")


# ---------------------------------------------------------------------------
# q245 — counting-based rank normalization (percentile encoding)
# ---------------------------------------------------------------------------


@register(
    "q245_rank_normalize",
    category="aggregation",
    oracle="""
WITH cents AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS v FROM events
),
vc AS (
  SELECT event_type, v, CAST(count(*) AS BIGINT) AS cnt
  FROM cents GROUP BY 1, 2
),
tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_type FROM vc GROUP BY 1),
cum AS (
  SELECT event_type, v, cnt,
         CAST(coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
  FROM vc
)
SELECT c.event_type, c.v AS cents, c.cnt, c.cum_before,
       CASE WHEN t.n_type > 1
            THEN c.cum_before * 1000000 // (t.n_type - 1) ELSE 0 END AS pctl_fp
FROM cum c JOIN tot t USING (event_type)
ORDER BY c.event_type, c.v
""",
)
def q245_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank (percentile) normalization of a measure column per stream
    type — the distribution-free feature encoding (quantile
    transform) a training pipeline applies to heavy-tailed signals.
    Emitted as the VALUE-level lookup table (value -> fixed-point
    percentile of strictly-smaller mass), which is what a scoring job
    broadcasts; per-row encoding is then a map-side join.

    Scale shape: this is the COUNTING-BASED rank, not a row-level
    window — the per-type window runs over DISTINCT values (bounded
    cents domain), so a group with a billion rows but 10^6 distinct
    values sorts 10^6 entries, and the ranks come from integer
    cumulative counts. percent_rank() over rows would single-task
    each group; this never touches row-level ordering. Integer DIV
    fixed-point, exact at any scale.
    """
    e = load_table(spark, "events", sf_dir)
    vc = (
        e.select("event_type", F.round(F.col("value") * 100, 0).cast("bigint").alias("v"))
        .groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    tot = vc.groupBy("event_type").agg(F.sum("cnt").cast("bigint").alias("n_type"))
    w = Window.partitionBy("event_type").orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = vc.withColumn("cum_before", F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("bigint"))
    return (
        cum.join(tot, "event_type")
        .select(
            "event_type",
            F.col("v").alias("cents"),
            "cnt",
            "cum_before",
            F.when(F.col("n_type") > 1, F.expr("cum_before * 1000000 DIV (n_type - 1)"))
            .otherwise(F.lit(0)).cast("bigint").alias("pctl_fp"),
        )
        .orderBy("event_type", "cents")
    )


# ---------------------------------------------------------------------------
# q246 — grouped OLS as exact integer moments (JVM twin of q80)
# ---------------------------------------------------------------------------


@register(
    "q246_ols_moments_by_key",
    category="analytics",
    oracle="""
WITH base AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS es,
         CAST(round(value * 100, 0) AS BIGINT) AS y
  FROM events
),
t0 AS (SELECT user_id, CAST(min(es) AS BIGINT) AS es0 FROM base GROUP BY user_id),
m AS (
  SELECT b.user_id, b.es - t.es0 AS x, b.y
  FROM base b JOIN t0 t USING (user_id)
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(x) AS BIGINT) AS sum_x,
       CAST(sum(y) AS BIGINT) AS sum_y,
       CAST(sum(x * y) AS BIGINT) AS sum_xy,
       CAST(sum(x * x) AS BIGINT) AS sum_x2,
       CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT) AS slope_num,
       CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS slope_den
FROM m
GROUP BY user_id
ORDER BY user_id
""",
)
def q246_ols_moments_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key least-squares trend as EXACT integer moments: for each
    sensor stream, x = seconds since the key's first event, y =
    integer cents; emit n, Σx, Σy, Σxy, Σx² and the OLS slope as the
    rational pair (slope_num, slope_den) = (nΣxy - ΣxΣy, nΣx² - (Σx)²).
    This is the all-JVM, bit-deterministic twin of q80's pandas
    GROUPED_AGG OLS — same regression, but partial-aggregable integer
    sums instead of an Arrow hop into numpy, so it runs inside
    whole-stage codegen and no float summation order exists at all.
    The caller divides num/den (one IEEE op) for the float slope.

    Shape: one groupBy for the per-key epoch origin (min), a
    broadcast-able join back, one moment groupBy. Re-centering x at
    the key's own origin keeps x*y products ~1e9·1e4 — comfortably
    inside int64 even at 10^6 events per key.
    """
    e = load_table(spark, "events", sf_dir)
    base = e.select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("es"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("y"),
    )
    t0 = base.groupBy("user_id").agg(F.min("es").alias("es0"))
    m = base.join(t0, "user_id").select(
        "user_id", (F.col("es") - F.col("es0")).alias("x"), "y"
    )
    n = F.count(F.lit(1)).cast("bigint")
    return (
        m.groupBy("user_id")
        .agg(
            n.alias("n"),
            F.sum("x").cast("bigint").alias("sum_x"),
            F.sum("y").cast("bigint").alias("sum_y"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sum_xy"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sum_x2"),
        )
        .select(
            "user_id", "n", "sum_x", "sum_y", "sum_xy", "sum_x2",
            (F.col("n") * F.col("sum_xy") - F.col("sum_x") * F.col("sum_y")).cast("bigint").alias("slope_num"),
            (F.col("n") * F.col("sum_x2") - F.col("sum_x") * F.col("sum_x")).cast("bigint").alias("slope_den"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q247 — event-type transition matrix (first-order Markov counts)
# ---------------------------------------------------------------------------


@register(
    "q247_transition_matrix",
    category="analytics",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
pair AS (
  SELECT event_type AS from_type, next_type AS to_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
),
tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM pair GROUP BY 1)
SELECT p.from_type, p.to_type, p.n, t.n_from,
       p.n * 1000000 // t.n_from AS p_fp
FROM pair p JOIN tot t USING (from_type)
ORDER BY p.from_type, p.to_type
""",
)
def q247_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between event types per
    user stream — the sequence-mining primitive behind session-flow
    dashboards and next-action models. Counts are exact integers; the
    conditional transition probability is emitted as integer
    fixed-point n*1e6 DIV n_from (no float aggregation anywhere).

    Shape: ONE keyed window (lead over each user's (ts, event_id)
    order — bounded per key) feeding a groupBy on the
    (from, to) pair — whose cardinality is |event_types|², a
    broadcast-sized matrix regardless of corpus size. The probability
    normalization joins the same bounded matrix against its row sums.
    """
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("event_type", F.lead("event_type").over(w).alias("next_type"))
    pair = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = pair.groupBy("from_type").agg(F.sum("n").cast("bigint").alias("n_from"))
    return (
        pair.join(F.broadcast(tot), "from_type")
        .select(
            "from_type", "to_type", "n", "n_from",
            F.expr("n * 1000000 DIV n_from").alias("p_fp"),
        )
        .orderBy("from_type", "to_type")
    )


# ---------------------------------------------------------------------------
# q248 — token-frequency drift monitor (corpus halves, integer ratio test)
# ---------------------------------------------------------------------------

_DRIFT_FACTOR = 2  # flag tokens whose rate changed by >= 2x between halves
_DRIFT_MIN = 20  # ignore tokens with fewer than this many total occurrences


@register(
    "q248_frequency_drift",
    category="profile",
    oracle=f"""
WITH half AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) // 2 AS mid FROM documents),
toks AS (
  SELECT CASE WHEN d.doc_id < h.mid THEN 0 ELSE 1 END AS half_id,
         unnest({_DUCK_WORDS}) AS token
  FROM documents d CROSS JOIN half h
),
n AS (
  SELECT CAST(sum(CASE WHEN half_id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN half_id = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM toks
),
c AS (
  SELECT token,
         CAST(sum(CASE WHEN half_id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN half_id = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM toks GROUP BY token
)
SELECT c.token, c.c1, c.c2,
       c.c1 * n.n2 > {_DRIFT_FACTOR} * c.c2 * n.n1 OR
       c.c2 * n.n1 > {_DRIFT_FACTOR} * c.c1 * n.n2 AS drifted
FROM c CROSS JOIN n
WHERE c.c1 + c.c2 >= {_DRIFT_MIN}
ORDER BY c.token
""",
)
def q248_frequency_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-frequency drift monitor: compare each token's occurrence
    RATE between the first and second half of the corpus (by doc id —
    the ingestion-time axis) and flag >= 2x rate changes. The
    distribution-shift tripwire a continuously-ingesting pipeline
    runs per batch: vocabulary drift is how crawl rot, spam bursts,
    and upstream format changes first show up. The rate comparison is
    the integer cross-multiplication c1*N2 vs factor*c2*N1 — no
    division, no float, no epsilon.

    Shape: one tokenize scan with a map-side half label, one groupBy
    on token (conditional sums combine map-side), the corpus totals
    ride a broadcast. The minimum-count floor plays the q192 role:
    rare tokens' rates are noise, and at 100 TB the monitor runs over
    the sketched heavy-hitter vocabulary, same comparison.
    """
    d = load_table(spark, "documents", sf_dir)
    half = d.agg(F.expr("CAST(max(doc_id) + 1 AS BIGINT) DIV 2").alias("mid"))
    toks = (
        d.crossJoin(F.broadcast(half))
        .select(
            F.when(F.col("doc_id") < F.col("mid"), 0).otherwise(1).alias("half_id"),
            F.explode(tokenize(F.col("text"))).alias("token"),
        )
    )
    # ONE tokenize pass: the per-token census is pinned (vocab-sized)
    # and the half totals are ITS column sums — r5 ran a second full
    # corpus scan just to count tokens the census already counted
    # (4 documents scans -> 2: the max-id probe + the census build)
    c = (
        toks.groupBy("token")
        .agg(
            F.sum(F.when(F.col("half_id") == 0, 1).otherwise(0)).cast("bigint").alias("c1"),
            F.sum(F.when(F.col("half_id") == 1, 1).otherwise(0)).cast("bigint").alias("c2"),
        )
        .transform(pin)
    )
    n = c.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    return (
        c.filter(F.col("c1") + F.col("c2") >= _DRIFT_MIN)
        .crossJoin(F.broadcast(n))
        .select(
            "token", "c1", "c2",
            (
                (F.col("c1") * F.col("n2") > _DRIFT_FACTOR * F.col("c2") * F.col("n1"))
                | (F.col("c2") * F.col("n1") > _DRIFT_FACTOR * F.col("c1") * F.col("n2"))
            ).alias("drifted"),
        )
        .orderBy("token")
    )


# ---------------------------------------------------------------------------
# q249 — vocabulary growth curve (Heaps-law diagnostic)
# ---------------------------------------------------------------------------

_VOCAB_BUCKETS = 10


@register(
    "q249_vocab_growth",
    category="profile",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_WORDS}) AS token FROM documents
),
firsts AS (
  SELECT token, CAST(min(doc_id) AS BIGINT) AS first_doc FROM toks GROUP BY token
),
nd AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS n_docs FROM documents),
b AS (
  SELECT least({_VOCAB_BUCKETS} - 1, f.first_doc * {_VOCAB_BUCKETS} // nd.n_docs) AS bucket,
         count(*) AS new_tokens
  FROM firsts f CROSS JOIN nd
  GROUP BY 1
),
grid AS (SELECT unnest(range({_VOCAB_BUCKETS})) AS bucket)
SELECT CAST(g.bucket AS BIGINT) AS bucket,
       CAST(coalesce(b.new_tokens, 0) AS BIGINT) AS new_tokens,
       CAST(sum(coalesce(b.new_tokens, 0)) OVER (ORDER BY g.bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
FROM grid g LEFT JOIN b ON b.bucket = g.bucket
ORDER BY g.bucket
""",
)
def q249_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve: how many NEVER-SEEN-BEFORE tokens each
    ingestion decile introduces, plus the cumulative vocabulary size —
    the Heaps-law diagnostic that sizes tokenizer vocabularies and
    flags corpus exhaustion (a flattening curve) or contamination (a
    spike of novel tokens mid-stream; q248's drift monitor pointwise,
    this is its integral view).

    Shape: "first occurrence" is min(doc_id) per token — one groupBy,
    map-side combinable, never a window over the token stream; decile
    bucketing is integer DIV against the broadcast corpus size; the
    cumulative curve is a window over the 10-row bucket table. The
    dense bucket grid comes from a sequence literal so empty deciles
    still emit rows.
    """
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("token"))
    firsts = toks.groupBy("token").agg(F.min("doc_id").cast("bigint").alias("first_doc"))
    nd = d.agg((F.max("doc_id") + 1).cast("bigint").alias("n_docs"))
    b = (
        firsts.crossJoin(F.broadcast(nd))
        .select(
            F.least(
                F.lit(_VOCAB_BUCKETS - 1).cast("bigint"),
                F.expr(f"first_doc * {_VOCAB_BUCKETS} DIV n_docs"),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_tokens"))
    )
    grid = spark.range(_VOCAB_BUCKETS).select(F.col("id").cast("bigint").alias("bucket"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        grid.join(b, "bucket", "left")
        .select("bucket", F.coalesce("new_tokens", F.lit(0)).cast("bigint").alias("new_tokens"))
        .withColumn("vocab_size", F.sum("new_tokens").over(w).cast("bigint"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q250 — referential-integrity audit (orphan detection across the star)
# ---------------------------------------------------------------------------


@register(
    "q250_referential_integrity",
    category="audit",
    oracle="""
WITH checks AS (
  SELECT 'lineitem.l_orderkey -> orders' AS fk,
         CAST((SELECT count(*) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_orphans,
         CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_rows
  UNION ALL
  SELECT 'lineitem.l_partkey -> part',
         CAST((SELECT count(*) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS BIGINT),
         CAST((SELECT count(*) FROM lineitem) AS BIGINT)
  UNION ALL
  SELECT 'orders.o_custkey -> customer',
         CAST((SELECT count(*) FROM orders o
               WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
         CAST((SELECT count(*) FROM orders) AS BIGINT)
  UNION ALL
  SELECT 'customer.c_nationkey -> nation',
         CAST((SELECT count(*) FROM customer c
               WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT),
         CAST((SELECT count(*) FROM customer) AS BIGINT)
)
SELECT fk, n_orphans, n_rows, n_orphans = 0 AS intact
FROM checks ORDER BY fk
""",
)
def q250_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: orphan
    counts for every FK edge (child rows whose key misses the parent)
    — the data-quality gate a warehouse load runs before publishing a
    snapshot, and the precondition every join query in this suite
    silently assumes. Complements q89 (per-column profiling) with
    cross-TABLE structure.

    Shape: each check is ONE child scan — a marked LEFT join against
    the parent's unique key feeding a fused total+orphan conditional
    aggregate (the anti-join + separate-total form scanned each child
    twice); dimension parents (nation, customer at this ratio)
    broadcast; the fact-fact check (lineitem->orders) shuffles on the
    join key exactly like the production join it validates. Counts
    union into a 4-row report.
    """
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    p = load_table(spark, "part", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)

    def check(fk: str, child: DataFrame, ckey: str, parent: DataFrame, pkey: str) -> DataFrame:
        # orphans + total fuse into ONE child scan: a marked LEFT join
        # against the parent's (unique) primary key, then a conditional
        # aggregate — the r5 shape scanned each child twice (anti-join
        # count + separate total)
        marked = parent.select(F.col(pkey).alias(ckey), F.lit(1).alias("_p"))
        return (
            child.select(ckey)
            .join(marked, ckey, "left")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.when(F.col("_p").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphans"),
            )
            .select(F.lit(fk).alias("fk"), "n_orphans", "n_rows")
        )

    out = (
        check("lineitem.l_orderkey -> orders", li, "l_orderkey", o, "o_orderkey")
        .unionAll(check("lineitem.l_partkey -> part", li, "l_partkey", p, "p_partkey"))
        .unionAll(check("orders.o_custkey -> customer", o, "o_custkey", c, "c_custkey"))
        .unionAll(check("customer.c_nationkey -> nation", c, "c_nationkey", n, "n_nationkey"))
    )
    return out.select("fk", "n_orphans", "n_rows", (F.col("n_orphans") == 0).alias("intact")).orderBy("fk")


# ---------------------------------------------------------------------------
# q251 — reference-point pruned similarity search (REPOSE pattern)
# ---------------------------------------------------------------------------

_RP_LEN = 16  # trajectory length (first 16 readings per stream)
_RP_NREF = 4  # reference points (lowest user ids)
_RP_NQ = 5  # queries (next 5 user ids)
_RP_K = 5  # top-k


@register(
    "q251_refpoint_pruned_search",
    category="similarity",
    oracle=f"""
WITH traj AS (
  SELECT user_id,
         (list(CAST(round(value * 100, 0) AS BIGINT) ORDER BY ts, event_id))[1:{_RP_LEN}] AS v
  FROM events
  GROUP BY user_id
  HAVING count(*) >= {_RP_LEN}
),
ids AS (SELECT user_id, row_number() OVER (ORDER BY user_id) AS rid FROM traj),
refs AS (SELECT t.user_id AS rid_user, t.v AS rv FROM traj t JOIN ids i USING (user_id) WHERE i.rid <= {_RP_NREF}),
qry AS (SELECT t.user_id AS qid, t.v AS qv FROM traj t JOIN ids i USING (user_id)
        WHERE i.rid BETWEEN {_RP_NREF} + 1 AND {_RP_NREF} + {_RP_NQ}),
cand AS (SELECT t.user_id AS cid, t.v AS cv FROM traj t JOIN ids i USING (user_id) WHERE i.rid > {_RP_NREF} + {_RP_NQ}),
dqr AS (
  SELECT q.qid, r.rid_user,
         sqrt(CAST(list_sum(list_transform(range(1, {_RP_LEN} + 1),
              i -> (q.qv[i] - r.rv[i]) * (q.qv[i] - r.rv[i]))) AS DOUBLE)) AS d
  FROM qry q CROSS JOIN refs r
),
dcr AS (
  SELECT c.cid, r.rid_user,
         sqrt(CAST(list_sum(list_transform(range(1, {_RP_LEN} + 1),
              i -> (c.cv[i] - r.rv[i]) * (c.cv[i] - r.rv[i]))) AS DOUBLE)) AS d
  FROM cand c CROSS JOIN refs r
),
lb AS (
  SELECT q.qid, c.cid, max(abs(q.d - c.d)) AS lb
  FROM dqr q JOIN dcr c ON q.rid_user = c.rid_user
  GROUP BY q.qid, c.cid
),
exact AS (
  SELECT q.qid, c.cid,
         sqrt(CAST(list_sum(list_transform(range(1, {_RP_LEN} + 1),
              i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS DOUBLE)) AS d
  FROM qry q CROSS JOIN cand c
),
ranked AS (
  SELECT qid, cid, d, row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS rnk
  FROM exact
),
kth AS (SELECT qid, max(d) AS dk FROM ranked WHERE rnk <= {_RP_K} GROUP BY qid),
marked AS (
  SELECT l.qid, l.cid, l.lb > k.dk AS pruned, r.rnk <= {_RP_K} AS in_topk
  FROM lb l JOIN kth k USING (qid) JOIN ranked r ON r.qid = l.qid AND r.cid = l.cid
)
SELECT qid,
       CAST(count(*) AS BIGINT) AS n_cands,
       CAST(sum(CASE WHEN pruned THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
       CAST(sum(CASE WHEN NOT pruned THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_checks,
       CAST(sum(CASE WHEN pruned AND in_topk THEN 1 ELSE 0 END) = 0 AS BOOLEAN) AS topk_intact
FROM marked
GROUP BY qid
ORDER BY qid
""",
)
def q251_refpoint_pruned_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-point pruned trajectory similarity search — the
    REPOSE / metric-space pattern (ICDE'21, PAPERS.md): precompute
    every trajectory's distance to a few broadcast REFERENCE
    trajectories; the triangle inequality makes max_r |d(q,r)-d(c,r)|
    a LOWER BOUND on d(q,c), so any candidate whose bound exceeds the
    running top-k radius is discarded WITHOUT computing its true
    distance. Emits, per query, the candidate/pruned/exact-check
    counts and the soundness audit (no true top-k member pruned — the
    triangle-inequality guarantee as a checkable boolean).

    Determinism: trajectories are integer cent sequences; distances
    are sqrt of integer sums (IEEE-correctly-rounded, bit-equal in
    both engines); ranks tie-break on id. At scale the exact
    all-pairs side here exists only to AUDIT the bound — production
    keeps ref-distances as a per-trajectory index (R doubles per row,
    broadcast refs) and computes true distances only for bound
    survivors, turning an O(N) scan per query into O(survivors).
    """
    e = load_table(spark, "events", sf_dir)
    traj = (
        e.select(
            "user_id",
            F.struct(
                # ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP —
                # cast keeps microsecond precision for the sort key
                F.unix_micros(F.col("ts").cast("timestamp")).alias("em"), "event_id",
                F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.array_sort(F.collect_list("s")).alias("ss"))
        .filter(F.col("n") >= _RP_LEN)
        .select(
            "user_id",
            F.expr(f"transform(slice(ss, 1, {_RP_LEN}), x -> x.cents)").alias("v"),
        )
    )
    # ids is user-count-sized and feeds THREE role splits (refs, queries,
    # candidates), each with further downstream consumers — unpinned the
    # plan re-derived the trajectory build from the events scan 8x
    # (round-5 plan_audit finding)
    ids = traj.withColumn(
        "rid", F.row_number().over(Window.orderBy("user_id"))
    ).transform(pin)
    refs = ids.filter(F.col("rid") <= _RP_NREF).select(
        F.col("user_id").alias("rid_user"), F.col("v").alias("rv")
    )
    qry = ids.filter(F.col("rid").between(_RP_NREF + 1, _RP_NREF + _RP_NQ)).select(
        F.col("user_id").alias("qid"), F.col("v").alias("qv")
    )
    cand = ids.filter(F.col("rid") > _RP_NREF + _RP_NQ).select(
        F.col("user_id").alias("cid"), F.col("v").alias("cv")
    )

    def dist(a: str, b: str):
        return F.sqrt(
            F.aggregate(
                F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).cast("double")
        )

    dqr = qry.crossJoin(F.broadcast(refs)).select("qid", "rid_user", dist("qv", "rv").alias("d"))
    dcr = cand.crossJoin(F.broadcast(refs)).select("cid", "rid_user", dist("cv", "rv").alias("d"))
    lb = (
        dcr.join(F.broadcast(dqr.select("qid", "rid_user", F.col("d").alias("dq"))), "rid_user")
        .groupBy("qid", "cid")
        .agg(F.max(F.abs(F.col("dq") - F.col("d"))).alias("lb"))
    )
    exact = cand.crossJoin(F.broadcast(qry)).select("qid", "cid", dist("qv", "cv").alias("d"))
    wq = Window.partitionBy("qid").orderBy("d", "cid")
    ranked = exact.withColumn("rnk", F.row_number().over(wq))
    kth = ranked.filter(F.col("rnk") <= _RP_K).groupBy("qid").agg(F.max("d").alias("dk"))
    marked = (
        lb.join(F.broadcast(kth), "qid")
        .join(ranked.select("qid", "cid", "rnk"), ["qid", "cid"])
        .select(
            "qid",
            (F.col("lb") > F.col("dk")).alias("pruned"),
            (F.col("rnk") <= _RP_K).alias("in_topk"),
        )
    )
    return (
        marked.groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cands"),
            F.sum(F.when(F.col("pruned"), 1).otherwise(0)).cast("bigint").alias("n_pruned"),
            F.sum(F.when(~F.col("pruned"), 1).otherwise(0)).cast("bigint").alias("n_exact_checks"),
            (F.sum(F.when(F.col("pruned") & F.col("in_topk"), 1).otherwise(0)) == 0).alias("topk_intact"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# q252 — incremental top-k maintenance (mergeable summaries + audit)
# ---------------------------------------------------------------------------

_ITK_K = 10  # the served top-k
_ITK_SUMMARY = 20  # per-snapshot summary size (>= k so merges stay exact)


@register(
    "q252_incremental_topk",
    category="analytics",
    oracle=f"""
WITH half AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) // 2 AS mid FROM documents),
scored AS (
  SELECT d.doc_id,
         CAST(d.n_chars AS BIGINT) * 1000 + d.doc_id % 1000 AS score,
         d.doc_id < h.mid AS is_old
  FROM documents d CROSS JOIN half h
),
old_summary AS (
  SELECT doc_id, score FROM scored WHERE is_old
  ORDER BY score DESC, doc_id LIMIT {_ITK_SUMMARY}
),
delta_summary AS (
  SELECT doc_id, score FROM scored WHERE NOT is_old
  ORDER BY score DESC, doc_id LIMIT {_ITK_SUMMARY}
),
merged AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
  FROM (SELECT * FROM old_summary UNION ALL SELECT * FROM delta_summary)
),
full_topk AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
  FROM scored
)
SELECT m.rnk AS rank, m.doc_id, m.score,
       m.doc_id = f.doc_id AND m.score = f.score AS matches_full
FROM merged m JOIN full_topk f ON f.rnk = m.rnk
WHERE m.rnk <= {_ITK_K}
ORDER BY rank
""",
)
def q252_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance (the EDBT'20 interactive-session
    pattern, PAPERS.md): keep a small SUMMARY (top-k', k' >= k) per
    snapshot, answer the live top-k by merging yesterday's summary
    with the new delta's summary — never rescanning history. Sound
    because top-k summaries are MERGEABLE: any row outside a
    partition's top-k' can't be in the union's top-k (k <= k'). The
    query runs both paths — summary-merge and full recompute — and
    emits the per-rank equality audit, the q194 delta-merge argument
    transplanted from distributive aggregates to ORDER BY ... LIMIT.

    Shape: each summary is TakeOrderedAndProject (per-partition heaps,
    k'-row output); the merge ranks 2k' rows. The audited full
    recompute exists only at fixture scale; production serves from
    summaries alone, turning the daily top-k job from O(history) to
    O(delta). Scores are integers (length-keyed with id tiebreak
    folded in), so ordering is engine-exact.
    """
    d = load_table(spark, "documents", sf_dir)
    half = d.agg(F.expr("CAST(max(doc_id) + 1 AS BIGINT) DIV 2").alias("mid"))
    # the scored frame feeds three consumers (old summary, delta
    # summary, audit recompute) — pinned (3 integer columns, no text),
    # so documents is scanned twice (max-id probe + score build)
    # instead of r5's six
    scored = (
        d.crossJoin(F.broadcast(half))
        .select(
            "doc_id",
            (F.col("n_chars").cast("bigint") * 1000 + F.col("doc_id") % 1000).alias("score"),
            (F.col("doc_id") < F.col("mid")).alias("is_old"),
        )
        .transform(pin)
    )
    def summary(df: DataFrame) -> DataFrame:
        return df.orderBy(F.col("score").desc(), "doc_id").limit(_ITK_SUMMARY).select("doc_id", "score")

    merged = (
        summary(scored.filter(F.col("is_old")))
        .unionAll(summary(scored.filter(~F.col("is_old"))))
        .withColumn("rnk", F.row_number().over(Window.orderBy(F.col("score").desc(), "doc_id")))
        .filter(F.col("rnk") <= _ITK_K)
    )
    full = (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(_ITK_K)
        .withColumn("rnk", F.row_number().over(Window.orderBy(F.col("score").desc(), "doc_id")))
        .select(F.col("rnk"), F.col("doc_id").alias("f_doc"), F.col("score").alias("f_score"))
    )
    return (
        merged.join(F.broadcast(full), "rnk")
        .select(
            F.col("rnk").cast("bigint").alias("rank"),
            "doc_id",
            "score",
            ((F.col("doc_id") == F.col("f_doc")) & (F.col("score") == F.col("f_score"))).alias("matches_full"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# q253 — CDC changelog apply with DELETEs (last-writer-wins)
# ---------------------------------------------------------------------------


@register(
    "q253_cdc_changelog_deletes",
    category="cdc",
    oracle="""
WITH log AS (
  SELECT event_id AS seq,
         user_id % 100 AS key,
         CASE (event_id % 10)
           WHEN 9 THEN 'D'
           WHEN 0 THEN 'I'
           ELSE 'U' END AS op,
         CAST(round(value * 100, 0) AS BIGINT) AS val
  FROM events
),
last AS (
  SELECT key, op, val
  FROM (SELECT key, op, val,
               row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
        FROM log)
  WHERE rn = 1
)
SELECT key, val AS bal_cents
FROM last WHERE op <> 'D'
ORDER BY key
""",
)
def q253_cdc_changelog_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply with all three op kinds — INSERT, UPDATE,
    DELETE — under last-writer-wins by change sequence: the snapshot
    keeps each key's latest non-delete value and DROPS keys whose
    latest op is a delete. This is the semantics q90/q207 (pure
    upsert deltas) cannot express, and the one Debezium-style
    pipelines actually ship: a tombstone must erase the key no matter
    how many earlier upserts exist.

    Shape: the per-key latest op comes from max_by-style selection —
    implemented as max(struct(seq, op, val)) so it PARTIALLY
    aggregates (map-side combine on the changelog shards), never a
    row_number window over the full log. At 100 TB the changelog is
    naturally sharded by key; this plan reads each shard once and
    shuffles one struct per key.
    """
    e = load_table(spark, "events", sf_dir)
    log = e.select(
        F.col("event_id").alias("seq"),
        (F.col("user_id") % 100).alias("key"),
        F.when(F.col("event_id") % 10 == 9, "D")
        .when(F.col("event_id") % 10 == 0, "I")
        .otherwise("U")
        .alias("op"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("val"),
    )
    last = (
        log.groupBy("key")
        .agg(F.max(F.struct("seq", "op", "val")).alias("m"))
        .select("key", F.col("m.op").alias("op"), F.col("m.val").alias("val"))
    )
    return (
        last.filter(F.col("op") != "D")
        .select("key", F.col("val").alias("bal_cents"))
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# q254 — bitmap-aggregate distinct counting (Spark bitmap functions)
# ---------------------------------------------------------------------------


@register(
    "q254_bitmap_distinct",
    category="aggregation",
    # DuckDB computes the same distinct counts relationally; Spark's
    # side exercises the bitmap aggregate surface the warehouses use
    # for mergeable distinct-count materialized views.
    oracle="""
SELECT o_orderpriority,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q254_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting through Spark's bitmap aggregates
    (bitmap_bucket_number / bitmap_construct_agg / bitmap_count): each
    task builds a fixed-size bucket bitmap of the keys it saw, bitmaps
    OR-merge associatively, and popcount gives the exact distinct —
    the mergeable exact-distinct representation warehouse rollups
    store so distinct counts can be maintained incrementally (q194)
    without re-scanning. count(DISTINCT) re-shuffles raw keys every
    refresh; the bitmap is a constant-size mergeable summary per
    (group, bucket) — the same role as q176's KMV but EXACT for
    dense integer domains.

    Two shuffles: (group, bucket) bitmap build, then group-level OR +
    popcount-sum. The oracle recomputes via plain COUNT(DISTINCT).
    """
    o = load_table(spark, "orders", sf_dir)
    per_bucket = (
        o.select(
            "o_orderpriority",
            F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
            F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
        )
        .groupBy("o_orderpriority", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    counts = per_bucket.groupBy("o_orderpriority").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_customers")
    )
    totals = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    return (
        counts.join(totals, "o_orderpriority")
        .select("o_orderpriority", "n_customers", "n_orders")
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q255 — peak-preserving downsampling (per-bucket representative)
# ---------------------------------------------------------------------------

_DS_BUCKET_S = 600  # 10-minute buckets


@register(
    "q255_peak_downsample",
    category="timeseries",
    oracle=f"""
WITH c AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) // {_DS_BUCKET_S} AS bucket,
         CAST(round(value * 100, 0) AS BIGINT) AS v
  FROM events
),
m AS (
  SELECT user_id, bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) AS s
  FROM c GROUP BY 1, 2
),
dev AS (
  SELECT c.user_id, c.bucket, c.event_id, c.v, m.n,
         abs(c.v * m.n - m.s) AS d
  FROM c JOIN m USING (user_id, bucket)
),
pick AS (
  SELECT user_id, bucket, event_id, v, n
  FROM (SELECT user_id, bucket, event_id, v, n,
               row_number() OVER (PARTITION BY user_id, bucket
                                  ORDER BY d DESC, event_id) AS rn
        FROM dev)
  WHERE rn = 1
)
SELECT user_id, bucket, event_id AS kept_event, v AS kept_cents, n AS n_in_bucket
FROM pick
ORDER BY user_id, bucket
""",
)
def q255_peak_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-preserving downsampling: one representative per
    (stream, time bucket) — the reading farthest from the bucket mean
    (ties to the earliest event), so spikes survive decimation where
    naive first/avg sampling would erase them. The dashboard-renderer
    op (what Grafana-style maxDataPoints does) and the preprocessing
    that keeps anomalies visible to downstream detectors (q228) after
    a 100x data reduction.

    Exactness: the deviation comparison |v*n - s| cross-multiplies
    instead of dividing by n, so selection is pure integer ordering.
    Shape: one groupBy for bucket moments, a broadcast-able join
    back, and the argmax via max(struct(d, -event_id)) — partially
    aggregable, no row-number window over the stream (the oracle
    uses the window form; agreement proves the reduce).
    """
    e = load_table(spark, "events", sf_dir)
    c = e.select(
        "user_id",
        "event_id",
        F.expr(f"CAST(floor(unix_timestamp(ts)) AS BIGINT) DIV {_DS_BUCKET_S}").alias("bucket"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v"),
    )
    m = c.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("v").cast("bigint").alias("s")
    )
    dev = c.join(m, ["user_id", "bucket"]).select(
        "user_id", "bucket", "event_id", "v", "n",
        F.abs(F.col("v") * F.col("n") - F.col("s")).alias("d"),
    )
    pick = (
        dev.groupBy("user_id", "bucket")
        .agg(F.max(F.struct(F.col("d"), (-F.col("event_id")).alias("neg_id"), "event_id", "v", "n")).alias("m"))
        .select(
            "user_id", "bucket",
            F.col("m.event_id").alias("kept_event"),
            F.col("m.v").alias("kept_cents"),
            F.col("m.n").alias("n_in_bucket"),
        )
    )
    return pick.orderBy("user_id", "bucket")


# ---------------------------------------------------------------------------
# q256 — threshold alarm with hysteresis (dual-fence state)
# ---------------------------------------------------------------------------

_HYS_HI = 9000  # cents: alarm arms at/above
_HYS_LO = 3000  # cents: alarm clears at/below


@register(
    "q256_hysteresis_alarm",
    category="stateful",
    oracle=f"""
WITH c AS (
  SELECT user_id, event_id, ts,
         CAST(round(value * 100, 0) AS BIGINT) AS v
  FROM events WHERE user_id < 20
),
marked AS (
  SELECT user_id, event_id, ts, v,
         CASE WHEN v >= {_HYS_HI} THEN 'on'
              WHEN v <= {_HYS_LO} THEN 'off' END AS crossing
  FROM c
),
st AS (
  SELECT user_id, event_id, v,
         coalesce(last_value(crossing IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 'off') AS alarm
  FROM marked
)
SELECT user_id, event_id, v, alarm,
       CAST(alarm = 'on' AS BOOLEAN) AS is_alarmed
FROM st
ORDER BY user_id, event_id
""",
)
def q256_hysteresis_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold alarm with HYSTERESIS — the dual-fence state machine
    every physical-sensor monitor uses (arm at >= hi, clear only at
    <= lo, hold in between) so a reading jittering around one
    threshold cannot flap the alarm. The reference hard-codes this
    shape around its display refresh (src/modules/dd/consumer.cpp
    :251-263 sticky display with staleness reset); here it is the
    declarative form: the
    alarm state at any event is simply the LAST crossing marker
    before it, so `last_value(... IGNORE NULLS)` over the keyed
    event order IS the state machine — no UDF, no iteration, and at
    scale it shuffles once on the stream key with per-key windows.

    Integer cents, string states; default state 'off' before any
    crossing. q233's token bucket holds counters in streaming state;
    this shows the same per-key automaton as a pure window when the
    state is a function of the last marker alone.
    """
    e = load_table(spark, "events", sf_dir)
    c = e.filter(F.col("user_id") < 20).select(
        "user_id", "event_id", "ts", F.round(F.col("value") * 100, 0).cast("bigint").alias("v")
    )
    marked = c.withColumn(
        "crossing",
        F.when(F.col("v") >= _HYS_HI, "on").when(F.col("v") <= _HYS_LO, "off"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    st = marked.withColumn(
        "alarm", F.coalesce(F.last("crossing", ignorenulls=True).over(w), F.lit("off"))
    )
    return st.select(
        "user_id", "event_id", "v", "alarm", (F.col("alarm") == "on").alias("is_alarmed")
    ).orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# q257 — two-sample KS distance on integer CDFs (distribution drift)
# ---------------------------------------------------------------------------


@register(
    "q257_ks_distribution_drift",
    category="profile",
    oracle="""
WITH half AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) // 2 AS mid FROM documents),
c AS (
  SELECT CAST(d.n_chars AS BIGINT) AS v,
         CAST(sum(CASE WHEN d.doc_id < h.mid THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN d.doc_id >= h.mid THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM documents d CROSS JOIN half h
  GROUP BY 1
),
n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM c),
cum AS (
  SELECT v,
         CAST(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f1,
         CAST(sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f2
  FROM c
),
d AS (
  SELECT cum.v, abs(cum.f1 * n.n2 - cum.f2 * n.n1) AS gap
  FROM cum CROSS JOIN n
),
best AS (SELECT v, gap FROM d ORDER BY gap DESC, v LIMIT 1)
SELECT n.n1, n.n2, b.gap AS ks_num, n.n1 * n.n2 AS ks_den, b.v AS at_value
FROM n CROSS JOIN best b
""",
)
def q257_ks_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the document
    length distributions of the old and new corpus halves — the
    distribution-SHAPE drift monitor that complements q248's per-token
    rate test: KS catches a shift (longer documents creeping in) even
    when every token's rate is stable. Emitted as the exact rational
    KS = ks_num / ks_den with ks_num = max_v |F1(v)*n2 - F2(v)*n1| —
    cross-multiplied integer CDFs, so the supremum and its argmax
    location are bit-exact, no epsilon anywhere.

    Shape: one scan builds per-value conditional counts (bounded
    distinct domain, the q245 trick); both CDFs come from ONE window
    over that value-ordered count table; the supremum is
    TakeOrderedAndProject(1). At 100 TB the window input is the
    distinct-value table, not the corpus.
    """
    d = load_table(spark, "documents", sf_dir)
    half = d.agg(F.expr("CAST(max(doc_id) + 1 AS BIGINT) DIV 2").alias("mid"))
    # the per-value census (bounded distinct domain) feeds the totals,
    # the CDF window and the final report — pinned, so documents is
    # scanned twice (max-id probe + census) instead of r5's six
    c = (
        d.crossJoin(F.broadcast(half))
        .groupBy(F.col("n_chars").cast("bigint").alias("v"))
        .agg(
            F.sum(F.when(F.col("doc_id") < F.col("mid"), 1).otherwise(0)).cast("bigint").alias("c1"),
            F.sum(F.when(F.col("doc_id") >= F.col("mid"), 1).otherwise(0)).cast("bigint").alias("c2"),
        )
        .transform(pin)
    )
    n = c.agg(F.sum("c1").cast("bigint").alias("n1"), F.sum("c2").cast("bigint").alias("n2"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = c.select(
        "v",
        F.sum("c1").over(w).cast("bigint").alias("f1"),
        F.sum("c2").over(w).cast("bigint").alias("f2"),
    )
    gaps = cum.crossJoin(F.broadcast(n)).select(
        "v", F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")).alias("gap")
    )
    best = gaps.orderBy(F.col("gap").desc(), "v").limit(1)
    return (
        n.crossJoin(F.broadcast(best))
        .select(
            "n1", "n2",
            F.col("gap").alias("ks_num"),
            (F.col("n1") * F.col("n2")).alias("ks_den"),
            F.col("v").alias("at_value"),
        )
    )


# ---------------------------------------------------------------------------
# q258 — point-in-time feature join with leakage audit
# ---------------------------------------------------------------------------


@register(
    "q258_pit_feature_audit",
    category="join",
    oracle="""
WITH labels AS (
  SELECT user_id, event_id AS label_id, ts AS label_ts
  FROM events WHERE event_type = 'purchase'
),
features AS (
  SELECT user_id, ts AS feat_ts,
         CAST(round(value * 100, 0) AS BIGINT) AS feat_cents
  FROM events WHERE event_type <> 'purchase'
),
pit AS (
  SELECT l.user_id, l.label_id, l.label_ts, f.feat_ts, f.feat_cents
  FROM labels l ASOF LEFT JOIN features f
    ON l.user_id = f.user_id AND l.label_ts >= f.feat_ts
)
SELECT user_id, label_id,
       feat_cents,
       feat_ts IS NOT NULL AS has_feature,
       coalesce(feat_ts <= label_ts, TRUE) AS no_leakage,
       CAST(CASE WHEN feat_ts IS NOT NULL
            THEN floor(epoch(label_ts)) - floor(epoch(feat_ts)) END AS BIGINT) AS staleness_s
FROM pit
ORDER BY user_id, label_id
""",
)
def q258_pit_feature_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (feature-store) join with a LEAKAGE audit: each
    label row (purchase events) picks up the most recent feature
    value strictly from its past — the as-of join (operators/
    joins.py) that training-set assembly must use, because an
    ordinary join-on-key would leak future feature values into
    training examples (the classic offline/online skew bug). Each
    output row carries the audit boolean feat_ts <= label_ts —
    trivially true for a correct as-of implementation, which is the
    point: the invariant rides the data so any future regression of
    the join direction fails the hash, plus the feature staleness in
    seconds (the monitoring metric feature stores alert on).

    Shape: one union-window as-of join keyed by entity (no row
    explosion, q29's plan); the DuckDB oracle uses its native ASOF
    LEFT JOIN — an independent implementation of the same semantic.
    """
    from sensor_data_pipeline_spark.operators.joins import asof_join

    e = load_table(spark, "events", sf_dir)
    labels = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("label_id"), F.col("ts").alias("label_ts")
    )
    # the join key ts is consumed by asof_join; carry the matched
    # feature timestamp through as an ordinary value column so the
    # leakage/staleness audit can see it
    features = e.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("ts").alias("_ts_key"),
        F.col("ts").alias("feat_ts"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("feat_cents"),
    )
    pit = asof_join(labels, features, "user_id", "label_ts", "_ts_key")
    return pit.select(
        "user_id",
        "label_id",
        "feat_cents",
        F.col("feat_ts").isNotNull().alias("has_feature"),
        F.coalesce(F.col("feat_ts") <= F.col("label_ts"), F.lit(True)).alias("no_leakage"),
        F.when(
            F.col("feat_ts").isNotNull(),
            F.floor(F.unix_timestamp("label_ts")) - F.floor(F.unix_timestamp("feat_ts")),
        ).cast("bigint").alias("staleness_s"),
    ).orderBy("user_id", "label_id")
