"""Deduplication operators (north-star: training-data pipeline).

Four families, all shuffle-conscious:

- **exact**: hash-groupBy on a normalized fingerprint — one shuffle,
  map-side combine; at 100 TB this is the cheapest possible dedup.
- **n-gram Jaccard**: inverted-index (posting-list) candidate
  generation — docs sharing a shingle become candidates; pairs are
  generated *inside* each posting array, so the whole candidate stage
  is ONE shuffle (groupBy shingle), never the O(n^2) cross join and
  never a two-sided self-join shuffle. Skew note: ultra-common
  shingles explode the pair fan-out quadratically; the frequency cap
  (``max_shingle_freq``) drops their postings, trading a sliver of
  recall for bounded work — at web scale always set it.
- **MinHash + LSH banding**: constant-size signatures (K min-hashes)
  per doc, banded so only docs agreeing on a whole band collide; the
  md5 hashing is done once per *distinct* shingle and broadcast-joined
  back (documents repeat shingles heavily, so this is ~10x less hash
  work than hashing per occurrence).
- **SimHash**: one 32-bit fingerprint per doc from per-bit majority of
  word hashes; near-dups differ in few bits.

Evaluation notes (these shaped every function below, measured at sf0.1):

- A `transform(...)` lambda that references a *non-attribute* array
  expression (e.g. ``split(text)``) re-evaluates that expression per
  element. Binding the array to a named column in its own projection
  first (``_shingled``) makes it an attribute — evaluated once per row.
- ``explode`` makes the optimizer infer a ``size(e) > 0`` filter
  (InferFiltersFromGenerate) that re-inlines the full shingling
  expression below the projection; ``explode_outer`` + a cheap
  null-filter afterwards avoids that (7x faster on the inv scan).
- The shingle table feeds several branches (postings, sizes); it is
  tiny relative to the input (ids + shingle arrays), so ``.cache()``
  turns the diamond into one evaluation. At 100 TB the same pattern
  holds with ``persist(DISK)`` or a checkpoint.

Hashes are the md5-derived 32-bit ints from ``functions.text`` so
every step is reproducible in the DuckDB oracle; swap in
``word_hash_fast`` (xxhash64) for production speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sensor_data_pipeline_spark.functions.text import doc_fingerprint, tokenize, word_hash32, word_shingles
from sensor_data_pipeline_spark.pins import pin


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on the normalized text fingerprint: keep the lowest
    id per fingerprint group, count the copies."""
    return (
        df.withColumn("fp", doc_fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).cast("bigint").alias("n_copies"))
    )


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingles) with the words array bound as its own projection
    so the tokenizing split evaluates once per row, not once per
    lambda element (see module docstring)."""
    w = df.select(id_col, tokenize(F.col(text_col)).alias("_w"))
    return w.select(id_col, word_shingles(F.col("_w"), n).alias("shingles"))


def _exploded(df: DataFrame, id_col: str, arr_col: str, out_col: str) -> DataFrame:
    """explode_outer + null-filter: same rows as explode, but without
    the optimizer's inferred size>0 filter re-evaluating the array
    expression a second time."""
    return df.select(id_col, F.explode_outer(arr_col).alias(out_col)).filter(F.col(out_col).isNotNull())


def _posting_pairs(inv: DataFrame, id_col: str, key_col: str, max_freq: int | None = None) -> DataFrame:
    """Candidate pairs (id_a < id_b) from an inverted index in ONE
    shuffle: group ids per key into a sorted posting array, then emit
    the within-array combinations JVM-side. One output row per
    (key, pair) occurrence — callers count or distinct as needed."""
    posts = inv.groupBy(key_col).agg(F.array_sort(F.collect_list(id_col)).alias("ids")).filter(F.size("ids") >= 2)
    if max_freq is not None:
        posts = posts.filter(F.size("ids") <= max_freq)
    combos = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    pairs = posts.select(F.explode_outer(combos).alias("p")).filter(F.col("p").isNotNull())
    return pairs.select("p.id_a", "p.id_b")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard, via posting-list
    candidate generation.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >=
    threshold. Jaccard is exact over *distinct* shingles, so the only
    approximation is the optional frequency cap.
    """
    sh = _shingled(df.select(id_col, text_col), id_col, text_col, n).cache()
    sizes = sh.select(F.col(id_col).alias("_id"), F.size("shingles").alias("_n"))
    inv = _exploded(sh, id_col, "shingles", "shingle")
    shared = (
        _posting_pairs(inv, id_col, "shingle", max_shingle_freq)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(F.broadcast(sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("n_a"))), "id_a")
        .join(F.broadcast(sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("n_b"))), "id_b")
        .withColumn("jaccard", F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT
    |A∩B| / min(|A|, |B|): catches quote-inclusion and boilerplate
    wrapping, where a short document lives inside a long one — pairs
    Jaccard misses because the union is dominated by the longer side
    (|A∩B|/|A∪B| ≈ |A|/|B| → 0 while containment → 1).

    Same one-shuffle posting-list candidate generation as
    jaccard_pairs — never an all-pairs join — with the same optional
    frequency cap for stopword-shingle skew. Returns (id_a, id_b,
    n_shared, containment) with id_a < id_b, containment >= threshold;
    the division is the only float op (bit-exact from integers)."""
    sh = _shingled(df.select(id_col, text_col), id_col, text_col, n).cache()
    sizes = sh.select(F.col(id_col).alias("_id"), F.size("shingles").alias("_n"))
    inv = _exploded(sh, id_col, "shingles", "shingle")
    shared = (
        _posting_pairs(inv, id_col, "shingle", max_shingle_freq)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    return (
        shared.join(F.broadcast(sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("n_a"))), "id_a")
        .join(F.broadcast(sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("n_b"))), "id_b")
        .withColumn("containment", F.col("n_shared") / F.least("n_a", "n_b"))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_shared", "containment")
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, n: int = 3) -> DataFrame:
    """K-permutation MinHash signature: hash each *distinct* shingle
    once (documents repeat shingles heavily), broadcast the hash table
    back onto the postings, then K min-aggregations per doc — one
    wide shuffle, map-side combinable, constant output size per doc."""
    sh = _shingled(df.select(id_col, text_col), id_col, text_col, n).cache()
    inv = _exploded(sh, id_col, "shingles", "shingle")
    uniq = inv.select("shingle").distinct()
    hashed = uniq.select(
        "shingle", *[word_hash32(F.col("shingle"), seed=k).alias(f"_h{k}") for k in range(num_hashes)]
    )
    joined = inv.join(F.broadcast(hashed), "shingle")
    aggs = [F.min(F.col(f"_h{k}")).alias(f"mh_{k}") for k in range(num_hashes)]
    return joined.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sig_df: DataFrame, id_col: str, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """LSH banding over a MinHash signature: docs colliding on any
    whole band become a candidate pair. Pairs are generated inside the
    per-(band_id, band_hash) posting arrays — one uniform shuffle;
    output is distinct pairs."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_id"), F.md5(F.concat_ws("_", *[c.cast("string") for c in cols])).alias("band_hash"))
        )
    banded = sig_df.select(F.col(id_col).alias("_id"), F.explode(F.array(*band_cols)).alias("band")).select(
        "_id", F.concat_ws("#", F.col("band.band_id").cast("string"), F.col("band.band_hash")).alias("band_key")
    )
    return _posting_pairs(banded, "_id", "band_key").distinct()


def _components_local(edge_rows, id_type, spark) -> DataFrame:
    """Small-graph fast path: union-find with path compression on the
    already-collected edge list, min-id per component as the cluster
    label — bit-identical semantics to the distributed loop, including
    the output schema: ids keep the input's type (int stays int,
    string stays string — any orderable type the distributed `least`
    path accepts works here too). Takes rows (not a DataFrame) so the
    caller's threshold probe doubles as the only execution of the edge
    pipeline — no checkpoint, no second job."""
    import pandas as pd
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in edge_rows:
        a, b = row.src, row.dst
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min-id root, matches min-label
    label = {n: find(n) for n in parent}
    out_schema = T.StructType(
        [T.StructField("doc_id", id_type), T.StructField("cluster_id", id_type)]
    )
    # Arrow path: a pandas frame converts in one batch instead of
    # row-by-row Python->JVM pickling
    nodes = list(parent)
    pdf = pd.DataFrame({"doc_id": nodes, "cluster_id": [label[n] for n in nodes]})
    return spark.createDataFrame(pdf, out_schema)


def dedup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    substeps: int = 2,
    small_graph_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair list: every doc
    gets the MINIMUM id reachable through the dup graph as its cluster
    representative — the keep-one step after any candidate generator
    (jaccard_pairs / lsh_candidate_pairs / embedding_neardup_pairs).

    Iterative min-label propagation with pointer jumping: each step
    (a) takes the min label across edges and (b) resolves every label
    through its own current label (path halving), so convergence is
    O(log diameter) steps instead of O(diameter) — long chains of
    borderline near-dups converge in a handful of shuffles. No
    driver-side graph materialization, so a billion-edge dup graph
    distributes cleanly.

    Per-round mechanics (each measured at sf0.1):

    - ``substeps`` propagation steps are chained between
      materializations, amortizing the fixed per-round cost
      (checkpoint + convergence action) over more progress; 2 is the
      sweet spot — at 3 the chained-join plan outgrows the saving.
    - the round is materialized FIRST (eager localCheckpoint, which
      also keeps each round's plan O(1) instead of O(iterations)),
      then convergence reads the materialized result — never
      execute-for-count followed by re-execute-for-checkpoint.
    - convergence is one tiny agg, no join: labels are per-node
      monotone non-increasing (every update is a ``least``), so the
      label sum is strictly decreasing until fixpoint; an exact
      decimal(38,0) sum (overflow-proof at any corpus size) equal to
      the previous round's means no label moved.

    Strategy choice is size-adaptive, the same philosophy as Spark's
    broadcast-join threshold: the dup graph after candidate generation
    is orders of magnitude smaller than the corpus that produced it,
    and below ``small_graph_edges`` a driver-side union-find
    (O(E·α(E)), one collect) beats ~10 distributed join rounds by an
    order of magnitude. Above the threshold — web-scale graphs where
    the edge list itself is distributed data — the label-propagation
    loop runs unchanged. Pass ``small_graph_edges=0`` to force the
    distributed path.

    Returns (doc_id, cluster_id) for every id appearing in ``pairs``.
    """
    # Materialize the edge list ONCE (cache, counted to fill it) — the
    # candidate generator upstream (LSH / neardup scoring) must not
    # re-execute per union branch, per loop iteration, or for the
    # size probe. cache+count beats an eager localCheckpoint here
    # (measured 0.3s vs 2.7s at sf0.1: checkpointing re-runs the full
    # candidate pipeline; a limit-probe escalates through partial
    # jobs) and beats limit() for the small-graph gate.
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).distinct()
    edges.cache()
    n_edges = edges.count()
    if n_edges <= small_graph_edges:
        try:
            return _components_local(
                edges.collect(), edges.schema["src"].dataType, pairs.sparkSession
            )
        finally:
            edges.unpersist()
    # undirected: propagate both ways
    both = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    def propagate(lbl: DataFrame) -> DataFrame:
        neighbor = (
            both.join(lbl, both.src == lbl.node)
            .select(F.col("dst").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("nbr_label"))
        )
        prop = lbl.join(neighbor, "node", "left").select(
            "node", F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias("label")
        )
        # pointer jumping: label := min(label, label's own label)
        parents = prop.select(F.col("node").alias("label"), F.col("label").alias("parent"))
        return prop.join(parents, "label", "left").select(
            "node", F.least(F.col("label"), F.coalesce("parent", F.col("label"))).alias("label")
        )

    labels = both.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node"))

    # size the loop's shuffles to the GRAPH, not the session default:
    # the edge list is materialized, so its count is free, and a dup
    # graph is orders of magnitude smaller than the corpus that
    # produced it. ~500k edges per partition keeps tasks meaningful;
    # the session setting stays authoritative for billion-edge graphs.
    spark = pairs.sparkSession
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    loop_parts = max(4, min(int(prev_parts), n_edges // 500_000 + 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    try:
        prev_sum = None
        for _ in range(max_iters):
            updated = labels
            for _ in range(substeps):
                updated = propagate(updated)
            labels = updated.transform(pin)
            label_sum = labels.agg(F.sum(F.col("label").cast("decimal(38,0)")).alias("s")).collect()[0]["s"]
            if label_sum == prev_sum:
                break
            prev_sum = label_sum
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        edges.unpersist()
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash fingerprint: per-bit majority vote over word hashes.

    explode(words) x explode(bits) keeps everything in codegen; the
    double shuffle is on (id, bit) then (id) — both uniform. Output:
    one bigint fingerprint per doc.
    """
    w = df.select(id_col, tokenize(F.col(text_col)).alias("_w"))
    words = _exploded(w, id_col, "_w", "w").withColumn("h", word_hash32(F.col("w")))
    per_bit = (
        words.select(id_col, "h", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"))
        .groupBy(id_col, "bit")
        .agg(
            F.sum(
                F.when(F.expr("(shiftright(h, bit) & 1)") == 1, 1).otherwise(-1)
            ).alias("vote")
        )
    )
    return per_bit.groupBy(id_col).agg(
        F.sum(F.when(F.col("vote") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(0))
        .cast("bigint")
        .alias("simhash")
    )
