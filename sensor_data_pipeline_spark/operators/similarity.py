"""Similarity search over embedding columns (north-star).

Two paths:

- **brute-force top-k** (the correctness baseline): broadcast the
  (small) query set against the corpus; cosine in codegen'd
  higher-order functions; per-query top-k via ranking window. Corpus
  never shuffles for the join (broadcast), once for the window —
  at 100 TB the scan dominates, which is the right bottleneck.
- **sign-LSH bucketed** (the scale path): bucket both sides by the
  sign pattern of leading dimensions and join on bucket id, so each
  query only scores its bucket's corpus slice. Recall < 1 by design;
  query-adaptive multi-probe (flipping the least-confident sign bits
  one at a time) is :func:`sign_lsh_multiprobe_candidates`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sensor_data_pipeline_spark.functions.vector import cosine_arrow, sign_lsh_bucket
from sensor_data_pipeline_spark.pins import pin


def _scored(queries: DataFrame, corpus: DataFrame, query_id: str, corpus_id: str, vec_col: str) -> DataFrame:
    q = queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv"))
    c = corpus.select(F.col(corpus_id).alias("match_id"), F.col(vec_col).alias("_cv"))
    return (
        c.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("match_id"))
        .withColumn("cosine", cosine_arrow(F.col("_qv"), F.col("_cv")))
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query. Raw doubles are emitted: both the
    Spark and oracle sides compute the dot product in double precision
    in index order, so values are bit-identical; ties break by match_id."""
    scored = _scored(queries, corpus, query_id, corpus_id, vec_col).withColumn("cos_r", F.col("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_r").desc(), F.col("match_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("query_id", "match_id", F.col("cos_r").alias("cosine"), "rk")
    )


def lsh_bucket_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_bits: int = 8,
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's sign-LSH
    bucket are scored. The join is an equi-join on bucket id — no
    broadcast needed when the query set is large, and the shuffle is
    keyed uniformly."""
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        sign_lsh_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("match_id"),
        F.col(vec_col).alias("_cv"),
        sign_lsh_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("match_id"))
        .withColumn("cos_r", cosine_arrow(F.col("_qv"), F.col("_cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_r").desc(), F.col("match_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("query_id", "bucket", "match_id", F.col("cos_r").alias("cosine"), "rk")
    )


def sign_lsh_multiprobe_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    n_probes: int = 3,
) -> DataFrame:
    """Multi-probe sign-LSH candidate generation (Lv et al., VLDB 2007,
    applied to the sign/hyperplane family): each QUERY probes its home
    bucket (probe_rank 0) plus the ``n_probes`` buckets reached by
    flipping the single LEAST-CONFIDENT sign bit — the dimensions with
    the smallest \\|value\\|, where a near neighbor most plausibly landed
    on the other side of the hyperplane. Probing multiplies recall
    without extra index tables: the corpus side keeps exactly ONE
    bucket id per vector, and only the (tiny) query side fans out
    ``n_probes + 1``-fold, so the join stays an equi-join keyed on the
    same uniform bucket id as :func:`lsh_bucket_topk`.

    Returns (query_id, match_id, probe_rank): probe_rank 0 = home
    bucket, r >= 1 = found via the r-th flip. A corpus vector lives in
    exactly one bucket, so (query, match) pairs are already distinct
    across probes. Filter ``probe_rank <= t`` to evaluate a probe
    budget t (recall-vs-probes audits).
    """
    c = corpus.select(
        F.col(corpus_id).alias("match_id"),
        sign_lsh_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    # least-confident dims first: sort (|value|, dim) structs — the
    # dim field breaks exact-|value| ties deterministically, and the
    # struct sort is mirrored field-for-field by the DuckDB oracles
    flips = F.expr(
        f"slice(array_sort(transform(sequence(0, {n_bits - 1}), "
        f"i -> struct(abs(element_at({vec_col}, i + 1)) AS a, i AS i))), "
        f"1, {n_probes})"
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        sign_lsh_bucket(F.col(vec_col), n_bits).alias("home"),
        flips.alias("_flips"),
    )
    probes = q.select(
        "query_id",
        F.explode(
            F.concat(
                F.array(F.struct(F.lit(0).alias("pr"), F.col("home").alias("pb"))),
                F.expr(
                    "transform(_flips, (f, r) -> "
                    "struct(r + 1 AS pr, home ^ shiftleft(1, f.i) AS pb))"
                ),
            )
        ).alias("p"),
    ).select("query_id", F.col("p.pr").alias("probe_rank"), F.col("p.pb").alias("bucket"))
    return (
        probes.join(c, "bucket")
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id", F.col("probe_rank").cast("bigint").alias("probe_rank"))
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are
    assigned to their nearest centroid (the coarse quantizer); each
    query scores only the posting lists of its ``n_probe`` nearest
    centroids.

    The quantizer here is deterministic — the first ``n_centroids``
    corpus vectors by id — so the DuckDB oracle can replay the exact
    partitioning; production would swap in MLlib KMeans centroids
    without touching the dataflow. The quantizer is materialized on the
    driver (n_centroids rows — the "fitted model", exactly what a
    KMeansModel is) and shipped to executors inside the assignment
    UDF's closure, so nearest-centroid assignment is a map-only
    Arrow-batched pass: the corpus is never widened n_centroids× by a
    join and never shuffled for assignment. It shuffles ONCE, on
    centroid id, for the posting-list join; each query joins
    ``n_probe`` posting lists instead of the whole corpus — cost
    O(corpus + queries·n_probe·avg_list), the IVF trade (recall < 1
    when the true neighbor lives in an unprobed cell).

    Bit-exactness: assignment cosines accumulate dimension-by-dimension
    in index order (vectorized across the batch), the same rounding
    sequence as cosine_arrow's _seq_dot and DuckDB's list_dot_product,
    so assignment ties resolve identically to the oracle's; equal
    cosines break toward the smaller cent_id via stable argsort over
    the id-sorted centroid matrix.
    """
    from pyspark.sql.functions import pandas_udf

    cent_rows = sorted(
        corpus.orderBy(corpus_id)
        .limit(n_centroids)
        .select(F.col(corpus_id).alias("cent_id"), F.col(vec_col).alias("_cent"))
        .collect(),
        key=lambda r: r["cent_id"],
    )
    cent_ids = np.asarray([r["cent_id"] for r in cent_rows], dtype=np.int64)
    C = np.stack([np.asarray(r["_cent"], dtype=np.float64) for r in cent_rows])
    c_norm_sq = np.zeros(len(C))
    for dim in range(C.shape[1]):  # sequential fold, matching _seq_dot
        c_norm_sq += C[:, dim] * C[:, dim]
    Cn = np.sqrt(c_norm_sq)

    def make_assign(n_keep: int):
        @pandas_udf("array<bigint>")
        def assign(v: pd.Series) -> pd.Series:
            if len(v) == 0:
                return pd.Series([], dtype="object")
            X = np.stack(v.to_numpy()).astype(np.float64)
            acc = np.zeros((len(X), len(C)))
            x_norm_sq = np.zeros(len(X))
            for k in range(X.shape[1]):
                acc += np.outer(X[:, k], C[:, k])
                x_norm_sq += X[:, k] * X[:, k]
            cos = acc / (np.sqrt(x_norm_sq)[:, None] * Cn[None, :])
            # stable sort on -cos: ties keep index order = cent_id asc
            idx = np.argsort(-cos, axis=1, kind="stable")[:, :n_keep]
            picked = cent_ids[idx]
            return pd.Series(list(picked))

        return assign

    def nearest(side: DataFrame, id_alias: str, n_keep: int) -> DataFrame:
        return side.select(
            F.col(id_alias),
            F.col("_v"),
            F.explode(make_assign(n_keep)(F.col("_v"))).alias("cent_id"),
        )

    c = nearest(corpus.select(F.col(corpus_id).alias("match_id"), F.col(vec_col).alias("_v")), "match_id", 1)
    q = nearest(queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("_v")), "query_id", n_probe)

    scored = (
        q.withColumnRenamed("_v", "_qv")
        .join(c.withColumnRenamed("_v", "_cv"), "cent_id")
        .filter(F.col("query_id") != F.col("match_id"))
        .withColumn("cos_r", cosine_arrow(F.col("_qv"), F.col("_cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_r").desc(), F.col("match_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("query_id", "match_id", F.col("cos_r").alias("cosine"), "rk")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_blocks: int = 8,
    exact: bool = False,
    n_bands: int = 3,
    band_bits: int | None = 4,
    banded_blocks: int = 1,
    sizing_df: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold), executed as a blocked matrix product: rows are packed
    into groups, the groups are cross-joined (the only "cross join" is
    over blocks, never rows), and each block pair scores its sub-matrix
    in one Arrow batch. Only passing pairs leave Python, so shuffle and
    Arrow traffic are O(n·B + output), not O(n^2) pair rows.

    **Default = banded sign-LSH pre-blocking** (the 100 TB path): each
    row is replicated into ``n_bands`` buckets, one per band of
    ``band_bits`` sign-hyperplane bits over disjoint dimensions, and
    block pairs only form WITHIN a bucket. Total work drops from
    O(n²·dim) to O(n_bands · Σ_bucket n_b²·dim) — with roughly uniform
    buckets, a ~2^band_bits/n_bands reduction. A true pair is found iff
    the two vectors agree on every sign bit of at least one band
    (probability 1-(1-p^band_bits)^n_bands, p = 1-θ/π), so recall < 1
    by design — q150 audits it against the exact path, the q93 pattern.
    Pairs matching in several bands are scored per band (cosine is
    bit-identical, dimension order is global) and deduped at the end.

    ``exact=True`` is the escape hatch (and the oracle baseline):
    single bucket, all B*(B+1)/2 block pairs, exact all-pairs.

    Results are bit-identical to the scalar path: the dot product
    accumulates sequentially over dimensions (vectorized across the
    pair matrix), matching DuckDB's list_dot_product rounding order.

    Sizing: exact work per task is (n/B)^2·dim; pick B so B*(B+1)/2 ≈
    the cluster's task slots. In banded mode the BUCKET is already both
    the parallelism unit (n_bands·2^band_bits buckets) and the work
    bound, so sub-blocking defaults to ``banded_blocks=1`` — splitting
    ~bucket-sized groups 8 ways only multiplies per-pair Python
    overhead 36× (measured 2.1s → 0.6s at sf0.1). Raise
    ``banded_blocks`` only when hot buckets outgrow a task (roughly
    bucket_rows²·dim > 10^9 mult-adds).

    Sizing ``band_bits`` at scale: bucket occupancy is ~n/2^band_bits
    per band, and per-bucket work grows with occupancy SQUARED — the
    10x-replica sweep measured ~13x for the decade at the default
    band_bits=4 (fixed 16 buckets/band absorbing 10x the rows). Hold
    bucket occupancy constant by setting band_bits ≈
    log2(n / target_bucket_rows); recall per pair is unchanged only if
    the pair agrees on the extra bits too, so re-audit with q150's
    recall harness after resizing (more bands buy recall back).

    ``band_bits=None`` applies that sizing rule AUTOMATICALLY (the
    occupancy-adaptive q339 form): bits = 4 + ceil-log2(n/2048),
    computed integer-exactly from the binary length of
    (n-1) DIV 2048 (float log2 rounds unportably at exact powers) and
    carried as a 1-row broadcast column — no driver collect. Capped
    at dim DIV n_bands (measured from the data) so the bands'
    disjoint hyperplanes fit the vector; past the cap occupancy
    growth re-appears and a wider-band family (MinHash-LSH over a
    large hash space, q42's shape) is the honest tool. Per-pair
    recall FALLS as bits grow (p^bits per band) — the adaptive form
    holds THROUGHPUT linear and leaves recall to the audit ledger
    (q150 pair recall, q364 fixed-cost containment calibration at the
    production width, q356's analytic (b,r) S-curve for re-budgeting
    bands).

    ``sizing_df`` (default: ``df``) is the frame whose row count
    drives the adaptive width — a calibration caller audits a small
    SAMPLE with the width the FULL corpus would use by passing the
    corpus here (q364), otherwise the sample's own count would pick a
    narrower band than production ships.
    """
    blocks = n_blocks if exact else banded_blocks
    d = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.hash(F.col(id_col)), F.lit(blocks)).alias("blk"),
    )
    if exact:
        d = d.withColumn("bucket", F.lit(0).cast("bigint"))
    elif band_bits is None:
        # occupancy-adaptive width: bits from the corpus count via a
        # broadcast params row; band b's bucket id = b << bits + sign
        # bits of dims [b*bits, (b+1)*bits) — all dynamic in `_bits`.
        # Cap = dim DIV n_bands (measured from the data, not a 64-dim
        # assumption): the bands' disjoint hyperplanes must fit the
        # vector, else element_at walks off the array (ANSI error /
        # silent-false sign bits). Past the cap occupancy grows again
        # — the wide-hash MinHash family (q42) is the honest tool.
        # dim < n_bands would make the cap 0 → _bits=0, where Spark's
        # sequence(1, 0) REVERSES (step defaults to -1, yields [1, 0])
        # and element_at(v, 0) raises, while DuckDB's generate_series
        # is empty — a DIVERGENT engine failure. Raise the same clear
        # error on both engines instead (oracle twin: error() in the
        # q191/q364 params CTEs).
        params = (sizing_df if sizing_df is not None else df).agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.size(F.col(vec_col))).alias("dim"),
        ).select(
            F.expr(
                # static message, no measured-dim interpolation: the
                # DuckDB twins (northstar.py q191/q364 params CTEs) use
                # the same literal string, so the engines stay
                # comparable even on the degenerate-error path (ADVICE
                # r10)
                f"CASE WHEN dim < {n_bands} THEN CAST(raise_error("
                f"'adaptive banding needs >= 1 dim per band: dim < n_bands {n_bands}') AS INT) "
                f"ELSE CAST(LEAST(dim DIV {n_bands}, 4 + CASE WHEN n <= 2048 THEN 0"
                " ELSE length(bin((n - 1) DIV 2048)) END) AS INT) END"
            ).alias("_bits")
        )
        bands = F.array(
            *[
                F.expr(
                    f"shiftleft(CAST({b} AS BIGINT), _bits) + "
                    f"aggregate(transform(sequence(1, _bits), "
                    f"i -> IF(element_at(v, {b} * _bits + i) > CAST(0 AS FLOAT), "
                    f"shiftleft(CAST(1 AS BIGINT), i - 1), CAST(0 AS BIGINT))), "
                    f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
                )
                for b in range(n_bands)
            ]
        )
        d = (
            d.crossJoin(F.broadcast(params))
            .withColumn("bucket", F.explode(bands))
            .drop("_bits")
        )
    else:
        # band b's bucket id = b * 2^band_bits + sign bits of dims
        # [b*band_bits, (b+1)*band_bits) — disjoint hyperplanes per band
        bands = F.array(
            *[
                (
                    F.lit(b * (1 << band_bits))
                    + sign_lsh_bucket(F.col("v"), band_bits, offset=b * band_bits)
                ).cast("bigint")
                for b in range(n_bands)
            ]
        )
        d = d.withColumn("bucket", F.explode(bands))
    # the packed frame self-joins below, and an unpinned self-join
    # duplicates the whole upstream subtree — every caller paid TWO
    # parquet scans + two pack shuffles per invocation (q150's audit,
    # which calls this twice, showed 4 embeddings scans). Pin it: one
    # scan, one pack, and the self-join reads the checkpointed blocks.
    packed = (
        d.groupBy("bucket", "blk")
        .agg(F.collect_list(F.struct("id", "v")).alias("items"))
        .transform(pin)
    )
    pairs = packed.select(
        "bucket", F.col("blk").alias("blk_a"), F.col("items").alias("items_a")
    ).join(
        packed.select("bucket", F.col("blk").alias("blk_b"), F.col("items").alias("items_b")),
        ["bucket"],
    ).filter(F.col("blk_a") <= F.col("blk_b"))
    if exact:
        # one block pair per task: the matmul below is the unit of work
        pairs = pairs.repartition(n_blocks * (n_blocks + 1) // 2)

    def _seq_outer(X: np.ndarray, Y: np.ndarray) -> np.ndarray:
        # acc_k = acc_{k-1} + x_k*y_k per cell, in dimension order —
        # the same rounding sequence as the scalar loop.
        acc = np.zeros((len(X), len(Y)), dtype=np.float64)
        for k in range(X.shape[1]):
            acc += np.outer(X[:, k], Y[:, k])
        return acc

    def _seq_sq(X: np.ndarray) -> np.ndarray:
        acc = np.zeros(len(X), dtype=np.float64)
        for k in range(X.shape[1]):
            acc += X[:, k] * X[:, k]
        return acc

    def score(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for _, row in pdf.iterrows():
                ia = np.array([it["id"] for it in row["items_a"]], dtype=np.int64)
                ib = np.array([it["id"] for it in row["items_b"]], dtype=np.int64)
                Xa = np.stack([np.asarray(it["v"], dtype=np.float64) for it in row["items_a"]])
                Xb = np.stack([np.asarray(it["v"], dtype=np.float64) for it in row["items_b"]])
                cos = _seq_outer(Xa, Xb) / np.outer(np.sqrt(_seq_sq(Xa)), np.sqrt(_seq_sq(Xb)))
                # cosine is bitwise symmetric (IEEE multiply commutes), so
                # ordering each cell as (min_id, max_id) is value-safe.
                mask = (ia[:, None] < ib[None, :]) if row["blk_a"] == row["blk_b"] else np.ones(cos.shape, dtype=bool)
                mask &= cos >= threshold
                ii, jj = np.nonzero(mask)
                if len(ii):
                    lo = np.minimum(ia[ii], ib[jj])
                    hi = np.maximum(ia[ii], ib[jj])
                    out_a.append(lo)
                    out_b.append(hi)
                    out_c.append(cos[ii, jj])
            if out_a:
                yield pd.DataFrame(
                    {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b), "cosine": np.concatenate(out_c)}
                )

    out = pairs.mapInPandas(score, schema="id_a bigint, id_b bigint, cosine double")
    if not exact:
        # a pair agreeing on several bands is scored once per band with
        # bit-identical cosine; keep one. Cheap: only threshold-passing
        # pairs reach this shuffle.
        out = out.dropDuplicates(["id_a", "id_b"])
    return out


def pq_scores(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_codes: int = 16,
    n_subspaces: int = 4,
) -> DataFrame:
    """Product-quantization asymmetric scoring (the ANN memory-scale
    technique IVF composes with): vectors are split into
    ``n_subspaces`` contiguous subvectors, each encoded as the id of
    its nearest codebook entry (here: the first ``n_codes`` corpus
    vectors' subvectors — a deterministic "trained" codebook, same
    convention as ivf_topk's quantizer), so a 32-float vector becomes
    4 small ints (32x compression). Query-time distance is ADC: per
    subspace a 16-entry lookup table of (query subvector -> code)
    squared-L2 distances, and approx_dist(q, x) = sum of 4 table hits
    — pure Catalyst element_at arithmetic over the broadcast tables,
    no Python in the scoring join.

    Returns (query_id, match_id, adist) for all pairs (self excluded).
    Bit-exactness: every distance accumulates (x_i - c_i)^2 in
    dimension order (the same sequential fold as cosine_arrow), and
    table values are computed once driver-side with that fold, so the
    DuckDB oracle replays them exactly.
    """
    from pyspark.sql.functions import pandas_udf

    cent_rows = sorted(
        corpus.orderBy(corpus_id)
        .limit(n_codes)
        .select(F.col(corpus_id).alias("cid"), F.col(vec_col).alias("cv"))
        .collect(),
        key=lambda r: r["cid"],
    )
    C = np.stack([np.asarray(r["cv"], dtype=np.float64) for r in cent_rows])  # (K, D)
    dim = C.shape[1]
    sub = dim // n_subspaces

    def _sub_dists(X: np.ndarray, m: int) -> np.ndarray:
        """(n, K) sequential-fold squared L2 over subspace m."""
        acc = np.zeros((len(X), len(C)))
        for k in range(m * sub, (m + 1) * sub):
            diff = X[:, k, None] - C[None, :, k]
            acc += diff * diff
        return acc

    @pandas_udf("array<int>")
    def encode(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        X = np.stack(v.to_numpy()).astype(np.float64)
        codes = []
        for m in range(n_subspaces):
            d = _sub_dists(X, m)
            codes.append(np.argsort(d, axis=1, kind="stable")[:, 0])  # ties -> low id
        return pd.Series(list(np.stack(codes, axis=1).astype("int32")))

    coded = corpus.select(
        F.col(corpus_id).alias("match_id"), encode(F.col(vec_col)).alias("codes")
    )

    q_rows = sorted(
        queries.select(F.col(query_id).alias("qid"), F.col(vec_col).alias("qv")).collect(),
        key=lambda r: r["qid"],
    )
    table_rows = []
    for r in q_rows:
        qv = np.asarray(r["qv"], dtype=np.float64)[None, :]
        tables = [[float(x) for x in _sub_dists(qv, m)[0]] for m in range(n_subspaces)]
        table_rows.append((int(r["qid"]), *tables))
    tcols = ", ".join(f"t{m} array<double>" for m in range(n_subspaces))
    tables_df = queries.sparkSession.createDataFrame(
        table_rows, schema=f"query_id long, {tcols}"
    )

    adist = None
    for m in range(n_subspaces):
        term = F.element_at(F.col(f"t{m}"), F.col("codes")[m] + 1)
        adist = term if adist is None else adist + term
    return (
        coded.crossJoin(F.broadcast(tables_df))
        .filter(F.col("match_id") != F.col("query_id"))
        .select("query_id", "match_id", adist.alias("adist"))
    )
