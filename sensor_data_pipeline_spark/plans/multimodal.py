"""Declared queries for the multimodal binary-column operators.

The differential trick: the fake container's metadata is a pure
function of ``doc_id`` (operators/multimodal.py ``_meta_from_id``), so
the DuckDB oracle recomputes what the Spark side must recover by
actually round-tripping bytes through encode (pandas_udf -> binary
column) and decode (mapInPandas header parse). A value mismatch means
the binary plumbing — not the arithmetic — broke.

Oracle SQL mirrors _meta_from_id verbatim:
  kind        = ['image','audio','video'][doc_id % 3]
  width       = 64 + (doc_id % 64) * 4      (0 for audio)
  height      = 48 + (doc_id % 48) * 4      (0 for audio)
  sample_rate = 8000 + (doc_id % 5) * 4000  (0 unless audio)
  n_frames    = image: 1, video: 16 + doc_id % 240, audio: 0
  payload_len = 256 + (doc_id % 1024)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensor_data_pipeline_spark.operators.multimodal import (
    audio_features,
    decode_media_meta,
    resize_plan,
    sample_frames,
    synthesize_media,
)
from sensor_data_pipeline_spark.pins import pin
from sensor_data_pipeline_spark.plans.registry import register
from sensor_data_pipeline_spark.sources.tables import load_table

_DUCK_META = """
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 64 + (doc_id % 64) * 4 END AS width,
         CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 48 + (doc_id % 48) * 4 END AS height,
         CASE WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 5) * 4000 ELSE 0 END AS sample_rate,
         CASE doc_id % 3 WHEN 0 THEN 1 WHEN 2 THEN 16 + doc_id % 240 ELSE 0 END AS n_frames,
         256 + (doc_id % 1024) AS payload_len
  FROM documents
"""


def _media_decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return decode_media_meta(synthesize_media(docs))


@register(
    "q51_media_decode_stats",
    category="multimodal",
    oracle=f"""
WITH meta AS ({_DUCK_META})
SELECT kind,
       CAST(count(*) AS BIGINT) AS n_media,
       CAST(sum(width) AS BIGINT) AS sum_width,
       CAST(sum(height) AS BIGINT) AS sum_height,
       CAST(sum(sample_rate) AS BIGINT) AS sum_sample_rate,
       CAST(sum(n_frames) AS BIGINT) AS sum_frames,
       CAST(sum(payload_len) AS BIGINT) AS sum_payload
FROM meta GROUP BY kind ORDER BY kind
""",
)
def q51_media_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document into the fake binary container, decode the
    headers back with mapInPandas, aggregate per kind. Checks the full
    binary round trip against header values the oracle derives
    arithmetically."""
    return (
        _media_decoded(spark, sf_dir)
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_media"),
            F.sum("width").cast("bigint").alias("sum_width"),
            F.sum("height").cast("bigint").alias("sum_height"),
            F.sum("sample_rate").cast("bigint").alias("sum_sample_rate"),
            F.sum("n_frames").cast("bigint").alias("sum_frames"),
            F.sum("payload_len").cast("bigint").alias("sum_payload"),
        )
        .orderBy("kind")
    )


@register(
    "q52_image_resize_plan",
    category="multimodal",
    oracle=f"""
WITH meta AS ({_DUCK_META}),
img AS (SELECT doc_id AS media_id, width, height FROM meta WHERE kind = 'image'),
scaled AS (
  SELECT media_id, width, height,
         least(CAST(1.0 AS DOUBLE), CAST(256.0 AS DOUBLE) / width, CAST(192.0 AS DOUBLE) / height) AS s
  FROM img
)
SELECT media_id, width, height,
       CAST(floor(width * s) AS INT) AS out_w,
       CAST(floor(height * s) AS INT) AS out_h,
       CAST(floor(width * s) AS BIGINT) * CAST(floor(height * s) AS BIGINT) * 3 AS out_rgb_bytes
FROM scaled ORDER BY media_id
""",
)
def q52_image_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-within-256x192 resize arithmetic over decoded image dims
    (the pixel stage is stubbed; dims/byte-budget math is the real
    scheduling input for a media pipeline)."""
    return resize_plan(_media_decoded(spark, sf_dir)).orderBy("media_id")


@register(
    "q53_video_frame_sample",
    category="multimodal",
    oracle=f"""
WITH meta AS ({_DUCK_META}),
vid AS (SELECT doc_id AS media_id, n_frames FROM meta WHERE kind = 'video')
SELECT media_id,
       CAST(count(*) AS BIGINT) AS frames_kept,
       CAST(max(frame_idx) AS INT) AS last_frame,
       max(frame_idx / CAST(25.0 AS DOUBLE)) AS last_ts_sec
FROM (SELECT media_id, n_frames, unnest(generate_series(0, n_frames - 1, 10)) AS frame_idx FROM vid)
GROUP BY media_id ORDER BY media_id
""",
)
def q53_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-10th-frame sampling over decoded video containers: explode
    the kept indices, per-video kept-count and last timestamp."""
    return (
        sample_frames(_media_decoded(spark, sf_dir), every_k=10)
        .groupBy("media_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("frames_kept"),
            F.max("frame_idx").cast("int").alias("last_frame"),
            F.max("frame_ts_sec").alias("last_ts_sec"),
        )
        .orderBy("media_id")
    )


@register(
    "q54_audio_features",
    category="multimodal",
    # The payload is the UTF-8 text cycled/truncated to the
    # deterministic length (operators/multimodal.py:_meta_from_id), and
    # the fixture text is pure ASCII — so byte values equal per-char
    # code points and the blob statistics are recomputable relationally:
    # total = full_cycles * sum(chars) + sum(first rem chars). Sums stay
    # integer until one final division/sqrt, so doubles are bit-exact
    # across engines (both are single correctly-rounded IEEE ops).
    oracle="""
WITH a AS (
  SELECT doc_id, text, length(text) AS L, 256 + doc_id % 1024 AS plen
  FROM documents WHERE doc_id % 3 = 1
),
chars AS (
  SELECT doc_id, plen, L, pos,
         ord(substr(text, CAST(pos AS INT), 1)) AS v,
         plen % L AS rem
  FROM a, unnest(range(1, L + 1)) AS t(pos)
),
s AS (
  SELECT doc_id,
         any_value(plen) AS plen,
         any_value(L) AS L,
         sum(v) AS sum_all, sum(v * v) AS sumsq_all,
         sum(CASE WHEN pos <= rem THEN v ELSE 0 END) AS sum_rem,
         sum(CASE WHEN pos <= rem THEN v * v ELSE 0 END) AS sumsq_rem
  FROM chars GROUP BY doc_id
)
SELECT doc_id AS media_id,
       CAST(plen AS BIGINT) AS n_bytes,
       ((plen // L) * sum_all + sum_rem) / CAST(plen AS DOUBLE) AS mean_byte,
       sqrt(((plen // L) * sumsq_all + sumsq_rem) / CAST(plen AS DOUBLE)) AS rms_byte
FROM s ORDER BY media_id
""",
)
def q54_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched per-clip byte statistics (mean/RMS) over audio
    payloads — the feature-extract stage shape for real waveforms. The
    oracle recomputes every byte statistic from the container's
    generative formula (cycled ASCII text), turning the former
    rows-only check into a full value-hash audit of encode + decode +
    feature extraction end-to-end."""
    docs = load_table(spark, "documents", sf_dir)
    return audio_features(synthesize_media(docs)).orderBy("media_id")


@register(
    "q215_media_phash_neardup",
    category="multimodal",
    # The oracle regenerates each image payload byte-for-byte from the
    # container's generative formula (cycled ASCII text, q54's trick),
    # recomputes the 48-bit block-threshold signature, and replays the
    # identical band-collision candidate generation + Hamming verify.
    oracle="""
WITH img AS (
  SELECT doc_id, text, length(text) AS tl, 256 + doc_id % 1024 AS plen
  FROM documents WHERE doc_id % 3 = 0
),
bytes AS (
  SELECT i.doc_id, p.range AS p, i.plen,
         ascii(substr(i.text, CAST(p.range % i.tl AS INT) + 1, 1)) AS byte
  FROM img i, range(0, 1280) p
  WHERE p.range < i.plen
),
blocks AS (
  SELECT doc_id, CAST(p * 48 // plen AS INT) AS b, sum(byte) AS bsum
  FROM bytes GROUP BY doc_id, CAST(p * 48 // plen AS INT)
),
tot AS (SELECT doc_id, sum(bsum) AS total FROM blocks GROUP BY doc_id),
bands AS (
  SELECT blocks.doc_id, b // 12 AS band_idx,
         sum(CASE WHEN bsum * 48 > total THEN CAST(1 AS BIGINT) << (b % 12) ELSE 0 END) AS band_val
  FROM blocks JOIN tot ON blocks.doc_id = tot.doc_id
  GROUP BY blocks.doc_id, b // 12
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
  FROM bands a JOIN bands c
    ON a.band_idx = c.band_idx AND a.band_val = c.band_val AND a.doc_id < c.doc_id
)
SELECT p.id_a, p.id_b,
       CAST(sum(CASE WHEN sa.band_val = sb.band_val THEN 1 ELSE 0 END) AS BIGINT) AS n_bands_equal,
       CAST(sum(bit_count(xor(sa.band_val, sb.band_val))) AS BIGINT) AS hamming,
       CAST(sum(bit_count(xor(sa.band_val, sb.band_val))) AS BIGINT) <= 10 AS is_neardup
FROM cand p
JOIN bands sa ON sa.doc_id = p.id_a
JOIN bands sb ON sb.doc_id = p.id_b AND sb.band_idx = sa.band_idx
GROUP BY p.id_a, p.id_b
ORDER BY p.id_a, p.id_b
""",
)
def q215_media_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup detection over image blobs, end to end:
    encode documents into binary containers, extract a 48-bit
    mean-threshold signature per image in one Arrow pass
    (operators/multimodal.py phash_signature), band it 4 x 12 bits,
    and emit every band-collision candidate pair with its exact
    Hamming distance and a near-dup verdict.

    Scale design: identical shape to the text SimHash path — the blob
    column dies at the signature stage (4 ints/image cross the wire),
    candidates come from a posting-list self-join on (band_idx,
    band_val) — one shuffle keyed on band values, never all-pairs —
    and the Hamming verify runs only on collided pairs. With a real
    codec the signature becomes aHash over an 8x8 downsample; every
    stage after the UDF is unchanged.

    Reference basis: register-block decode then threshold compare is
    the reference's own idiom (src/modules/module_rpi_ups_hat.c:
    130-180 decodes packed bytes, consumer.cpp:241-268 compares
    against remembered state); here lifted to content fingerprints.
    """
    from sensor_data_pipeline_spark.operators.multimodal import PHASH_BANDS, phash_signature

    docs = load_table(spark, "documents", sf_dir)
    sig = phash_signature(synthesize_media(docs))
    # the band table is consumed FOUR times (both candidate sides +
    # both verify sides) — pinned, so the blob synthesis + Arrow
    # signature pass runs ONCE (r5's unpinned plan re-ran the
    # MapInPandas phash 8x and re-scanned documents 4x); per media
    # only 4 small ints persist, the blob itself dies at the signature
    bands = (
        sig.select(
            "media_id",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(i).alias("band_idx"), F.col(f"band{i}").alias("band_val"))
                        for i in range(PHASH_BANDS)
                    ]
                )
            ).alias("b"),
        )
        .select("media_id", "b.band_idx", "b.band_val")
        .transform(pin)
    )
    a = bands.alias("a")
    c = bands.alias("c")
    cand = (
        a.join(
            c,
            (F.col("a.band_idx") == F.col("c.band_idx"))
            & (F.col("a.band_val") == F.col("c.band_val"))
            & (F.col("a.media_id") < F.col("c.media_id")),
        )
        .select(F.col("a.media_id").alias("id_a"), F.col("c.media_id").alias("id_b"))
        .distinct()
    )
    sa = bands.select(
        F.col("media_id").alias("id_a"), F.col("band_idx"), F.col("band_val").alias("val_a")
    )
    sb = bands.select(
        F.col("media_id").alias("id_b"), F.col("band_idx"), F.col("band_val").alias("val_b")
    )
    ham = F.sum(F.bit_count(F.expr("val_a ^ val_b"))).cast("bigint")
    return (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "band_idx"])
        .groupBy("id_a", "id_b")
        .agg(
            F.sum((F.col("val_a") == F.col("val_b")).cast("int")).cast("bigint").alias("n_bands_equal"),
            ham.alias("hamming"),
            (ham <= 10).alias("is_neardup"),
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "q218_multimodal_manifest",
    category="multimodal",
    # Every gate and statistic is integer-exact: token counts from the
    # same whitespace split, payload lengths from the container
    # formula, and embedding "mass" as the sum of squared quantized
    # components — so the manifest hashes bit-for-bit.
    oracle=f"""
WITH meta AS ({_DUCK_META}),
toks AS (
  SELECT doc_id, lang, len(regexp_split_to_array(text, '\\s+')) AS n_tokens
  FROM documents
),
emb AS (
  SELECT vec_id,
         list_sum(list_transform(embedding,
                  x -> CAST(round(CAST(x AS DOUBLE) * 127) AS BIGINT)
                       * CAST(round(CAST(x AS DOUBLE) * 127) AS BIGINT))) AS qnorm
  FROM embeddings
),
manifest AS (
  SELECT m.kind, t.lang, t.n_tokens, m.payload_len, e.qnorm
  FROM toks t
  JOIN meta m ON m.doc_id = t.doc_id
  JOIN emb e ON e.vec_id = t.doc_id
  WHERE t.n_tokens >= 10 AND m.payload_len >= 300
)
SELECT kind, lang,
       CAST(count(*) AS BIGINT) AS n_examples,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(sum(payload_len) AS BIGINT) AS sum_payload_bytes,
       CAST(sum(qnorm) AS BIGINT) AS sum_qnorm
FROM manifest
GROUP BY kind, lang
ORDER BY kind, lang
""",
)
def q218_multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curated multimodal training manifest in one query: join the
    text table (token gate), the decoded media containers (payload
    gate), and the embedding table (quantized mass) on document id,
    then roll up per (kind, lang) — the modality-balance summary a
    data-mixture planner consumes.

    Scale design: three co-keyed tables join on their shared id — on a
    cluster these would be co-bucketed by doc_id making every join
    exchange-free; the media blobs contribute only decoded header
    columns (column pruning keeps bytes on disk), and the embedding
    mass reduces 64 floats to one integer JVM-side (zip-free
    aggregate over transform) before any shuffle. Gates filter BEFORE
    the rollup, so the exchange carries only surviving manifest rows.

    Reference basis: the consumer merges two sensor modalities into
    one display row after validating each (src/modules/dd/
    consumer.cpp:124-145); this is the N-modality warehouse form.
    """
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", r"\s+")).cast("bigint").alias("n_tokens"),
    )
    media = decode_media_meta(synthesize_media(docs)).select("media_id", "kind", "payload_len")
    qdim = lambda x: F.round(x.cast("double") * 127, 0).cast("bigint")  # noqa: E731
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id",
        F.aggregate(
            F.transform("embedding", lambda x: qdim(x) * qdim(x)),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("qnorm"),
    )
    manifest = (
        toks.join(media, toks.doc_id == media.media_id)
        .join(emb, toks.doc_id == emb.vec_id)
        .filter((F.col("n_tokens") >= 10) & (F.col("payload_len") >= 300))
    )
    return (
        manifest.groupBy("kind", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_examples"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.sum("payload_len").cast("bigint").alias("sum_payload_bytes"),
            F.sum("qnorm").cast("bigint").alias("sum_qnorm"),
        )
        .orderBy("kind", "lang")
    )


@register(
    "q219_video_scene_segments",
    category="multimodal",
    # Scene-cut rule, integer-exact on both engines: a cut before
    # frame f iff 2 * n_frames * |fsum[f] - fsum[f-1]| > total bytes.
    oracle="""
WITH vid AS (
  SELECT doc_id, text, length(text) AS tl,
         256 + doc_id % 1024 AS plen,
         16 + doc_id % 240 AS nf
  FROM documents WHERE doc_id % 3 = 2
),
bytes AS (
  SELECT v.doc_id, p.range AS p, v.plen, v.nf,
         ascii(substr(v.text, CAST(p.range % v.tl AS INT) + 1, 1)) AS byte
  FROM vid v, range(0, 1280) p
  WHERE p.range < v.plen
),
frames AS (
  SELECT doc_id, nf, CAST(p * nf // plen AS INT) AS frame_idx, sum(byte) AS fsum
  FROM bytes GROUP BY doc_id, nf, CAST(p * nf // plen AS INT)
),
tot AS (SELECT doc_id, sum(fsum) AS total FROM frames GROUP BY doc_id),
cuts AS (
  SELECT f.doc_id, f.nf, f.frame_idx, f.fsum, t.total,
         CASE WHEN f.frame_idx > 0
              AND 2 * f.nf * abs(f.fsum - lag(f.fsum) OVER w) > t.total
              THEN 1 ELSE 0 END AS is_cut
  FROM frames f JOIN tot t ON t.doc_id = f.doc_id
  WINDOW w AS (PARTITION BY f.doc_id ORDER BY f.frame_idx)
),
segs AS (
  SELECT doc_id, nf, frame_idx,
         sum(is_cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
  FROM cuts
),
seg_len AS (
  SELECT doc_id, nf, seg_id, count(*) AS seg_frames
  FROM segs GROUP BY doc_id, nf, seg_id
)
SELECT doc_id AS media_id,
       CAST(nf AS INT) AS n_frames,
       CAST(count(*) - 1 AS BIGINT) AS n_cuts,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(max(seg_frames) AS BIGINT) AS longest_segment
FROM seg_len
GROUP BY doc_id, nf
ORDER BY media_id
""",
)
def q219_video_scene_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-change segmentation for video blobs: per-frame signatures
    come out of one Arrow pass (operators/multimodal.py
    frame_signatures); cut detection (lag window), segment islands
    (running cut count), and per-segment rollups all run JVM-side on
    the signature table — the classic gap-islands shape keyed by
    media_id, so a 100 TB video corpus segments with one shuffle of
    integer rows and the blobs never leave their scan. With a real
    codec the signature becomes a per-frame luma histogram delta; the
    windowing is unchanged.

    Reference basis: sign-flip change detection over a per-key ordered
    stream is the reference's battery state machine
    (src/modules/module_rpi_ups_hat.c:241-265); here the "flip" is a
    frame-delta threshold and the key is the video.
    """
    from pyspark.sql import Window

    from sensor_data_pipeline_spark.operators.multimodal import frame_signatures

    docs = load_table(spark, "documents", sf_dir)
    sig = frame_signatures(synthesize_media(docs))
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    cuts = sig.withColumn(
        "is_cut",
        (
            (F.col("frame_idx") > 0)
            & (2 * F.col("n_frames") * F.abs(F.col("fsum") - F.lag("fsum").over(w)) > F.col("total"))
        ).cast("int"),
    )
    segs = cuts.withColumn(
        "seg_id",
        F.sum("is_cut").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    seg_len = segs.groupBy("media_id", "n_frames", "seg_id").agg(F.count(F.lit(1)).alias("seg_frames"))
    return (
        seg_len.groupBy("media_id", "n_frames")
        .agg(
            (F.count(F.lit(1)) - 1).cast("bigint").alias("n_cuts"),
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.max("seg_frames").cast("bigint").alias("longest_segment"),
        )
        .orderBy("media_id")
    )
