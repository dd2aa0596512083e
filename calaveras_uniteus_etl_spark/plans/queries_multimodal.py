"""Multimodal operator inventory (driver north-star extensions).

The media table is synthesized from ``documents`` (payload = utf-8
bytes of the text, media_type assigned round-robin) so the pipeline is
reproducible from the driver's parquet alone. Feature extraction runs
through the REAL mapInPandas plumbing (operators/multimodal.py) with a
deterministic fake decode whose formulas the DuckDB oracle mirrors
exactly — DuckDB's ``md5(VARCHAR)`` hashes the same utf-8 bytes Spark's
``md5(BINARY)`` sees, so digests agree byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from calaveras_uniteus_etl_spark.operators.multimodal import extract_features
from calaveras_uniteus_etl_spark.plans._session_index import (
    materialize,
    session_index,
)
from calaveras_uniteus_etl_spark.plans.catalog import register
from calaveras_uniteus_etl_spark.plans.tables import table

# hex→int fold of a 15-hex-char slice of an md5 digest string (DuckDB
# has no conv(); identical to int(digest[a:a+15], 16))
def _duck_fold(expr: str) -> str:
    return (
        f"list_reduce(list_transform(string_split_regex({expr}, ''), "
        "ch -> strpos('0123456789abcdef', ch) - 1), (a, b) -> a * 16 + b)"
    )


_H1 = _duck_fold("substr(md5(text), 1, 15)")
_H2 = _duck_fold("substr(md5(text), 16, 15)")


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread before the Arrow/pandas decode stage (source is one file)
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return d.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3).cast("int") + 1,
        ).alias("media_type"),
    )


@register(
    "x11_multimodal_features",
    oracle=f"""
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS digest,
       CASE WHEN doc_id % 3 IN (0, 2) THEN CAST({_H1} % 1920 + 1 AS INT) END AS width,
       CASE WHEN doc_id % 3 IN (0, 2) THEN CAST({_H2} % 1080 + 1 AS INT) END AS height,
       CASE WHEN doc_id % 3 IN (1, 2) THEN CAST({_H1} % 600 + 1 AS INT) END AS duration_s,
       CASE WHEN doc_id % 3 = 1 THEN CAST(8000 + ({_H2} % 8) * 4000 AS INT) END AS sample_rate
FROM documents
""",
    doc="Multimodal feature extraction: opaque binary payload column → "
    "Arrow-batched mapInPandas; byte count and md5 digest, with "
    "digest-derived stand-in dimensions (no format decode), in a fixed "
    "output schema.",
)
def _features_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-indexed media featurization: the Arrow mapInPandas
    decode (operators/multimodal.py:extract_features) runs ONCE per
    corpus and every media consumer — x11 features/rollup, x39 resize
    planning, x40 frame sampling, x61 perceptual near-dup — reads the
    same checkpointed (doc_id, media_type, n_bytes, digest, width,
    height, duration_s, sample_rate) relation. Re-decoding payloads per
    query is the §8 anti-pattern at 100 TB: every decision downstream
    of the decode depends only on these ~60 bytes/row, so the heavy
    payload bytes cross the decode boundary exactly once. Registered in
    bench.py's index-build phase, so the build cost is explicitly timed
    (and counted in the headline total)."""
    return session_index(
        spark,
        sf_dir,
        "media_features",
        lambda: materialize(extract_features(_media(spark, sf_dir))),
    )


@register(
    "x11_multimodal_rollup",
    oracle=f"""
WITH feats AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         CASE WHEN doc_id % 3 IN (0, 2) THEN CAST({_H1} % 1920 + 1 AS INT) END AS width
  FROM documents
)
SELECT media_type,
       COUNT(*) AS n_items,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(SUM(width) AS BIGINT) AS sum_width
FROM feats
GROUP BY media_type
""",
    doc="Rollup over extracted media features: per-type counts, byte "
    "totals — the mapInPandas output feeding a normal hash aggregate.",
)
def x11_multimodal_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _features_index(spark, sf_dir)
    return feats.groupBy("media_type").agg(
        F.count("*").alias("n_items"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("width").cast("bigint").alias("sum_width"),
    )


# ---------------------------------------------------------------------------
# X39/X40 — resize planning and frame sampling (the remaining media
# stages from the multimodal brief). Integer-only arithmetic inside
# the Arrow kernel, mirrored exactly in SQL.
# ---------------------------------------------------------------------------

_TW, _TH = 640, 480


@register(
    "x39_media_resize_plan",
    oracle=f"""
WITH dims AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
           AS media_type,
         CASE WHEN doc_id % 3 IN (0, 2) THEN CAST({_H1} % 1920 + 1 AS INT) END AS width,
         CASE WHEN doc_id % 3 IN (0, 2) THEN CAST({_H2} % 1080 + 1 AS INT) END AS height
  FROM documents
)
SELECT doc_id, media_type, width, height,
       CAST(CASE WHEN width IS NULL THEN NULL
            WHEN width <= {_TW} AND height <= {_TH} THEN width
            WHEN {_TW} * height >= {_TH} * width THEN (width * {_TH}) // height
            ELSE {_TW} END AS INT) AS out_width,
       CAST(CASE WHEN width IS NULL THEN NULL
            WHEN width <= {_TW} AND height <= {_TH} THEN height
            WHEN {_TW} * height >= {_TH} * width THEN {_TH}
            ELSE (height * {_TW}) // width END AS INT) AS out_height,
       CASE WHEN width IS NULL THEN FALSE
            ELSE NOT (width <= {_TW} AND height <= {_TH}) END AS resized
FROM dims
""",
    doc=f"Aspect-preserving resize plan into {_TW}x{_TH} for image/"
    "video payloads: binding side by integer cross-multiplication, "
    "floor on the other — never upscales, audio passes through NULL. "
    "Consumes the session media featurization (decode runs once per "
    "corpus); the payload-bearing mapInPandas path remains "
    "operators/multimodal.py:resize_plan.",
)
def x39_media_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The plan depends only on (width, height) — integer arithmetic the
    # JVM evaluates directly over the decoded-once featurization
    # (operators/multimodal.py:resize_fit, mirrored expression-for-
    # expression; equivalence pinned by
    # tests/test_r12_optimizations.py). The old shape re-decoded every
    # payload through a second Arrow pass per invocation.
    f = _features_index(spark, sf_dir).select(
        "doc_id", "media_type", "width", "height"
    )
    w, h = F.col("width"), F.col("height")
    fits = (w <= _TW) & (h <= _TH)
    h_binds = F.lit(_TW) * h >= F.lit(_TH) * w
    out_w = (
        F.when(w.isNull(), F.lit(None).cast("int"))
        .when(fits, w)
        .when(h_binds, F.expr(f"(width * {_TH}) div height").cast("int"))
        .otherwise(F.lit(_TW))
    )
    out_h = (
        F.when(w.isNull(), F.lit(None).cast("int"))
        .when(fits, h)
        .when(h_binds, F.lit(_TH))
        .otherwise(F.expr(f"(height * {_TW}) div width").cast("int"))
    )
    resized = F.when(w.isNull(), F.lit(False)).otherwise(~fits)
    return f.select(
        "doc_id",
        "media_type",
        "width",
        "height",
        out_w.alias("out_width"),
        out_h.alias("out_height"),
        resized.alias("resized"),
    )


@register(
    "x40_frame_sample",
    oracle=f"""
WITH vids AS (
  SELECT doc_id, CAST({_H1} % 600 + 1 AS INT) AS duration_s
  FROM documents WHERE doc_id % 3 = 2
), ks AS (SELECT unnest(range(16)) AS k)
SELECT doc_id,
       CAST(k * 48 AS INT) AS frame_idx,
       CAST(k * 48 * 1000 // 24 AS BIGINT) AS t_offset_ms
FROM vids CROSS JOIN ks
WHERE k * 48 < duration_s * 24
ORDER BY doc_id, frame_idx
""",
    doc="Per-video frame sampling: every 48th frame at the fake "
    "decoder's 24 fps, capped at 16 frames/video, one row per sampled "
    "frame with its millisecond offset — fan-out via sequence+explode "
    "over the session featurization, never a driver loop; the payload-"
    "bearing mapInPandas path remains operators/multimodal.py:"
    "sample_frames.",
)
def x40_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Frame indices depend only on duration_s: k*48 for k < min(16,
    # ceil(duration*24/48)) — a sequence+explode over the decoded-once
    # featurization (operators/multimodal.py:_frame_batches mirrored;
    # equivalence pinned by tests/test_r12_optimizations.py). The old
    # shape re-decoded every payload per invocation to read duration.
    from calaveras_uniteus_etl_spark.operators.multimodal import (
        FPS,
        FRAME_EVERY_N,
        FRAME_MAX,
    )

    vids = (
        _features_index(spark, sf_dir)
        .filter(F.col("media_type") == "video")
        .select("doc_id", "duration_s")
    )
    return (
        vids.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(FRAME_MAX - 1))
            ).alias("k"),
            "duration_s",
        )
        .filter(
            F.col("k") * FRAME_EVERY_N
            < F.col("duration_s").cast("bigint") * FPS
        )
        .select(
            "doc_id",
            (F.col("k") * FRAME_EVERY_N).cast("int").alias("frame_idx"),
            F.expr(
                f"(cast(k as bigint) * {FRAME_EVERY_N} * 1000) div {FPS}"
            ).alias("t_offset_ms"),
        )
        .orderBy("doc_id", "frame_idx")
    )


# ---------------------------------------------------------------------------
# X61 — perceptual-hash near-dup over images (banded hamming join)
#
# The image twin of the text SimHash miner (plans/queries_dedup.py):
# a 60-bit per-image fingerprint, LSH-banded into 4×15-bit keys so
# candidate pairs come from band-bucket self-joins (never all-pairs),
# then exact hamming distance via bit_count(xor) on the candidates
# only. With the deterministic fake decoder the fingerprint derives
# from the payload md5 (so only byte-identical images land at
# hamming 0 — the oracle mirrors it exactly); with a real decoder the
# same plan runs on a DCT/aHash fingerprint — only the fingerprint
# expression changes, the banding/join/verify shape is decoder-
# agnostic. At 100 TB the shuffle carries (band_key, doc_id, hash60)
# triples, and the same mega-bucket guard as the text miners
# (BUCKET_CAP from queries_dedup) drops degenerate buckets — an
# all-black-thumbnail bucket would otherwise go quadratic. Inactive
# at the driver's SFs (buckets are collision-sized), mirrored in the
# oracle so activation never breaks parity.
# ---------------------------------------------------------------------------

from calaveras_uniteus_etl_spark.plans.queries_dedup import BUCKET_CAP as _X61_CAP

_X61_BANDS = 4
_X61_BITS = 15  # per band; 4×15 = the 60-bit fingerprint
_X61_MAX_HAM = 8


@register(
    "x61_media_phash_neardup",
    oracle=f"""
WITH imgs AS (
  SELECT doc_id, {_H1} AS h
  FROM documents WHERE doc_id % 3 = 0
), banded AS (
  SELECT doc_id, h, unnest(range({_X61_BANDS})) AS band
  FROM imgs
), keyed AS (
  SELECT doc_id, h, band,
         (h // power(2, band * {_X61_BITS})::BIGINT) % {1 << _X61_BITS} AS band_key
  FROM banded
), ok AS (
  SELECT band, band_key FROM keyed
  GROUP BY band, band_key HAVING COUNT(*) <= {_X61_CAP}
), kept AS (
  SELECT keyed.* FROM keyed JOIN ok USING (band, band_key)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.h AS ha, b.h AS hb
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(ha, hb)) AS INT) AS hamming,
       bit_count(xor(ha, hb)) <= {_X61_MAX_HAM} AS is_neardup
FROM cand
ORDER BY doc_a, doc_b
""",
    doc="Image near-dup: 60-bit fingerprint (fake-decoder md5 fold; "
    "decoder-agnostic plan), 4×15-bit LSH bands, bucket self-join "
    "for candidates, exact bit_count(xor) hamming verify ≤ "
    f"{_X61_MAX_HAM}.",
)
def x61_media_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The 60-bit fingerprint is a fold of the payload digest the
    # session featurization already carries — consume it instead of
    # re-encoding and re-hashing every payload (and shuffling the
    # payload bytes through _media's repartition) per invocation.
    imgs = (
        _features_index(spark, sf_dir)
        .filter(F.col("media_type") == "image")
        .select(
            "doc_id",
            F.conv(F.substring("digest", 1, 15), 16, 10)
            .cast("bigint")
            .alias("h"),
        )
    )
    keyed = imgs.select(
        "doc_id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(_X61_BANDS - 1))).alias("band"),
    ).withColumn(
        "band_key",
        F.expr(f"shiftrightunsigned(h, band * {_X61_BITS})")
        % (1 << _X61_BITS),
    )
    ok = (
        keyed.groupBy("band", "band_key")
        .agg(F.count("*").alias("bc"))
        .filter(F.col("bc") <= _X61_CAP)
        .drop("bc")
    )
    keyed = keyed.join(ok, ["band", "band_key"])
    a = keyed.select(
        F.col("band"),
        F.col("band_key"),
        F.col("doc_id").alias("doc_a"),
        F.col("h").alias("ha"),
    )
    b = keyed.select(
        F.col("band"),
        F.col("band_key"),
        F.col("doc_id").alias("doc_b"),
        F.col("h").alias("hb"),
    )
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.select(
            "doc_a",
            "doc_b",
            ham.cast("int").alias("hamming"),
            (ham <= _X61_MAX_HAM).alias("is_neardup"),
        )
        .orderBy("doc_a", "doc_b")
    )
