"""Multimodal plumbing query (§2.6): binary blob column + Arrow-batched
metadata extraction + JVM-side content hash."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koalas_spark.operators.multimodal import (
    LOSSLESS_CODECS,
    extract_meta,
    lossless_roundtrip,
    with_blob,
)
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# 49. blob metadata: byte length + magic-byte kind sniff via
# mapInPandas (Arrow batch path), sha256 via JVM expression — all
# oracle-checked against DuckDB. The oracle mirrors sniff_kind's
# magic-byte dispatch so a regenerated corpus document that happens
# to start with 'P5'/'P6'/'BM' flips kind identically in both engines.
@query(
    "multimodal_meta",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CASE WHEN text LIKE 'P5%' THEN 'image/x-portable-graymap'
            WHEN text LIKE 'P6%' THEN 'image/x-portable-pixmap'
            WHEN text LIKE 'BM%' THEN 'image/bmp'
            ELSE 'text/plain' END AS kind,
       sha256(text) AS sha
FROM documents
""",
    bench=False,
    allow={"Python"},
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    blobbed = with_blob(docs, "text")
    meta = extract_meta(blobbed, "doc_id")
    sha = blobbed.select("doc_id", F.sha2(F.col("blob"), 256).alias("sha"))
    return meta.join(sha, "doc_id")


# 72. frame sampling — every 4th 256-byte frame per blob, content-
# hashed. Oracle via char-based slicing: the corpus is pure ASCII
# (asserted in tests), so DuckDB's substring(text)+sha256(varchar)
# equals Spark's binary substring + sha2(binary).
@query(
    "multimodal_frame_sample",
    oracle="""
WITH f AS (
  SELECT doc_id, text,
         unnest(range(0, CAST(CEIL(length(text) / 256.0) AS BIGINT), 4)) AS fno
  FROM documents WHERE length(text) > 0)
SELECT doc_id, CAST(fno AS INT) AS frame_no,
       CAST(length(substring(text, CAST(fno*256+1 AS BIGINT), 256)) AS BIGINT) AS frame_len,
       sha256(substring(text, CAST(fno*256+1 AS BIGINT), 256)) AS frame_sha
FROM f
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.multimodal import frame_sample

    docs = _t(spark, sf_dir, "documents")
    return frame_sample(with_blob(docs, "text"), "doc_id", frame_bytes=256, stride=4)


# 73. byte-histogram features — the image-embedding pipeline shape
# (blob → fixed-width float vector) through Arrow mapInPandas. The
# oracle recomputes each 16-bin L1-normalized histogram from the ASCII
# chars (byte >> 4 == ascii // 16) with the same int/int double
# division, so the float vectors hash-match exactly.
@query(
    "multimodal_features",
    oracle="""
SELECT doc_id,
       CASE WHEN length(text) = 0
            THEN list_transform(range(0, 16), b -> 0.0)
            ELSE list_transform(range(0, 16),
                 b -> CAST(len(list_filter(
                        list_transform(range(1, length(text) + 1),
                                       i -> ascii(substring(text, CAST(i AS BIGINT), 1)) // 16),
                        x -> x = b)) AS DOUBLE) / length(text))
       END AS features
FROM documents
""",
    bench=False,
    allow={"Python"},
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.multimodal import byte_histogram_features

    docs = _t(spark, sf_dir, "documents")
    return byte_histogram_features(with_blob(docs, "text"), "doc_id", bins=16)


# 130. REAL image decode→resize→re-encode: each doc's first 256 bytes
# become an actual 16x16 binary PGM (valid netpbm container, built
# JVM-side: ASCII header ++ byte raster), which decode_image parses
# for real — header tokenizer, geometry, raster offset — then
# nearest-neighbor resizes to 8x8 and re-encodes as PGM. The oracle
# reconstructs the resized file byte-for-byte in SQL: with fixed
# 16->8 geometry the gather is pixel (2i, 2j), i.e. char position
# (k//8)*32 + (k%8)*2 + 1 of the raster (corpus is ASCII, so DuckDB
# chars == Spark bytes), prepended with the same 'P5 8 8 255\n'
# header and sha256'd — a full-value check that the decoder read the
# container correctly, not just that rows came back.
@query(
    "multimodal_decode_resize",
    oracle="""
WITH src AS (
  SELECT doc_id, substring(text, 1, 256) AS raster
  FROM documents WHERE octet_length(encode(text)) >= 256)
SELECT doc_id, 'image/x-portable-graymap' AS kind,
       8 AS width, 8 AS height,
       sha256('P5 8 8 255' || chr(10) ||
              array_to_string(list_transform(range(0, 64),
                  k -> substring(raster, (k // 8) * 32 + (k % 8) * 2 + 1, 1)), ''))
           AS resized_sha
FROM src
""",
    # real raster decode (pure-numpy netpbm/BMP) runs in mapInPandas
    allow={"Python"},
)
def multimodal_decode_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.multimodal import decode_resize_reencode

    docs = _t(spark, sf_dir, "documents").filter(F.octet_length("text") >= 256)
    pgm = docs.select(
        "doc_id",
        F.concat(
            F.encode(F.lit("P5 16 16 255\n"), "UTF-8"),
            F.substring(F.encode(F.col("text"), "UTF-8"), 1, 256),
        ).alias("blob"),
    )
    out = decode_resize_reencode(pgm, "doc_id", target_w=8, target_h=8)
    return out.select(
        "doc_id", "kind", "width", "height", F.sha2("resized", 256).alias("resized_sha")
    )


# 122. resize — nearest-neighbor byte-raster downsample through the
# Arrow batch path (the PIL/cv2 resize shape). The oracle replays the
# gather in SQL: viewing the ASCII text as a 16-wide raster, output
# pixel (i, j) is char position ((i * (len // 16)) // 8) * 16 + 2j + 1,
# so each doc's resized bytes — and the order-canonicalized md5 over
# their hex — are reproduced exactly (upper(hex()) matches Spark's
# uppercase hex; short docs pass through with null dims).
@query(
    "multimodal_resize",
    oracle="""
WITH r AS (
  SELECT doc_id,
         CASE WHEN length(text) // 16 >= 1 THEN 8 END AS width,
         CASE WHEN length(text) // 16 >= 1 THEN 8 END AS height,
         CASE WHEN length(text) // 16 >= 1
              THEN array_to_string(list_transform(range(0, 64),
                   k -> substring(text,
                        CAST(((k // 8) * (length(text) // 16)) // 8 * 16
                             + (k % 8) * 2 + 1 AS BIGINT), 1)), '')
              ELSE text END AS resized
  FROM documents)
SELECT width, height, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(length(resized)) AS BIGINT) AS total_bytes,
       md5(string_agg(upper(hex(resized)), '' ORDER BY upper(hex(resized))))
         AS content_md5
FROM r GROUP BY width, height
""",
    bench=False,
    # Arrow-vectorized Python stages (grouped-map / map-in-pandas)
    allow={"Python"},
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.multimodal import resize_frames

    docs = _t(spark, sf_dir, "documents")
    resized = resize_frames(with_blob(docs, "text"), "doc_id")
    return (
        resized.groupBy("width", "height")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.length("resized")).cast("bigint").alias("total_bytes"),
            F.md5(F.concat_ws("", F.sort_array(F.collect_list(F.hex("resized"))))).alias(
                "content_md5"
            ),
        )
    )


# 139. REAL audio decode + frame features: each doc's first 400 bytes
# become the data chunk of a valid mono PCM16 WAV (constant 44-byte
# RIFF header via unhex — the length fields are fixed because the
# chunk size is fixed), which decode_wav parses for real (RIFF chunk
# walk, fmt validation), then per-100-sample frame computes RMS energy
# and zero-crossing rate. The oracle never touches binary: the PCM
# samples ARE little-endian char pairs of the text, so DuckDB
# recomputes sample[i] = ascii(c[2i]) + 256*ascii(c[2i+1]) and the
# EXACT integer sum-of-squares, then one division + sqrt — both
# correctly-rounded IEEE ops, so rms hashes match bit-for-bit. ASCII
# chars make every sample positive, hence zcr = 0 on this corpus;
# signed-PCM zcr paths are pinned by unit tests with synthesized
# audio.
@query(
    "multimodal_audio_features",
    oracle="""
WITH src AS (
  SELECT doc_id, substring(text, 1, 400) AS d
  FROM documents WHERE octet_length(encode(text)) >= 400),
fr AS (
  SELECT doc_id, d, unnest(range(0, 2)) AS frame_no FROM src),
s AS (
  SELECT doc_id, CAST(frame_no AS INT) AS frame_no,
         list_sum(list_transform(range(0, 100),
             i -> CAST(POW(ascii(substring(d, CAST(frame_no*200 + 2*i + 1 AS BIGINT), 1))
                       + 256 * ascii(substring(d, CAST(frame_no*200 + 2*i + 2 AS BIGINT), 1)), 2)
                  AS BIGINT))) AS sumsq
  FROM fr)
SELECT doc_id, frame_no,
       ROUND(SQRT(CAST(sumsq AS DOUBLE) / 100), 6) AS rms,
       CAST(0.0 AS DOUBLE) AS zcr,
       'audio/wav' AS kind
FROM s
""",
    bench=False,
    # real WAV parse + frame features run in mapInPandas
    allow={"Python"},
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.multimodal import audio_frame_features

    # constant canonical header for a 400-byte mono PCM16 data chunk
    HDR = (
        "52494646b401000057415645666d7420100000000100"
        "0100803e0000007d0000020010006461746190010000"
    )
    docs = _t(spark, sf_dir, "documents").filter(F.octet_length("text") >= 400)
    wav = docs.select(
        "doc_id",
        F.concat(
            F.unhex(F.lit(HDR)), F.substring(F.encode(F.col("text"), "UTF-8"), 1, 400)
        ).alias("blob"),
    )
    out = audio_frame_features(wav, "doc_id", frame_samples=100)
    return out.select(
        "doc_id", "frame_no", F.round("rms", 6).alias("rms"),
        F.round("zcr", 6).alias("zcr"), "kind",
    )


# 140. REAL video container parse: each doc's first 384 bytes become
# the two 8x8x3 frame payloads of a valid uncompressed AVI (constant
# RIFF/hdrl/strl/movi scaffolding via unhex — every length field is
# fixed because the geometry is fixed), which decode_avi walks for
# real: nested LIST traversal, strf BITMAPINFOHEADER geometry, 00db
# frame chunk collection. One output row per frame with the sha256 of
# the frame's stored payload — which IS the corresponding text slice,
# so the DuckDB oracle is an exact byte-level check of the container
# walk without ever touching binary.
@query(
    "multimodal_video_frames",
    oracle="""
WITH src AS (
  SELECT doc_id, substring(text, 1, 384) AS d
  FROM documents WHERE octet_length(encode(text)) >= 384),
fr AS (SELECT doc_id, d, unnest(range(0, 2)) AS frame_no FROM src)
SELECT doc_id, CAST(frame_no AS INT) AS frame_no,
       8 AS width, 8 AS height,
       sha256(substring(d, CAST(frame_no * 192 + 1 AS BIGINT), 192)) AS frame_sha,
       'video/x-msvideo' AS kind
FROM fr
""",
    bench=False,
    # real AVI container walk runs in mapInPandas
    allow={"Python"},
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.multimodal import video_frame_index

    # constant scaffolding for a 2-frame 8x8 24-bpp uncompressed AVI
    HDR0 = (
        "5249464668020000415649204c495354c00000006864726c61766968380000"
        "00409c0000c01200000000000010000000020000000000000001000000c000"
        "0000080000000800000000000000000000000000000000000000"
        "4c495354740000007374726c7374726838000000766964734449422000000000"
        "0000000000000000010000001900000000000000020000"
        "00c0000000ffffffff000000000000000000000000"
        "73747266280000002800000008000000080000000100180000000000c000"
        "0000000000000000000000000000000000004c495354940100006d6f7669"
        "30306462c0000000"
    )
    MID = "30306462c0000000"
    docs = _t(spark, sf_dir, "documents").filter(F.octet_length("text") >= 384)
    t = F.encode(F.col("text"), "UTF-8")
    avi = docs.select(
        "doc_id",
        F.concat(
            F.unhex(F.lit(HDR0)),
            F.substring(t, 1, 192),
            F.unhex(F.lit(MID)),
            F.substring(t, 193, 192),
        ).alias("blob"),
    )
    return video_frame_index(avi, "doc_id")


# 154 / 196 / 424 / 432 / 445. Lossless codec roundtrips: the first
# 256 text bytes as a 16x16 raster -> REAL encode -> REAL decode (PNG,
# GIF87a, TIFF 6.0, QOI, TGA; operators/multimodal.py
# lossless_roundtrip). The decoded pixels' sha must equal the sha of
# the raw raster the oracle computes in SQL (corpus is ASCII, so
# DuckDB chars == Spark bytes); the encoded size only feeds {codec}_ok.
_ROUNDTRIP_ORACLE = """
SELECT doc_id, TRUE AS {codec}_ok,
       sha256(substring(text, 1, 256)) AS pixel_sha
FROM documents WHERE octet_length(encode(text)) >= 256
"""


def _roundtrip_query(codec: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _t(spark, sf_dir, "documents").filter(F.octet_length("text") >= 256)
        rast = docs.select(
            "doc_id",
            F.substring(F.encode(F.col("text"), "UTF-8"), 1, 256).alias("raster"),
        )
        out = lossless_roundtrip(rast, codec, "doc_id", w=16, h=16)
        return out.select(
            "doc_id",
            (F.col(f"{codec}_bytes") > 0).alias(f"{codec}_ok"),
            F.sha2("pixels", 256).alias("pixel_sha"),
        )

    return run


for _codec in LOSSLESS_CODECS:
    query(
        f"multimodal_{_codec}_roundtrip",
        oracle=_ROUNDTRIP_ORACLE.format(codec=_codec),
        # each codec's real encode/decode runs in mapInPandas
        allow={"Python"},
    )(_roundtrip_query(_codec))


# 289. REAL compressed codec #3: baseline JPEG (ITU T.81) — the
# lossy one. 16 text bytes become a 32x32 raster of 8x8 CONSTANT
# blocks; a constant block's spectrum is pure DC = 8*(v-128), an
# exact integer that survives the all-ones quant table and inverts
# to exactly v — so THIS JPEG decodes bit-exactly and the lossy codec
# gets the same decoded-pixel-sha oracle as PNG/GIF (the oracle
# rebuilds the expected pixel buffer by repeat-expansion of the
# chars; corpus is ASCII so DuckDB chars == Spark bytes). The AC
# path, restart markers, color 4:4:4, and general lossy accuracy are
# pinned by unit tests where bit-exactness is impossible
# (tests/test_multimodal.py::TestJpeg).
@query(
    "multimodal_jpeg_roundtrip",
    oracle="""
SELECT doc_id, TRUE AS jpeg_ok,
       sha256(
         repeat(repeat(substring(text,1,1),8)||repeat(substring(text,2,1),8)||repeat(substring(text,3,1),8)||repeat(substring(text,4,1),8),8) ||
         repeat(repeat(substring(text,5,1),8)||repeat(substring(text,6,1),8)||repeat(substring(text,7,1),8)||repeat(substring(text,8,1),8),8) ||
         repeat(repeat(substring(text,9,1),8)||repeat(substring(text,10,1),8)||repeat(substring(text,11,1),8)||repeat(substring(text,12,1),8),8) ||
         repeat(repeat(substring(text,13,1),8)||repeat(substring(text,14,1),8)||repeat(substring(text,15,1),8)||repeat(substring(text,16,1),8),8)
       ) AS pixel_sha
FROM documents WHERE octet_length(encode(text)) >= 16
""",
    # real baseline JPEG encode/decode runs in mapInPandas
    allow={"Python"},
)
def multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.multimodal import jpeg_roundtrip

    docs = _t(spark, sf_dir, "documents").filter(F.octet_length("text") >= 16)
    rast = docs.select(
        "doc_id",
        F.substring(F.encode(F.col("text"), "UTF-8"), 1, 16).alias("raster"),
    )
    out = jpeg_roundtrip(rast, "doc_id", blocks=16)
    return out.select(
        "doc_id",
        (F.col("jpeg_bytes") > 0).alias("jpeg_ok"),
        F.sha2("pixels", 256).alias("pixel_sha"),
    )


# 165. REAL audio resample: the 400-byte PCM16 WAV (same constant
# header as #139) is decoded, decimated x2 (drop-sample), and
# re-encoded as a valid 8 kHz WAV whose FULL file bytes are sha'd
# (as uppercase hex: DuckDB 1.0's sha256 only binds VARCHAR).
# The oracle rebuilds the expected file byte-for-byte: the resampled
# pcm is every even sample = text chars (4k+1, 4k+2), prepended with
# the constant 44-byte 8 kHz header — so the check covers the decode,
# the decimation arithmetic, AND every re-encoded header field.
@query(
    "multimodal_audio_resample",
    oracle="""
WITH src AS (
  SELECT doc_id, substring(text, 1, 400) AS d
  FROM documents WHERE octet_length(encode(text)) >= 400)
SELECT doc_id, CAST(200 AS BIGINT) AS n_in, CAST(100 AS BIGINT) AS n_out,
       sha256('52494646EC00000057415645666D7420100000000100'
              || '0100401F0000803E00000200100064617461C8000000'
              || hex(encode(array_to_string(list_transform(range(0, 100),
                     k -> substring(d, k*4 + 1, 2)), '')))) AS wav_sha
FROM src
""",
    bench=False,
    # real WAV decode -> decimate -> re-encode runs in mapInPandas
    allow={"Python"},
)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.multimodal import audio_resample

    HDR = (
        "52494646b401000057415645666d7420100000000100"
        "0100803e0000007d0000020010006461746190010000"
    )
    docs = _t(spark, sf_dir, "documents").filter(F.octet_length("text") >= 400)
    wav = docs.select(
        "doc_id",
        F.concat(
            F.unhex(F.lit(HDR)), F.substring(F.encode(F.col("text"), "UTF-8"), 1, 400)
        ).alias("blob"),
    )
    out = audio_resample(wav, "doc_id", factor=2)
    return out.select(
        "doc_id", "n_in", "n_out", F.sha2(F.hex("wav"), 256).alias("wav_sha")
    )


# --------------------------------------------------------------------
# 174. perceptual image dedup: average-hash (aHash) over REAL decoded
# rasters → duplicate-image groups. Each qualifying doc's first 256
# bytes become a 16x16 P5 PGM (same synthesis as #121), the numpy
# decoder parses the actual container bytes, and the hash is pure
# INTEGER arithmetic (2x2 block sums, cross-multiplied mean compare),
# so the oracle reproduces every bit from the ASCII codes alone. The
# group-by on the 64-bit key is one map-side-combined shuffle; at
# crawl scale this is exactly the image-dedup join key pipeline
# (hash → group → keep canonical), with no pairwise image compare.
# ORACLE ASSUMES ASCII TEXT: the Spark side slices the first 256
# BYTES of the UTF-8 encoding while the oracle takes the first 256
# CHARACTERS and ascii() of each — identical only while every char is
# single-byte (true for this generator's documents, asserted by the
# byte/char length equality in tests/test_multimodal.py). A non-ASCII
# generator would need the oracle rewritten over encode(text) blobs.
@query(
    "multimodal_image_ahash",
    oracle="""
WITH src AS (
  SELECT doc_id, substring(text, 1, 256) AS r
  FROM documents WHERE octet_length(encode(text)) >= 256),
bs AS (
  SELECT doc_id,
         list_transform(range(0, 64), k ->
             ascii(substring(r, (k // 8) * 32 + (k % 8) * 2 + 1, 1))
           + ascii(substring(r, (k // 8) * 32 + (k % 8) * 2 + 2, 1))
           + ascii(substring(r, (k // 8) * 32 + (k % 8) * 2 + 17, 1))
           + ascii(substring(r, (k // 8) * 32 + (k % 8) * 2 + 18, 1))) AS b
  FROM src),
h AS (
  SELECT doc_id,
         array_to_string(list_transform(b, x ->
             CASE WHEN x * 64 >= list_sum(b) THEN '1' ELSE '0' END), '')
           AS ahash
  FROM bs)
SELECT ahash,
       CAST(COUNT(*) AS BIGINT)  AS n_imgs,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_id
FROM h GROUP BY ahash
""",
    # real raster decode + integer aHash runs in mapInPandas
    allow={"Python"},
)
def multimodal_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.multimodal import ahash_images

    docs = _t(spark, sf_dir, "documents").filter(F.octet_length("text") >= 256)
    pgm = docs.select(
        "doc_id",
        F.concat(
            F.encode(F.lit("P5 16 16 255\n"), "UTF-8"),
            F.substring(F.encode(F.col("text"), "UTF-8"), 1, 256),
        ).alias("blob"),
    )
    return (
        ahash_images(pgm, "doc_id")
        .groupBy("ahash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_imgs"),
            F.min("doc_id").cast("bigint").alias("canonical_id"),
        )
    )


# --------------------------------------------------------------------
# 397. perceptual difference-hash near-dup keys — #174's (aHash)
# gradient sibling: bits encode each 8x8 block's relation to its
# cyclic right neighbor, so the key survives global brightness shifts
# that flip aHash bits (the standard reason pipelines key on dHash).
# Same real-codec path (operators/multimodal.py dhash_images: decode
# -> integer 8x8 mean-pool -> area-cross-multiplied neighbor compare,
# Arrow mapInPandas, null on undecodable) and the same hash -> group
# -> canonical rollup as #174; identical ASCII-oracle caveat (the
# generator's documents are single-byte, asserted in
# tests/test_multimodal.py). For the 16x16 P5 inputs every block is
# 2x2, so the oracle compares raw block sums (equal areas cancel).
@query(
    "multimodal_image_dhash",
    oracle="""
WITH src AS (
  SELECT doc_id, substring(text, 1, 256) AS r
  FROM documents WHERE octet_length(encode(text)) >= 256),
bs AS (
  SELECT doc_id,
         list_transform(range(0, 64), k ->
             ascii(substring(r, (k // 8) * 32 + (k % 8) * 2 + 1, 1))
           + ascii(substring(r, (k // 8) * 32 + (k % 8) * 2 + 2, 1))
           + ascii(substring(r, (k // 8) * 32 + (k % 8) * 2 + 17, 1))
           + ascii(substring(r, (k // 8) * 32 + (k % 8) * 2 + 18, 1))) AS b
  FROM src),
h AS (
  SELECT doc_id,
         array_to_string(list_transform(range(0, 64), k ->
             CASE WHEN b[k + 1] >
                       b[(k // 8) * 8 + ((k % 8) + 1) % 8 + 1]
                  THEN '1' ELSE '0' END), '') AS dhash
  FROM bs)
SELECT dhash,
       CAST(COUNT(*) AS BIGINT)  AS n_imgs,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_id
FROM h GROUP BY dhash
""",
    allow={"Python"},
)
def multimodal_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.multimodal import dhash_images

    docs = _t(spark, sf_dir, "documents").filter(F.octet_length("text") >= 256)
    pgm = docs.select(
        "doc_id",
        F.concat(
            F.encode(F.lit("P5 16 16 255\n"), "UTF-8"),
            F.substring(F.encode(F.col("text"), "UTF-8"), 1, 256),
        ).alias("blob"),
    )
    return (
        dhash_images(pgm, "doc_id")
        .groupBy("dhash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_imgs"),
            F.min("doc_id").cast("bigint").alias("canonical_id"),
        )
    )


# 446. energy-threshold VAD over REAL WAV blobs — the segmentation
# front-end every speech-data pipeline runs before transcription
# (keep speechy spans, drop silence): #139's staged 400-byte PCM16
# WAVs, per-100-sample-frame EXACT int64 energy, active iff
# energy >= 3e10 (the integer threshold that splits whitespace-quiet
# frames ~6.8e9 from text-loud frames ~7e10 on this corpus), then
# run-length segmentation of the active mask. The oracle replays the
# identical integer energies from the text's char pairs — no floats
# anywhere, so the mask (and every count) is exact on both engines.
@query(
    "multimodal_audio_vad",
    oracle="""
WITH src AS (
  SELECT doc_id, substring(text, 1, 400) AS d
  FROM documents WHERE octet_length(encode(text)) >= 400),
fr AS (
  SELECT doc_id, d, unnest(range(0, 2)) AS frame_no FROM src),
en AS (
  SELECT doc_id, frame_no,
         list_sum(list_transform(range(0, 100),
             i -> CAST(POW(ascii(substring(d, CAST(frame_no*200 + 2*i + 1 AS BIGINT), 1))
                       + 256 * ascii(substring(d, CAST(frame_no*200 + 2*i + 2 AS BIGINT), 1)), 2)
                  AS BIGINT))) AS sumsq
  FROM fr),
act AS (
  SELECT doc_id, frame_no,
         CASE WHEN sumsq >= 30000000000 THEN 1 ELSE 0 END AS a
  FROM en),
agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_frames,
         CAST(SUM(a) AS BIGINT) AS n_active,
         CAST(MAX(a0) AS BIGINT) AS a0, CAST(MAX(a1) AS BIGINT) AS a1
  FROM (SELECT doc_id, frame_no, a,
               CASE WHEN frame_no = 0 THEN a END AS a0,
               CASE WHEN frame_no = 1 THEN a END AS a1
        FROM act) t
  GROUP BY doc_id)
SELECT doc_id, n_frames, n_active,
       CAST(CASE WHEN a0 = 1 AND a1 = 1 THEN 1
                 ELSE a0 + a1 END AS BIGINT) AS n_segments,
       CAST(CASE WHEN a0 = 1 AND a1 = 1 THEN 2
                 WHEN a0 = 1 OR a1 = 1 THEN 1 ELSE 0 END AS BIGINT)
         AS max_run
FROM agg
""",
    # real WAV decode + integer-energy VAD runs in mapInPandas
    allow={"Python"},
)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.multimodal import audio_vad_segments

    HDR = (
        "52494646b401000057415645666d7420100000000100"
        "0100803e0000007d0000020010006461746190010000"
    )
    docs = _t(spark, sf_dir, "documents").filter(F.octet_length("text") >= 400)
    wav = docs.select(
        "doc_id",
        F.concat(
            F.unhex(F.lit(HDR)),
            F.substring(F.encode(F.col("text"), "UTF-8"), 1, 400),
        ).alias("blob"),
    )
    return audio_vad_segments(wav, "doc_id", frame_samples=100)


# 447. frame-differencing motion over REAL AVI blobs — the scene-cut /
# static-content signal a video curation pipeline thresholds on
# (static slideshows score ~0, cuts spike): #140's staged 2-frame
# 8x8x3 AVIs, per-pair EXACT int64 sum of absolute differences (SAD,
# the block-matching cost). The oracle replays the identical SAD from
# the two 192-byte text slices — integer throughout.
@query(
    "multimodal_video_motion",
    oracle="""
WITH src AS (
  SELECT doc_id, substring(text, 1, 384) AS d
  FROM documents WHERE octet_length(encode(text)) >= 384),
sad AS (
  SELECT doc_id,
         list_sum(list_transform(range(0, 192),
             i -> CAST(ABS(ascii(substring(d, CAST(192 + i + 1 AS BIGINT), 1))
                         - ascii(substring(d, CAST(i + 1 AS BIGINT), 1)))
                  AS BIGINT))) AS s
  FROM src)
SELECT doc_id, CAST(2 AS BIGINT) AS n_frames,
       CAST(s AS BIGINT) AS sad_total, CAST(s AS BIGINT) AS sad_peak
FROM sad
""",
    # real AVI walk + frame-diff SAD runs in mapInPandas
    allow={"Python"},
)
def multimodal_video_motion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.multimodal import video_motion_profile

    HDR0 = (
        "5249464668020000415649204c495354c00000006864726c61766968380000"
        "00409c0000c01200000000000010000000020000000000000001000000c000"
        "0000080000000800000000000000000000000000000000000000"
        "4c495354740000007374726c7374726838000000766964734449422000000000"
        "0000000000000000010000001900000000000000020000"
        "00c0000000ffffffff000000000000000000000000"
        "73747266280000002800000008000000080000000100180000000000c000"
        "0000000000000000000000000000000000004c495354940100006d6f7669"
        "30306462c0000000"
    )
    MID = "30306462c0000000"
    docs = _t(spark, sf_dir, "documents").filter(F.octet_length("text") >= 384)
    t = F.encode(F.col("text"), "UTF-8")
    avi = docs.select(
        "doc_id",
        F.concat(
            F.unhex(F.lit(HDR0)),
            F.substring(t, 1, 192),
            F.unhex(F.lit(MID)),
            F.substring(t, 193, 192),
        ).alias("blob"),
    )
    return video_motion_profile(avi, "doc_id")
