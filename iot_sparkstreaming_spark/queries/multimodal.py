"""Multimodal query surface: manifest (metadata-only, payload pruned)
and Pandas-UDF feature extraction — both oracle-checked.

The feature oracle is the interesting one: DuckDB recomputes the
byte-level statistics the ``mapInPandas`` extractor produced (byte
sum via hex-pair folding, sha256 via the built-in), proving the
Python/Arrow path computes exactly what a SQL engine would — the
Pandas boundary adds no drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from iot_sparkstreaming_spark.operators.multimodal import (
    TAR_MEMBERS_SCHEMA,
    ZIP_MEMBERS_SCHEMA,
    assets_from_documents,
    audio_features,
    decode_bmp,
    decode_png,
    encode_assets,
    extract_features,
    gif_image_features,
    image_features,
    image_thumbnails,
    pack_shards,
    pack_tar,
    pack_zip,
    shard_members,
    synthesize_bmp,
    synthesize_gif,
    synthesize_png,
    synthesize_wav,
    synthesize_y4m,
    walk_tar,
    walk_zip,
    y4m_frame_features,
)
from iot_sparkstreaming_spark.queries.registry import register
from iot_sparkstreaming_spark.tables import load_table

#: the same deterministic asset derivation, in DuckDB SQL
ASSETS_CTE = """
WITH assets AS (
  SELECT
    doc_id AS asset_id,
    ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
    encode(text) AS payload,
    text,
    n_chars
  FROM documents
)
"""

MANIFEST_ORACLE = (
    ASSETS_CTE
    + """
SELECT modality,
  COUNT(*) AS n_assets,
  CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
  CAST(MAX(octet_length(payload)) AS BIGINT) AS max_bytes,
  CAST(SUM(CAST(n_chars % 640 AS BIGINT)) AS BIGINT) AS total_width
FROM assets
GROUP BY modality
"""
)


@register("multimodal_manifest", oracle=MANIFEST_ORACLE)
def multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-modality manifest over binary assets. Metadata-only: the
    aggregation touches octet lengths and the meta struct, so at
    scale Catalyst prunes the payload bytes out of everything past
    the scan."""
    docs = load_table(spark, sf_dir, "documents")
    assets = assets_from_documents(docs)
    return assets.groupBy("modality").agg(
        F.count("*").alias("n_assets"),
        F.sum(F.octet_length(col("payload"))).cast("bigint").alias("total_bytes"),
        F.max(F.octet_length(col("payload"))).cast("bigint").alias("max_bytes"),
        F.sum(col("meta.width").cast("bigint")).cast("bigint").alias("total_width"),
    )


FEATURES_ORACLE = (
    ASSETS_CTE
    + """
SELECT asset_id, modality,
  CAST(octet_length(payload) AS BIGINT) AS n_bytes,
  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
    list_transform(generate_series(1, octet_length(payload)),
      i -> ('0x' || substr(hex(payload), i*2-1, 2))::BIGINT)),
    (a, x) -> a + x) AS BIGINT) AS byte_sum,
  lower(sha256(text)) AS sha256  -- duckdb sha256 is VARCHAR-only; text == UTF-8(payload)
FROM assets
"""
)


@register("multimodal_features", oracle=FEATURES_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched Pandas feature extraction (mapInPandas) checked
    byte-for-byte against a pure-SQL recomputation — the engine's one
    sanctioned Python boundary, proven driftless."""
    docs = load_table(spark, sf_dir, "documents")
    return extract_features(assets_from_documents(docs))


# The WAV fixture is closed-form (operators/multimodal.py
# synthesize_wav): n_frames = 64 + id % 128, sample[i] =
# ((id*31 + i*17) mod 65536) - 32768. The oracle recomputes the
# DECODED statistics from that formula alone — it never sees the
# RIFF container — so a hash match proves the whole Spark-side
# encode → real WAV bytes → stdlib-wave decode → features round-trip
# is lossless.
AUDIO_WAV_ORACLE = """
WITH f AS (
  SELECT doc_id AS asset_id, 64 + doc_id % 128 AS n_frames
  FROM documents WHERE doc_id % 3 = 1
),
s AS (
  SELECT asset_id, n_frames,
    unnest(generate_series(0, n_frames - 1)) AS i
  FROM f
)
SELECT asset_id,
  CAST(8000 AS BIGINT) AS sample_rate,
  CAST(1 AS BIGINT) AS n_channels,
  CAST(n_frames AS BIGINT) AS n_frames,
  CAST(SUM((asset_id * 31 + i * 17) % 65536 - 32768) AS BIGINT) AS sum_amp,
  CAST(MAX(ABS((asset_id * 31 + i * 17) % 65536 - 32768)) AS BIGINT) AS peak_abs
FROM s
GROUP BY asset_id, n_frames
"""


@register("audio_wav_features", oracle=AUDIO_WAV_ORACLE)
def audio_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec path (no stub): every audio-modality document
    becomes a genuine PCM16 RIFF/WAVE file (stdlib ``wave`` encode in
    one mapInPandas pass), which a second pass then parses back with
    the stdlib decoder and reduces to integer sample statistics. The
    oracle recomputes those statistics from the closed-form signal
    definition, so the container framing, byte order, and sample
    unpacking are all under test.

    Scale shape: two chained map-only Arrow passes — no shuffle at
    all; payload bytes live only inside the pipeline between them and
    are dropped before any exchange. At 100 TB of audio the same plan
    holds: decode parallelism is the scan's partitioning, features are
    a few ints per asset."""
    docs = load_table(spark, sf_dir, "documents")
    return audio_features(encode_assets(docs, "audio", synthesize_wav))


# Closed-form BMP fixture (operators/multimodal.py synthesize_bmp):
# w = 4 + id%13, h = 3 + id%7, channel c at (x, y) =
# (id + 7x + 13y + 31c) mod 256. The oracle recomputes the DECODED
# pixel statistics from that formula alone — it never parses the BMP
# container — so a hash match proves header framing, row padding,
# bottom-up row order, and BGR unpacking are all lossless.
IMAGE_BMP_ORACLE = """
WITH f AS (
  SELECT doc_id AS asset_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
  FROM documents WHERE doc_id % 3 = 0
),
px AS (
  SELECT asset_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM f
),
pxy AS (
  SELECT asset_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM px
),
pxyc AS (
  SELECT asset_id, w, h, x, y, unnest([0, 1, 2]) AS c FROM pxy
)
SELECT asset_id,
  CAST(w AS BIGINT) AS width,
  CAST(h AS BIGINT) AS height,
  CAST(w * h AS BIGINT) AS n_pixels,
  CAST(SUM((asset_id + 7 * x + 13 * y + 31 * c) % 256) AS BIGINT) AS sum_rgb,
  CAST(MAX((asset_id + 7 * x + 13 * y + 31 * c) % 256) AS BIGINT) AS max_channel
FROM pxyc
GROUP BY asset_id, w, h
"""


@register("image_bmp_features", oracle=IMAGE_BMP_ORACLE)
def image_bmp_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec path (no stub): every image-modality document
    becomes a genuine uncompressed 24-bit BMP (stdlib ``struct``
    encode in one mapInPandas pass), which a second pass parses back
    — headers, row padding, bottom-up order, BGR channels — and
    reduces to integer pixel statistics checked against the
    closed-form pixel definition. The image twin of
    ``audio_wav_features``: two of the three modalities now run full
    encode→decode round-trips with zero third-party codecs.

    Scale shape: identical to the audio path — two chained map-only
    Arrow passes, no shuffle, payloads never leave the pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return image_features(encode_assets(docs, "image", synthesize_bmp), decode_bmp)


# Thumbnail oracle: target pixel (xt, yt) of a tw x th = 2x2 thumb
# samples source ((xt*w)//2, (yt*h)//2); channel value is the same
# closed-form (id + 7sx + 13sy + 31c) mod 256 — recomputed without
# parsing the BMP, so a hash match proves decode AND the NN index
# mapping are exact.
IMAGE_THUMB_ORACLE = """
WITH f AS (
  SELECT doc_id AS asset_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
  FROM documents WHERE doc_id % 3 = 0
),
tx AS (SELECT asset_id, w, h, unnest([0, 1]) AS xt FROM f),
txy AS (SELECT asset_id, w, h, xt, unnest([0, 1]) AS yt FROM tx),
txyc AS (
  SELECT asset_id, w, h,
         (xt * w) // 2 AS sx, (yt * h) // 2 AS sy,
         unnest([0, 1, 2]) AS c
  FROM txy
)
SELECT asset_id,
  CAST(w AS BIGINT) AS width,
  CAST(h AS BIGINT) AS height,
  CAST(2 AS BIGINT) AS thumb_w,
  CAST(2 AS BIGINT) AS thumb_h,
  CAST(SUM((asset_id + 7 * sx + 13 * sy + 31 * c) % 256) AS BIGINT)
    AS thumb_sum_rgb,
  CAST(MAX((asset_id + 7 * sx + 13 * sy + 31 * c) % 256) AS BIGINT)
    AS thumb_max_channel
FROM txyc
GROUP BY asset_id, w, h
"""


@register("image_bmp_thumbnail", oracle=IMAGE_THUMB_ORACLE)
def image_bmp_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize path: encode → decode → nearest-neighbor
    2×2 downsample → integer statistics of the resized pixels,
    closing the decode / feature-extract / RESIZE / frame-sample
    multimodal quartet with a third genuinely-executed transform
    (operators/multimodal.py image_thumbnails). Map-only like the
    codec paths; only thumbnail-sized data survives the pass."""
    docs = load_table(spark, sf_dir, "documents")
    return image_thumbnails(encode_assets(docs, "image", synthesize_bmp))


IMAGE_PNG_ORACLE = """
WITH f AS (
  SELECT doc_id AS asset_id, 4 + doc_id % 11 AS w, 3 + doc_id % 5 AS h
  FROM documents WHERE doc_id % 3 = 0
),
px AS (
  SELECT asset_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM f
),
pxy AS (
  SELECT asset_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM px
),
pxyc AS (
  SELECT asset_id, w, h, x, y, unnest([0, 1, 2]) AS c FROM pxy
)
SELECT asset_id,
  CAST(w AS BIGINT) AS width,
  CAST(h AS BIGINT) AS height,
  CAST(w * h AS BIGINT) AS n_pixels,
  CAST(SUM((asset_id + 7 * x + 13 * y + 31 * c) % 256) AS BIGINT) AS sum_rgb,
  CAST(MAX((asset_id + 7 * x + 13 * y + 31 * c) % 256) AS BIGINT) AS max_channel
FROM pxyc
GROUP BY asset_id, w, h
"""


@register("image_png_features", oracle=IMAGE_PNG_ORACLE)
def image_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THIRD real codec path: every image-modality document becomes a
    genuine 8-bit truecolor PNG — zlib-compressed IDAT, CRC32-verified
    chunks, and per-row scanline filters that VARY (None/Sub/Up), so
    the decode pass must walk chunks, inflate, and undo filtering
    before reducing pixels to integer statistics checked against the
    closed-form definition. With WAV (container + PCM16) and BMP
    (padding + bottom-up BGR), the codec family now covers a
    COMPRESSED format end-to-end using only the stdlib.

    Scale shape: identical to the other codec paths — two chained
    map-only Arrow passes, no shuffle, payloads die in-batch.
    """
    docs = load_table(spark, sf_dir, "documents")
    return image_features(encode_assets(docs, "image", synthesize_png), decode_png)


VIDEO_Y4M_ORACLE = """
WITH a AS (
  SELECT doc_id AS asset_id,
    4 + 2 * (doc_id % 5) AS w,
    4 + 2 * (doc_id % 3) AS h,
    2 + doc_id % 4 AS nf
  FROM documents WHERE doc_id % 3 = 2
),
fr AS (
  SELECT asset_id, w, h, unnest(generate_series(0, nf - 1)) AS fi FROM a
),
sampled AS (SELECT * FROM fr WHERE fi % 2 = 0),
yg AS (
  SELECT asset_id, fi, w, h, unnest(generate_series(0, w - 1)) AS x FROM sampled
),
ygy AS (
  SELECT asset_id, fi, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM yg
),
ys AS (
  SELECT asset_id, fi,
    CAST(SUM((asset_id + 3 * x + 5 * y + 17 * fi) % 256) AS BIGINT) AS sum_y
  FROM ygy GROUP BY asset_id, fi
),
cg AS (
  SELECT asset_id, fi, w, h, unnest(generate_series(0, w // 2 - 1)) AS xx FROM sampled
),
cgy AS (
  SELECT asset_id, fi, w, h, xx, unnest(generate_series(0, h // 2 - 1)) AS yy FROM cg
),
uvs AS (
  SELECT asset_id, fi,
    CAST(SUM((asset_id + 7 * xx + 11 * yy + 23 * fi) % 256)
       + SUM((asset_id + 13 * xx + 3 * yy + 29 * fi) % 256) AS BIGINT) AS sum_uv
  FROM cgy GROUP BY asset_id, fi
)
SELECT s.asset_id,
  CAST(s.fi AS BIGINT) AS frame_index,
  CAST(s.w AS BIGINT) AS width,
  CAST(s.h AS BIGINT) AS height,
  ys.sum_y, uvs.sum_uv
FROM sampled s
JOIN ys ON s.asset_id = ys.asset_id AND s.fi = ys.fi
JOIN uvs ON s.asset_id = uvs.asset_id AND s.fi = uvs.fi
ORDER BY s.asset_id, frame_index
"""


@register("video_y4m_frames", oracle=VIDEO_Y4M_ORACLE)
def video_y4m_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAST modality goes real: every video-modality document
    becomes a genuine YUV4MPEG2 stream (the mpv/ffmpeg-compatible raw
    video container) with FRAME-delimited 4:2:0 planes, and the
    decode pass parses the stream header, walks frame markers, slices
    Y/U/V planes, SAMPLES every 2nd frame, and reduces each sampled
    frame to integer plane statistics — checked against the
    closed-form plane definition. With WAV, BMP and PNG this makes
    codec coverage audio + image(×2, one compressed) + video, all
    stdlib-only.

    Scale shape: identical to the other codec paths — two chained
    map-only Arrow passes, no shuffle, payloads die in-batch; output
    is one row per SAMPLED frame (bounded by n_frames/2 per asset).
    """
    docs = load_table(spark, sf_dir, "documents")
    return y4m_frame_features(encode_assets(docs, "video", synthesize_y4m)).orderBy(
        "asset_id", "frame_index"
    )


IMAGE_GIF_ORACLE = """
WITH f AS (
  SELECT doc_id AS asset_id, 5 + doc_id % 9 AS w, 4 + doc_id % 6 AS h
  FROM documents WHERE doc_id % 3 = 0
),
px AS (
  SELECT asset_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM f
),
pxy AS (
  SELECT asset_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM px
),
pix AS (
  SELECT asset_id, w, h, (asset_id + 3 * x + 7 * y) % 16 AS idx FROM pxy
),
chan AS (
  SELECT asset_id, w, h, idx,
    (asset_id + 37 * idx) % 256 AS r,
    (asset_id + 59 * idx) % 256 AS g,
    (asset_id + 83 * idx) % 256 AS b
  FROM pix
)
SELECT asset_id,
  CAST(w AS BIGINT) AS width,
  CAST(h AS BIGINT) AS height,
  CAST(w * h AS BIGINT) AS n_pixels,
  CAST(SUM(r + g + b) AS BIGINT) AS sum_rgb,
  CAST(MAX(GREATEST(r, g, b)) AS BIGINT) AS max_channel,
  CAST(COUNT(DISTINCT idx) AS BIGINT) AS distinct_colors
FROM chan
GROUP BY asset_id, w, h
"""


@register("image_gif_features", oracle=IMAGE_GIF_ORACLE)
def image_gif_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFTH real codec path, second COMPRESSED one: every
    image-modality document becomes a genuine GIF87a — 16-entry
    global color table, 4-bit palette indices under real
    variable-width LZW (LSB-first packing, CLEAR/EOI, table growth
    with the KwKwK case, 12-bit cap + reset), framed in 255-byte
    sub-blocks — and the decode pass walks header/LSD/GCT/extensions,
    reassembles sub-blocks, LZW-decodes, and maps the palette before
    reducing to integer pixel statistics plus the palette-usage count
    a palette format makes natural. The codec pair is
    conformance-pinned against the canonical public 35-byte 1x1
    GIF87a in tests/test_multimodal.py.

    Scale shape: identical to the other codec paths — two chained
    map-only Arrow passes, no shuffle, payloads die in-batch.
    """
    docs = load_table(spark, sf_dir, "documents")
    return gif_image_features(encode_assets(docs, "image", synthesize_gif))


TAR_SHARD_ORACLE = """
SELECT doc_id,
  doc_id % 50 AS shard_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  text
FROM documents
"""


@register("tar_shard_roundtrip", oracle=TAR_SHARD_ORACLE)
def tar_shard_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard archiving: the corpus packed into 50
    deterministic POSIX-ustar TAR shards (stdlib tarfile, pinned
    mtime/uid/uname so identical inputs give byte-identical shards)
    and walked back member-by-member — the container format
    large-scale training pipelines actually ship corpora in, proven
    as a full pack → binary column → unpack round-trip: the oracle is
    the documents table itself, so the hash matches only if every
    byte of every member survives the archive (UTF-8 multibyte text
    included — n_bytes is the encoded length, not the char count).

    Scale shape: packing is one bounded collect_list per shard
    (corpus_bytes / 50 per group) + one Arrow pass; unpacking is
    map-only. In production the payload column is written straight to
    object storage and the unpack pass IS the training-job reader;
    shard count scales with corpus size to bound member-list state.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return shard_members(pack_shards(docs, pack_tar), walk_tar, TAR_MEMBERS_SCHEMA)


ZIP_SHARD_ORACLE = """
SELECT doc_id,
  doc_id % 50 AS shard_id,
  CAST(8 AS BIGINT) AS method,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  text
FROM documents
"""


@register("zip_shard_roundtrip", oracle=ZIP_SHARD_ORACLE)
def zip_shard_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED shard archiving beside the ustar one
    (`tar_shard_roundtrip`): the corpus packed into 50 deterministic
    DEFLATE ZIP shards (stdlib zipfile with the DOS-epoch timestamp
    pinned, so identical inputs give byte-identical archives) and
    walked back by a HAND-WRITTEN central-directory parser — EOCD
    record, central-directory file headers, local-file-header
    re-validation, raw-DEFLATE inflate, and a per-member CRC-32
    check that raises on any corrupted byte of the compressed stream
    (operators/multimodal.py walk_zip; only the DEFLATE primitive is
    stdlib zlib, the same split as the PNG codec). The oracle is the
    documents table itself, so the hash matches only if every byte
    of every member survives compression and the walker's offsets
    are exactly right; ``method`` = 8 pins that members really took
    the DEFLATE path, not STORED.

    Scale shape: same as the TAR twin — one bounded collect_list per
    shard + one Arrow pass to pack, map-only to unpack. ZIP is what
    makes the shard pattern pay at 100 TB: members compress
    independently, so the reader still random-accesses one member
    after seeking the central directory, unlike a tar.gz whose gzip
    stream must inflate from byte 0.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return shard_members(pack_shards(docs, pack_zip), walk_zip, ZIP_MEMBERS_SCHEMA)
