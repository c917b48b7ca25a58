"""Multimodal column support: opaque binary payloads + typed metadata,
with Arrow-batched Pandas feature extraction.

North-star operator family (BASELINE.json). Design per the brief:
image/audio/video are **opaque ``binary`` columns** with a typed
``meta`` struct; decode / feature-extract / resize / frame-sample run
as ``mapInPandas`` over Arrow batches — the only Python-boundary
operators in the engine, placed where built-ins genuinely cannot go
(real codecs). Every modality has REAL stdlib codecs (no third-party
libraries needed): PCM16 WAV audio, BMP / PNG / GIF images and
YUV4MPEG2 video, plus TAR and ZIP document shards — each runs a full
encode→binary→decode→features round-trip, oracle-checked against
closed-form signal/pixel definitions.

Each stage has one Spark-side implementation and takes the codec as
its only per-format input: :func:`encode_assets` (``synthesize_*``),
:func:`decode_map` (``decode_*`` plus a row builder),
:func:`pack_shards` (``pack_*``) and :func:`shard_members`
(``walk_*``).

Scale posture: payload bytes never shuffle for metadata-only queries
(column pruning drops ``payload`` at the parquet scan); feature
extraction is a map-only pass whose parallelism is the scan's
partitioning; batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import col

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

MODALITIES = ("image", "audio", "video")

#: schema of the feature-extraction output (stable contract)
FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_sum", T.LongType()),
        T.StructField("sha256", T.StringType()),
    ]
)


def assets_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic multimodal asset table derived from ``documents``:
    payload = UTF-8 bytes of the text, modality round-robins by id,
    metadata struct synthesized from n_chars. This is the fixture
    generator for the multimodal path (the harness ships no binary
    table)."""
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]), (col("doc_id") % 3 + 1).cast("int")
    )
    return docs.select(
        col("doc_id").alias("asset_id"),
        modality.alias("modality"),
        F.encode(col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.concat(F.lit("application/x-"), modality).alias("mime"),
            (col("n_chars") % 640).cast("int").alias("width"),
            (col("n_chars") % 480).cast("int").alias("height"),
            (col("n_chars") * 10).cast("bigint").alias("duration_ms"),
        ).alias("meta"),
    )


def extract_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payloads.

    ``mapInPandas`` receives an iterator of pandas batches (never the
    whole partition), computes per-asset byte statistics and a
    content hash, and never returns the payload — so the expensive
    column is read once and dropped before any shuffle."""
    import hashlib

    import numpy as np
    import pandas as pd  # noqa: F811

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "byte_sum": payloads.map(
                        lambda b: int(np.frombuffer(b, dtype=np.uint8).sum())
                    ).astype("int64"),
                    "sha256": payloads.map(
                        lambda b: hashlib.sha256(b).hexdigest()
                    ),
                }
            )

    return assets.select("asset_id", "modality", "payload").mapInPandas(
        gen, schema=FEATURES_SCHEMA
    )


#: schema of the encoder output: one real codec payload per asset
ASSETS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def encode_assets(docs: DataFrame, modality: str, synth) -> DataFrame:
    """Asset table of ``modality`` with REAL codec payloads: one
    ``synth(doc_id)`` file per document that
    :func:`assets_from_documents` assigns to ``modality`` (the same
    round-robin over :data:`MODALITIES`), encoded in a map-only Arrow
    pass. ``synth`` is one of the by-value ``synthesize_*`` codecs."""
    import pandas as pd  # noqa: F811

    residue = MODALITIES.index(modality)

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"].astype("int64"),
                    "payload": [synth(int(i)) for i in pdf["asset_id"]],
                }
            )

    flat = docs.filter(col("doc_id") % len(MODALITIES) == residue).select(
        col("doc_id").alias("asset_id")
    )
    return flat.mapInPandas(gen, schema=ASSETS_SCHEMA)


def decode_map(assets: DataFrame, decode, schema: T.StructType, to_rows) -> DataFrame:
    """The decode stage every codec shares: one map-only Arrow pass
    that decodes each payload with ``decode`` (a by-value
    ``decode_*`` codec) and turns it into integer output rows with
    ``to_rows(asset_id, decoded)``, a list of dicts keyed by the
    fields of ``schema``. Payload bytes die inside the batch and are
    never shuffled."""
    import pandas as pd  # noqa: F811

    columns = schema.fieldNames()

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = [
                row
                for aid, payload in zip(pdf["asset_id"], pdf["payload"])
                for row in to_rows(int(aid), decode(bytes(payload)))
            ]
            yield pd.DataFrame(rows, columns=columns).astype("int64")

    return assets.select("asset_id", "payload").mapInPandas(gen, schema=schema)


#: nominal sample rate for the synthetic audio fixture
WAV_SAMPLE_RATE = 8000


# The two WAV codec helpers are built by factories so their qualnames
# contain '<locals>': cloudpickle then ships them BY VALUE inside the
# mapInPandas closures below. A plain module-level def would be
# pickled by reference ("import iot_sparkstreaming_spark...") and
# crash every executor whose Python path lacks the repo — exactly the
# external driver's posture (it imports __spark_entry__ by file path
# from a foreign CWD and sets no PYTHONPATH on workers).
def _make_wav_synth():
    def synthesize_wav(asset_id: int) -> bytes:
        """Deterministic PCM16 mono WAV for ``asset_id``: a real
        RIFF/WAVE file written by stdlib ``wave``, with n_frames =
        64 + id % 128 and sample[i] = ((id*31 + i*17) mod 65536) -
        32768 — closed-form, so a SQL oracle can recompute the decoded
        features without ever seeing the container bytes (the harness
        ships no binary audio table)."""
        import io
        import struct
        import wave

        n_frames = 64 + asset_id % 128
        samples = [
            ((asset_id * 31 + i * 17) % 65536) - 32768 for i in range(n_frames)
        ]
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(WAV_SAMPLE_RATE)
            w.writeframes(struct.pack(f"<{n_frames}h", *samples))
        return buf.getvalue()

    return synthesize_wav


def _make_wav_decode():
    def decode_wav(payload: bytes) -> dict:
        """REAL audio decode: stdlib ``wave`` parses the RIFF/WAVE
        container and the PCM16 frames are unpacked to integer
        samples — no third-party codec needed."""
        import io
        import struct
        import wave

        with wave.open(io.BytesIO(payload), "rb") as w:
            n_channels = w.getnchannels()
            sampwidth = w.getsampwidth()
            sample_rate = w.getframerate()
            n_frames = w.getnframes()
            raw = w.readframes(n_frames)
        if sampwidth != 2:
            raise NotImplementedError("only PCM16 WAV is decoded")
        samples = struct.unpack(f"<{n_frames * n_channels}h", raw)
        return {
            "n_channels": n_channels,
            "sample_rate": sample_rate,
            "n_frames": n_frames,
            "samples": samples,
        }

    return decode_wav


synthesize_wav = _make_wav_synth()
decode_wav = _make_wav_decode()


#: schema of the decoded-audio feature output (stable contract)
AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_channels", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("sum_amp", T.LongType()),
        T.StructField("peak_abs", T.LongType()),
    ]
)


def audio_features(assets: DataFrame) -> DataFrame:
    """Decode real WAV payloads (stdlib ``wave`` via
    :func:`decode_wav`) and emit integer sample statistics. Map-only;
    payload bytes are consumed inside the batch and never shuffled."""

    def to_rows(aid: int, d: dict) -> list:
        samples = d["samples"]
        return [
            {
                "asset_id": aid,
                "sample_rate": d["sample_rate"],
                "n_channels": d["n_channels"],
                "n_frames": d["n_frames"],
                "sum_amp": int(sum(samples)),
                "peak_abs": int(max(abs(s) for s in samples)),
            }
        ]

    return decode_map(assets, decode_wav, AUDIO_FEATURES_SCHEMA, to_rows)


# The BMP codec helpers use the same by-value factory pattern as the
# WAV pair above (see that comment for why).
def _make_bmp_synth():
    def synthesize_bmp(asset_id: int) -> bytes:
        """Deterministic 24-bit uncompressed BMP for ``asset_id``: a
        real BITMAPFILEHEADER + BITMAPINFOHEADER + bottom-up padded
        pixel rows, written with stdlib ``struct``. Dimensions and
        every channel value are closed-form in (id, x, y, channel), so
        a SQL oracle can recompute decoded statistics without parsing
        the container: w = 4 + id%13, h = 3 + id%7,
        channel c at (x,y) = (id + 7x + 13y + 31c) mod 256 with
        c ∈ {0,1,2} = (blue, green, red) in file order."""
        import struct

        w = 4 + asset_id % 13
        h = 3 + asset_id % 7
        row_pad = (-3 * w) % 4
        rows = []
        for y in range(h - 1, -1, -1):  # BMP stores rows bottom-up
            row = bytearray()
            for x in range(w):
                for c in range(3):  # B, G, R
                    row.append((asset_id + 7 * x + 13 * y + 31 * c) % 256)
            row.extend(b"\x00" * row_pad)
            rows.append(bytes(row))
        pixel_data = b"".join(rows)
        dib = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0
        )
        header = struct.pack(
            "<2sIHHI", b"BM", 14 + 40 + len(pixel_data), 0, 0, 14 + 40
        )
        return header + dib + pixel_data

    return synthesize_bmp


def _make_bmp_decode():
    def decode_bmp(payload: bytes) -> dict:
        """REAL image decode for uncompressed 24-bit BMP: stdlib
        ``struct`` parses both headers, rows are un-padded and
        re-ordered top-down, pixels come back as (b, g, r) tuples."""
        import struct

        magic, _size, _r1, _r2, offset = struct.unpack_from("<2sIHHI", payload, 0)
        if magic != b"BM":
            raise ValueError("not a BMP payload")
        (hdr_size, w, h, _planes, bpp, compression) = struct.unpack_from(
            "<IiiHHI", payload, 14
        )[:6]
        if bpp != 24 or compression != 0:
            raise NotImplementedError("only uncompressed 24-bit BMP is decoded")
        row_stride = 3 * w + ((-3 * w) % 4)
        rows = []
        for yi in range(abs(h)):
            base = offset + yi * row_stride
            row = [
                struct.unpack_from("<BBB", payload, base + 3 * x)
                for x in range(w)
            ]
            rows.append(row)
        if h > 0:
            rows.reverse()  # bottom-up file order → top-down
        return {"width": w, "height": abs(h), "pixels": rows}

    return decode_bmp


synthesize_bmp = _make_bmp_synth()
decode_bmp = _make_bmp_decode()


#: schema of the decoded-image feature output (stable contract)
IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("sum_rgb", T.LongType()),
        T.StructField("max_channel", T.LongType()),
    ]
)


def image_features(assets: DataFrame, decode) -> DataFrame:
    """Decode real image payloads with ``decode`` (:func:`decode_bmp`
    or :func:`decode_png`; both return top-down pixel tuples) and
    emit integer pixel statistics. Map-only; payloads die inside the
    batch."""

    def to_rows(aid: int, d: dict) -> list:
        flat = [v for row in d["pixels"] for px in row for v in px]
        return [
            {
                "asset_id": aid,
                "width": d["width"],
                "height": d["height"],
                "n_pixels": d["width"] * d["height"],
                "sum_rgb": int(sum(flat)),
                "max_channel": int(max(flat)),
            }
        ]

    return decode_map(assets, decode, IMAGE_FEATURES_SCHEMA, to_rows)


#: schema of the real-resize thumbnail feature output
THUMBNAIL_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("thumb_w", T.LongType()),
        T.StructField("thumb_h", T.LongType()),
        T.StructField("thumb_sum_rgb", T.LongType()),
        T.StructField("thumb_max_channel", T.LongType()),
    ]
)


#: thumbnail size of :func:`image_thumbnails` (the oracle hard-codes 2×2)
THUMB_W = 2
THUMB_H = 2


def image_thumbnails(assets: DataFrame) -> DataFrame:
    """REAL image resize: decode the BMP payload, then
    nearest-neighbor downsample to ``THUMB_W``×``THUMB_H`` — target
    pixel (xt, yt) samples source pixel ((xt*w)//tw, (yt*h)//th), the
    standard floor-mapping NN kernel — and emit integer statistics of
    the RESIZED pixels. This path touches every sampled pixel of a
    genuinely decoded image, so the oracle's closed-form
    recomputation proves decode + index mapping are exact. Map-only
    Arrow pass; the full-resolution pixels die inside the batch — at
    100 TB only the ``tw*th*3``-byte thumbnails ever reach a shuffle
    or sink."""
    tw, th = THUMB_W, THUMB_H

    def to_rows(aid: int, d: dict) -> list:
        w, h, px = d["width"], d["height"], d["pixels"]
        sampled = [
            v
            for yt in range(th)
            for xt in range(tw)
            for v in px[(yt * h) // th][(xt * w) // tw]
        ]
        return [
            {
                "asset_id": aid,
                "width": w,
                "height": h,
                "thumb_w": tw,
                "thumb_h": th,
                "thumb_sum_rgb": int(sum(sampled)),
                "thumb_max_channel": int(max(sampled)),
            }
        ]

    return decode_map(assets, decode_bmp, THUMBNAIL_FEATURES_SCHEMA, to_rows)


def assets_from_binary_files(spark, path: str, glob: str = "*.bmp") -> DataFrame:
    """Directory-of-assets ingest via Spark's built-in ``binaryFile``
    source — the shape a real 100-TB multimodal corpus arrives in
    (object-store prefixes of image/audio files), as opposed to the
    pre-packed binary columns the other asset builders synthesize.
    ``pathGlobFilter`` prunes non-matching files at listing time and
    the source parallelizes by file; asset_id is recovered from the
    file stem, so downstream decode/feature/resize passes are
    IDENTICAL to the packed path (the pipeline cannot tell how the
    bytes arrived)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    stem = F.regexp_extract(F.col("path"), r"([0-9]+)\.[a-z0-9]+$", 1)
    return files.select(
        stem.cast("long").alias("asset_id"), F.col("content").alias("payload")
    )


# The PNG codec pair: the third REAL stdlib codec (zlib IDAT + CRC32
# + per-row scanline filters), same by-value factory pattern.
def _make_png_synth():
    def synthesize_png(asset_id: int) -> bytes:
        """Deterministic 8-bit truecolor PNG for ``asset_id``: real
        signature, IHDR, one zlib IDAT, IEND — each chunk CRC32'd.
        Channel c at (x, y) = (id + 7x + 13y + 31c) mod 256 with
        c ∈ {0,1,2} = (r, g, b) in natural PNG order; w = 4 + id%11,
        h = 3 + id%5. Scanline filters genuinely vary per row
        (y mod 3 → None/Sub/Up), so decoding must actually undo
        filtering, not just inflate."""
        import struct
        import zlib

        w = 4 + asset_id % 11
        h = 3 + asset_id % 5
        raw = bytearray()
        prev = bytes(3 * w)
        for y in range(h):
            row = bytes(
                (asset_id + 7 * x + 13 * y + 31 * c) % 256
                for x in range(w)
                for c in range(3)
            )
            ft = y % 3
            raw.append(ft)
            if ft == 0:  # None
                raw += row
            elif ft == 1:  # Sub
                raw += bytes(
                    (row[i] - (row[i - 3] if i >= 3 else 0)) % 256
                    for i in range(len(row))
                )
            else:  # Up
                raw += bytes((row[i] - prev[i]) % 256 for i in range(len(row)))
            prev = row

        def chunk(tag: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data))
                + tag
                + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    return synthesize_png


def _make_png_decode():
    def decode_png(payload: bytes) -> dict:
        """REAL PNG decode for 8-bit truecolor RGB: chunk walk with
        CRC32 verification, multi-IDAT concat, zlib inflate, and all
        five scanline filters (None/Sub/Up/Average/Paeth) undone
        per the PNG spec. Pixels come back as (r, g, b) tuples,
        top-down."""
        import struct
        import zlib

        if payload[:8] != b"\x89PNG\r\n\x1a\n":
            raise ValueError("not a PNG payload")
        pos = 8
        idat = b""
        w = h = None
        while pos < len(payload):
            (ln,) = struct.unpack_from(">I", payload, pos)
            tag = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + ln]
            (crc,) = struct.unpack_from(">I", payload, pos + 8 + ln)
            if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
                raise ValueError(f"bad CRC in chunk {tag!r}")
            if tag == b"IHDR":
                w, h, depth, ctype = struct.unpack_from(">IIBB", data, 0)
                if depth != 8 or ctype != 2:
                    raise NotImplementedError("only 8-bit truecolor RGB PNG")
            elif tag == b"IDAT":
                idat += data
            elif tag == b"IEND":
                break
            pos += 12 + ln
        raw = zlib.decompress(idat)
        stride = 3 * w
        rows = []
        prev = bytearray(stride)
        p = 0
        for _y in range(h):
            ft = raw[p]
            p += 1
            cur = bytearray(raw[p : p + stride])
            p += stride
            if ft == 1:  # Sub
                for i in range(3, stride):
                    cur[i] = (cur[i] + cur[i - 3]) % 256
            elif ft == 2:  # Up
                for i in range(stride):
                    cur[i] = (cur[i] + prev[i]) % 256
            elif ft == 3:  # Average
                for i in range(stride):
                    left = cur[i - 3] if i >= 3 else 0
                    cur[i] = (cur[i] + (left + prev[i]) // 2) % 256
            elif ft == 4:  # Paeth
                for i in range(stride):
                    a = cur[i - 3] if i >= 3 else 0
                    b = prev[i]
                    c = prev[i - 3] if i >= 3 else 0
                    pp = a + b - c
                    pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[i] = (cur[i] + pr) % 256
            elif ft != 0:
                raise NotImplementedError(f"unknown PNG filter {ft}")
            rows.append([tuple(cur[3 * x : 3 * x + 3]) for x in range(w)])
            prev = cur
        return {"width": w, "height": h, "pixels": rows}

    return decode_png


synthesize_png = _make_png_synth()
decode_png = _make_png_decode()


# The y4m (YUV4MPEG2) codec pair: the THIRD modality goes real —
# a genuine public video container (mpv/ffmpeg-compatible), raw
# YUV420 planes, decodable with the stdlib alone. Same by-value
# factory pattern as the WAV/BMP/PNG pairs.
def _make_y4m_synth():
    def synthesize_y4m(asset_id: int) -> bytes:
        """Deterministic YUV4MPEG2 stream for ``asset_id``: real
        `YUV4MPEG2 W.. H.. F25:1 Ip A1:1 C420jpeg` header plus
        FRAME-delimited raw 4:2:0 planes. Closed-form planes:
        Y(x,y,f) = (id + 3x + 5y + 17f) mod 256 on the full grid,
        U(xx,yy,f) = (id + 7xx + 11yy + 23f) mod 256 and
        V(xx,yy,f) = (id + 13xx + 3yy + 29f) mod 256 on the half-res
        grid; w = 4 + 2(id%5), h = 4 + 2(id%3) (even, as 4:2:0
        requires), n_frames = 2 + id%4."""
        w = 4 + 2 * (asset_id % 5)
        h = 4 + 2 * (asset_id % 3)
        n_frames = 2 + asset_id % 4
        out = bytearray(f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420jpeg\n".encode())
        for f in range(n_frames):
            out += b"FRAME\n"
            out += bytes(
                (asset_id + 3 * x + 5 * y + 17 * f) % 256
                for y in range(h)
                for x in range(w)
            )
            out += bytes(
                (asset_id + 7 * xx + 11 * yy + 23 * f) % 256
                for yy in range(h // 2)
                for xx in range(w // 2)
            )
            out += bytes(
                (asset_id + 13 * xx + 3 * yy + 29 * f) % 256
                for yy in range(h // 2)
                for xx in range(w // 2)
            )
        return bytes(out)

    return synthesize_y4m


def _make_y4m_decode():
    def decode_y4m(payload: bytes) -> dict:
        """REAL video decode for YUV4MPEG2 4:2:0: stream-header token
        parse (W/H/C with the spec's defaults), FRAME-marker walk,
        plane slicing with an exact-length check. Frames come back as
        raw Y/U/V plane bytes."""
        nl = payload.index(b"\n")
        header = payload[:nl].decode()
        tokens = header.split(" ")
        if tokens[0] != "YUV4MPEG2":
            raise ValueError("not a YUV4MPEG2 payload")
        w = h = None
        colorspace = "C420jpeg"  # spec default is 4:2:0
        for t in tokens[1:]:
            if t.startswith("W"):
                w = int(t[1:])
            elif t.startswith("H"):
                h = int(t[1:])
            elif t.startswith("C"):
                colorspace = t
        if w is None or h is None:
            raise ValueError("missing W/H in stream header")
        if not colorspace.startswith("C420"):
            raise NotImplementedError("only 4:2:0 subsampling is decoded")
        y_size = w * h
        c_size = (w // 2) * (h // 2)
        frame_size = y_size + 2 * c_size
        frames = []
        pos = nl + 1
        while pos < len(payload):
            fnl = payload.index(b"\n", pos)
            if payload[pos:fnl].split(b" ")[0] != b"FRAME":
                raise ValueError("expected FRAME marker")
            pos = fnl + 1
            if pos + frame_size > len(payload):
                raise ValueError("truncated frame")
            frames.append(
                {
                    "y": payload[pos : pos + y_size],
                    "u": payload[pos + y_size : pos + y_size + c_size],
                    "v": payload[pos + y_size + c_size : pos + frame_size],
                }
            )
            pos += frame_size
        return {"width": w, "height": h, "n_frames": len(frames), "frames": frames}

    return decode_y4m


synthesize_y4m = _make_y4m_synth()
decode_y4m = _make_y4m_decode()


#: schema of the per-sampled-frame video feature output
VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame_index", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("sum_y", T.LongType()),
        T.StructField("sum_uv", T.LongType()),
    ]
)


#: every Y4M_FRAME_STEP-th frame is sampled (the oracle hard-codes 2)
Y4M_FRAME_STEP = 2


def y4m_frame_features(assets: DataFrame) -> DataFrame:
    """REAL frame sampling + decode: every ``Y4M_FRAME_STEP``-th frame
    of each decoded y4m stream reduces to integer plane statistics,
    one row per sampled frame. Map-only; payloads die in-batch."""
    step = Y4M_FRAME_STEP

    def to_rows(aid: int, d: dict) -> list:
        rows = []
        for fi in range(0, d["n_frames"], step):
            fr = d["frames"][fi]
            rows.append(
                {
                    "asset_id": aid,
                    "frame_index": fi,
                    "width": d["width"],
                    "height": d["height"],
                    "sum_y": sum(fr["y"]),
                    "sum_uv": sum(fr["u"]) + sum(fr["v"]),
                }
            )
        return rows

    return decode_map(assets, decode_y4m, VIDEO_FRAME_SCHEMA, to_rows)


# The GIF87a codec pair: the FIFTH real stdlib codec and the second
# COMPRESSED one — palette-indexed pixels under genuine variable-width
# LZW (LSB-first packing, CLEAR/EOI control codes, table growth with
# the KwKwK case, 12-bit cap with dictionary reset), framed in 255-byte
# sub-blocks per the spec. Same by-value factory pattern as WAV/BMP/
# PNG/Y4M. The decoder is conformance-pinned against a REFERENCE
# encoder's bytes (the canonical 1×1 GIF) in tests/test_multimodal.py,
# so encoder/decoder can't drift from the public format together.
GIF_LZW_MAX_WIDTH = 12


def _make_gif_lzw():
    def lzw_encode(indices, mcs: int) -> bytes:
        """GIF-flavor LZW: emit CLEAR, then greedy longest-match codes
        at the current width, growing the width when the next free
        code no longer fits; reset the table at 4096 entries."""
        clear, eoi = 1 << mcs, (1 << mcs) + 1
        out = bytearray()
        acc = 0
        nbits = 0

        def emit(code: int, width: int) -> None:
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += width
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        table = {(i,): i for i in range(clear)}
        nxt = eoi + 1
        width = mcs + 1
        emit(clear, width)
        w = ()
        for k in indices:
            wk = w + (k,)
            if wk in table:
                w = wk
                continue
            emit(table[w], width)
            table[wk] = nxt
            nxt += 1
            if nxt == (1 << width) + 1 and width < GIF_LZW_MAX_WIDTH:
                width += 1
            if nxt == (1 << GIF_LZW_MAX_WIDTH) + 1:
                emit(clear, width)
                table = {(i,): i for i in range(clear)}
                nxt = eoi + 1
                width = mcs + 1
            w = (k,)
        if w:
            emit(table[w], width)
        emit(eoi, width)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    def lzw_decode(data: bytes, mcs: int, n_expected: int) -> list:
        """Inverse: variable-width LSB-first code stream → index list,
        rebuilding the table one entry behind the encoder (the KwKwK
        ``code == len(table)`` case materializes prev+prev[0])."""
        clear, eoi = 1 << mcs, (1 << mcs) + 1
        pos = 0
        acc = 0
        nbits = 0
        width = mcs + 1
        table = [(i,) for i in range(clear)] + [None, None]
        prev = None
        out: list = []
        while len(out) < n_expected:
            while nbits < width:
                if pos >= len(data):
                    raise ValueError("LZW stream truncated")
                acc |= data[pos] << nbits
                pos += 1
                nbits += 8
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = [(i,) for i in range(clear)] + [None, None]
                width = mcs + 1
                prev = None
                continue
            if code == eoi:
                break
            if prev is None:
                entry = table[code]
            else:
                if code < len(table):
                    entry = table[code]
                elif code == len(table):
                    entry = prev + (prev[0],)
                else:
                    raise ValueError(f"bad LZW code {code}")
                table.append(prev + (entry[0],))
                if len(table) == (1 << width) and width < GIF_LZW_MAX_WIDTH:
                    width += 1
            out.extend(entry)
            prev = entry
        return out[:n_expected]

    return lzw_encode, lzw_decode


gif_lzw_encode, gif_lzw_decode = _make_gif_lzw()

GIF_PALETTE_SIZE = 16  # 4-bit indexed → LZW min code size 4


def _make_gif_synth():
    enc = gif_lzw_encode  # '<locals>' qualname → pickled by value

    def synthesize_gif(asset_id: int) -> bytes:
        """Deterministic GIF87a for ``asset_id``: real header, logical
        screen descriptor, 16-entry global color table, image
        descriptor, LZW-compressed 4-bit indices in 255-byte
        sub-blocks, trailer. Closed forms: index(x, y) =
        (id + 3x + 7y) mod 16; palette[i] = ((id+37i) mod 256,
        (id+59i) mod 256, (id+83i) mod 256); w = 5 + id%9,
        h = 4 + id%6."""
        import struct

        w = 5 + asset_id % 9
        h = 4 + asset_id % 6
        out = bytearray(b"GIF87a")
        out += struct.pack("<HH", w, h)
        out += bytes([0xB3, 0, 0])  # GCT present, 16 entries
        for i in range(GIF_PALETTE_SIZE):
            out += bytes(
                [
                    (asset_id + 37 * i) % 256,
                    (asset_id + 59 * i) % 256,
                    (asset_id + 83 * i) % 256,
                ]
            )
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        indices = [
            (asset_id + 3 * x + 7 * y) % GIF_PALETTE_SIZE
            for y in range(h)
            for x in range(w)
        ]
        mcs = 4
        out.append(mcs)
        data = enc(indices, mcs)
        for off in range(0, len(data), 255):
            block = data[off : off + 255]
            out.append(len(block))
            out += block
        out += b"\x00\x3b"
        return bytes(out)

    return synthesize_gif


def _make_gif_decode():
    dec = gif_lzw_decode  # '<locals>' qualname → pickled by value

    def decode_gif(payload: bytes) -> dict:
        """REAL GIF decode: header/LSD parse, global color table,
        extension-block skip (GIF89a graphic-control etc.), image
        descriptor, sub-block reassembly, variable-width LZW decode,
        palette mapping. Pixels come back as (r, g, b) tuples,
        top-down. Interlace and local color tables are format guards
        (not emitted by the synthesizer, flagged honestly)."""
        import struct

        if payload[:6] not in (b"GIF87a", b"GIF89a"):
            raise ValueError("not a GIF payload")
        sw, sh = struct.unpack_from("<HH", payload, 6)
        packed = payload[10]
        pos = 13
        gct = []
        if packed & 0x80:
            n = 2 ** ((packed & 0x07) + 1)
            for i in range(n):
                gct.append(tuple(payload[pos + 3 * i : pos + 3 * i + 3]))
            pos += 3 * n
        while payload[pos] == 0x21:  # extensions: label + sub-blocks
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        if payload[pos] != 0x2C:
            raise ValueError("missing image descriptor")
        left, top, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos + 1)
        pos += 10
        if ipacked & 0x80:
            raise NotImplementedError("local color tables not supported")
        if ipacked & 0x40:
            raise NotImplementedError("interlaced GIF not supported")
        mcs = payload[pos]
        pos += 1
        data = bytearray()
        while payload[pos] != 0:
            ln = payload[pos]
            data += payload[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        idx = dec(bytes(data), mcs, w * h)
        rows = [[gct[idx[y * w + x]] for x in range(w)] for y in range(h)]
        return {"width": w, "height": h, "pixels": rows, "indices": idx}

    return decode_gif


synthesize_gif = _make_gif_synth()
decode_gif = _make_gif_decode()


GIF_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("sum_rgb", T.LongType()),
        T.StructField("max_channel", T.LongType()),
        T.StructField("distinct_colors", T.LongType()),
    ]
)


def gif_image_features(assets: DataFrame) -> DataFrame:
    """Decode real GIF payloads (LZW + palette) into integer pixel
    statistics, plus the palette-usage count a palette format makes
    natural."""

    def to_rows(aid: int, d: dict) -> list:
        flat = [v for row in d["pixels"] for px in row for v in px]
        return [
            {
                "asset_id": aid,
                "width": d["width"],
                "height": d["height"],
                "n_pixels": d["width"] * d["height"],
                "sum_rgb": int(sum(flat)),
                "max_channel": int(max(flat)),
                "distinct_colors": len(set(d["indices"])),
            }
        ]

    return decode_map(assets, decode_gif, GIF_FEATURES_SCHEMA, to_rows)


# The USTAR shard pair: pack documents into deterministic POSIX-ustar
# archives (the WebDataset shard layout every large-scale training
# pipeline ships corpora in) and walk them back member by member.
# Stdlib tarfile with pinned metadata (mtime 0, uid/gid 0, empty
# uname/gname, USTAR_FORMAT) so identical inputs yield byte-identical
# shards on every engine and every rerun.
def _make_tar_pack():
    def pack_tar(members) -> bytes:
        """members: iterable of (doc_id, text) → ustar archive bytes,
        one ``<doc_id:012d>.txt`` member each, archive order = input
        order (callers pre-sort by doc_id for determinism)."""
        import io
        import tarfile

        buf = io.BytesIO()
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as tf:
            for doc_id, text in members:
                data = text.encode("utf-8")
                info = tarfile.TarInfo(name=f"{int(doc_id):012d}.txt")
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                tf.addfile(info, io.BytesIO(data))
        return buf.getvalue()

    return pack_tar


def _make_tar_walk():
    def walk_tar(payload: bytes):
        """ustar bytes → [(doc_id, n_bytes, text)], archive order."""
        import io
        import tarfile

        out = []
        with tarfile.open(fileobj=io.BytesIO(payload), mode="r") as tf:
            for info in tf.getmembers():
                data = tf.extractfile(info).read()
                out.append(
                    (int(info.name.split(".")[0]), len(data), data.decode("utf-8"))
                )
        return out

    return walk_tar


pack_tar = _make_tar_pack()
walk_tar = _make_tar_walk()


# ---------------------------------------------------------------------------
# ZIP shards: DEFLATE members behind a hand-walked central directory
# ---------------------------------------------------------------------------

def _make_zip_pack():
    def pack_zip(members) -> bytes:
        """members: iterable of (doc_id, text) → ZIP archive bytes,
        one DEFLATE-compressed ``<doc_id:012d>.txt`` member each,
        archive order = input order (callers pre-sort by doc_id).
        date_time pinned to the DOS epoch so identical inputs give
        byte-identical archives."""
        import io
        import zipfile

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            for doc_id, text in members:
                info = zipfile.ZipInfo(
                    filename=f"{int(doc_id):012d}.txt",
                    date_time=(1980, 1, 1, 0, 0, 0),
                )
                info.compress_type = zipfile.ZIP_DEFLATED
                info.external_attr = 0
                zf.writestr(info, text.encode("utf-8"))
        return buf.getvalue()

    return pack_zip


def _make_zip_walk():
    def walk_zip(payload: bytes):
        """ZIP bytes → [(doc_id, method, n_bytes, text)], central-
        directory order. The container is HAND-WALKED — end-of-
        central-directory record, central-directory file headers,
        then each local file header — per the public PKWARE
        APPNOTE.TXT layout, with every member's CRC-32 verified
        against its recomputed value (raise on mismatch, the PNG-
        chunk discipline); only the DEFLATE primitive itself comes
        from stdlib zlib, same as the PNG codec's IDAT inflate.
        No zipfile on the read path: the walker IS the format proof."""
        import struct
        import zlib

        # EOCD: scan back for the signature (no archive comment here,
        # but tolerate one, per spec the comment is at most 64 KiB).
        eocd_at = payload.rfind(b"PK\x05\x06")
        if eocd_at < 0:
            raise ValueError("zip: no end-of-central-directory record")
        (n_total, cd_size, cd_off) = struct.unpack(
            "<HII", payload[eocd_at + 10 : eocd_at + 20]
        )
        out = []
        pos = cd_off
        for _ in range(n_total):
            if payload[pos : pos + 4] != b"PK\x01\x02":
                raise ValueError("zip: bad central-directory signature")
            (
                method,
                _mtime,
                _mdate,
                crc,
                csize,
                usize,
                nlen,
                xlen,
                clen,
            ) = struct.unpack("<HHHIIIHHH", payload[pos + 10 : pos + 34])
            (lho,) = struct.unpack("<I", payload[pos + 42 : pos + 46])
            name = payload[pos + 46 : pos + 46 + nlen].decode("ascii")
            pos += 46 + nlen + xlen + clen
            # local header: re-read the name length + extra length —
            # the LOCAL extra field may differ from the central one.
            if payload[lho : lho + 4] != b"PK\x03\x04":
                raise ValueError("zip: bad local-file-header signature")
            (lnlen, lxlen) = struct.unpack("<HH", payload[lho + 26 : lho + 30])
            data_at = lho + 30 + lnlen + lxlen
            comp = payload[data_at : data_at + csize]
            if method == 8:
                data = zlib.decompress(comp, wbits=-15)  # raw DEFLATE
            elif method == 0:
                data = comp
            else:
                raise ValueError(f"zip: unsupported method {method}")
            if len(data) != usize:
                raise ValueError("zip: size mismatch")
            if zlib.crc32(data) & 0xFFFFFFFF != crc:
                raise ValueError("zip: CRC-32 mismatch")
            out.append(
                (
                    int(name.split(".")[0]),
                    int(method),
                    len(data),
                    data.decode("utf-8"),
                )
            )
        return out

    return walk_zip


pack_zip = _make_zip_pack()
walk_zip = _make_zip_walk()


# ---------------------------------------------------------------------------
# The shard stages: one packer and one walker, with the archive codec as
# their only per-format input
# ---------------------------------------------------------------------------

#: documents are packed into SHARD_MOD shards by doc_id % SHARD_MOD
#: (the oracles hard-code 50)
SHARD_MOD = 50

#: member rows of :func:`shard_members` with :func:`walk_tar`
TAR_MEMBERS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("shard_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

#: member rows of :func:`shard_members` with :func:`walk_zip`
ZIP_MEMBERS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("shard_id", T.LongType()),
        T.StructField("method", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def pack_shards(docs: DataFrame, pack) -> DataFrame:
    """(shard_id, payload, n_members): documents packed by ``pack``
    (:func:`pack_tar` or :func:`pack_zip`) into ``SHARD_MOD``
    deterministic archives, member order = doc_id. One Arrow pass
    over pre-grouped member arrays — the collect_list per shard
    bounds executor state at corpus_bytes/SHARD_MOD."""
    import pandas as pd  # noqa: F811

    grouped = (
        docs.select(
            (col("doc_id") % SHARD_MOD).alias("shard_id"),
            F.struct(col("doc_id"), col("text")).alias("m"),
        )
        .groupBy("shard_id")
        .agg(F.array_sort(F.collect_list("m")).alias("members"))
    )

    out_schema = T.StructType(
        [
            T.StructField("shard_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("n_members", T.LongType()),
        ]
    )

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for sid, members in zip(pdf["shard_id"], pdf["members"]):
                pairs = [(m["doc_id"], m["text"]) for m in members]
                rows.append(
                    {
                        "shard_id": int(sid),
                        "payload": pack(pairs),
                        "n_members": len(pairs),
                    }
                )
            yield pd.DataFrame(rows, columns=["shard_id", "payload", "n_members"])

    return grouped.mapInPandas(gen, schema=out_schema)


def shard_members(shards: DataFrame, walk, schema: T.StructType) -> DataFrame:
    """Walk every shard archive back to its members with ``walk``
    (:func:`walk_tar` or :func:`walk_zip`) — the ingest half of the
    WebDataset pattern. Each member tuple ``(doc_id, *rest)`` becomes
    the row ``(doc_id, shard_id, *rest)`` of ``schema``
    (:data:`TAR_MEMBERS_SCHEMA` or :data:`ZIP_MEMBERS_SCHEMA`).
    Map-only Arrow pass; payloads die in-batch."""
    import pandas as pd  # noqa: F811

    columns = schema.fieldNames()

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = [
                (doc_id, int(sid), *rest)
                for sid, payload in zip(pdf["shard_id"], pdf["payload"])
                for doc_id, *rest in walk(bytes(payload))
            ]
            yield pd.DataFrame(rows, columns=columns)

    return shards.select("shard_id", "payload").mapInPandas(gen, schema=schema)
