"""Multimodal tests: codec round-trips and conformance, Arrow batch
invariance of every codec chain, payload pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_sparkstreaming_spark.operators import multimodal as mm
from iot_sparkstreaming_spark.operators.multimodal import (
    assets_from_documents,
    extract_features,
)
from iot_sparkstreaming_spark.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def assets(spark):
    return assets_from_documents(load_table(spark, SF, "documents"))


def test_asset_schema(assets):
    assert [f.name for f in assets.schema.fields] == [
        "asset_id",
        "modality",
        "payload",
        "meta",
    ]
    assert assets.schema["payload"].dataType.typeName() == "binary"
    meta = assets.schema["meta"].dataType
    assert [f.name for f in meta.fields] == ["mime", "width", "height", "duration_ms"]


def test_extract_features_multibatch(spark, assets):
    """mapInPandas must produce identical results regardless of Arrow
    batch slicing — force tiny batches and many partitions."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        multi = extract_features(assets.repartition(8)).collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    single = extract_features(assets.coalesce(1)).collect()
    assert sorted(map(tuple, multi)) == sorted(map(tuple, single))
    byid = {r.asset_id: r for r in multi}
    assert all(r.n_bytes > 0 and len(r.sha256) == 64 for r in multi)
    # spot-check against JVM-side sha2 (independent of the pandas path)
    jvm = {
        r.asset_id: r.h
        for r in assets.select(
            "asset_id", F.lower(F.sha2(F.col("payload"), 256)).alias("h")
        ).collect()
    }
    assert all(jvm[i] == byid[i].sha256 for i in jvm)


def test_wav_codec_roundtrip():
    """Real codec: synthesize_wav writes a genuine RIFF/WAVE container
    and decode_wav parses it back to the closed-form samples."""
    from iot_sparkstreaming_spark.operators.multimodal import (
        WAV_SAMPLE_RATE,
        decode_wav,
        synthesize_wav,
    )

    aid = 42
    payload = synthesize_wav(aid)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    d = decode_wav(payload)
    assert d["sample_rate"] == WAV_SAMPLE_RATE
    assert d["n_channels"] == 1
    n = 64 + aid % 128
    assert d["n_frames"] == n
    expected = tuple(((aid * 31 + i * 17) % 65536) - 32768 for i in range(n))
    assert d["samples"] == expected


#: every encode→decode (or pack→walk) chain the multimodal queries run
CODEC_CHAINS = {
    "wav": lambda d: mm.audio_features(mm.encode_assets(d, "audio", mm.synthesize_wav)),
    "bmp": lambda d: mm.image_features(
        mm.encode_assets(d, "image", mm.synthesize_bmp), mm.decode_bmp
    ),
    "png": lambda d: mm.image_features(
        mm.encode_assets(d, "image", mm.synthesize_png), mm.decode_png
    ),
    "gif": lambda d: mm.gif_image_features(
        mm.encode_assets(d, "image", mm.synthesize_gif)
    ),
    "y4m": lambda d: mm.y4m_frame_features(
        mm.encode_assets(d, "video", mm.synthesize_y4m)
    ),
    "bmp_thumbnail": lambda d: mm.image_thumbnails(
        mm.encode_assets(d, "image", mm.synthesize_bmp)
    ),
    "tar": lambda d: mm.shard_members(
        mm.pack_shards(d, mm.pack_tar), mm.walk_tar, mm.TAR_MEMBERS_SCHEMA
    ),
    "zip": lambda d: mm.shard_members(
        mm.pack_shards(d, mm.pack_zip), mm.walk_zip, mm.ZIP_MEMBERS_SCHEMA
    ),
}


@pytest.mark.parametrize("chain", sorted(CODEC_CHAINS))
def test_codec_chain_batch_invariance(spark, chain):
    """Chained mapInPandas passes give identical results under tiny
    Arrow batches + many partitions vs one partition."""
    run = CODEC_CHAINS[chain]
    docs = load_table(spark, SF, "documents")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        multi = run(docs.repartition(8)).collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    single = run(docs.coalesce(1)).collect()
    assert multi and sorted(map(tuple, multi)) == sorted(map(tuple, single))


def test_bmp_codec_roundtrip():
    """Real image codec: synthesize_bmp writes a genuine 24-bit BMP
    (headers, bottom-up padded rows) and decode_bmp parses it back
    to the closed-form pixels."""
    from iot_sparkstreaming_spark.operators.multimodal import (
        decode_bmp,
        synthesize_bmp,
    )

    aid = 57  # w = 4 + 57%13 = 9 → 27-byte rows + 1 pad byte: pad path on
    payload = synthesize_bmp(aid)
    assert payload[:2] == b"BM"
    d = decode_bmp(payload)
    w, h = 4 + aid % 13, 3 + aid % 7
    assert (d["width"], d["height"]) == (w, h)
    for y in range(h):
        for x in range(w):
            b, g, r = d["pixels"][y][x]
            assert b == (aid + 7 * x + 13 * y) % 256
            assert g == (aid + 7 * x + 13 * y + 31) % 256
            assert r == (aid + 7 * x + 13 * y + 62) % 256


def test_binaryfile_ingest_matches_packed_path(spark, tmp_path):
    """Writing real BMPs to a directory and ingesting them through
    format('binaryFile') must produce byte-identical features to the
    packed binary-column path — the bytes' arrival mode is invisible
    downstream."""
    from iot_sparkstreaming_spark.operators.multimodal import (
        assets_from_binary_files,
        decode_bmp,
        image_features,
        synthesize_bmp,
    )

    ids = [0, 3, 6, 9, 12]
    for aid in ids:
        (tmp_path / f"{aid}.bmp").write_bytes(synthesize_bmp(aid))
    (tmp_path / "ignore.txt").write_text("not an image")

    assets = assets_from_binary_files(spark, str(tmp_path))
    got = {r.asset_id: r for r in image_features(assets, decode_bmp).collect()}
    assert set(got) == set(ids)
    for aid in ids:
        r = got[aid]
        assert (r.width, r.height) == (4 + aid % 13, 3 + aid % 7)
        expect_sum = sum(
            (aid + 7 * x + 13 * y + 31 * c) % 256
            for x in range(r.width)
            for y in range(r.height)
            for c in range(3)
        )
        assert r.sum_rgb == expect_sum


def test_png_round_trip_identity():
    """decode(synthesize(id)) must reproduce the closed-form pixel
    function exactly — through zlib, CRC, and the three encoder
    filters (None/Sub/Up by row)."""
    from iot_sparkstreaming_spark.operators.multimodal import (
        decode_png,
        synthesize_png,
    )

    for aid in (0, 3, 9, 57, 300):
        d = decode_png(synthesize_png(aid))
        w, h = 4 + aid % 11, 3 + aid % 5
        assert (d["width"], d["height"]) == (w, h)
        for y in range(h):
            for x in range(w):
                assert d["pixels"][y][x] == tuple(
                    (aid + 7 * x + 13 * y + 31 * c) % 256 for c in range(3)
                )


def test_png_crc_tamper_detected():
    import pytest

    from iot_sparkstreaming_spark.operators.multimodal import (
        decode_png,
        synthesize_png,
    )

    payload = bytearray(synthesize_png(9))
    payload[40] ^= 0xFF  # flip a byte inside IDAT
    with pytest.raises(ValueError, match="bad CRC"):
        decode_png(bytes(payload))


def test_png_average_and_paeth_filters_decode():
    """The decoder claims all five filters; the encoder only emits
    0-2, so prove 3 (Average) and 4 (Paeth) against a hand-filtered
    image built here."""
    import struct
    import zlib

    from iot_sparkstreaming_spark.operators.multimodal import decode_png

    w, h = 4, 3
    pixels = [
        [(10 * y + 3 * x + c) % 256 for x in range(w) for c in range(3)]
        for y in range(h)
    ]
    raw = bytearray()
    prev = [0] * (3 * w)
    for y, row in enumerate(pixels):
        ft = (0, 3, 4)[y]
        raw.append(ft)
        for i, v in enumerate(row):
            a = row[i - 3] if i >= 3 else 0
            b = prev[i]
            c0 = prev[i - 3] if i >= 3 else 0
            if ft == 0:
                raw.append(v % 256)
            elif ft == 3:
                raw.append((v - (a + b) // 2) % 256)
            else:
                pp = a + b - c0
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c0)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c0)
                raw.append((v - pr) % 256)
        prev = row

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    d = decode_png(payload)
    for y in range(h):
        for x in range(w):
            assert d["pixels"][y][x] == tuple(pixels[y][3 * x : 3 * x + 3])


def test_y4m_round_trip_identity():
    """decode(synthesize(id)) must reproduce every plane byte of the
    closed-form YUV definition through the real container format."""
    from iot_sparkstreaming_spark.operators.multimodal import (
        decode_y4m,
        synthesize_y4m,
    )

    for aid in (2, 8, 23, 116):
        d = decode_y4m(synthesize_y4m(aid))
        w, h, nf = 4 + 2 * (aid % 5), 4 + 2 * (aid % 3), 2 + aid % 4
        assert (d["width"], d["height"], d["n_frames"]) == (w, h, nf)
        fr = d["frames"][nf - 1]
        f = nf - 1
        assert list(fr["y"]) == [
            (aid + 3 * x + 5 * y + 17 * f) % 256 for y in range(h) for x in range(w)
        ]


def test_y4m_rejects_non_420_and_truncation():
    import pytest

    from iot_sparkstreaming_spark.operators.multimodal import (
        decode_y4m,
        synthesize_y4m,
    )

    with pytest.raises(NotImplementedError, match="4:2:0"):
        decode_y4m(b"YUV4MPEG2 W4 H4 F25:1 C444\nFRAME\n" + bytes(48))
    payload = synthesize_y4m(5)
    with pytest.raises(ValueError, match="truncated"):
        decode_y4m(payload[:-3])


def test_gif_conformance_canonical_1x1():
    """Conformance pin against a REFERENCE encoder's bytes: the
    canonical public 35-byte 1x1 GIF87a (white pixel, 2-entry global
    color table, LZW min code size 2, data bytes 0x44 0x01 =
    CLEAR,0,EOI packed LSB-first). The decoder must read these
    hand-written spec bytes, and our encoder must reproduce the exact
    LZW payload — so encoder/decoder can't drift from the public
    format together."""
    from iot_sparkstreaming_spark.operators.multimodal import (
        decode_gif,
        gif_lzw_encode,
    )

    canon = (
        b"GIF87a"
        b"\x01\x00\x01\x00"  # 1x1 logical screen
        b"\x80\x00\x00"  # GCT present (2 entries), bg 0, aspect 0
        b"\xff\xff\xff"  # palette[0] = white
        b"\x00\x00\x00"  # palette[1] = black
        b"\x2c\x00\x00\x00\x00\x01\x00\x01\x00\x00"  # image descriptor
        b"\x02"  # LZW min code size
        b"\x02\x44\x01"  # one 2-byte sub-block: CLEAR, 0, EOI
        b"\x00\x3b"  # block terminator + trailer
    )
    assert len(canon) == 35
    d = decode_gif(canon)
    assert (d["width"], d["height"]) == (1, 1)
    assert d["pixels"] == [[(255, 255, 255)]]
    # encoder emits byte-identical LZW data for the same pixel stream
    assert gif_lzw_encode([0], 2) == b"\x44\x01"


def test_gif_round_trip_identity():
    """decode(synthesize(id)) must reproduce the closed-form palette
    and index functions exactly — through sub-block framing and
    variable-width LZW."""
    from iot_sparkstreaming_spark.operators.multimodal import (
        decode_gif,
        synthesize_gif,
    )

    for aid in (0, 3, 9, 57, 300):
        d = decode_gif(synthesize_gif(aid))
        w, h = 5 + aid % 9, 4 + aid % 6
        assert (d["width"], d["height"]) == (w, h)
        for y in range(h):
            for x in range(w):
                idx = (aid + 3 * x + 7 * y) % 16
                assert d["pixels"][y][x] == (
                    (aid + 37 * idx) % 256,
                    (aid + 59 * idx) % 256,
                    (aid + 83 * idx) % 256,
                )


def test_gif_lzw_kwkwk_and_table_reset():
    """Stress the two hard LZW paths: the KwKwK case (code ==
    len(table), materialized as prev+prev[0]) via a highly repetitive
    stream, and the 12-bit table-cap CLEAR/reset via a long one."""
    from iot_sparkstreaming_spark.operators.multimodal import (
        gif_lzw_decode,
        gif_lzw_encode,
    )

    kwkwk = [1, 1, 1, 1, 1, 1, 1]  # immediate WkWkW pattern
    assert gif_lzw_decode(gif_lzw_encode(kwkwk, 4), 4, len(kwkwk)) == kwkwk

    seq = ([1, 1] * 3000 + list(range(16)) * 800)[:20000]
    enc = gif_lzw_encode(seq, 4)
    assert gif_lzw_decode(enc, 4, len(seq)) == seq


def test_gif_extension_skip_and_guards():
    """GIF89a graphic-control extension blocks are skipped; interlace
    and local-color-table flags (never emitted by the synthesizer)
    raise honest NotImplementedError; non-GIF magic raises."""
    import pytest

    from iot_sparkstreaming_spark.operators.multimodal import (
        decode_gif,
        synthesize_gif,
    )

    payload = bytearray(synthesize_gif(9))
    assert payload[:6] == b"GIF87a"
    desc = payload.index(b"\x2c")
    with_ext = (
        bytes(payload[:6].replace(b"87a", b"89a"))
        + bytes(payload[6:desc])
        + b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # graphic control ext
        + bytes(payload[desc:])
    )
    d = decode_gif(with_ext)
    assert (d["width"], d["height"]) == (5 + 9 % 9, 4 + 9 % 6)

    interlaced = bytearray(payload)
    interlaced[desc + 9] |= 0x40
    with pytest.raises(NotImplementedError, match="interlaced"):
        decode_gif(bytes(interlaced))

    lct = bytearray(payload)
    lct[desc + 9] |= 0x80
    with pytest.raises(NotImplementedError, match="local color"):
        decode_gif(bytes(lct))

    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"PNG..... nope")


def test_tar_shard_ustar_conformance_and_determinism():
    """The packed shard must be genuine POSIX ustar: magic at offset
    257, octal size field, 512-byte blocks, valid header checksum —
    verified against the spec by hand, not just by tarfile reading
    its own output. Identical inputs must give byte-identical
    archives (pinned mtime/uid/uname)."""
    from iot_sparkstreaming_spark.operators.multimodal import pack_tar, walk_tar

    members = [(7, "hello tar"), (42, "wörld × bytes")]
    b = pack_tar(members)
    assert b == pack_tar(list(members)), "must be deterministic"
    assert len(b) % 512 == 0
    # header of the first member, per the ustar spec
    assert b[0:12] == b"000000000007.txt"[:12] or b[0:16].rstrip(b"\x00") == b"000000000007.txt"
    assert b[257:262] == b"ustar"
    size_octal = bytes(b[124:136]).split(b"\x00")[0].strip()
    assert int(size_octal, 8) == len("hello tar".encode())
    assert int(bytes(b[136:148]).split(b"\x00")[0].strip(), 8) == 0  # mtime pinned
    # header checksum: sum of header bytes with the checksum field
    # itself read as spaces
    hdr = bytearray(b[:512])
    stored = int(bytes(hdr[148:156]).split(b"\x00")[0].strip(), 8)
    hdr[148:156] = b" " * 8
    assert stored == sum(hdr)
    # round-trip identity incl. multibyte utf-8
    assert walk_tar(b) == [(7, 9, "hello tar"), (42, len("wörld × bytes".encode()), "wörld × bytes")]


def test_zip_walker_rejects_corruption_and_matches_stdlib():
    """The hand-walked ZIP reader must (a) reproduce stdlib zipfile's
    view of its own archives byte-for-byte, (b) raise on any corrupted
    compressed byte (CRC-32 / inflate), and (c) be deterministic."""
    import io
    import zipfile

    from iot_sparkstreaming_spark.operators.multimodal import pack_zip, walk_zip

    members = [(7, "hello"), (42, "wörld ünïcode ≠ ascii"), (9001, "x" * 5000)]
    payload = pack_zip(members)
    assert pack_zip(members) == payload  # bit-determinism

    got = [(d, n, t) for d, m, n, t in walk_zip(payload)]
    want = [(i, len(t.encode("utf-8")), t) for i, t in members]
    assert got == want
    assert all(m == 8 for _, m, _, _ in walk_zip(payload))  # DEFLATE

    # stdlib agrees with the hand walker on names and contents
    with zipfile.ZipFile(io.BytesIO(payload)) as zf:
        std = [
            (int(n.split(".")[0]), zf.read(n).decode("utf-8"))
            for n in zf.namelist()
        ]
    assert std == [(i, t) for i, t in members]

    # every corrupted byte of the first member's DEFLATE stream raises
    for off in range(47, 51):
        bad = bytearray(payload)
        bad[off] ^= 0x55
        try:
            walk_zip(bytes(bad))
        except Exception:
            continue
        raise AssertionError(f"corruption at byte {off} not caught")
