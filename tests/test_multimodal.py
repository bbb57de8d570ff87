"""Multimodal plumbing + codecs: schema, batch shape, deterministic decode,
and the REAL stdlib BMP/WAV/MP4 decode round-trip."""

import pytest

from go_fluentd_spark.operators.multimodal import (
    _decode_mp4,
    _make_bmp,
    _make_mp4,
    _make_wav,
    decode_features,
    pack_media_real,
)


def test_pack_media_schema(spark, sf_dir):
    df = pack_media_real(spark, sf_dir)
    assert df.schema["payload"].dataType.typeName() == "binary"
    row = df.filter("kind = 'image'").first()
    assert row.meta.mime == "image/bmp" and row.meta.n_bytes == len(row.payload) > 0
    assert row.payload[:2] == b"BM"


def test_decode_deterministic(spark, sf_dir):
    df = pack_media_real(spark, sf_dir).limit(50)
    a = {r.media_id: (r.width, r.height, r.feature) for r in decode_features(df).collect()}
    b = {r.media_id: (r.width, r.height, r.feature) for r in decode_features(df).collect()}
    assert a == b and len(a) == 50
    assert all(len(feat) == 8 for _, _, feat in a.values())


def test_decode_real_roundtrip(spark, sf_dir):
    """REAL containers through the REAL decoder: the stdlib BMP/WAV parse
    must recover the exact geometry the packer embedded, distributed via
    mapInPandas (Arrow batches of binary payloads)."""
    media = pack_media_real(spark, sf_dir).limit(90)
    got = {
        r.media_id: (r.kind, r.width, r.height, r.n_frames, r.feature)
        for r in decode_features(media).collect()
    }
    assert got and {k for _, (k, *_) in got.items()} == {"image", "audio", "video"}
    for media_id, (kind, w, h, nf, feat) in got.items():
        seed = int(media_id[1:])
        if kind == "image":
            _, ew, eh = _make_bmp(seed)
            assert (w, h, nf) == (ew, eh, 1), media_id
        elif kind == "audio":
            _, efr, enf = _make_wav(seed)
            assert (w, h, nf) == (efr, 1, enf), media_id
        else:
            _, ew, eh, enf = _make_mp4(seed)
            assert (w, h, nf) == (ew, eh, enf), media_id
        assert len(feat) == 8 and all(0.0 <= f <= 1.01 for f in feat)


def test_decode_mp4_rejects_garbage():
    with pytest.raises(ValueError):
        _decode_mp4(b"\x00\x00\x00\x08junk" * 4)
    with pytest.raises(ValueError):
        _decode_mp4(b"")


def test_decode_mp4_v1_and_largesize():
    """Conforming real-world containers use encodings our synthesizer
    doesn't: version-1 mvhd (64-bit times, timescale at offset 20) and
    size==1 boxes with a 64-bit largesize header.  The parser must read
    both (ISO/IEC 14496-12 §4.2 / §8.2.2)."""
    import struct

    from go_fluentd_spark.operators.multimodal import _make_mp4, _mp4_box

    base, width, height, n_frames = _make_mp4(7)
    # rebuild with a v1 mvhd: 4B ver/flags + 8B+8B times + timescale + 8B dur
    timescale, duration = 1000, n_frames * 40
    mvhd_v1 = _mp4_box(
        b"mvhd",
        bytes([1, 0, 0, 0]) + bytes(16)
        + struct.pack(">I", timescale) + struct.pack(">Q", duration)
        + bytes(80),
    )
    tkhd = _mp4_box(
        b"tkhd",
        struct.pack(">I", 0x000007) + bytes(8) + struct.pack(">I", 1) + bytes(4)
        + struct.pack(">I", duration) + bytes(8) + struct.pack(">hhHH", 0, 0, 0, 0)
        + bytes(36)
        + struct.pack(">II", width << 16, height << 16),
    )
    moov = _mp4_box(b"moov", mvhd_v1 + _mp4_box(b"trak", tkhd))
    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    # mdat as a size==1 largesize box
    mdat_payload = bytes(16 * n_frames)
    mdat = (
        struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(mdat_payload))
        + mdat_payload
    )
    w, h, nf, feature = _decode_mp4(ftyp + moov + mdat)
    assert (w, h, nf) == (width, height, n_frames)
    assert len(feature) == 8 and all(v == 0.0 for v in feature)  # zeroed mdat
