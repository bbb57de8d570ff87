"""Multimodal column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata, processed by Arrow-batched ``mapInPandas`` UDFs.

The codecs REALLY decode three standard container formats with the Python
stdlib — BMP (BITMAPINFOHEADER parse via ``struct``), WAV (RIFF/PCM via
``wave``), and MP4 metadata (ISO-BMFF box walk: ftyp/moov/mvhd/tkhd ->
duration, track dimensions; mdat -> deterministic feature) — extracting
true geometry and an 8-dim feature.  Pixel-level decode of real video
CODECS would need ffmpeg, which the project does not depend on; container
METADATA does not, which is what 100 TB curation filters actually key on.

``pack_media_real`` synthesizes REAL BMP/WAV/MP4 containers (deterministic
per-doc geometry) so the decoder round-trips end-to-end.

Scale design: binary payloads never shuffle — decode/feature steps are
narrow ``mapInPandas`` passes; only the (small) extracted features flow into
joins/aggregations.  ``spark.sql.files.maxPartitionBytes`` governs batch
memory for large blobs; for very large media use per-row files + pointers.
"""

from __future__ import annotations

import io
import struct
import wave
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("origin", T.StringType()),
                ]
            ),
        ),
    ]
)


# ---------------------------------------------------------------------------
# real containers: deterministic BMP/WAV synthesis + stdlib decode
# ---------------------------------------------------------------------------


def _make_bmp(seed: int) -> tuple[bytes, int, int]:
    """24-bit uncompressed BMP with deterministic per-seed geometry/pixels."""
    width = 8 + seed % 24
    height = 8 + (seed // 7) % 24
    row_len = (width * 3 + 3) // 4 * 4  # rows pad to 4 bytes
    pixels = bytearray()
    for y in range(height):
        row = bytearray((seed * 31 + y * 131 + x) % 256 for x in range(width * 3))
        row += b"\x00" * (row_len - width * 3)
        pixels += row
    data = bytes(pixels)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(data), 0, 0, 14 + 40)
    return header + dib + data, width, height


def _make_wav(seed: int) -> tuple[bytes, int, int]:
    """Mono 16-bit PCM WAV, deterministic sample count + content."""
    framerate = 8000
    nframes = 64 + seed % 256
    samples = b"".join(
        struct.pack("<h", (seed * 13 + i * 40503) % 65536 - 32768)
        for i in range(nframes)
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(framerate)
        w.writeframes(samples)
    return buf.getvalue(), framerate, nframes


#: unity transform matrix used by mvhd/tkhd (ISO/IEC 14496-12 §8.2.2 / §8.3.2)
_MP4_UNITY_MATRIX = struct.pack(
    ">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)
_MP4_FPS = 25  # fixed frame rate: duration = n_frames * (timescale / fps)


def _mp4_box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + typ + payload


def _make_mp4(seed: int) -> tuple[bytes, int, int, int]:
    """Minimal REAL ISO-BMFF (mp4) container: ftyp + moov(mvhd + trak(tkhd))
    + mdat, deterministic per-seed geometry — enough structure for any
    standards-conforming metadata parser (duration, track dimensions)."""
    width = 16 * (2 + seed % 15)
    height = 16 * (2 + (seed // 5) % 15)
    n_frames = 16 + seed % 48
    timescale = 1000
    duration = n_frames * (timescale // _MP4_FPS)
    mvhd = _mp4_box(
        b"mvhd",
        bytes(4)                      # version + flags
        + bytes(8)                    # creation + modification
        + struct.pack(">II", timescale, duration)
        + struct.pack(">I", 0x00010000)  # rate 1.0
        + struct.pack(">H", 0x0100)      # volume 1.0
        + bytes(10)                      # reserved
        + _MP4_UNITY_MATRIX
        + bytes(24)                      # pre_defined
        + struct.pack(">I", 2),          # next_track_ID
    )
    tkhd = _mp4_box(
        b"tkhd",
        struct.pack(">I", 0x000007)   # version 0 + flags (enabled|in-movie)
        + bytes(8)                    # creation + modification
        + struct.pack(">I", 1)        # track_ID
        + bytes(4)                    # reserved
        + struct.pack(">I", duration)
        + bytes(8)                    # reserved
        + struct.pack(">hhHH", 0, 0, 0, 0)  # layer, alt_group, volume, reserved
        + _MP4_UNITY_MATRIX
        + struct.pack(">II", width << 16, height << 16),  # 16.16 fixed point
    )
    moov = _mp4_box(b"moov", mvhd + _mp4_box(b"trak", tkhd))
    mdat = _mp4_box(
        b"mdat", bytes((seed * 37 + i * 101) % 256 for i in range(16 * n_frames))
    )
    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    return ftyp + moov + mdat, width, height, n_frames


def _mp4_boxes(buf: bytes, start: int, end: int):
    """Walk sibling boxes in buf[start:end): yields (type, body_start, box_end).
    Handles the full ISO-BMFF size encoding: size==1 means a 64-bit largesize
    follows the type, size==0 means the box extends to the end of the
    enclosing container (ISO/IEC 14496-12 §4.2)."""
    off = start
    while off + 8 <= end:
        size, typ = struct.unpack_from(">I4s", buf, off)
        hdr = 8
        if size == 1:
            if off + 16 > end:
                raise ValueError("corrupt mp4 box")
            size = struct.unpack_from(">Q", buf, off + 8)[0]
            hdr = 16
        elif size == 0:
            size = end - off
        if size < hdr or off + size > end:
            raise ValueError("corrupt mp4 box")
        yield typ, off + hdr, off + size
        off += size


def _decode_mp4(payload: bytes) -> tuple[int, int, int, list[float]]:
    """Metadata decode of an ISO-BMFF container with the stdlib: box walk to
    mvhd (timescale, duration) and tkhd (16.16 track dims); the deterministic
    8-dim feature comes from mdat strata means (no ffmpeg — pixel decode of
    real codecs WOULD need it, container metadata does not)."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an mp4 payload")
    width = height = timescale = duration = 0
    mdat = b""
    for typ, s, e in _mp4_boxes(payload, 0, len(payload)):
        if typ == b"moov":
            for t2, s2, e2 in _mp4_boxes(payload, s, e):
                if t2 == b"mvhd":
                    # version 1 widens creation/modification/duration to 64
                    # bits, shifting timescale from offset 12 to 20
                    if payload[s2] == 1:
                        timescale = struct.unpack_from(">I", payload, s2 + 20)[0]
                        duration = struct.unpack_from(">Q", payload, s2 + 24)[0]
                    else:
                        timescale, duration = struct.unpack_from(">II", payload, s2 + 12)
                elif t2 == b"trak":
                    for t3, s3, e3 in _mp4_boxes(payload, s2, e2):
                        if t3 == b"tkhd":
                            w16, h16 = struct.unpack_from(">II", payload, e3 - 8)
                            width, height = w16 >> 16, h16 >> 16
        elif typ == b"mdat":
            mdat = payload[s:e]
    if not timescale:
        raise ValueError("mp4 without mvhd")
    n_frames = duration * _MP4_FPS // timescale
    n = max(len(mdat) // 8, 1)
    feature = [
        round(
            sum(mdat[k * n : (k + 1) * n])
            / (255.0 * max(len(mdat[k * n : (k + 1) * n]), 1)),
            4,
        )
        for k in range(8)
    ]
    return width, height, n_frames, feature


def _decode_bmp(payload: bytes) -> tuple[int, int, int, list[float]]:
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)[:2]
    px = payload[data_off:]
    # 8 strata means over the pixel bytes, normalized to [0, 1]
    n = max(len(px) // 8, 1)
    feature = [
        round(sum(px[k * n : (k + 1) * n]) / (255.0 * max(len(px[k * n : (k + 1) * n]), 1)), 4)
        for k in range(8)
    ]
    return width, abs(height), 1, feature


def _decode_wav(payload: bytes) -> tuple[int, int, int, list[float]]:
    with wave.open(io.BytesIO(payload), "rb") as w:
        framerate, nchannels, nframes = w.getframerate(), w.getnchannels(), w.getnframes()
        raw = w.readframes(nframes)
    vals = struct.unpack(f"<{len(raw) // 2}h", raw)
    n = max(len(vals) // 8, 1)
    feature = []
    for k in range(8):
        seg = vals[k * n : (k + 1) * n] or (0,)
        feature.append(round((sum(v * v for v in seg) / len(seg)) ** 0.5 / 32768.0, 4))
    # schema mapping for audio: width=framerate, height=nchannels
    return framerate, nchannels, nframes, feature


def _decode(payload: bytes, kind: str) -> tuple[int, int, int, list[float]]:
    if kind == "image":
        return _decode_bmp(payload)
    if kind == "audio":
        return _decode_wav(payload)
    return _decode_mp4(payload)


def pack_media_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media table whose payloads are REAL containers: BMP for image rows,
    WAV for audio rows, ISO-BMFF mp4 for video rows (deterministic geometry
    from doc_id).  mapInPandas because container encoding is inherently per-row
    byte assembly; at scale this is the ingest step that wrote the blobs."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source")

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                seed = int(r.doc_id)
                kind = ("image", "audio", "video")[seed % 3]
                if kind == "image":
                    payload, _, _ = _make_bmp(seed)
                    mime = "image/bmp"
                elif kind == "audio":
                    payload, _, _ = _make_wav(seed)
                    mime = "audio/wav"
                else:
                    payload, _, _, _ = _make_mp4(seed)
                    mime = "video/mp4"
                rows.append(
                    (
                        f"m{seed}",
                        kind,
                        payload,
                        {"mime": mime, "n_bytes": len(payload), "origin": r.source},
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    return d.mapInPandas(pack, MEDIA_SCHEMA)


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def decode_features(df: DataFrame) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow batches; the codec
    runs once per row inside the batch loop — container parsing is
    inherently per-row).  Parses BMP (struct), WAV (wave), and MP4 metadata
    (ISO-BMFF box walk — v0/v1 boxes, 64-bit largesize) with the stdlib;
    only pixel-level video CODEC decode would need ffmpeg."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (r.media_id, r.kind, *_decode(bytes(r.payload), r.kind))
                for r in pdf.itertuples(index=False)
            ]
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "width", "height", "n_frames", "feature"],
            )

    return df.select("media_id", "kind", "payload").mapInPandas(run, DECODED_SCHEMA)


def media_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-class oracle query for the REAL codecs: ``pack_media_real`` ->
    ``decode_features``, exposing decoded geometry plus the
    8-dim feature quantized to ints (x10000).  The DuckDB twin
    (``oracle_dataprep.q_media_geometry``) recomputes EXPECTED geometry and
    features from the same doc_id arithmetic the synthesizer uses
    (_make_bmp/_make_wav/_make_mp4), so a codec regression in any of the
    three container parsers flips the value hash.

    Feature quantization: the decode rounds strata means to 4 decimals
    (Python round, half-even) and stores float32; casting back to double and
    re-rounding recovers the intended 4-decimal value (float32 error ~1e-8
    << 5e-5), and x10000 as BIGINT makes the CSV engine-format-proof."""
    dec = decode_features(pack_media_real(spark, sf_dir))
    fq = F.transform(
        "feature",
        lambda x: F.round(F.round(x.cast("double"), 4) * 10000, 0).cast("bigint"),
    )
    return dec.select(
        "media_id",
        "kind",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("n_frames").cast("bigint").alias("n_frames"),
        F.array_join(fq, ",").alias("feature_q_csv"),
    )
