"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decoded/feature-extracted via Arrow-batched `mapInPandas`.

The reference is literally an image feature service (cv2.imdecode at
utils.py:107-109, resize at image_processor.py:83-118, magic-byte
format gate at image_validator.py:64-89, per-feature error isolation
at analyze.py:96-111). Here BOTH the plumbing and the header decode
are real for ALL THREE modalities:

- `synthesize_media` emits structurally valid PNG (signature + IHDR
  with a correct CRC32 + IEND), JPEG (SOI + SOF0 + EOI), WAV
  (RIFF/WAVE + fmt chunk + data chunk with real zero sample bytes)
  and MP4 (ISO-BMFF ftyp + moov>trak>tkhd with 16.16 fixed-point
  dimensions) payloads whose metadata derives deterministically from
  the text length — built entirely from codegen column expressions
  (concat/unhex/lpad/crc32/repeat), no Python. Planted subsets (one
  per modality) carry raw text bytes (no magic) to exercise the
  format gates.
- `_decode_image` / `_decode_wav` / `_decode_mp4` parse those headers
  with pure-Python `struct`: PNG magic → IHDR width/height + CRC
  verification; JPEG SOI → segment walk (fill bytes + standalone
  RST/TEM markers handled) to the first SOF → height/width; RIFF →
  fmt (channels, sample rate, block align) + data chunk → frame
  count; ftyp → box walk to tkhd → width/height/duration. A payload
  with no recognized magic raises UNSUPPORTED_{IMAGE|AUDIO|VIDEO}_
  FORMAT — the reference's imghdr whitelist (image_validator.py:64-89)
  as an error-row path. Full pixel/sample decode (not needed for
  metadata) remains a cluster-side cv2/PIL/soundfile/pyav swap-in.
- Every successful row is SELF-DESCRIBING: the `decoder` column names
  the parser that produced it ('png'/'jpeg'/'wav'/'mp4'), so a
  downstream consumer can never mistake one decode path for another.

Scale shape: binary columns never shuffle — the extract is a narrow
mapInPandas over the scan, emitting only small typed metadata rows.
Arrow batch size bounds worker memory (payloads stream batch-by-batch).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), nullable=False),
        T.StructField("kind", T.StringType(), nullable=False),
        T.StructField("payload", T.BinaryType(), nullable=True),
    ]
)

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("decoder", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)

_KINDS = ["image", "audio", "video"]

_PNG_SIG = bytes.fromhex("89504e470d0a1a0a")
# bit depth 8, color type 2 (truecolor), compression/filter/interlace 0
_PNG_IHDR_TAIL = bytes.fromhex("0802000000")
_PNG_IEND = bytes.fromhex("0000000049454e44ae426082")
# JPEG SOF0: len 0x0011 (17) = len(2)+precision(1)+H(2)+W(2)+Nf(1)+3*3
_JPEG_HEAD = b"\xff\xd8\xff\xc0\x00\x11\x08"
_JPEG_COMPS = bytes.fromhex("03011100021101031101")  # Nf=3 + 3 component specs
_JPEG_EOI = b"\xff\xd9"
# PNG: 8 sig + 25 IHDR chunk + 12 IEND; JPEG: 2 SOI + 19 SOF0 + 2 EOI
PNG_N_BYTES = 45
JPEG_N_BYTES = 23
# WAV: 12 RIFF/WAVE + 24 fmt chunk + 8 data header (+ data bytes)
WAV_HEADER_BYTES = 44
# MP4: 16 ftyp + 8 moov + 8 trak + 92 tkhd
MP4_N_BYTES = 124
# identity transform matrix for tkhd (ISO/IEC 14496-12 §8.3.2.3)
_TKHD_MATRIX = bytes.fromhex(
    "00010000" + "00000000" * 3 + "00010000" + "00000000" * 3 + "40000000"
)


def _be(col: Column, nbytes: int) -> Column:
    """Integer column → fixed-width big-endian binary."""
    return F.unhex(F.lpad(F.hex(col.cast("bigint")), nbytes * 2, "0"))


def _le(col: Column, nbytes: int) -> Column:
    """Integer column → fixed-width little-endian binary (RIFF/WAV
    fields), assembled byte-by-byte from shifts — Spark has no
    byte-order swap builtin."""
    c = col.cast("bigint")
    return F.concat(
        *[_be(F.shiftright(c, 8 * i) % 256, 1) for i in range(nbytes)]
    )


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Deterministic media table from the documents table: kind cycles
    by doc_id (0=image, 1=audio, 2=video mod 3).

    - image: structurally valid PNG (doc_id % 6 == 0) or JPEG
      (doc_id % 6 == 3); width/height = (len(text) % 640 + 1,
      len(text) % 480 + 1).
    - audio: structurally valid WAV — RIFF/WAVE, 16-bit PCM fmt chunk
      (channels = doc_id % 2 + 1, sample_rate = 8000 + doc_id % 4 *
      4000) and a data chunk holding REAL zero sample bytes for
      n_frames = len(text) % 200 + 1 frames.
    - video: minimal valid ISO-BMFF MP4 — ftyp('isom') +
      moov>trak>tkhd with 16.16 fixed-point width/height and duration
      = len(text) // 100 + 1 (movie timescale == fps, so duration is
      the frame count).
    - planted corrupt slots carry the raw UTF-8 text bytes instead (no
      magic): doc_id % 30 == 0 (an image slot), == 10 (audio), == 20
      (video) — each must land in the error column, not fail the
      partition.

    All payload bytes — including the PNG IHDR CRC32 and the WAV zero
    samples — are built from codegen column expressions (concat/unhex/
    lpad/crc32/repeat): no Python in the synthesis path. (No external
    data; fully reproducible.)"""
    # BYTE length (octet_length), not character length: the DuckDB
    # oracle's strlen counts bytes, and char-length would silently
    # diverge on any non-ASCII text
    n = F.octet_length("text").cast("bigint")
    w = (n % 640 + 1).cast("bigint")
    h = (n % 480 + 1).cast("bigint")
    ihdr_data = F.concat(F.lit(b"IHDR"), _be(w, 4), _be(h, 4), F.lit(_PNG_IHDR_TAIL))
    png = F.concat(
        F.lit(_PNG_SIG),
        F.lit(bytes.fromhex("0000000d")),
        ihdr_data,
        _be(F.crc32(ihdr_data), 4),
        F.lit(_PNG_IEND),
    )
    jpeg = F.concat(
        F.lit(_JPEG_HEAD), _be(h, 2), _be(w, 2), F.lit(_JPEG_COMPS), F.lit(_JPEG_EOI)
    )
    # WAV: 16-bit PCM; data chunk carries real zero sample bytes
    channels = (F.col("doc_id") % 2 + 1).cast("bigint")
    sample_rate = (F.lit(8000) + (F.col("doc_id") % 4) * 4000).cast("bigint")
    n_frames_a = (n % 200 + 1).cast("bigint")
    block_align = channels * 2
    data_size = n_frames_a * block_align
    wav = F.concat(
        F.lit(b"RIFF"),
        _le(data_size + 36, 4),
        F.lit(b"WAVEfmt "),
        _le(F.lit(16), 4),          # fmt chunk size
        _le(F.lit(1), 2),           # PCM
        _le(channels, 2),
        _le(sample_rate, 4),
        _le(sample_rate * block_align, 4),  # byte rate
        _le(block_align, 2),
        _le(F.lit(16), 2),          # bits per sample
        F.lit(b"data"),
        _le(data_size, 4),
        # repeat('00', k) → k hex byte-pairs → k zero bytes after unhex
        F.unhex(F.repeat(F.lit("00"), data_size.cast("int"))),
    )
    # MP4: ftyp + moov>trak>tkhd (version 0); width/height 16.16 fixed
    duration = (F.floor(n / 100) + 1).cast("bigint")
    tkhd = F.concat(
        _be(F.lit(92), 4),
        F.lit(b"tkhd"),
        F.lit(bytes.fromhex("00000007")),   # version 0, flags: enabled
        _be(F.lit(0), 4),                   # creation_time
        _be(F.lit(0), 4),                   # modification_time
        _be(F.lit(1), 4),                   # track_id
        _be(F.lit(0), 4),                   # reserved
        _be(duration, 4),
        F.lit(bytes(8)),                    # reserved
        F.lit(bytes(8)),                    # layer/alt_group/volume/reserved
        F.lit(_TKHD_MATRIX),
        _be(w, 2), F.lit(bytes(2)),         # width  16.16
        _be(h, 2), F.lit(bytes(2)),         # height 16.16
    )
    mp4 = F.concat(
        _be(F.lit(16), 4), F.lit(b"ftypisom"), _be(F.lit(0), 4),
        _be(F.lit(108), 4), F.lit(b"moov"),
        _be(F.lit(100), 4), F.lit(b"trak"),
        tkhd,
    )
    raw = F.encode(F.col("text"), "UTF-8")
    kind = F.element_at(
        F.array(*[F.lit(k) for k in _KINDS]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    payload = (
        F.when(F.col("doc_id") % 30 == 0, raw)   # planted corrupt "image"
        .when(F.col("doc_id") % 30 == 10, raw)   # planted corrupt "audio"
        .when(F.col("doc_id") % 30 == 20, raw)   # planted corrupt "video"
        .when(F.col("doc_id") % 6 == 0, png)
        .when(F.col("doc_id") % 6 == 3, jpeg)
        .when(F.col("doc_id") % 3 == 1, wav)
        .otherwise(mp4)
    )
    return docs.select(F.col("doc_id"), kind.alias("kind"), payload.alias("payload"))


# SOF0-SOF15 carry frame dimensions, except DHT/JPG/DAC (C4, C8, CC)
_JPEG_SOF_MARKERS = {
    m for m in range(0xC0, 0xD0) if m not in (0xC4, 0xC8, 0xCC)
}


def _decode_image(payload: bytes) -> tuple[int, int, str]:
    """Parse an image payload's header → (width, height, decoder).
    Pure-Python `struct` parsing of PNG IHDR (with CRC verification)
    and JPEG SOF — REAL decoding; the reference's magic-byte whitelist
    (image_validator.py:64-89) is the UNSUPPORTED_IMAGE_FORMAT raise.
    The JPEG walker skips 0xFF fill bytes and treats TEM/RST/SOI as
    standalone (length-less) markers, so real-world JPEGs — the
    advertised cluster-side swap-in path — parse correctly too.
    Pixel-level decode (unneeded for metadata) is the one cluster-side
    swap-in (cv2.imdecode, reference utils.py:107-109)."""
    if payload[:8] == _PNG_SIG:
        if len(payload) < 33 or payload[12:16] != b"IHDR":
            raise ValueError("PNG_TRUNCATED")
        (length,) = struct.unpack(">I", payload[8:12])
        w, h = struct.unpack(">II", payload[16:24])
        (crc,) = struct.unpack(">I", payload[16 + length : 20 + length])
        if zlib.crc32(payload[12 : 16 + length]) & 0xFFFFFFFF != crc:
            raise ValueError("PNG_BAD_CRC")
        return w, h, "png"
    if payload[:2] == b"\xff\xd8":
        i, size = 2, len(payload)
        while i < size:
            if payload[i] != 0xFF:
                raise ValueError("JPEG_BAD_MARKER")
            while i < size and payload[i] == 0xFF:  # fill bytes
                i += 1
            if i >= size:
                break
            marker = payload[i]
            i += 1
            if marker == 0xD9:  # EOI
                break
            if marker == 0x01 or 0xD0 <= marker <= 0xD8:
                continue  # TEM / RST0-7 / stray SOI: standalone, no length
            if i + 2 > size:
                raise ValueError("JPEG_TRUNCATED")
            if marker in _JPEG_SOF_MARKERS:
                if i + 7 > size:
                    raise ValueError("JPEG_TRUNCATED")
                h, w = struct.unpack(">HH", payload[i + 3 : i + 7])
                return w, h, "jpeg"
            (seglen,) = struct.unpack(">H", payload[i : i + 2])
            if seglen < 2:
                raise ValueError("JPEG_BAD_MARKER")
            i += seglen
        raise ValueError("JPEG_NO_SOF")
    raise ValueError("UNSUPPORTED_IMAGE_FORMAT")


def _wav_chunks(payload: bytes) -> tuple[int, int, int, int, memoryview]:
    """Walk a WAV payload's chunks → (channels, sample_rate, block_align,
    bits, data) from `fmt ` and the FIRST `data` chunk: the one source
    for the header and the sample stats, so the two never describe
    different chunks. RIFF/WAVE magic gate, word-aligned chunk walk.
    The data chunk's bytes must actually be present — a header that
    CLAIMS more sample bytes than the payload carries raises
    WAV_TRUNCATED (no fabricated frame counts)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("UNSUPPORTED_AUDIO_FORMAT")
    i, fmt = 12, None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        (csz,) = struct.unpack("<I", payload[i + 4 : i + 8])
        if cid == b"fmt ":
            if i + 24 > len(payload) or csz < 16:
                raise ValueError("WAV_TRUNCATED")
            _tag, channels, rate, _brate, align, bits = (
                struct.unpack("<HHIIHH", payload[i + 8 : i + 24])
            )
            if align == 0:
                raise ValueError("WAV_BAD_FMT")
            fmt = (channels, rate, align, bits)
        elif cid == b"data":
            if fmt is None:
                raise ValueError("WAV_NO_FMT")
            if i + 8 + csz > len(payload):
                raise ValueError("WAV_TRUNCATED")
            return (*fmt, memoryview(payload)[i + 8 : i + 8 + csz])
        i += 8 + csz + (csz & 1)  # RIFF chunks are word-aligned
    raise ValueError("WAV_NO_DATA")


def _decode_wav(payload: bytes) -> tuple[int, int, int]:
    """Parse a WAV payload's headers → (n_frames, sample_rate,
    channels); n_frames = data bytes // block_align."""
    channels, rate, align, _bits, data = _wav_chunks(payload)
    return len(data) // align, rate, channels


def _decode_mp4(payload: bytes) -> tuple[int, int, int]:
    """Parse an MP4 (ISO-BMFF) payload's boxes → (width, height,
    duration). ftyp magic gate, then a size-prefixed box walk:
    moov > trak > tkhd (version 0) carries 16.16 fixed-point
    width/height and the track duration (= frame count at movie
    timescale == fps, the synthesis convention)."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("UNSUPPORTED_VIDEO_FORMAT")

    def find(typ: bytes, lo: int, hi: int) -> tuple[int, int] | None:
        i = lo
        while i + 8 <= hi:
            (sz,) = struct.unpack(">I", payload[i : i + 4])
            if sz < 8 or i + sz > hi:
                raise ValueError("MP4_TRUNCATED")
            if payload[i + 4 : i + 8] == typ:
                return i + 8, i + sz
            i += sz
        return None

    moov = find(b"moov", 0, len(payload))
    if moov is None:
        raise ValueError("MP4_NO_MOOV")
    trak = find(b"trak", *moov)
    if trak is None:
        raise ValueError("MP4_NO_TRAK")
    tkhd = find(b"tkhd", *trak)
    if tkhd is None:
        raise ValueError("MP4_NO_TKHD")
    s, e = tkhd
    if e - s < 84:
        raise ValueError("MP4_TRUNCATED")
    if payload[s] != 0:
        raise ValueError("MP4_TKHD_VERSION")
    (duration,) = struct.unpack(">I", payload[s + 20 : s + 24])
    w_fp, h_fp = struct.unpack(">II", payload[s + 76 : s + 84])
    return w_fp >> 16, h_fp >> 16, duration


def _extract_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-batch kernel with per-row error isolation (the reference's
    per-feature try/except, analyze.py:109-111): a failing row emits an
    error row, never fails the partition. Successful rows name the
    parser in `decoder` (png/jpeg/wav/mp4) — the output is
    self-describing about its own provenance."""
    out = []
    for doc_id, kind, payload in zip(pdf["doc_id"], pdf["kind"], pdf["payload"]):
        row = {
            "doc_id": doc_id,
            "kind": kind,
            "n_bytes": None,
            "width": None,
            "height": None,
            "n_frames": None,
            "sample_rate": None,
            "channels": None,
            "decode_ok": False,
            "decoder": None,
            "error": None,
        }
        try:
            if payload is None:
                raise ValueError("NULL_PAYLOAD")
            b = bytes(payload)
            row["n_bytes"] = len(b)
            if kind == "image":
                row["width"], row["height"], row["decoder"] = _decode_image(b)
                row["n_frames"] = 1
            elif kind == "audio":
                row["n_frames"], row["sample_rate"], row["channels"] = (
                    _decode_wav(b)
                )
                row["decoder"] = "wav"
            else:  # video
                row["width"], row["height"], row["n_frames"] = _decode_mp4(b)
                row["decoder"] = "mp4"
            row["decode_ok"] = True
        except Exception as exc:  # noqa: BLE001 — error-isolation contract
            row["error"] = str(exc)[:200]
        out.append(row)
    return pd.DataFrame(out, columns=[f.name for f in MEDIA_META_SCHEMA.fields])


def extract_media_meta(media: DataFrame) -> DataFrame:
    """Arrow-batched decode/feature-extract over the media table."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _extract_batch(pdf)

    return media.mapInPandas(gen, schema=MEDIA_META_SCHEMA)


# ---------------------------------------------------------------------------
# Full-payload content features
# ---------------------------------------------------------------------------
# The reference's extractors consume FULL pixel data (cv2.imdecode at
# utils.py:107-109 feeding color_extractor.py:219-236 and
# text_extractor.py:88-106). The header-only path above covers the
# metadata contract; this section closes the content gap with the
# documented swap-in: optional cv2/PIL for image pixels, optional
# cv2/av for video frames — and a REAL, always-available PCM sample
# path for audio (numpy over the WAV data chunk; no external lib
# needed). Missing libs degrade per-row to content_ok=False with a
# typed CONTENT_LIB_MISSING error — same error-isolation contract as
# the header kernel, and the header metadata columns stay populated.

try:  # pragma: no cover - environment-dependent
    from PIL import Image as _PILImage  # type: ignore

    _HAS_PIL = True
except ImportError:  # pragma: no cover
    _PILImage = None
    _HAS_PIL = False

try:  # pragma: no cover - environment-dependent
    import cv2 as _cv2  # type: ignore

    _HAS_CV2 = True
except ImportError:  # pragma: no cover
    _cv2 = None
    _HAS_CV2 = False

MEDIA_CONTENT_SCHEMA = T.StructType(
    list(MEDIA_META_SCHEMA.fields)
    + [
        T.StructField("px_mean", T.DoubleType()),
        T.StructField("px_std", T.DoubleType()),
        T.StructField("audio_rms", T.DoubleType()),
        T.StructField("audio_peak", T.IntegerType()),
        T.StructField("content_ok", T.BooleanType()),
        T.StructField("content_decoder", T.StringType()),
        T.StructField("content_error", T.StringType()),
    ]
)


def _image_pixel_stats(payload: bytes) -> tuple[float, float, str]:
    """(mean, std, decoder) of the grayscale pixel values — the
    reference's luminance-profile input (color_extractor.py:219-236).
    PIL preferred (no BGR surprise), cv2 fallback."""
    import numpy as np

    if _HAS_PIL:
        import io

        img = _PILImage.open(io.BytesIO(payload)).convert("L")
        a = np.asarray(img, dtype=np.float64)
        return float(a.mean()), float(a.std()), "pil"
    if _HAS_CV2:
        a = _cv2.imdecode(
            np.frombuffer(payload, dtype=np.uint8), _cv2.IMREAD_GRAYSCALE
        )
        if a is None:
            raise ValueError("CONTENT_DECODE_FAILED")
        a = a.astype(np.float64)
        return float(a.mean()), float(a.std()), "cv2"
    raise ValueError("CONTENT_LIB_MISSING:image")


def _wav_sample_stats(payload: bytes) -> tuple[float, int, str]:
    """(rms, peak_abs, decoder) over the PCM samples of the WAV data
    chunk — REAL full-payload decode with no external dependency:
    numpy reinterprets the `_wav_chunks` sample bytes at the
    fmt-declared width (8/16/32-bit PCM)."""
    import numpy as np

    _ch, _rate, _align, bits, data = _wav_chunks(payload)
    dtype = {8: np.uint8, 16: np.int16, 32: np.int32}.get(bits)
    if dtype is None:
        raise ValueError("WAV_BAD_BITDEPTH")
    a = np.frombuffer(data[: len(data) - len(data) % (bits // 8)], dtype=dtype)
    if bits == 8:  # 8-bit WAV is unsigned, centered at 128
        a = a.astype(np.int16) - 128
    if a.size == 0:
        return 0.0, 0, "pcm"
    a = a.astype(np.float64)
    return float(np.sqrt(np.mean(a * a))), int(np.max(np.abs(a))), "pcm"


def _video_frame_stats(payload: bytes) -> tuple[float, float, str]:
    """(mean, std, decoder) of the first decodable frame's grayscale
    pixels — cluster-side swap-in (cv2.VideoCapture / PyAV); the
    synthetic moov-only payloads carry no mdat, so in-sandbox this is
    exercised only through the lib-missing / decode-failed error
    paths."""
    raise ValueError(
        "CONTENT_LIB_MISSING:video" if not _HAS_CV2 else "CONTENT_DECODE_FAILED"
    )


def _content_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    meta = _extract_batch(pdf)
    cols = {
        "px_mean": [], "px_std": [], "audio_rms": [], "audio_peak": [],
        "content_ok": [], "content_decoder": [], "content_error": [],
    }
    for payload, kind, ok in zip(pdf["payload"], pdf["kind"], meta["decode_ok"]):
        row = dict.fromkeys(cols)
        row["content_ok"] = False
        try:
            if not ok:
                raise ValueError("HEADER_DECODE_FAILED")
            b = bytes(payload)
            if kind == "image":
                row["px_mean"], row["px_std"], row["content_decoder"] = (
                    _image_pixel_stats(b)
                )
            elif kind == "audio":
                row["audio_rms"], row["audio_peak"], row["content_decoder"] = (
                    _wav_sample_stats(b)
                )
            else:
                row["px_mean"], row["px_std"], row["content_decoder"] = (
                    _video_frame_stats(b)
                )
            row["content_ok"] = True
        except Exception as exc:  # noqa: BLE001 — error-isolation contract
            row["content_error"] = str(exc)[:200]
        for k in cols:
            cols[k].append(row[k])
    for k, v in cols.items():
        meta[k] = v
    return meta[[f.name for f in MEDIA_CONTENT_SCHEMA.fields]]


def extract_media_content(media: DataFrame) -> DataFrame:
    """Header metadata + full-payload content features in ONE
    Arrow-batched mapInPandas pass (binary still never shuffles; the
    kernel emits only small typed rows). Audio content is real
    everywhere (PCM via numpy); image/video content requires the
    optional cv2/PIL swap-in and otherwise degrades to typed
    CONTENT_LIB_MISSING error rows."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _content_batch(pdf)

    return media.mapInPandas(gen, schema=MEDIA_CONTENT_SCHEMA)
