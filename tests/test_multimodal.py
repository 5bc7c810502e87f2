"""Multimodal binary columns: REAL PNG/JPEG/WAV/MP4 header decode
(pure-Python struct parsing of payloads synthesized as structurally
valid headers), magic-byte format gates per modality, self-describing
`decoder` provenance column, per-row error isolation, batch shape."""

from __future__ import annotations

import struct
import zlib

import pytest

from engine.multimodal import (
    JPEG_N_BYTES,
    MEDIA_META_SCHEMA,
    MP4_N_BYTES,
    PNG_N_BYTES,
    WAV_HEADER_BYTES,
    _decode_image,
    _decode_mp4,
    _decode_wav,
    extract_media_meta,
    synthesize_media,
)


def test_media_meta_roundtrip(spark):
    docs = spark.createDataFrame(
        [(6, "hello world"), (1, "xyz"), (2, "longer text value here"),
         (9, "jpeg carrier row"), (12, "café…")],
        "doc_id long, text string",
    )
    meta = extract_media_meta(synthesize_media(docs))
    assert meta.schema == MEDIA_META_SCHEMA
    rows = {r["doc_id"]: r for r in meta.collect()}
    assert rows[6]["kind"] == "image" and rows[1]["kind"] == "audio"
    assert rows[2]["kind"] == "video" and rows[9]["kind"] == "image"
    assert all(r["decode_ok"] for r in rows.values())
    # PNG row (doc_id%6==0): dims REALLY parsed back out of the IHDR
    assert rows[6]["n_bytes"] == PNG_N_BYTES
    assert rows[6]["width"] == len("hello world") % 640 + 1
    assert rows[6]["height"] == len("hello world") % 480 + 1
    assert rows[6]["n_frames"] == 1 and rows[6]["decoder"] == "png"
    # JPEG row (doc_id%6==3): dims parsed from the SOF0 segment
    assert rows[9]["n_bytes"] == JPEG_N_BYTES
    assert rows[9]["width"] == len("jpeg carrier row") % 640 + 1
    assert rows[9]["height"] == len("jpeg carrier row") % 480 + 1
    assert rows[9]["decoder"] == "jpeg"
    # audio (doc_id 1): REAL WAV fmt/data parse — frames = len%200+1,
    # channels = doc_id%2+1, rate = 8000 + doc_id%4*4000; n_bytes is
    # header + the actual zero sample bytes
    assert rows[1]["decoder"] == "wav" and rows[1]["width"] is None
    assert rows[1]["n_frames"] == len("xyz") % 200 + 1
    assert rows[1]["channels"] == 2 and rows[1]["sample_rate"] == 12000
    assert rows[1]["n_bytes"] == WAV_HEADER_BYTES + rows[1]["n_frames"] * 2 * 2
    # video (doc_id 2): REAL MP4 tkhd parse — 16.16 dims + duration
    assert rows[2]["decoder"] == "mp4"
    n2 = len("longer text value here")
    assert rows[2]["width"] == n2 % 640 + 1
    assert rows[2]["height"] == n2 % 480 + 1
    assert rows[2]["n_frames"] == n2 // 100 + 1
    assert rows[2]["n_bytes"] == MP4_N_BYTES
    assert rows[2]["sample_rate"] is None and rows[2]["channels"] is None
    # non-ASCII text: dimensions derive from BYTE length (oracle's
    # strlen), not character length
    assert rows[12]["width"] == len("café…".encode()) % 640 + 1
    assert rows[12]["width"] != len("café…") % 640 + 1


def test_synthesized_png_is_structurally_valid(spark):
    """The codegen-built payload is a real PNG header: signature, IHDR
    first, CRC32 correct — checked in Python, independent of the
    engine's own parser."""
    docs = spark.createDataFrame([(0, "abcdef")], "doc_id long, text string")
    # doc_id 0 is the planted-corrupt slot; re-key to a clean PNG slot
    docs = docs.selectExpr("doc_id + 6 AS doc_id", "text")
    payload = bytes(synthesize_media(docs).collect()[0]["payload"])
    assert payload[:8] == bytes.fromhex("89504e470d0a1a0a")
    assert payload[12:16] == b"IHDR"
    length = int.from_bytes(payload[8:12], "big")
    crc = int.from_bytes(payload[16 + length : 20 + length], "big")
    assert zlib.crc32(payload[12 : 16 + length]) & 0xFFFFFFFF == crc
    assert int.from_bytes(payload[16:20], "big") == 6 % 640 + 1
    assert int.from_bytes(payload[20:24], "big") == 6 % 480 + 1
    assert payload.endswith(bytes.fromhex("49454e44ae426082"))


def test_synthesized_wav_is_structurally_valid(spark):
    """The codegen-built WAV passes Python's own stdlib `wave` reader —
    fully independent of the engine's parser: RIFF sizes consistent,
    fmt fields as declared, data bytes actually present."""
    import io
    import wave

    docs = spark.createDataFrame([(7, "abcdefgh")], "doc_id long, text string")
    payload = bytes(synthesize_media(docs).collect()[0]["payload"])
    with wave.open(io.BytesIO(payload)) as wf:
        assert wf.getnchannels() == 7 % 2 + 1  # 2
        assert wf.getframerate() == 8000 + (7 % 4) * 4000  # 20000
        assert wf.getsampwidth() == 2
        assert wf.getnframes() == len("abcdefgh") % 200 + 1
        frames = wf.readframes(wf.getnframes())
        assert frames == bytes(len(frames))  # real zero samples, present
    # RIFF size field == file size - 8
    assert int.from_bytes(payload[4:8], "little") == len(payload) - 8


def test_synthesized_mp4_box_sizes_consistent(spark):
    """Box walk of the codegen-built MP4 in plain Python: every box
    size lands exactly on the next box / end of payload."""
    docs = spark.createDataFrame([(5, "x" * 250)], "doc_id long, text string")
    payload = bytes(synthesize_media(docs).collect()[0]["payload"])
    assert payload[4:8] == b"ftyp"
    i, tops = 0, []
    while i < len(payload):
        sz = int.from_bytes(payload[i : i + 4], "big")
        tops.append(payload[i + 4 : i + 8])
        i += sz
    assert i == len(payload) and tops == [b"ftyp", b"moov"]
    w, h, dur = _decode_mp4(payload)
    assert (w, h, dur) == (250 % 640 + 1, 250 % 480 + 1, 250 // 100 + 1)


def test_magic_byte_gate_and_error_isolation(spark):
    # planted corrupt slots: doc_id % 30 in (0, 10, 20) carry raw text
    # bytes — one corrupt slot per modality, each with a typed error
    docs = spark.createDataFrame(
        [(30, "not an image at all"), (36, "fine png"),
         (10, "not audio"), (20, "not video")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in extract_media_meta(synthesize_media(docs)).collect()
    }
    bad, good = rows[30], rows[36]
    assert not bad["decode_ok"] and bad["error"] == "UNSUPPORTED_IMAGE_FORMAT"
    assert bad["width"] is None and bad["n_bytes"] == len("not an image at all")
    assert bad["decoder"] is None
    assert good["decode_ok"] and good["error"] is None and good["width"] is not None
    assert rows[10]["error"] == "UNSUPPORTED_AUDIO_FORMAT"
    assert rows[20]["error"] == "UNSUPPORTED_VIDEO_FORMAT"
    assert not rows[10]["decode_ok"] and not rows[20]["decode_ok"]


def test_media_error_isolation(spark):
    media = spark.createDataFrame(
        [(0, "image", bytearray(b"ok")), (1, "image", None)],
        "doc_id long, kind string, payload binary",
    )
    rows = {r["doc_id"]: r for r in extract_media_meta(media).collect()}
    # garbage bytes hit the magic-byte gate, not the fake-success path
    assert not rows[0]["decode_ok"]
    assert rows[0]["error"] == "UNSUPPORTED_IMAGE_FORMAT"
    # null payload → error row, partition did not fail
    assert not rows[1]["decode_ok"] and "NULL_PAYLOAD" in rows[1]["error"]


def test_decode_image_corrupted_crc_and_truncation():
    """Unit-level parser gates: bad CRC, truncated IHDR, JPEG without
    SOF all raise typed errors (→ error rows, never partition failures)."""
    png_sig = bytes.fromhex("89504e470d0a1a0a")
    ihdr = b"IHDR" + (5).to_bytes(4, "big") + (7).to_bytes(4, "big") + bytes(5)
    good = (
        png_sig + (13).to_bytes(4, "big") + ihdr
        + (zlib.crc32(ihdr) & 0xFFFFFFFF).to_bytes(4, "big")
        + bytes.fromhex("0000000049454e44ae426082")
    )
    assert _decode_image(good) == (5, 7, "png")
    bad_crc = bytearray(good)
    bad_crc[-13] ^= 0xFF  # flip a CRC byte
    with pytest.raises(ValueError, match="PNG_BAD_CRC"):
        _decode_image(bytes(bad_crc))
    with pytest.raises(ValueError, match="PNG_TRUNCATED"):
        _decode_image(png_sig + b"\x00\x00")
    with pytest.raises(ValueError, match="JPEG_NO_SOF"):
        _decode_image(b"\xff\xd8\xff\xe0\x00\x02")


def test_decode_image_jpeg_fill_bytes_and_standalone_markers():
    """Real-world JPEG shapes the synthesizer never emits: 0xFF fill
    bytes before a marker, and standalone RST/TEM markers (no length
    field) — both must be walked over, not mis-read as segments."""
    sof = b"\xff\xc0" + b"\x00\x11\x08" + (7).to_bytes(2, "big") + (5).to_bytes(2, "big")
    # fill bytes between segments + a standalone RST0 + TEM marker
    jpeg = b"\xff\xd8" + b"\xff\xff\xff\xe0\x00\x04ab" + b"\xff\xd0" + b"\xff\x01" + sof
    assert _decode_image(jpeg) == (5, 7, "jpeg")
    # standalone EOI before any SOF terminates the walk
    with pytest.raises(ValueError, match="JPEG_NO_SOF"):
        _decode_image(b"\xff\xd8\xff\xd9")


def test_decode_wav_gates():
    """WAV parser error paths: wrong magic, truncated fmt, data chunk
    claiming more sample bytes than the payload actually carries (a
    fabricated frame count must never be reported), missing chunks."""
    with pytest.raises(ValueError, match="UNSUPPORTED_AUDIO_FORMAT"):
        _decode_wav(b"not riff data at all")
    with pytest.raises(ValueError, match="UNSUPPORTED_AUDIO_FORMAT"):
        _decode_wav(b"RIFF\x00\x00\x00\x00XXXX")  # RIFF but not WAVE
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + struct.pack("<HHIIHH", 1, 2, 16000, 64000, 4, 16)
    )
    head = b"RIFF" + (100).to_bytes(4, "little") + b"WAVE"
    ok = head + fmt + b"data" + (8).to_bytes(4, "little") + bytes(8)
    assert _decode_wav(ok) == (2, 16000, 2)
    # data chunk claims 8 bytes but payload is cut short
    with pytest.raises(ValueError, match="WAV_TRUNCATED"):
        _decode_wav(head + fmt + b"data" + (8).to_bytes(4, "little") + bytes(3))
    # truncated fmt chunk
    with pytest.raises(ValueError, match="WAV_TRUNCATED"):
        _decode_wav(head + b"fmt " + (16).to_bytes(4, "little") + bytes(4))
    # data before fmt: block_align unknown
    with pytest.raises(ValueError, match="WAV_NO_FMT"):
        _decode_wav(head + b"data" + (0).to_bytes(4, "little"))
    with pytest.raises(ValueError, match="WAV_NO_DATA"):
        _decode_wav(head + fmt)


def test_decode_mp4_gates():
    """MP4 parser error paths: wrong magic, box size overrunning the
    payload, missing moov/trak/tkhd, truncated tkhd body."""
    with pytest.raises(ValueError, match="UNSUPPORTED_VIDEO_FORMAT"):
        _decode_mp4(b"0123456789abcdef")
    ftyp = (16).to_bytes(4, "big") + b"ftypisom" + bytes(4)
    with pytest.raises(ValueError, match="MP4_NO_MOOV"):
        _decode_mp4(ftyp)
    # box whose declared size overruns the payload
    with pytest.raises(ValueError, match="MP4_TRUNCATED"):
        _decode_mp4(ftyp + (64).to_bytes(4, "big") + b"moov" + bytes(8))
    # moov without trak
    moov_empty = (8).to_bytes(4, "big") + b"moov"
    with pytest.raises(ValueError, match="MP4_NO_TRAK"):
        _decode_mp4(ftyp + moov_empty)
    # tkhd body too short for version-0 layout
    tkhd_short = (12).to_bytes(4, "big") + b"tkhd" + bytes(4)
    trak = (8 + len(tkhd_short)).to_bytes(4, "big") + b"trak" + tkhd_short
    moov = (8 + len(trak)).to_bytes(4, "big") + b"moov" + trak
    with pytest.raises(ValueError, match="MP4_TRUNCATED"):
        _decode_mp4(ftyp + moov)


# ---------------------------------------------------------------------------
# Full-payload content features (round-4 verdict item #5)
# ---------------------------------------------------------------------------

def _wav_payload(samples, rate=8000, channels=1, bits=16):
    import numpy as np

    data = np.asarray(samples, dtype=np.int16).tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate,
                      rate * channels * bits // 8,
                      channels * bits // 8, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_wav_sample_stats_numpy_differential():
    import numpy as np

    from engine.multimodal import _wav_sample_stats

    samples = [100, -200, 3000, 0, -32768, 42]
    rms, peak, dec = _wav_sample_stats(_wav_payload(samples))
    a = np.asarray(samples, dtype=np.float64)
    assert dec == "pcm"
    assert peak == 32768
    assert abs(rms - float(np.sqrt(np.mean(a * a)))) < 1e-12


def test_wav_header_and_stats_read_the_same_data_chunk():
    """A payload with two `data` chunks: the frame count and the sample
    stats both describe the first one."""
    from engine.multimodal import _wav_sample_stats

    first = _wav_payload([1000, -1000, 1000, -1000])
    second = struct.pack("<4h", 3000, 3000, 3000, 3000)
    body = first[8:] + b"data" + struct.pack("<I", len(second)) + second
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    assert _decode_wav(payload) == (4, 8000, 1)
    assert _wav_sample_stats(payload) == (1000.0, 1000, "pcm")


def test_media_content_audio_real_others_typed(spark):
    from engine.multimodal import (
        MEDIA_CONTENT_SCHEMA,
        _HAS_CV2,
        _HAS_PIL,
        extract_media_content,
        synthesize_media,
    )

    docs = spark.createDataFrame(
        [(6, "hello world"), (1, "xyz"), (2, "longer text value here")],
        "doc_id long, text string",
    )
    out = extract_media_content(synthesize_media(docs))
    assert out.schema == MEDIA_CONTENT_SCHEMA
    rows = {r["doc_id"]: r for r in out.collect()}
    # header metadata columns still populated for every row
    assert all(r["decode_ok"] for r in rows.values())
    # audio: REAL full-payload decode in any environment — the
    # synthesized data chunk carries genuine zero samples
    a = rows[1]
    assert a["content_ok"] and a["content_decoder"] == "pcm"
    assert a["audio_rms"] == 0.0 and a["audio_peak"] == 0
    # image: pixel stats need the cv2/PIL swap-in; without it the row
    # degrades to a TYPED lib-missing error (never a fabricated stat)
    img = rows[6]
    if not (_HAS_PIL or _HAS_CV2):
        assert not img["content_ok"]
        assert img["content_error"] == "CONTENT_LIB_MISSING:image"
        assert img["px_mean"] is None
    # video: synthetic payloads are moov-only (no mdat) — content is
    # an error row on every environment, typed by what failed
    vid = rows[2]
    assert not vid["content_ok"]
    assert vid["content_error"] in (
        "CONTENT_LIB_MISSING:video", "CONTENT_DECODE_FAILED"
    )


def test_image_pixel_stats_pil():  # pragma: no cover - cluster-side
    """Cluster-side swap-in check (mirrors the Iceberg env-gate,
    skipping in-sandbox where PIL is absent): with PIL installed, a
    real 2x2 grayscale PNG round-trips exact pixel stats through
    _image_pixel_stats."""
    import io

    import numpy as np

    Image = pytest.importorskip("PIL.Image")

    from engine.multimodal import _image_pixel_stats

    a = np.array([[0, 255], [128, 64]], dtype=np.uint8)
    buf = io.BytesIO()
    Image.fromarray(a, mode="L").save(buf, format="PNG")
    mean, std, dec = _image_pixel_stats(buf.getvalue())
    assert dec == "pil"
    assert abs(mean - a.astype(float).mean()) < 1e-12
    assert abs(std - a.astype(float).std()) < 1e-12
