"""REAL MPEG-audio (MP3) frame walker on stdlib struct — the audio
format crawls actually contain, where duration/bitrate metadata does NOT
live in any header: it must be recovered by walking the physical frame
sequence (ISO/IEC 11172-3).

An MP3 file is: optional ID3v2 tag (header carries a 7-bit-per-byte
"syncsafe" length), then a run of self-describing frames — 4-byte header
(11-bit sync, version/layer bits, bitrate + samplerate table indices,
padding bit) followed by ``144 * bitrate // samplerate (+pad)`` bytes —
optionally closed by a fixed 128-byte ID3v1 "TAG" trailer.  VBR files
change the bitrate index PER FRAME, so a reader that trusts the first
header mis-states duration; the walker below reads every frame header and
sums real frame lengths (the ffprobe/mp3val behavior).

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed payload yields an error ROW — never an exception.  Leftover
bytes that are neither a frame nor an ID3v1 trailer are an error, not a
silent stop (truncation must fail loudly, the token_bin rule).

Reference parity: none — the reference hands media to Textract
(DocumentExtractManager.java:463-599); beyond-reference operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

# MPEG-1 Layer III bitrate table (kbps), indices 1..14; 0=free, 15=bad.
MP3_KBPS = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
# MPEG-1 samplerate table, indices 0..2; 3=reserved.
MP3_RATES = [44100, 48000, 32000]
SAMPLES_PER_FRAME = 1152


def frame_length(kbps: int, rate: int, padding: int = 0) -> int:
    """Physical MPEG-1 Layer III frame length in bytes."""
    return 144 * kbps * 1000 // rate + padding


def build_mp3(frame_bitrate_idx: list[int], rate_idx: int,
              tag_len: int = 0, id3v1: bool = False) -> bytes:
    """Emit a real MPEG-1 Layer III byte stream: optional ID3v2.3 tag
    (syncsafe length), one frame per bitrate index (VBR when they vary),
    optional ID3v1 trailer.  Frame payloads are deterministic fill."""
    if rate_idx not in (0, 1, 2):
        raise ValueError("rate_idx must be 0..2")
    out = bytearray()
    if tag_len:
        if tag_len >= 1 << 28:
            raise ValueError("tag too long for syncsafe length")
        out += b"ID3\x03\x00\x00"
        out += bytes([(tag_len >> 21) & 0x7F, (tag_len >> 14) & 0x7F,
                      (tag_len >> 7) & 0x7F, tag_len & 0x7F])
        out += bytes((i * 7) & 0xFF for i in range(tag_len))
    rate = MP3_RATES[rate_idx]
    for k, bi in enumerate(frame_bitrate_idx):
        if not 1 <= bi <= 14:
            raise ValueError("bitrate index must be 1..14")
        flen = frame_length(MP3_KBPS[bi], rate)
        # 0xFF 0xFB = sync + MPEG-1 + Layer III + no CRC
        hdr = bytes([0xFF, 0xFB, (bi << 4) | (rate_idx << 2), 0xC0])
        out += hdr + bytes(((k + j) % 251 for j in range(flen - 4)))
    if id3v1:
        out += b"TAG" + bytes(125)
    return bytes(out)


_MP3_NONE = {"n_frames": None, "sample_rate": None, "duration_ms": None,
             "audio_bytes": None, "id3v2_size": None, "has_id3v1": None}


def parse_mp3(data: bytes | None) -> dict:
    """Walk the physical frame sequence: syncsafe ID3v2 skip, per-frame
    header decode (sync/version/layer/bitrate/samplerate checks), real
    frame-length stepping, ID3v1 trailer detection.  duration_ms =
    frames * 1152 * 1000 // samplerate; mixed samplerates are rejected
    (they would make that arithmetic lie).  Every malformed payload
    yields an error row."""
    if data is None or len(data) < 4:
        return {**_MP3_NONE, "error": "short or missing payload"}
    data = bytes(data)
    pos = 0
    id3v2_size = 0
    if data[:3] == b"ID3":
        if len(data) < 10:
            return {**_MP3_NONE, "error": "truncated id3v2 header"}
        if any(b & 0x80 for b in data[6:10]):
            return {**_MP3_NONE, "error": "bad syncsafe length"}
        tag = ((data[6] << 21) | (data[7] << 14)
               | (data[8] << 7) | data[9])
        id3v2_size = 10 + tag
        if id3v2_size > len(data):
            return {**_MP3_NONE, "error": "id3v2 tag overruns file"}
        pos = id3v2_size
    n_frames = 0
    audio_bytes = 0
    rate = None
    has_id3v1 = False
    while pos < len(data):
        if data[pos:pos + 3] == b"TAG":
            if len(data) - pos != 128:
                return {**_MP3_NONE, "error": "malformed id3v1 trailer"}
            has_id3v1 = True
            break
        if pos + 4 > len(data):
            return {**_MP3_NONE, "error": f"truncated frame at {pos}"}
        b0, b1, b2, _b3 = data[pos:pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            return {**_MP3_NONE, "error": f"bad frame sync at {pos}"}
        if (b1 & 0x18) != 0x18 or (b1 & 0x06) != 0x02:
            return {**_MP3_NONE,
                    "error": f"unsupported mpeg version/layer at {pos}"}
        bi = b2 >> 4
        ri = (b2 >> 2) & 0x03
        if bi in (0, 15):
            return {**_MP3_NONE, "error": f"bad bitrate index at {pos}"}
        if ri == 3:
            return {**_MP3_NONE, "error": f"bad samplerate index at {pos}"}
        if rate is None:
            rate = MP3_RATES[ri]
        elif rate != MP3_RATES[ri]:
            return {**_MP3_NONE, "error": f"mixed samplerates at {pos}"}
        flen = frame_length(MP3_KBPS[bi], rate, (b2 >> 1) & 1)
        if pos + flen > len(data):
            return {**_MP3_NONE, "error": f"frame overruns file at {pos}"}
        pos += flen
        n_frames += 1
        audio_bytes += flen
    if n_frames == 0:
        return {**_MP3_NONE, "error": "no audio frames"}
    return {
        "n_frames": n_frames,
        "sample_rate": rate,
        "duration_ms": n_frames * SAMPLES_PER_FRAME * 1000 // rate,
        "audio_bytes": audio_bytes,
        "id3v2_size": id3v2_size,
        "has_id3v1": has_id3v1,
        "error": None,
    }


MP3_FEATURES_SCHEMA = (
    "doc_id long, n_frames int, sample_rate int, duration_ms bigint, "
    "audio_bytes bigint, id3v2_size int, has_id3v1 int, error string"
)


def extract_mp3_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> frame-walk metadata via one Arrow-batched
    mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_mp3, MP3_FEATURES_SCHEMA, id_col, content_col)
