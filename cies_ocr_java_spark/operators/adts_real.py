"""ADTS (AAC) frame walk — the audio elementary stream beside
mp3_real's MPEG frame stepping and h264_real's video layer: 12-bit
0xFFF syncwords re-verified at EVERY frame boundary (first-header
trust provably lies — the mp3 lesson applies verbatim), the 13-bit
frame_length field SPANNING bytes 3..5 (includes the header itself;
a frame shorter than its own header is structural corruption), the
2-bit layer field that must be 00 for AAC (a non-zero layer means an
MP3 misfile, rejected by name), profile / sampling-frequency-index /
channel-configuration decoded from their bit positions, and the
protection_absent bit deciding whether a 2-byte CRC field widens the
header from 7 to 9 bytes (counted; CRC arithmetic itself is out of
scope and said so).

Failure contract: every malformed stream yields an error ROW.

Reference parity: none — media is Textract's problem in the
reference; codec-layer structure recovery is beyond-reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_RATES = [96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
          16000, 12000, 11025, 8000, 7350]


def build_adts(profile: int, sr_index: int, channels: int,
               payload_sizes: list[int], *,
               crc_every: int = 0, bad_layer: bool = False,
               bad_midsync: bool = False,
               lying_length: bool = False) -> bytes:
    out = bytearray()
    for k, psize in enumerate(payload_sizes):
        crc = crc_every and (k % crc_every == 0)
        hlen = 9 if crc else 7
        flen = hlen + psize
        if lying_length and k == len(payload_sizes) - 1:
            flen += 40  # overruns the stream
        h = bytearray(hlen)
        h[0] = 0xFF
        h[1] = 0xF0 | (0 << 3) | ((1 if bad_layer else 0) << 1) \
            | (0 if crc else 1)
        h[2] = ((profile & 3) << 6) | ((sr_index & 0xF) << 2) \
            | ((channels >> 2) & 1)
        h[3] = ((channels & 3) << 6) | ((flen >> 11) & 3)
        h[4] = (flen >> 3) & 0xFF
        h[5] = ((flen & 7) << 5) | 0x1F  # buffer fullness high bits
        h[6] = 0xFC  # fullness low + 1 raw data block (0)
        if crc:
            h[7] = (0xA0 + k) & 0xFF
            h[8] = (0x5B + k) & 0xFF
        out += h
        out += bytes((0x10 + k + j) % 256 for j in range(psize))
    if bad_midsync and len(payload_sizes) >= 2:
        # corrupt the SECOND frame's syncword
        first = 9 if (crc_every and 0 % crc_every == 0) else 7
        first += payload_sizes[0]
        out[first] = 0x00
    return bytes(out)


_ADTS_NONE = {
    "n_frames": None, "n_crc_frames": None, "profile": None,
    "sample_rate": None, "channels": None, "payload_bytes": None,
}


def parse_adts(data: bytes | None) -> dict:
    if data is None or len(data) < 7:
        return {**_ADTS_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        pos = 0
        n_frames = n_crc = payload = 0
        profile = sr = ch = None
        while pos < len(data):
            if pos + 7 > len(data):
                raise ValueError("truncated frame header")
            if data[pos] != 0xFF or (data[pos + 1] & 0xF0) != 0xF0:
                raise ValueError("lost sync between frames")
            layer = (data[pos + 1] >> 1) & 3
            if layer != 0:
                raise ValueError("nonzero layer is not aac")
            crc = not (data[pos + 1] & 1)
            p = (data[pos + 2] >> 6) & 3
            s = (data[pos + 2] >> 2) & 0xF
            if s >= len(_RATES):
                raise ValueError("reserved sampling frequency index")
            c = ((data[pos + 2] & 1) << 2) | ((data[pos + 3] >> 6) & 3)
            flen = ((data[pos + 3] & 3) << 11) \
                | (data[pos + 4] << 3) | (data[pos + 5] >> 5)
            hlen = 9 if crc else 7
            if flen < hlen:
                raise ValueError("frame shorter than its header")
            if pos + flen > len(data):
                raise ValueError("frame length overruns stream")
            if n_frames == 0:
                profile, sr, ch = p, _RATES[s], c
            elif (p, _RATES[s], c) != (profile, sr, ch):
                raise ValueError("stream parameters change mid-file")
            if crc:
                n_crc += 1
            payload += flen - hlen
            n_frames += 1
            pos += flen
        if n_frames == 0:
            raise ValueError("no frames in stream")
    except ValueError as e:
        return {**_ADTS_NONE, "error": str(e)}
    return {
        "n_frames": n_frames, "n_crc_frames": n_crc,
        "profile": profile, "sample_rate": sr, "channels": ch,
        "payload_bytes": payload, "error": None,
    }


_ADTS_SCHEMA = (
    "doc_id long, n_frames int, n_crc_frames int, profile int, "
    "sample_rate int, channels int, payload_bytes bigint, "
    "error string"
)


def extract_adts_features(df: DataFrame, content_col: str = "content",
                          id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_adts, _ADTS_SCHEMA, id_col, content_col)
