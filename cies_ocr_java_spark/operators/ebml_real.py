"""REAL EBML / Matroska (WebM) walker on stdlib struct — the container
grammar under the web's video files: every element is (vint id, vint
size, payload), where a VINT's byte length is announced by the leading
zero-bit count of its FIRST byte (UTF-8's trick, generalized to 8
bytes) — element IDs keep their marker bits, sizes strip them, and an
all-ones size means "unknown, runs to EOF" (a streaming affordance this
walker REJECTS: at rest, a size that refuses to say where it ends makes
bounds-checking impossible, the token_bin fail-loud rule).

The walk is a bounded recursive descent over (pos, end) windows:
container elements (EBML header, Segment, Info, Tracks, TrackEntry,
Video/Audio, Cluster) recurse, leaves decode as uint / float / string,
unknown ids are SKIPPED by their declared size (forward compat — the
actual Matroska behavior), and any declared size that crosses its
parent's window is a document error naming the element id.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed payload yields an error ROW — never an exception.

Reference parity: none — the reference hands media to Textract
(DocumentExtractManager.java:463); beyond-reference operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

# Container and leaf element ids (marker bits kept, per EBML).
EBML_HEADER = 0x1A45DFA3
SEGMENT = 0x18538067
INFO = 0x1549A966
TRACKS = 0x1654AE6B
TRACK_ENTRY = 0xAE
VIDEO = 0xE0
AUDIO = 0xE1
CLUSTER = 0x1F43B675
DOCTYPE = 0x4282
TIMESTAMP_SCALE = 0x2AD7B1
MUXING_APP = 0x4D80
DURATION = 0x4489
TRACK_NUMBER = 0xD7
TRACK_TYPE = 0x83
CODEC_ID = 0x86
PIXEL_WIDTH = 0xB0
PIXEL_HEIGHT = 0xBA
SAMPLING_FREQ = 0xB5
CLUSTER_TS = 0xE7
SIMPLE_BLOCK = 0xA3

_CONTAINERS = {EBML_HEADER, SEGMENT, INFO, TRACKS, TRACK_ENTRY,
               VIDEO, AUDIO, CLUSTER}


def encode_vint_id(eid: int) -> bytes:
    """Element ids are emitted verbatim — the marker bit is part of the
    id constant."""
    n = (eid.bit_length() + 7) // 8
    return eid.to_bytes(n, "big")


def encode_vint_size(size: int) -> bytes:
    """Size vints strip the marker: an n-byte vint carries 7n usable
    bits under a 1-bit at position 8n-n."""
    for n in range(1, 9):
        if size < (1 << (7 * n)) - 1:  # all-ones is reserved (unknown)
            return ((1 << (7 * n)) | size).to_bytes(n, "big")
    raise ValueError("size too large for vint")


def element(eid: int, payload: bytes,
            oversize: int = 0, unknown_size: bool = False) -> bytes:
    """id + size + payload; ``oversize``/``unknown_size`` build the
    poison tiers (declared size beyond the payload / all-ones size)."""
    if unknown_size:
        return encode_vint_id(eid) + b"\xFF" + payload
    return encode_vint_id(eid) \
        + encode_vint_size(len(payload) + oversize) + payload


def uint_el(eid: int, v: int) -> bytes:
    n = max(1, (v.bit_length() + 7) // 8)
    return element(eid, v.to_bytes(n, "big"))


def float_el(eid: int, v: float) -> bytes:
    return element(eid, struct.pack(">d", v))


def str_el(eid: int, s: str) -> bytes:
    return element(eid, s.encode("utf-8"))


def simple_block(track: int, rel_ts: int, payload: bytes) -> bytes:
    return element(SIMPLE_BLOCK,
                   encode_vint_size(track) + struct.pack(">h", rel_ts)
                   + b"\x80" + payload)


def read_vint(data: bytes, pos: int, keep_marker: bool
              ) -> tuple[int, int]:
    """Decode one vint at ``pos``; returns (value, next_pos).  Raises
    ValueError on malformation (zero first byte, truncation, and — for
    sizes — the reserved all-ones encoding)."""
    if pos >= len(data):
        raise ValueError(f"vint at {pos} overruns payload")
    b0 = data[pos]
    if b0 == 0:
        raise ValueError(f"invalid vint at {pos}")
    n = 8 - b0.bit_length() + 1
    if pos + n > len(data):
        raise ValueError(f"vint at {pos} overruns payload")
    raw = int.from_bytes(data[pos:pos + n], "big")
    if keep_marker:
        return raw, pos + n
    val = raw & ((1 << (7 * n)) - 1)
    if val == (1 << (7 * n)) - 1:
        raise ValueError(f"unknown size for element ending vint at {pos}")
    return val, pos + n


def _walk(data: bytes, pos: int, end: int, out: dict) -> None:
    """Recursive descent over one window; accumulates facts in out."""
    while pos < end:
        eid, p2 = read_vint(data, pos, keep_marker=True)
        try:
            size, p3 = read_vint(data, p2, keep_marker=False)
        except ValueError as e:
            if "unknown size" in str(e):
                raise ValueError(f"unknown size for element 0x{eid:x}")
            raise
        if p3 + size > end:
            raise ValueError(f"element 0x{eid:x} overruns parent")
        if eid in _CONTAINERS:
            if eid == TRACK_ENTRY:
                out["_track"] = {}
            _walk(data, p3, p3 + size, out)
            if eid == TRACK_ENTRY:
                t = out.pop("_track")
                out.setdefault("tracks", []).append(t)
            elif eid == CLUSTER:
                out["n_clusters"] = out.get("n_clusters", 0) + 1
        else:
            body = data[p3:p3 + size]
            if eid == DOCTYPE:
                out["doctype"] = body.decode("utf-8")
            elif eid == TIMESTAMP_SCALE:
                out["timestamp_scale"] = int.from_bytes(body, "big")
            elif eid == DURATION:
                if len(body) == 8:
                    out["duration"] = struct.unpack(">d", body)[0]
                elif len(body) == 4:
                    out["duration"] = struct.unpack(">f", body)[0]
                else:
                    raise ValueError("bad duration width")
            elif eid in (TRACK_NUMBER, TRACK_TYPE, PIXEL_WIDTH,
                         PIXEL_HEIGHT):
                tgt = out.get("_track")
                if tgt is not None:
                    tgt[eid] = int.from_bytes(body, "big")
            elif eid == CODEC_ID:
                tgt = out.get("_track")
                if tgt is not None:
                    tgt["codec"] = body.decode("utf-8")
            elif eid == SIMPLE_BLOCK:
                _tn, q = read_vint(body, 0, keep_marker=False)
                if q + 3 > len(body):
                    raise ValueError("truncated simple block")
                out["n_blocks"] = out.get("n_blocks", 0) + 1
                out["media_bytes"] = (out.get("media_bytes", 0)
                                      + len(body) - q - 3)
            # unknown leaves: skipped by size (forward compat)
        pos = p3 + size


_MKV_NONE = {"doctype": None, "timestamp_scale": None,
             "duration_ticks": None, "n_tracks": None,
             "video_codec": None, "audio_codec": None, "width": None,
             "height": None, "n_clusters": None, "n_blocks": None,
             "media_bytes": None}


def parse_mkv(data: bytes | None) -> dict:
    """Walk EBML header + Segment; surface doctype/info/tracks/cluster
    facts.  Every malformed payload yields an error row."""
    if data is None or len(data) < 8:
        return {**_MKV_NONE, "error": "short or missing payload"}
    data = bytes(data)
    out: dict = {}
    try:
        eid, p = read_vint(data, 0, keep_marker=True)
        if eid != EBML_HEADER:
            return {**_MKV_NONE, "error": "not an ebml stream"}
        _walk(data, 0, len(data), out)
    except ValueError as e:
        return {**_MKV_NONE, "error": str(e)}
    except UnicodeDecodeError:
        return {**_MKV_NONE, "error": "invalid utf-8 string element"}
    tracks = out.get("tracks", [])
    video = next((t for t in tracks if t.get(TRACK_TYPE) == 1), {})
    audio = next((t for t in tracks if t.get(TRACK_TYPE) == 2), {})
    dur = out.get("duration")
    return {
        "doctype": out.get("doctype"),
        "timestamp_scale": out.get("timestamp_scale"),
        "duration_ticks": None if dur is None else int(dur),
        "n_tracks": len(tracks),
        "video_codec": video.get("codec"),
        "audio_codec": audio.get("codec"),
        "width": video.get(PIXEL_WIDTH),
        "height": video.get(PIXEL_HEIGHT),
        "n_clusters": out.get("n_clusters", 0),
        "n_blocks": out.get("n_blocks", 0),
        "media_bytes": out.get("media_bytes", 0),
        "error": None,
    }


MKV_SCHEMA = (
    "doc_id long, doctype string, timestamp_scale bigint, "
    "duration_ticks bigint, n_tracks int, video_codec string, "
    "audio_codec string, width int, height int, n_clusters int, "
    "n_blocks int, media_bytes bigint, error string"
)


def extract_mkv_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> container metadata via one Arrow-batched
    mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_mkv, MKV_SCHEMA, id_col, content_col)
