"""REAL AVI (RIFF) walker on stdlib struct — the third video
container beside mp4_real's box tree and ebml_real's vint tree, built
on the oldest framing of the three: RIFF chunks (fourcc, u32le size,
WORD-aligned payloads — the odd-size pad rule WebP inherited), with
LIST chunks carrying a second fourcc that types their children.

Walked here: the 'hdrl' LIST (avih main header: frame timing, frame
count, geometry; per-stream 'strl' LISTs whose strh declares
vids/auds type + handler fourcc), the 'movi' LIST of '00dc'/'01wb'
frame chunks, and the 'idx1' index whose entries are CROSS-CHECKED
against the movi chunks actually walked — an index that disagrees
with the data is a per-document FLAG (idx_consistent=0), not an
error: AVI indexes lie routinely in the wild and players tolerate it
(the GREASE lesson in container form).

Failure contract (the MediaCodec discipline, multimodal.py): every
structurally malformed file yields an error ROW — never an exception.

Reference parity: none — the reference hands media to Textract
(DocumentExtractManager.java:463); beyond-reference operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    out = fourcc + struct.pack("<I", len(payload)) + payload
    if len(payload) % 2:
        out += b"\x00"  # WORD alignment pad, not counted in size
    return out


def _list(list_type: bytes, children: bytes) -> bytes:
    return _chunk(b"LIST", list_type + children)


def build_avi(us_per_frame: int, total_frames: int, width: int,
              height: int, video_handler: bytes,
              frame_sizes: list[int], audio_sizes: list[int],
              bad_index: bool = False,
              truncate_movi: bool = False) -> bytes:
    """A structurally genuine single-video(-plus-audio) AVI."""
    avih = struct.pack("<14I", us_per_frame, 1000000, 0, 0x10,
                       total_frames, 0, 2 if audio_sizes else 1,
                       65536, width, height, 0, 0, 0, 0)
    strh_v = (b"vids" + video_handler
              + struct.pack("<10I", 0, 0, 0, 1, 25, 0,
                            total_frames, 65536, 0xFFFFFFFF, 0)
              + struct.pack("<4H", 0, 0, width, height))
    strf_v = struct.pack("<IiiHH4sIiiII", 40, width, height, 1, 24,
                         b"DIB ", width * height * 3, 0, 0, 0, 0)
    strl_v = _list(b"strl", _chunk(b"strh", strh_v)
                   + _chunk(b"strf", strf_v))
    streams = strl_v
    if audio_sizes:
        strh_a = (b"auds" + b"\x00" * 4
                  + struct.pack("<10I", 0, 0, 0, 1, 44100, 0,
                                len(audio_sizes), 65536, 0xFFFFFFFF,
                                0)
                  + struct.pack("<4H", 0, 0, 0, 0))
        strf_a = struct.pack("<HHIIHH", 1, 1, 44100, 88200, 2, 16)
        streams += _list(b"strl", _chunk(b"strh", strh_a)
                         + _chunk(b"strf", strf_a))
    hdrl = _list(b"hdrl", _chunk(b"avih", avih) + streams)
    movi_children = b""
    offsets = []  # (ckid, offset-in-movi, size)
    events = []
    for k, sz in enumerate(frame_sizes):
        events.append((b"00dc", bytes([(65 + k) & 0xFF]) * sz))
    for k, sz in enumerate(audio_sizes):
        events.append((b"01wb", bytes([(97 + k) & 0xFF]) * sz))
    for ckid, payload in events:
        offsets.append((ckid, 4 + len(movi_children), len(payload)))
        movi_children += _chunk(ckid, payload)
    movi = _list(b"movi", movi_children)
    idx = b""
    for n, (ckid, off, sz) in enumerate(offsets):
        lied = sz + 7 if (bad_index and n == 0) else sz
        idx += ckid + struct.pack("<III", 0x10, off, lied)
    idx1 = _chunk(b"idx1", idx)
    body = b"AVI " + hdrl + movi + idx1
    out = b"RIFF" + struct.pack("<I", len(body)) + body
    if truncate_movi:
        out = out[:len(out) - len(idx1) - 10]
    return out


_AVI_NONE = {"us_per_frame": None, "total_frames": None,
             "width": None, "height": None, "n_streams": None,
             "video_handler": None, "n_video_chunks": None,
             "n_audio_chunks": None, "movi_bytes": None,
             "idx_entries": None, "idx_consistent": None}


def parse_avi(data: bytes | None) -> dict:
    """RIFF walk with WORD-alignment, header/stream/movi/idx1
    recovery, and the index-vs-data cross-check."""
    if data is None or len(data) < 12 or data[:4] != b"RIFF":
        return {**_AVI_NONE, "error": "not a riff file"}
    data = bytes(data)
    (riff_size,) = struct.unpack_from("<I", data, 4)
    if 8 + riff_size > len(data):
        return {**_AVI_NONE, "error": "riff size overruns file"}
    if data[8:12] != b"AVI ":
        return {**_AVI_NONE, "error": "not an avi file"}

    def walk(pos: int, end: int):
        while pos < end:
            if pos + 8 > end:
                raise ValueError(f"chunk header overruns at {pos}")
            fourcc = data[pos:pos + 4]
            (size,) = struct.unpack_from("<I", data, pos + 4)
            if pos + 8 + size > end:
                raise ValueError(
                    f"chunk {fourcc.decode('ascii', 'replace')} "
                    f"overruns parent")
            yield fourcc, pos + 8, size
            pos += 8 + size + (size % 2)

    facts: dict = {**_AVI_NONE}
    movi_chunks: list[tuple[bytes, int, int]] = []
    idx_entries: list[tuple[bytes, int, int]] = []
    try:
        for fourcc, at, size in walk(12, 8 + riff_size):
            if fourcc == b"LIST":
                ltype = data[at:at + 4]
                if ltype == b"hdrl":
                    n_streams = 0
                    handler = None
                    for f2, a2, s2 in walk(at + 4, at + size):
                        if f2 == b"avih":
                            v = struct.unpack_from("<10I", data, a2)
                            facts["us_per_frame"] = v[0]
                            facts["total_frames"] = v[4]
                            facts["width"] = v[8]
                            facts["height"] = v[9]
                        elif f2 == b"LIST" \
                                and data[a2:a2 + 4] == b"strl":
                            n_streams += 1
                            for f3, a3, s3 in walk(a2 + 4, a2 + s2):
                                if f3 == b"strh" \
                                        and data[a3:a3 + 4] == b"vids":
                                    handler = data[a3 + 4:a3 + 8] \
                                        .decode("ascii", "replace")
                    facts["n_streams"] = n_streams
                    facts["video_handler"] = handler
                elif ltype == b"movi":
                    for f2, a2, s2 in walk(at + 4, at + size):
                        movi_chunks.append((f2, a2 - at, s2))
            elif fourcc == b"idx1":
                if size % 16:
                    raise ValueError("idx1 size not a multiple of 16")
                for n in range(size // 16):
                    ckid = data[at + 16 * n:at + 16 * n + 4]
                    _fl, off, sz = struct.unpack_from(
                        "<III", data, at + 16 * n + 4)
                    idx_entries.append((ckid, off, sz))
    except ValueError as e:
        return {**_AVI_NONE, "error": str(e)}
    facts["n_video_chunks"] = sum(
        1 for c, _o, _s in movi_chunks if c == b"00dc")
    facts["n_audio_chunks"] = sum(
        1 for c, _o, _s in movi_chunks if c == b"01wb")
    facts["movi_bytes"] = sum(s for _c, _o, s in movi_chunks)
    facts["idx_entries"] = len(idx_entries)
    # index cross-check: same ids, offsets and sizes, in order.
    # idx1 offsets are measured from the 'movi' fourcc to each chunk
    # HEADER; the walk recorded payload offsets, so step back 8.
    expected = [(c, o - 8, s) for c, o, s in movi_chunks]
    facts["idx_consistent"] = int(expected == idx_entries)
    facts["error"] = None
    return facts


AVI_SCHEMA = (
    "doc_id long, us_per_frame int, total_frames int, width int, "
    "height int, n_streams int, video_handler string, "
    "n_video_chunks int, n_audio_chunks int, movi_bytes bigint, "
    "idx_entries int, idx_consistent int, error string"
)


def extract_avi_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> container metadata via one
    Arrow-batched mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_avi, AVI_SCHEMA, id_col, content_col)
