"""ID3v2.3 tag FRAMES: the metadata block mp3_real.py deliberately
skips, decoded for real.

operators/mp3_real.py proved the AUDIO side (frame walk, VBR stepping)
and treats the leading ID3v2 tag as an opaque syncsafe-length skip.
This module opens the tag: a v2.3 header (``ID3``, version, flags, the
7-bits-per-byte syncsafe length), then a run of frames — 4-byte
uppercase/digit id, u32 BIG-endian size (v2.3 sizes are NOT syncsafe:
the classic confusion this parser must get right), 2 flag bytes, body —
followed by zero padding to the declared tag end.

Text frames (ids starting ``T``) open with an ENCODING byte that
changes the body's character set per frame: 0 = Latin-1, 1 = UTF-16
WITH mandatory BOM (both endiannesses live in the wild), 3 = UTF-8.
One tag routinely mixes all three — the per-frame re-decode is the
operator's point. Non-text frames are structurally skipped but counted.

Gates: bad frame-id characters, frame size overrunning the tag,
UTF-16 without a BOM, unknown encoding bytes, non-zero padding bytes
(a frame id of ``\\x00...`` means padding BEGAN; anything non-zero
after that is corruption). Error rows, never exceptions."""

from __future__ import annotations

import re
import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

__all__ = ["build_id3v2", "text_frame", "parse_id3v2",
           "extract_id3_features", "ID3_FEATURES_SCHEMA"]

_ID_RE = re.compile(rb"[A-Z0-9]{4}")


def _syncsafe(n: int) -> bytes:
    return bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                  (n >> 7) & 0x7F, n & 0x7F])


def build_id3v2(frames: list[tuple[str, bytes]], padding: int = 0, *,
                poison: str | None = None) -> bytes:
    """Emit a real ID3v2.3 tag from (frame_id, body_bytes) pairs plus
    ``padding`` zero bytes. Text-frame bodies should already carry
    their encoding byte (see the query builders). ``poison``:
    ``bad_id`` (lowercase first frame id), ``oversize`` (first frame's
    size points past the tag), ``dirty_padding`` (a non-zero byte in
    the padding run)."""
    body = bytearray()
    for k, (fid, payload) in enumerate(frames):
        fid_b = fid.encode("latin-1")
        if poison == "bad_id" and k == 0:
            fid_b = fid_b.lower()
        size = len(payload)
        if poison == "oversize" and k == 0:
            size = 1 << 20
        body += fid_b + struct.pack(">I", size) + b"\x00\x00" + payload
    pad = bytearray(padding)
    if poison == "dirty_padding" and padding >= 4:
        pad[2] = 0x7F
    body += pad
    return b"ID3\x03\x00\x00" + _syncsafe(len(body)) + bytes(body)


def text_frame(fid: str, text: str, encoding: int, *,
               bom: str = "le") -> tuple[str, bytes]:
    """A v2.3 text frame body: encoding byte + encoded text. encoding
    0 = Latin-1, 1 = UTF-16 with BOM (``bom`` picks the endianness),
    3 = UTF-8."""
    if encoding == 0:
        return fid, b"\x00" + text.encode("latin-1")
    if encoding == 1:
        if bom == "le":
            return fid, b"\x01\xff\xfe" + text.encode("utf-16-le")
        return fid, b"\x01\xfe\xff" + text.encode("utf-16-be")
    if encoding == 3:
        return fid, b"\x03" + text.encode("utf-8")
    raise ValueError("encoding must be 0, 1 or 3")


def _decode_text(body: bytes) -> str:
    if not body:
        raise _Id3Error("empty text frame")
    enc, raw = body[0], body[1:]
    if enc == 0:
        s = raw.decode("latin-1")
    elif enc == 1:
        if raw[:2] == b"\xff\xfe":
            s = raw[2:].decode("utf-16-le")
        elif raw[:2] == b"\xfe\xff":
            s = raw[2:].decode("utf-16-be")
        else:
            raise _Id3Error("missing bom")
    elif enc == 3:
        try:
            s = raw.decode("utf-8")
        except UnicodeDecodeError:
            raise _Id3Error("invalid utf-8 text") from None
    else:
        raise _Id3Error(f"bad text encoding {enc}")
    return s.rstrip("\x00")


class _Id3Error(Exception):
    pass


def parse_id3v2(data: bytes | None) -> dict:
    """-> {n_frames, n_text_frames, fields: {id: text}, padding_bytes,
    tag_size, error}. Walks frames to the syncsafe tag end; v2.3 frame
    sizes read as plain big-endian u32 (never syncsafe)."""
    none = {"n_frames": None, "n_text_frames": None, "fields": None,
            "padding_bytes": None, "tag_size": None}
    if data is None or len(data) < 10:
        return {**none, "error": "short or missing payload"}
    data = bytes(data)
    try:
        if data[:3] != b"ID3":
            raise _Id3Error("missing id3v2 header")
        if data[3] != 3:
            raise _Id3Error(f"unsupported id3v2 version {data[3]}")
        if data[5] & 0x80:
            raise _Id3Error("unsynchronisation not supported")
        ss = data[6:10]
        if any(b & 0x80 for b in ss):
            raise _Id3Error("bad syncsafe length")
        tag = (ss[0] << 21) | (ss[1] << 14) | (ss[2] << 7) | ss[3]
        end = 10 + tag
        if end > len(data):
            raise _Id3Error("truncated tag")
        pos = 10
        n_frames = n_text = 0
        fields: dict[str, str] = {}
        while pos < end:
            if data[pos] == 0:  # padding begins: rest must be zeros
                rest = data[pos:end]
                if rest.strip(b"\x00"):
                    raise _Id3Error("dirty padding")
                return {"n_frames": n_frames, "n_text_frames": n_text,
                        "fields": fields, "padding_bytes": len(rest),
                        "tag_size": end, "error": None}
            if pos + 10 > end:
                raise _Id3Error("truncated frame header")
            fid = data[pos:pos + 4]
            if not _ID_RE.fullmatch(fid):
                raise _Id3Error("bad frame id")
            (size,) = struct.unpack_from(">I", data, pos + 4)
            body_at = pos + 10
            if body_at + size > end:
                raise _Id3Error("frame beyond tag")
            body = data[body_at:body_at + size]
            n_frames += 1
            if fid[:1] == b"T":
                fields[fid.decode("latin-1")] = _decode_text(body)
                n_text += 1
            pos = body_at + size
        return {"n_frames": n_frames, "n_text_frames": n_text,
                "fields": fields, "padding_bytes": 0, "tag_size": end,
                "error": None}
    except (_Id3Error, UnicodeDecodeError) as e:
        if isinstance(e, UnicodeDecodeError):
            return {**none, "error": "undecodable text frame"}
        return {**none, "error": str(e)}


def _id3_row(b: bytes | None) -> dict:
    """parse_id3v2's row with the classic text frames projected."""
    r = parse_id3v2(b)
    if r["error"] is not None:
        return {"error": r["error"]}
    f = r["fields"]
    trck = f.get("TRCK")
    return {**r, "title": f.get("TIT2"), "artist": f.get("TPE1"),
            "album": f.get("TALB"),
            "track": int(trck) if trck and trck.isdigit() else None}


ID3_FEATURES_SCHEMA = (
    "doc_id long, n_frames int, n_text_frames int, title string, "
    "artist string, album string, track int, padding_bytes int, "
    "error string"
)


def extract_id3_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> tag rows projecting the classic fields
    (TIT2/TPE1/TALB/TRCK), one Arrow-batched pass."""
    return map_blobs(df, _id3_row, ID3_FEATURES_SCHEMA, id_col, content_col)
