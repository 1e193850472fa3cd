"""REAL WebP containers: RIFF framing + the three header dialects.

WebP is the modern web's image workhorse, and its container is RIFF —
the little-endian chunk framing WAV already proved (multimodal) — but
its DIMENSIONS live in three different places depending on the
encoding, which is exactly the kind of dialect split an ingest sniffer
must get right:

  * ``VP8 `` (lossy): a 3-byte frame tag, the 0x9D 0x01 0x2A start
    code, then width/height as the LOW 14 BITS of two LE u16s (the
    high 2 bits are rescale hints);
  * ``VP8L`` (lossless): a 0x2F signature byte, then ONE LE u32 whose
    bit layout is 14 bits width-1, 14 bits height-1, 1 alpha bit,
    3 version bits (must be 0);
  * ``VP8X`` (extended): a feature-flag byte (ICC/alpha/EXIF/XMP/anim)
    and 24-BIT canvas width-1/height-1 — followed by the actual coded
    chunk, whose own dimensions the canvas must agree with in this
    subset.

RIFF details graded here: the declared RIFF size must cover the file,
odd-sized chunks carry a pad byte (a walker that forgets it desyncs),
and unknown chunks are skipped by size. Error rows, never
exceptions."""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

__all__ = ["build_webp", "parse_webp", "extract_webp_features",
           "WEBP_FEATURES_SCHEMA"]


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _vp8l_body(width: int, height: int, alpha: bool) -> bytes:
    v = (width - 1) | ((height - 1) << 14) | (int(alpha) << 28)
    return b"\x2f" + struct.pack("<I", v) + b"\x00" * 5


def _vp8_body(width: int, height: int) -> bytes:
    tag = (1 << 4) | 0x00  # show_frame, keyframe bit0=0, version 0
    return (tag.to_bytes(3, "little") + b"\x9d\x01\x2a"
            + struct.pack("<HH", width & 0x3FFF, height & 0x3FFF)
            + b"\x00" * 7)


def build_webp(kind: str, width: int, height: int, *,
               alpha: bool = False, exif: bool = False,
               poison: str | None = None) -> bytes:
    """Emit a real WebP: kind 'lossy' (VP8), 'lossless' (VP8L) or
    'extended' (VP8X wrapping a VP8L + optional EXIF chunk with an
    ODD-sized body, exercising the pad rule). ``poison``:
    ``riff_size`` (declared size short by 4), ``vp8l_sig`` (signature
    byte 0x2E), ``start_code`` (VP8 start code corrupted),
    ``canvas_mismatch`` (VP8X canvas ≠ coded dimensions)."""
    if kind == "lossy":
        body = _vp8_body(width, height)
        if poison == "start_code":
            body = body[:3] + b"\x9d\x01\x2b" + body[6:]
        chunks = _chunk(b"VP8 ", body)
    elif kind == "lossless":
        body = _vp8l_body(width, height, alpha)
        if poison == "vp8l_sig":
            body = b"\x2e" + body[1:]
        chunks = _chunk(b"VP8L", body)
    else:
        flags = (int(alpha) << 4) | (int(exif) << 3)
        cw, ch = width, height
        if poison == "canvas_mismatch":
            cw += 1
        vp8x = (bytes([flags]) + b"\x00\x00\x00"
                + (cw - 1).to_bytes(3, "little")
                + (ch - 1).to_bytes(3, "little"))
        chunks = _chunk(b"VP8X", vp8x)
        if exif:
            chunks += _chunk(b"EXIF", b"II*\x00" + b"\x07" * 5)  # odd size
        chunks += _chunk(b"VP8L", _vp8l_body(width, height, alpha))
    total = 4 + len(chunks)
    if poison == "riff_size":
        total -= 4
    return b"RIFF" + struct.pack("<I", total) + b"WEBP" + chunks


class _WebpError(Exception):
    pass


def parse_webp(data: bytes | None) -> dict:
    """-> {format, width, height, has_alpha, flags, n_chunks, error}."""
    none = {"format": None, "width": None, "height": None,
            "has_alpha": None, "flags": None, "n_chunks": None}
    if data is None or len(data) < 12:
        return {**none, "error": "short or missing payload"}
    data = bytes(data)
    try:
        if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
            raise _WebpError("bad riff/webp header")
        (riff_size,) = struct.unpack_from("<I", data, 4)
        if 8 + riff_size != len(data):
            raise _WebpError("riff size mismatch")
        pos = 12
        fmt = None
        width = height = None
        has_alpha = 0
        flags: list[str] = []
        canvas = None
        n_chunks = 0
        while pos < len(data):
            if pos + 8 > len(data):
                raise _WebpError("truncated chunk header")
            fourcc = data[pos:pos + 4]
            (size,) = struct.unpack_from("<I", data, pos + 4)
            body_at = pos + 8
            if body_at + size > len(data):
                raise _WebpError("truncated chunk")
            body = data[body_at:body_at + size]
            n_chunks += 1
            if fourcc == b"VP8 ":
                if size < 10:
                    raise _WebpError("short vp8 chunk")
                if body[3:6] != b"\x9d\x01\x2a":
                    raise _WebpError("bad vp8 start code")
                w, h = struct.unpack_from("<HH", body, 6)
                width, height = w & 0x3FFF, h & 0x3FFF
                fmt = fmt or "lossy"
            elif fourcc == b"VP8L":
                if size < 5:
                    raise _WebpError("short vp8l chunk")
                if body[0] != 0x2F:
                    raise _WebpError("bad vp8l signature")
                (v,) = struct.unpack_from("<I", body, 1)
                if (v >> 29) & 0x7:
                    raise _WebpError("unsupported vp8l version")
                width = 1 + (v & 0x3FFF)
                height = 1 + ((v >> 14) & 0x3FFF)
                has_alpha = (v >> 28) & 1
                fmt = fmt or "lossless"
            elif fourcc == b"VP8X":
                if size < 10:
                    raise _WebpError("short vp8x chunk")
                fl = body[0]
                for bit, name in ((5, "icc"), (4, "alpha"), (3, "exif"),
                                  (2, "xmp"), (1, "anim")):
                    if fl & (1 << bit):
                        flags.append(name)
                canvas = (1 + int.from_bytes(body[4:7], "little"),
                          1 + int.from_bytes(body[7:10], "little"))
                fmt = "extended"
            # unknown chunks (EXIF, XMP, ICCP...) skip by size
            pos = body_at + size + (size % 2)
        if fmt is None or width is None:
            raise _WebpError("no image chunk")
        if canvas is not None and canvas != (width, height):
            raise _WebpError("canvas/coded size mismatch")
        if "alpha" in flags:
            has_alpha = 1
        return {"format": fmt, "width": width, "height": height,
                "has_alpha": has_alpha, "flags": ",".join(flags),
                "n_chunks": n_chunks, "error": None}
    except (_WebpError, struct.error) as e:
        if isinstance(e, struct.error):
            return {**none, "error": "truncated webp structure"}
        return {**none, "error": str(e)}


WEBP_FEATURES_SCHEMA = (
    "doc_id long, format string, width int, height int, has_alpha int, "
    "flags string, n_chunks int, error string"
)


def extract_webp_features(df: DataFrame, content_col: str = "content",
                          id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> header rows, one Arrow-batched pass."""
    return map_blobs(df, parse_webp, WEBP_FEATURES_SCHEMA, id_col, content_col)
