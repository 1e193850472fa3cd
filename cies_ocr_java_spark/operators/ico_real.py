"""REAL ICO favicon container: ICONDIR walk + per-entry PNG/DIB decode.

Favicons are the one image container every web crawl meets on every
host (``/favicon.ico``), and the format is a genuine multi-image
CONTAINER: an ICONDIR header, 16-byte directory entries, and per-entry
payloads that are either a complete PNG file or a HEADERLESS BMP — a
BITMAPINFOHEADER whose biHeight is DOUBLED because the XOR pixel rows
are followed by a 1-bit-per-pixel AND transparency mask (no
BITMAPFILEHEADER anywhere; offset arithmetic replaces it). A reader
that only sniffs the first bytes mis-sizes every DIB entry.

Writer (``build_ico``) emits real files any icon viewer opens: correct
entry offsets/sizes, PNG members via multimodal.build_png (full
filter-cycling PNGs), DIB members with doubled height, bottom-up 4-byte
padded 24-bit rows, and the padded AND mask. Reader (``parse_ico``)
walks the directory with trust-then-verify gates (reserved/type fields,
entry bounds, entry-vs-header width agreement, even doubled height,
mask presence), decodes EVERY member — PNG members go through the full
multimodal.decode_png chunk/CRC/unfilter path, so a poisoned member
fails with the PNG tier's own error string — and reports the LARGEST
image (area, first wins ties), the selection a favicon consumer makes.
Failure contract: every malformed payload yields an error row, never an
exception."""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.multimodal import (
    _BMP_INFO_HDR,
    _PNG_SIG,
    build_png,
    decode_png,
)
from cies_ocr_java_spark.operators.walker import map_blobs

__all__ = ["build_ico", "parse_ico", "extract_ico_features",
           "ICO_FEATURES_SCHEMA"]

_ICONDIR = struct.Struct("<HHH")       # reserved, type (1=icon), count
_ENTRY = struct.Struct("<BBBBHHII")    # w, h, colors, rsvd, planes, bpp,
                                       # bytes_in_res, image_offset


def _build_dib(width: int, height: int, value: int) -> bytes:
    """Headerless ICO BMP member: BITMAPINFOHEADER with DOUBLED height,
    24-bit bottom-up XOR rows (solid gray ``value``), then the 1bpp AND
    mask (all opaque), each row padded to 4 bytes."""
    stride3 = (width * 3 + 3) // 4 * 4
    row = bytes([value]) * (width * 3) + b"\x00" * (stride3 - width * 3)
    stride1 = (width + 31) // 32 * 4
    mask_row = b"\x00" * stride1
    return (
        _BMP_INFO_HDR.pack(40, width, 2 * height, 1, 24, 0,
                           stride3 * height + stride1 * height,
                           2835, 2835, 0, 0)
        + row * height
        + mask_row * height
    )


def build_ico(entries: list[tuple[str, int, int, int]]) -> bytes:
    """Emit a real ICO from (kind, width, height, value) entries; kind is
    ``png`` (full embedded PNG) or ``dib`` (headerless doubled-height
    BMP). Width/height bytes store 0 for 256 per the format."""
    payloads = []
    for kind, w, h, v in entries:
        if kind == "png":
            payloads.append(build_png(w, h, v))
        elif kind == "dib":
            payloads.append(_build_dib(w, h, v))
        else:
            raise ValueError("kind must be png or dib")
    out = bytearray(_ICONDIR.pack(0, 1, len(entries)))
    off = _ICONDIR.size + _ENTRY.size * len(entries)
    for (kind, w, h, v), p in zip(entries, payloads):
        if not (0 < w <= 256 and 0 < h <= 256):
            raise ValueError("ico dimensions must be 1..256")
        out += _ENTRY.pack(w % 256, h % 256, 0, 0, 1,
                           24 if kind == "dib" else 32, len(p), off)
        off += len(p)
    for p in payloads:
        out += p
    return bytes(out)


def parse_ico(data: bytes | None) -> dict:
    """Structural parse of the ICO container.

    Returns {n_images, entries, best_width, best_height, best_kind,
    best_ink, error}: entries is the per-entry ``WxH:kind`` list in
    directory order, best_* describe the largest-area image (first wins
    ties) with ink_sum = exact sum of its XOR pixel bytes. Malformed ->
    error row."""
    none = {"n_images": None, "entries": None, "best_width": None,
            "best_height": None, "best_kind": None, "best_ink": None}
    if data is None or len(data) < _ICONDIR.size:
        return {**none, "error": "short or missing payload"}
    data = bytes(data)
    reserved, ftype, count = _ICONDIR.unpack_from(data, 0)
    if reserved != 0 or ftype != 1:
        return {**none, "error": "bad icondir"}
    if count == 0:
        return {**none, "error": "empty icon"}
    if _ICONDIR.size + _ENTRY.size * count > len(data):
        return {**none, "error": "truncated icon directory"}
    parsed: list[tuple[int, int, str, int]] = []  # (w, h, kind, ink)
    for k in range(count):
        (wb, hb, _colors, _rsvd, _planes, _bpp, size, off) = (
            _ENTRY.unpack_from(data, _ICONDIR.size + _ENTRY.size * k)
        )
        ew, eh = wb or 256, hb or 256
        if off + size > len(data) or size < 8:
            return {**none, "error": "entry out of bounds"}
        member = data[off:off + size]
        if member[:len(_PNG_SIG)] == _PNG_SIG:
            r = decode_png(member)
            if r["error"] is not None:
                return {**none, "error": f"png member: {r['error']}"}
            w, h, ink = r["width"], r["height"], r["ink_sum"]
            kind = "png"
        else:
            if size < _BMP_INFO_HDR.size:
                return {**none, "error": "short dib member"}
            (hsize, w, h2, planes, bpp, comp, _isz, _x, _y, _c, _i) = (
                _BMP_INFO_HDR.unpack_from(member, 0)
            )
            if hsize != 40 or planes != 1 or comp != 0:
                return {**none, "error": "bad dib header"}
            if bpp != 24:
                return {**none, "error": f"unsupported dib bpp {bpp}"}
            if h2 <= 0 or h2 % 2 or w <= 0:
                return {**none, "error": "dib height not doubled"}
            h = h2 // 2
            stride3 = (w * 3 + 3) // 4 * 4
            stride1 = (w + 31) // 32 * 4
            if _BMP_INFO_HDR.size + (stride3 + stride1) * h > size:
                return {**none, "error": "truncated mask"}
            ink = 0
            for r_ in range(h):
                start = _BMP_INFO_HDR.size + r_ * stride3
                ink += sum(member[start:start + w * 3])
            kind = "dib"
        if (w, h) != (ew, eh):
            return {**none, "error": "entry/header size mismatch"}
        parsed.append((w, h, kind, ink))
    best = parsed[0]
    for t in parsed[1:]:
        if t[0] * t[1] > best[0] * best[1]:  # strictly greater: first wins
            best = t
    bw, bh, bkind, bink = best
    return {
        "n_images": count,
        "entries": ",".join(f"{w}x{h}:{k}" for w, h, k, _ in parsed),
        "best_width": bw, "best_height": bh, "best_kind": bkind,
        "best_ink": bink, "error": None,
    }


ICO_FEATURES_SCHEMA = (
    "doc_id long, n_images int, entries string, best_width int, "
    "best_height int, best_kind string, best_ink bigint, error string"
)


def extract_ico_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> parsed favicon rows, one Arrow pass."""
    return map_blobs(df, parse_ico, ICO_FEATURES_SCHEMA, id_col, content_col)
