"""LZW-compressed TIFF (Compression=5) — a cross-family COMPOSITION:
the TIFF container discipline (multimodal.build_tiff's sorted-tag,
endian-aware IFD walk) meeting pdf_real's MSB-first LZW codec.  TIFF
LZW and PDF LZWDecode are the SAME algorithm — 9..12-bit codes packed
MSB-first with EarlyChange=1 (the width bumps one table entry early)
— which is no coincidence: Adobe lifted it from TIFF into PostScript/
PDF, so `pdf_real._lzw_decode` decodes TIFF strips verbatim.  (GIF's
LZW is the LSB-first cousin and would NOT work — the distinction
multimodal.py's GIF codec pins.)

Each strip is independently compressed; the IFD's StripByteCounts
carries COMPRESSED sizes while RowsPerStrip×width give the expected
DECODED size — both are verified, so a strip that inflates to the
wrong pixel count fails loudly.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed payload yields an error ROW — never an exception.

Reference parity: none — beyond-reference media operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.pdf_real import (
    _lzw_decode,
    _lzw_encode,
)
from cies_ocr_java_spark.operators.walker import map_blobs

_SHORT, _LONG = 3, 4


def build_tiff_lzw(width: int, height: int, row_values: list[int],
                   big_endian: bool = False,
                   bad_compression: bool = False,
                   lie_byte_count: bool = False) -> bytes:
    """Single-page grayscale TIFF, two LZW strips (rows split at
    ceil(h/2)); ``row_values[r]`` fills row r."""
    if len(row_values) != height:
        raise ValueError("need one value per row")
    e = ">" if big_endian else "<"
    rps = (height + 1) // 2
    strips_raw = []
    for s in range(2):
        rows = row_values[s * rps:(s + 1) * rps]
        if rows:
            strips_raw.append(b"".join(bytes([v]) * width
                                       for v in rows))
    strips = [_lzw_encode(r) for r in strips_raw]
    buf = bytearray(struct.pack(e + "2sHI",
                                b"MM" if big_endian else b"II", 42, 0))
    offs = []
    for s in strips:
        offs.append(len(buf))
        buf += s
    cnts = [len(s) for s in strips]

    def entry(tag, typ, vals, deferred_at=None):
        size = 2 if typ == _SHORT else 4
        fmt = "H" if typ == _SHORT else "I"
        if len(vals) * size <= 4:
            raw = b"".join(struct.pack(e + fmt, v) for v in vals)
            raw += b"\x00" * (4 - len(raw))
            return struct.pack(e + "HHI", tag, typ, len(vals)) + raw
        return struct.pack(e + "HHII", tag, typ, len(vals),
                           deferred_at)

    # deferred arrays (strip offsets/counts) go right before the IFD
    arr_off_at = len(buf)
    for v in offs:
        buf += struct.pack(e + "I", v)
    arr_cnt_at = len(buf)
    for v in cnts:
        buf += struct.pack(e + "I", v)
    ifd_at = len(buf)
    entries = [
        entry(256, _LONG, [width]),
        entry(257, _LONG, [height]),
        entry(258, _SHORT, [8]),
        entry(259, _SHORT, [6 if bad_compression else 5]),
        entry(262, _SHORT, [1]),
        entry(273, _LONG, offs, arr_off_at),
        entry(277, _SHORT, [1]),
        entry(278, _LONG, [rps]),
        entry(279, _LONG, cnts, arr_cnt_at),
    ]
    buf += struct.pack(e + "H", len(entries))
    for en in entries:
        buf += en
    buf += struct.pack(e + "I", 0)
    struct.pack_into(e + "I", buf, 4, ifd_at)
    if lie_byte_count:
        # point StripByteCounts (entry 8) past EOF — the session-3
        # TIFF poison family ('tag 279 array out of bounds')
        struct.pack_into(e + "I", buf, ifd_at + 2 + 12 * 8 + 8,
                         len(buf) + 1000)
    return bytes(buf)


_TL_NONE = {"width": None, "height": None, "compression": None,
            "n_strips": None, "ink_sum": None, "byte_order": None}


def decode_tiff_lzw(data: bytes | None) -> dict:
    """IFD walk + per-strip LZW inflate + decoded-size verification."""
    if data is None or len(data) < 8:
        return {**_TL_NONE, "error": "short or missing payload"}
    data = bytes(data)
    if data[:2] == b"II":
        e = "<"
    elif data[:2] == b"MM":
        e = ">"
    else:
        return {**_TL_NONE, "error": "bad magic"}
    if struct.unpack_from(e + "H", data, 2)[0] != 42:
        return {**_TL_NONE, "error": "bad version"}
    (ifd_at,) = struct.unpack_from(e + "I", data, 4)
    try:
        if ifd_at + 2 > len(data):
            raise ValueError("ifd out of bounds")
        (n,) = struct.unpack_from(e + "H", data, ifd_at)
        tags: dict[int, list[int]] = {}
        for k in range(n):
            at = ifd_at + 2 + 12 * k
            if at + 12 > len(data):
                raise ValueError("ifd entry out of bounds")
            tag, typ, cnt = struct.unpack_from(e + "HHI", data, at)
            size = 2 if typ == _SHORT else 4
            fmt = "H" if typ == _SHORT else "I"
            if cnt * size <= 4:
                tags[tag] = list(struct.unpack_from(
                    e + str(cnt) + fmt, data, at + 8))
            else:
                (off,) = struct.unpack_from(e + "I", data, at + 8)
                if off + cnt * size > len(data):
                    raise ValueError(f"tag {tag} array out of bounds")
                tags[tag] = list(struct.unpack_from(
                    e + str(cnt) + fmt, data, off))
        width = tags.get(256, [0])[0]
        height = tags.get(257, [0])[0]
        comp = tags.get(259, [1])[0]
        if comp != 5:
            raise ValueError(f"unsupported compression {comp}")
        offs = tags.get(273, [])
        cnts = tags.get(279, [])
        rps = tags.get(278, [height])[0]
        if len(offs) != len(cnts) or not offs:
            raise ValueError("strip tables disagree")
        ink = 0
        for s, (off, cnt) in enumerate(zip(offs, cnts)):
            if off + cnt > len(data):
                raise ValueError(f"strip {s} overruns file")
            try:
                raw = _lzw_decode(data[off:off + cnt])
            except Exception as ex:  # codec-level degradation
                raise ValueError(f"strip {s} lzw error: {ex}") \
                    from None
            rows = min(rps, height - s * rps)
            if len(raw) != rows * width:
                raise ValueError(
                    f"strip {s} decodes to wrong pixel count")
            ink += sum(raw)
    except ValueError as ex:
        return {**_TL_NONE, "error": str(ex)}
    return {"width": width, "height": height, "compression": comp,
            "n_strips": len(offs), "ink_sum": ink,
            "byte_order": data[:2].decode("ascii"), "error": None}


TIFF_LZW_SCHEMA = (
    "doc_id long, width int, height int, compression int, "
    "n_strips int, ink_sum bigint, byte_order string, error string"
)


def extract_tiff_lzw(df: DataFrame, content_col: str = "content",
                     id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> decoded metadata via one Arrow-batched
    mapInPandas pass (no shuffle)."""
    return map_blobs(df, decode_tiff_lzw, TIFF_LZW_SCHEMA, id_col, content_col)
