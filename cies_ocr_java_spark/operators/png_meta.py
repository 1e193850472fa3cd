"""PNG ancillary METADATA chunks: tEXt / zTXt / iTXt / pHYs.

multimodal.decode_png proved the pixel path (chunk CRCs, inflate,
unfiltering); real crawl PNGs also carry METADATA between IHDR and
IDAT, in three text-chunk generations whose differences are exactly
the kind of thing a sloppy extractor corrupts:

  * ``tEXt`` — Latin-1 ``key\\0value`` (keys 1..79 bytes, Latin-1 —
    NOT UTF-8: 0xE9 here is 'é', not a truncated sequence);
  * ``zTXt`` — ``key\\0`` + compression method byte (0 = zlib) +
    deflated Latin-1 value;
  * ``iTXt`` — ``key\\0`` + compression flag + method + language tag
    ``\\0`` + translated keyword ``\\0`` + UTF-8 value (optionally
    deflated) — the only UTF-8 island in the format;

plus ``pHYs`` (9 bytes: pixels-per-unit X/Y + unit flag), the DPI
fact image pipelines normalize by.

The walk here is independent of the pixel decoder on purpose: the
signature + length/type/CRC framing is re-verified per chunk, IHDR
must come first and IEND last, and every malformed metadata payload
degrades to an error row while the PIXEL path would still decode —
metadata gates must never take down image decode, and vice versa."""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.multimodal import _PNG_SIG, build_png
from cies_ocr_java_spark.operators.walker import map_blobs

__all__ = ["build_png_meta", "parse_png_meta", "extract_png_meta",
           "PNG_META_SCHEMA"]


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))


def build_png_meta(width: int, height: int, value: int, *,
                   texts: list[tuple[str, str, str]] = (),
                   itxt: tuple[str, str, str] | None = None,
                   phys: tuple[int, int, int] | None = None,
                   poison: str | None = None) -> bytes:
    """A real PNG (multimodal.build_png pixels) with metadata chunks
    spliced between IHDR and IDAT. ``texts`` is (kind, key, value)
    with kind 'text' or 'ztxt'; ``itxt`` is (key, lang, value).
    ``poison``: ``crc`` (first text chunk's CRC flipped), ``zmethod``
    (zTXt compression method 1), ``bad_utf8`` (iTXt value bytes
    invalid UTF-8), ``bad_key`` (empty tEXt key)."""
    base = build_png(width, height, value)
    ihdr_end = len(_PNG_SIG) + 8 + 13 + 4
    meta = bytearray()
    first_text = True
    for kind, key, val in texts:
        kb = key.encode("latin-1")
        if poison == "bad_key" and first_text:
            kb = b""
        if kind == "text":
            c = _chunk(b"tEXt", kb + b"\x00" + val.encode("latin-1"))
        else:
            method = b"\x01" if poison == "zmethod" else b"\x00"
            c = _chunk(b"zTXt", kb + b"\x00" + method
                       + zlib.compress(val.encode("latin-1")))
        if poison == "crc" and first_text:
            c = c[:-1] + bytes([c[-1] ^ 0xFF])
        first_text = False
        meta += c
    if itxt is not None:
        key, lang, val = itxt
        vb = val.encode("utf-8")
        if poison == "bad_utf8":
            vb = b"\xff\xfe\xfd"
        meta += _chunk(b"iTXt", key.encode("latin-1") + b"\x00\x00\x00"
                       + lang.encode("latin-1") + b"\x00" + b"\x00" + vb)
    if phys is not None:
        px, py, unit = phys
        meta += _chunk(b"pHYs", struct.pack(">IIB", px, py, unit))
    return base[:ihdr_end] + bytes(meta) + base[ihdr_end:]


class _PngMetaError(Exception):
    pass


def parse_png_meta(data: bytes | None) -> dict:
    """-> {n_chunks, n_text, kv, lang, phys_x, phys_y, phys_unit,
    error}; kv is 'key=value' pairs in chunk order, '|'-joined."""
    none = {"n_chunks": None, "n_text": None, "kv": None, "lang": None,
            "phys_x": None, "phys_y": None, "phys_unit": None}
    if data is None or len(data) < len(_PNG_SIG) + 12:
        return {**none, "error": "short or missing payload"}
    data = bytes(data)
    try:
        if data[:len(_PNG_SIG)] != _PNG_SIG:
            raise _PngMetaError("bad signature")
        pos = len(_PNG_SIG)
        n_chunks = n_text = 0
        kvs: list[str] = []
        lang = None
        phys = (None, None, None)
        first = True
        ended = False
        while pos < len(data):
            if pos + 8 > len(data):
                raise _PngMetaError("truncated chunk header")
            (length,) = struct.unpack_from(">I", data, pos)
            ctype = data[pos + 4:pos + 8]
            body_at = pos + 8
            if body_at + length + 4 > len(data):
                raise _PngMetaError("truncated chunk")
            body = data[body_at:body_at + length]
            (crc,) = struct.unpack_from(">I", data, body_at + length)
            if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
                raise _PngMetaError("chunk crc mismatch")
            if first and ctype != b"IHDR":
                raise _PngMetaError("IHDR not first")
            first = False
            if ended:
                raise _PngMetaError("chunk after IEND")
            n_chunks += 1
            if ctype == b"IEND":
                ended = True
            elif ctype == b"tEXt":
                z = body.find(b"\x00")
                if z < 1 or z > 79:
                    raise _PngMetaError("bad text key")
                kvs.append(body[:z].decode("latin-1") + "="
                           + body[z + 1:].decode("latin-1"))
                n_text += 1
            elif ctype == b"zTXt":
                z = body.find(b"\x00")
                if z < 1 or z > 79:
                    raise _PngMetaError("bad text key")
                if body[z + 1:z + 2] != b"\x00":
                    raise _PngMetaError("unsupported zTXt method")
                try:
                    val = zlib.decompress(body[z + 2:])
                except zlib.error as e:
                    raise _PngMetaError(
                        f"zTXt inflate failed: {e}") from None
                kvs.append(body[:z].decode("latin-1") + "="
                           + val.decode("latin-1"))
                n_text += 1
            elif ctype == b"iTXt":
                z = body.find(b"\x00")
                if z < 1 or z > 79:
                    raise _PngMetaError("bad text key")
                comp_flag, comp_method = body[z + 1], body[z + 2]
                rest = body[z + 3:]
                l2 = rest.find(b"\x00")
                if l2 < 0:
                    raise _PngMetaError("truncated iTXt")
                lang = rest[:l2].decode("latin-1")
                rest = rest[l2 + 1:]
                l3 = rest.find(b"\x00")
                if l3 < 0:
                    raise _PngMetaError("truncated iTXt")
                vb = rest[l3 + 1:]
                if comp_flag == 1:
                    if comp_method != 0:
                        raise _PngMetaError("unsupported iTXt method")
                    try:
                        vb = zlib.decompress(vb)
                    except zlib.error as e:
                        raise _PngMetaError(
                            f"iTXt inflate failed: {e}") from None
                try:
                    val = vb.decode("utf-8")
                except UnicodeDecodeError:
                    raise _PngMetaError("invalid utf-8 in iTXt") from None
                kvs.append(body[:z].decode("latin-1") + "=" + val)
                n_text += 1
            elif ctype == b"pHYs":
                if length != 9:
                    raise _PngMetaError("bad pHYs length")
                px, py, unit = struct.unpack_from(">IIB", body, 0)
                phys = (px, py, unit)
            pos = body_at + length + 4
        if not ended:
            raise _PngMetaError("missing IEND")
        return {"n_chunks": n_chunks, "n_text": n_text,
                "kv": "|".join(kvs), "lang": lang,
                "phys_x": phys[0], "phys_y": phys[1],
                "phys_unit": phys[2], "error": None}
    except _PngMetaError as e:
        return {**none, "error": str(e)}


PNG_META_SCHEMA = (
    "doc_id long, n_chunks int, n_text int, kv string, lang string, "
    "phys_x bigint, phys_y bigint, phys_unit int, error string"
)


def extract_png_meta(df: DataFrame, content_col: str = "content",
                     id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> metadata rows, one Arrow-batched pass."""
    return map_blobs(df, parse_png_meta, PNG_META_SCHEMA, id_col, content_col)
