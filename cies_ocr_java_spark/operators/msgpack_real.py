"""REAL MessagePack walker on stdlib struct — CBOR's older sibling
(cbor_real.py) with the opposite design trade: where CBOR spends a
uniform major-type/argument head everywhere, MessagePack packs small
values INTO the marker byte itself (positive fixint 0x00-0x7f,
negative fixint 0xe0-0xff, fixstr 0xa0-0xbf, fixmap 0x80-0x8f,
fixarray 0x90-0x9f) and falls back to width-suffixed markers (uint8..
uint64 0xcc-0xcf, int8..int64 0xd0-0xd3, str8/16/32, bin8/16/32,
array16/32, map16/32, float64) only when it must.

The encoder here is SHORTEST-FORM by construction (the msgpack spec
recommendation), which makes decode(encode(x)) == x a complete
round-trip property; the decoder is bounds-gated, depth-capped, and
rejects trailing bytes (a value must consume the payload EXACTLY —
the CBOR walk's discipline).  Cross-codec: any decoded value can be
re-encoded as RFC 8949 deterministic CBOR via cbor_real.encode_cbor —
the two first-principles codecs meet in the transcode property test.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed payload yields an error ROW — never an exception.

Reference parity: none — beyond-reference serialization operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_MAX_DEPTH = 32


def encode_msgpack(obj) -> bytes:
    """Shortest-form MessagePack encoding.  dict keys must be str
    (the JSON-ish subset both codecs share)."""
    if obj is None:
        return b"\xc0"
    if obj is True:
        return b"\xc3"
    if obj is False:
        return b"\xc2"
    if isinstance(obj, int):
        if 0 <= obj <= 0x7F:
            return bytes([obj])
        if -32 <= obj < 0:
            return bytes([obj & 0xFF])
        if obj >= 0:
            for mk, fmt, lim in ((0xCC, ">B", 1 << 8),
                                 (0xCD, ">H", 1 << 16),
                                 (0xCE, ">I", 1 << 32),
                                 (0xCF, ">Q", 1 << 64)):
                if obj < lim:
                    return bytes([mk]) + struct.pack(fmt, obj)
            raise ValueError("int too large for msgpack")
        for mk, fmt, lim in ((0xD0, ">b", 1 << 7),
                             (0xD1, ">h", 1 << 15),
                             (0xD2, ">i", 1 << 31),
                             (0xD3, ">q", 1 << 63)):
            if -lim <= obj:
                return bytes([mk]) + struct.pack(fmt, obj)
        raise ValueError("int too small for msgpack")
    if isinstance(obj, float):
        return b"\xcb" + struct.pack(">d", obj)
    if isinstance(obj, str):
        raw = obj.encode("utf-8")
        n = len(raw)
        if n <= 31:
            return bytes([0xA0 | n]) + raw
        for mk, fmt, lim in ((0xD9, ">B", 1 << 8), (0xDA, ">H", 1 << 16),
                             (0xDB, ">I", 1 << 32)):
            if n < lim:
                return bytes([mk]) + struct.pack(fmt, n) + raw
        raise ValueError("string too long")
    if isinstance(obj, bytes):
        n = len(obj)
        for mk, fmt, lim in ((0xC4, ">B", 1 << 8), (0xC5, ">H", 1 << 16),
                             (0xC6, ">I", 1 << 32)):
            if n < lim:
                return bytes([mk]) + struct.pack(fmt, n) + obj
        raise ValueError("bytes too long")
    if isinstance(obj, list):
        n = len(obj)
        if n <= 15:
            head = bytes([0x90 | n])
        elif n < 1 << 16:
            head = b"\xdc" + struct.pack(">H", n)
        else:
            head = b"\xdd" + struct.pack(">I", n)
        return head + b"".join(encode_msgpack(v) for v in obj)
    if isinstance(obj, dict):
        n = len(obj)
        if n <= 15:
            head = bytes([0x80 | n])
        elif n < 1 << 16:
            head = b"\xde" + struct.pack(">H", n)
        else:
            head = b"\xdf" + struct.pack(">I", n)
        out = bytearray(head)
        for k, v in obj.items():
            if not isinstance(k, str):
                raise ValueError("map keys must be str")
            out += encode_msgpack(k) + encode_msgpack(v)
        return bytes(out)
    raise ValueError(f"unsupported type {type(obj).__name__}")


def _take(data: bytes, pos: int, n: int) -> int:
    if pos + n > len(data):
        raise ValueError("unexpected end of input")
    return pos + n


def _decode(data: bytes, pos: int, depth: int):
    if depth > _MAX_DEPTH:
        raise ValueError("nesting too deep")
    _take(data, pos, 1)
    m = data[pos]
    pos += 1
    if m <= 0x7F:
        return m, pos
    if m >= 0xE0:
        return m - 0x100, pos
    if 0xA0 <= m <= 0xBF:
        end = _take(data, pos, m & 0x1F)
        return data[pos:end].decode("utf-8"), end
    if 0x90 <= m <= 0x9F:
        out = []
        for _ in range(m & 0x0F):
            v, pos = _decode(data, pos, depth + 1)
            out.append(v)
        return out, pos
    if 0x80 <= m <= 0x8F:
        out = {}
        for _ in range(m & 0x0F):
            k, pos = _decode(data, pos, depth + 1)
            if not isinstance(k, str):
                raise ValueError("non-string map key")
            v, pos = _decode(data, pos, depth + 1)
            out[k] = v
        return out, pos
    if m == 0xC0:
        return None, pos
    if m == 0xC2:
        return False, pos
    if m == 0xC3:
        return True, pos
    if m in (0xCC, 0xCD, 0xCE, 0xCF):
        n = 1 << (m - 0xCC)
        end = _take(data, pos, n)
        return int.from_bytes(data[pos:end], "big"), end
    if m in (0xD0, 0xD1, 0xD2, 0xD3):
        n = 1 << (m - 0xD0)
        end = _take(data, pos, n)
        return int.from_bytes(data[pos:end], "big", signed=True), end
    if m == 0xCB:
        end = _take(data, pos, 8)
        return struct.unpack(">d", data[pos:end])[0], end
    if m == 0xCA:
        end = _take(data, pos, 4)
        return struct.unpack(">f", data[pos:end])[0], end
    if m in (0xD9, 0xDA, 0xDB):
        w = 1 << (m - 0xD9)
        end = _take(data, pos, w)
        n = int.from_bytes(data[pos:end], "big")
        pos = end
        end = _take(data, pos, n)
        return data[pos:end].decode("utf-8"), end
    if m in (0xC4, 0xC5, 0xC6):
        w = 1 << (m - 0xC4)
        end = _take(data, pos, w)
        n = int.from_bytes(data[pos:end], "big")
        pos = end
        end = _take(data, pos, n)
        return data[pos:end], end
    if m in (0xDC, 0xDD):
        w = 2 << (m - 0xDC)
        end = _take(data, pos, w)
        n = int.from_bytes(data[pos:end], "big")
        pos = end
        out = []
        for _ in range(n):
            v, pos = _decode(data, pos, depth + 1)
            out.append(v)
        return out, pos
    if m in (0xDE, 0xDF):
        w = 2 << (m - 0xDE)
        end = _take(data, pos, w)
        n = int.from_bytes(data[pos:end], "big")
        pos = end
        out = {}
        for _ in range(n):
            k, pos = _decode(data, pos, depth + 1)
            if not isinstance(k, str):
                raise ValueError("non-string map key")
            v, pos = _decode(data, pos, depth + 1)
            out[k] = v
        return out, pos
    raise ValueError(f"unsupported marker 0x{m:02x}")


def decode_msgpack(data: bytes):
    """One complete value; trailing bytes are an error (the CBOR walk
    discipline)."""
    v, pos = _decode(bytes(data), 0, 0)
    if pos != len(data):
        raise ValueError("trailing bytes after value")
    return v


_MP_NONE = {"rid": None, "name": None, "n_tags": None, "tags": None,
            "ratio": None, "blob_len": None, "ok": None, "neg": None,
            "note": None}


def parse_msgpack_doc(data: bytes | None) -> dict:
    """Decode the fixed document map and surface its fields; every
    malformed payload yields an error row."""
    if data is None or len(data) == 0:
        return {**_MP_NONE, "error": "short or missing payload"}
    try:
        v = decode_msgpack(bytes(data))
    except ValueError as e:
        return {**_MP_NONE, "error": str(e)}
    except UnicodeDecodeError:
        return {**_MP_NONE, "error": "invalid utf-8 string"}
    if not isinstance(v, dict):
        return {**_MP_NONE, "error": "top-level value is not a map"}
    tags = v.get("tags")
    if not isinstance(tags, list):
        return {**_MP_NONE, "error": "missing tags array"}
    return {
        "rid": v.get("id"),
        "name": v.get("name"),
        "n_tags": len(tags),
        "tags": ",".join(str(t) for t in tags),
        "ratio": v.get("ratio"),
        "blob_len": len(v["blob"]) if isinstance(v.get("blob"), bytes)
        else None,
        "ok": None if "ok" not in v else int(bool(v["ok"])),
        "neg": v.get("neg"),
        "note": v.get("note"),
        "error": None,
    }


MSGPACK_SCHEMA = (
    "doc_id long, rid bigint, name string, n_tags int, tags string, "
    "ratio double, blob_len int, ok int, neg int, note string, "
    "error string"
)


def extract_msgpack_docs(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> decoded document fields via one
    Arrow-batched mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_msgpack_doc, MSGPACK_SCHEMA,
                     id_col, content_col)
