"""REAL CBOR (RFC 8949) with deterministic-encoding gates.

CBOR is the binary structured-data format of the modern wire tier
(WebAuthn, COSE, CoAP, IoT telemetry) and the natural sibling of the
repo's protobuf walker (operators/proto_wire.py): protobuf is
schema-ful tag/wire-type framing, CBOR is self-describing major-type
framing. The format is fully algorithmic — major type (3 bits) +
additional info (5 bits) + optional length/value bytes — which makes
every structural rule checkable without tables.

The reader enforces RFC 8949 §4.2 DETERMINISTIC ENCODING the way
der_real.py enforces DER canonical form — the gates a dedup/content-
address pipeline needs, because only canonical bytes make equal values
byte-equal:
  * integers and lengths in their SHORTEST form (0..23 inline; 24/25/
    26/27 only when the value needs that width);
  * map keys sorted bytewise-ascending over their ENCODED form, strict
    (an equal neighbor is a duplicate key);
  * floats in the shortest IEEE width that round-trips (float16 over
    float32 over float64);
  * no indefinite-length items;
  * tag 2 bignums only for values that cannot ride the integer form,
    with no leading zero byte;
  * text strings strictly valid UTF-8; no trailing bytes after the
    root item; nesting depth capped.

Writer (``encode_cbor``) emits exactly that canonical form from Python
values (ints of any size, bytes, str, bool, None, float, list, dict).
Reader (``parse_cbor``) decodes and VERIFIES, returning the walk
features an extraction pipeline wants (leaf sums, text concatenation in
canonical walk order, node counts, depth) — every malformed or
non-canonical payload yields an error row, never an exception."""

from __future__ import annotations

import math
import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

__all__ = ["encode_cbor", "parse_cbor", "cbor_walk_features",
           "extract_cbor_features", "CBOR_FEATURES_SCHEMA", "MAX_DEPTH"]

MAX_DEPTH = 32


class _CborError(Exception):
    pass


def _head(major: int, value: int) -> bytes:
    """Shortest-form head: the §4.2.1 core rule."""
    if value < 24:
        return bytes([(major << 5) | value])
    if value < 0x100:
        return bytes([(major << 5) | 24, value])
    if value < 0x10000:
        return bytes([(major << 5) | 25]) + value.to_bytes(2, "big")
    if value < 0x100000000:
        return bytes([(major << 5) | 26]) + value.to_bytes(4, "big")
    return bytes([(major << 5) | 27]) + value.to_bytes(8, "big")


def _encode_float(v: float) -> bytes:
    """Shortest round-tripping IEEE width (float16 -> 32 -> 64)."""
    if v != v:  # NaN canonicalizes to the half-precision quiet NaN
        return b"\xf9\x7e\x00"
    try:
        if struct.unpack(">e", struct.pack(">e", v))[0] == v:
            return b"\xf9" + struct.pack(">e", v)
    except OverflowError:
        pass
    try:
        if struct.unpack(">f", struct.pack(">f", v))[0] == v:
            return b"\xfa" + struct.pack(">f", v)
    except OverflowError:
        pass
    return b"\xfb" + struct.pack(">d", v)


def encode_cbor(obj) -> bytes:
    """Python value -> canonical CBOR bytes (RFC 8949 §4.2)."""
    if obj is False:
        return b"\xf4"
    if obj is True:
        return b"\xf5"
    if obj is None:
        return b"\xf6"
    if isinstance(obj, int):
        if obj >= 0:
            if obj < 1 << 64:
                return _head(0, obj)
            body = obj.to_bytes((obj.bit_length() + 7) // 8, "big")
            return b"\xc2" + _head(2, len(body)) + body
        n = -1 - obj
        if n < 1 << 64:
            return _head(1, n)
        body = n.to_bytes((n.bit_length() + 7) // 8, "big")
        return b"\xc3" + _head(2, len(body)) + body
    if isinstance(obj, float):
        return _encode_float(obj)
    if isinstance(obj, bytes):
        return _head(2, len(obj)) + obj
    if isinstance(obj, str):
        b = obj.encode("utf-8")
        return _head(3, len(b)) + b
    if isinstance(obj, (list, tuple)):
        return _head(4, len(obj)) + b"".join(encode_cbor(x) for x in obj)
    if isinstance(obj, dict):
        items = sorted(
            (encode_cbor(k), encode_cbor(v)) for k, v in obj.items()
        )
        return _head(5, len(items)) + b"".join(k + v for k, v in items)
    raise TypeError(f"cannot encode {type(obj).__name__}")


def _read_head(data: bytes, pos: int) -> tuple[int, int, int, int]:
    """-> (major, ai, value, new_pos), enforcing shortest form for
    integer-valued heads (major 7's payload is IEEE bits — its width IS
    the ai, checked by the float canonicality gate instead)."""
    if pos >= len(data):
        raise _CborError("truncated cbor")
    b0 = data[pos]
    major, ai = b0 >> 5, b0 & 0x1F
    if ai < 24:
        return major, ai, ai, pos + 1
    if ai == 31:
        raise _CborError("indefinite length in canonical mode")
    if ai > 27:
        raise _CborError("reserved additional info")
    width = 1 << (ai - 24)
    if pos + 1 + width > len(data):
        raise _CborError("truncated cbor")
    value = int.from_bytes(data[pos + 1:pos + 1 + width], "big")
    floors = {24: 24, 25: 0x100, 26: 0x10000, 27: 0x100000000}
    if major != 7 and value < floors[ai]:
        raise _CborError("non-minimal integer encoding")
    return major, ai, value, pos + 1 + width


def _decode_item(data: bytes, pos: int, depth: int):
    """-> (value, new_pos); raw encoded key spans are compared for map
    ordering by the map branch."""
    if depth > MAX_DEPTH:
        raise _CborError("nesting too deep")
    major, ai, value, pos = _read_head(data, pos)
    if major == 0:
        return value, pos
    if major == 1:
        return -1 - value, pos
    if major in (2, 3):
        if pos + value > len(data):
            raise _CborError("truncated cbor")
        raw = data[pos:pos + value]
        pos += value
        if major == 2:
            return raw, pos
        try:
            return raw.decode("utf-8"), pos
        except UnicodeDecodeError:
            raise _CborError("invalid utf-8 in text string") from None
    if major == 4:
        out = []
        for _ in range(value):
            item, pos = _decode_item(data, pos, depth + 1)
            out.append(item)
        return out, pos
    if major == 5:
        pairs = []
        prev_key: bytes | None = None
        for _ in range(value):
            kstart = pos
            key, pos = _decode_item(data, pos, depth + 1)
            kraw = data[kstart:pos]
            if prev_key is not None:
                if kraw == prev_key:
                    raise _CborError("duplicate map key")
                if kraw < prev_key:
                    raise _CborError("unsorted map keys")
            prev_key = kraw
            val, pos = _decode_item(data, pos, depth + 1)
            pairs.append((key, val))
        return dict(
            (k if isinstance(k, (str, int, bytes)) else str(k), v)
            for k, v in pairs
        ), pos
    if major == 6:
        if value not in (2, 3):
            raise _CborError(f"unsupported tag {value}")
        body, pos = _decode_item(data, pos, depth + 1)
        if not isinstance(body, bytes):
            raise _CborError("bignum content must be a byte string")
        if body[:1] == b"\x00":
            raise _CborError("non-canonical bignum")
        if len(body) <= 8:
            raise _CborError("bignum fits integer form")
        n = int.from_bytes(body, "big")
        return (n if value == 2 else -1 - n), pos
    # major 7: simple values and floats
    if ai < 24:
        if value == 20:
            return False, pos
        if value == 21:
            return True, pos
        if value == 22:
            return None, pos
        raise _CborError(f"unsupported simple value {value}")
    if ai == 24:
        raise _CborError("two-byte simple value")
    width = 1 << (ai - 24)
    raw = value.to_bytes(width, "big")
    if ai == 25:
        v = struct.unpack(">e", raw)[0]
        return v, pos
    if ai == 26:
        v = struct.unpack(">f", raw)[0]
        if v == v:  # NaN canonical form is checked on the encoded bytes
            try:
                if struct.unpack(">e", struct.pack(">e", v))[0] == v:
                    raise _CborError("non-minimal float encoding")
            except OverflowError:
                pass
        return v, pos
    v = struct.unpack(">d", raw)[0]
    if v == v:
        try:
            if struct.unpack(">f", struct.pack(">f", v))[0] == v:
                raise _CborError("non-minimal float encoding")
        except OverflowError:
            pass  # beyond float32 range: float64 IS the shortest form
    return v, pos


def parse_cbor(data: bytes | None):
    """Canonical CBOR bytes -> (python value, None) or (None, error)."""
    if data is None or len(data) == 0:
        return None, "short or missing payload"
    try:
        value, pos = _decode_item(bytes(data), 0, 0)
        if pos != len(data):
            raise _CborError("trailing bytes")
        return value, None
    except _CborError as e:
        return None, str(e)


def cbor_walk_features(data: bytes | None) -> dict:
    """parse + canonical-walk feature extraction: int_sum over integer
    leaves (bignums excluded, counted separately), text leaves joined by
    '/' in walk order, total node count, max depth."""
    none = {"int_sum": None, "text": None, "n_items": None,
            "max_depth": None, "n_bignums": None, "float_sum": None}
    value, err = parse_cbor(data)
    if err is not None:
        return {**none, "error": err}
    ints: list[int] = []
    texts: list[str] = []
    floats: list[float] = []
    count = 0
    deepest = 0
    bignums = 0

    def walk(v, depth: int) -> None:
        nonlocal count, deepest, bignums
        count += 1
        deepest = max(deepest, depth)
        if isinstance(v, bool) or v is None:
            return
        if isinstance(v, int):
            if -(1 << 64) <= v < (1 << 64):
                ints.append(v)
            else:
                bignums += 1
            return
        if isinstance(v, float):
            floats.append(v)
            return
        if isinstance(v, str):
            texts.append(v)
            return
        if isinstance(v, bytes):
            return
        if isinstance(v, list):
            for x in v:
                walk(x, depth + 1)
            return
        if isinstance(v, dict):
            for _k, x in v.items():
                walk(x, depth + 1)

    walk(value, 0)
    return {
        "int_sum": sum(ints), "text": "/".join(texts), "n_items": count,
        "max_depth": deepest, "n_bignums": bignums,
        "float_sum": math.fsum(floats), "error": None,
    }


CBOR_FEATURES_SCHEMA = (
    "doc_id long, int_sum bigint, text string, n_items int, "
    "max_depth int, n_bignums int, float_sum double, error string"
)


def extract_cbor_features(df: DataFrame, content_col: str = "content",
                          id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> walked cbor rows, one Arrow-batched pass."""
    return map_blobs(df, cbor_walk_features, CBOR_FEATURES_SCHEMA,
                     id_col, content_col)
