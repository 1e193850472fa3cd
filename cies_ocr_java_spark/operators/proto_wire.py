"""Protobuf WIRE-FORMAT walker on pure stdlib — the serialization format
training-data pipelines actually ship records in (TFRecord payloads,
gRPC ingest, WARC sidecars).

The wire format (protobuf encoding spec): a message is a sequence of
``tag`` + payload, where tag is a base-128 VARINT carrying
``(field_number << 3) | wire_type``.  Wire types: 0 = varint, 1 = fixed64,
2 = length-delimited (strings, bytes, SUB-MESSAGES), 5 = fixed32.  Two
obligations make a reader real:

* UNKNOWN-FIELD SKIP — forward compatibility demands unknown field
  numbers be skipped BY WIRE TYPE (you cannot skip what you cannot
  frame); a reader that errors on unknown fields breaks on every schema
  evolution;
* BOUNDED VARINTS — a varint longer than 10 bytes or running past EOF
  is malformed, not "keep reading" (the token_bin fail-loud rule).

Failure contract (the MediaCodec discipline): every malformed payload
yields an error ROW, never an exception.

Reference parity: none — the reference's payloads are JSON through API
Gateway; wire-format ingest is beyond-reference.  Schema registry
analog: the closed test message is
``Doc { int64 id=1; string name=2; int64 big=3; Inner nested=4; }``
with ``Inner { int64 n=1; string s=2; }``; unknown fields appear under
numbers >= 9 in fixtures."""

from __future__ import annotations

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_MAX_VARINT_BYTES = 10


def encode_varint(n: int) -> bytes:
    if n < 0:
        raise ValueError("varint must be non-negative here")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _decode_varint(data: bytes, pos: int) -> tuple[int, int]:
    """(value, new_pos); raises ValueError on truncation/overlength."""
    result = 0
    shift = 0
    start = pos
    while True:
        if pos >= len(data):
            raise ValueError("truncated varint")
        if pos - start >= _MAX_VARINT_BYTES:
            raise ValueError("varint too long")
        b = data[pos]
        result |= (b & 0x7F) << shift
        pos += 1
        if not b & 0x80:
            return result, pos
        shift += 7


def build_proto_doc(doc_id: int, name: str, big: int,
                    inner_n: int, inner_s: str,
                    unknown_fields: int = 0) -> bytes:
    """Emit the closed Doc message, optionally followed by
    ``unknown_fields`` extra fields under numbers 9.. (alternating
    varint / length-delimited wire types) a forward-compatible reader
    must skip."""
    def field(num: int, wt: int, payload: bytes) -> bytes:
        return encode_varint((num << 3) | wt) + payload

    inner = (field(1, 0, encode_varint(inner_n))
             + field(2, 2, encode_varint(len(inner_s.encode()))
                     + inner_s.encode()))
    nb = name.encode()
    out = (field(1, 0, encode_varint(doc_id))
           + field(2, 2, encode_varint(len(nb)) + nb)
           + field(3, 0, encode_varint(big))
           + field(4, 2, encode_varint(len(inner)) + inner))
    for u in range(unknown_fields):
        if u % 2 == 0:
            out += field(9 + u, 0, encode_varint(777 + u))
        else:
            body = b"skipme" + bytes([u])
            out += field(9 + u, 2, encode_varint(len(body)) + body)
    return out


_PROTO_NONE = {"f_id": None, "name": None, "big": None,
               "inner_n": None, "inner_s": None, "n_unknown": None}


def parse_proto_doc(data: bytes | None) -> dict:
    """Walk the wire: known fields decode, unknown fields skip by wire
    type, field 4 recurses into Inner.  Error rows for truncated
    varints/lengths, unskippable wire types, and over-length frames."""
    if data is None or len(data) == 0:
        return {**_PROTO_NONE, "error": "short or missing payload"}
    data = bytes(data)

    def walk(lo: int, hi: int, depth: int) -> dict:
        if depth > 8:
            raise ValueError("message nesting too deep")
        out: dict = {}
        unknown = 0
        pos = lo
        while pos < hi:
            tag, pos = _decode_varint(data, pos)
            num, wt = tag >> 3, tag & 0x07
            if wt == 0:
                val, pos = _decode_varint(data, pos)
            elif wt == 2:
                ln, pos = _decode_varint(data, pos)
                if pos + ln > hi:
                    raise ValueError("length-delimited field overruns")
                val = (pos, pos + ln)
                pos += ln
            elif wt == 1:
                if pos + 8 > hi:
                    raise ValueError("fixed64 overruns")
                val = int.from_bytes(data[pos:pos + 8], "little")
                pos += 8
            elif wt == 5:
                if pos + 4 > hi:
                    raise ValueError("fixed32 overruns")
                val = int.from_bytes(data[pos:pos + 4], "little")
                pos += 4
            else:
                raise ValueError(f"unskippable wire type {wt}")
            key = (num, wt)
            if depth == 0 and key in ((1, 0), (2, 2), (3, 0), (4, 2)):
                out[num] = val
            elif depth == 1 and key in ((1, 0), (2, 2)):
                out[num] = val
            else:
                unknown += 1
        out["_unknown"] = unknown
        return out

    try:
        top = walk(0, len(data), 0)
        f_id = top.get(1)
        name = None
        if 2 in top:
            a, b = top[2]
            name = data[a:b].decode("utf-8", "replace")
        big = top.get(3)
        inner_n = inner_s = None
        n_unknown = top["_unknown"]
        if 4 in top:
            a, b = top[4]
            inner = walk(a, b, 1)
            inner_n = inner.get(1)
            if 2 in inner:
                ia, ib = inner[2]
                inner_s = data[ia:ib].decode("utf-8", "replace")
            n_unknown += inner["_unknown"]
        return {"f_id": f_id, "name": name, "big": big,
                "inner_n": inner_n, "inner_s": inner_s,
                "n_unknown": n_unknown, "error": None}
    except ValueError as e:
        return {**_PROTO_NONE, "error": str(e)}


PROTO_DOC_SCHEMA = (
    "doc_id long, f_id bigint, name string, big bigint, inner_n bigint, "
    "inner_s string, n_unknown int, error string"
)


def extract_proto_docs(df: DataFrame, content_col: str = "content",
                       id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> decoded Doc rows via one Arrow-batched
    mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_proto_doc, PROTO_DOC_SCHEMA,
                     id_col, content_col)


# --- groups (wire types 3/4) + packed repeated fields -----------------


def build_proto_groups(top: list, *,
                       mismatch_end: bool = False,
                       drop_end: bool = False,
                       stray_end: bool = False) -> bytes:
    """top: list of ('int', num, v) | ('group', num, sublist) |
    ('packed', num, [values]). Emits SGROUP/EGROUP pairs (the
    deprecated wire types 3/4 that proto1 used for nesting)."""
    out = bytearray()

    def emit(items: list, depth: int) -> None:
        for it in items:
            kind = it[0]
            if kind == "int":
                _, num, v = it
                out.extend(encode_varint((num << 3) | 0))
                out.extend(encode_varint(v))
            elif kind == "packed":
                _, num, vals = it
                body = b"".join(encode_varint(v) for v in vals)
                out.extend(encode_varint((num << 3) | 2))
                out.extend(encode_varint(len(body)))
                out.extend(body)
            else:
                _, num, sub = it
                out.extend(encode_varint((num << 3) | 3))
                emit(sub, depth + 1)
                end_num = num + (1 if mismatch_end
                                 and depth == 0 else 0)
                if not (drop_end and depth == 0):
                    out.extend(encode_varint((end_num << 3) | 4))

    emit(top, 0)
    if stray_end:
        out.extend(encode_varint((9 << 3) | 4))
    return bytes(out)


_PG_NONE = {
    "n_fields": None, "n_groups": None, "max_group_depth": None,
    "int_sum": None, "n_packed_values": None, "packed_sum": None,
}


def parse_proto_groups(data: bytes | None) -> dict:
    """Group-aware walk: SGROUP opens a scope whose EGROUP must carry
    the SAME field number (the bracket rule proto1 relied on);
    packed wt-2 fields on number 5 decode as concatenated varints
    with exact consumption."""
    if data is None or len(data) == 0:
        return {**_PG_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        st = {"fields": 0, "groups": 0, "maxd": 0, "isum": 0,
              "pk": 0, "psum": 0}
        stack: list[int] = []
        pos = 0
        while pos < len(data):
            tag, pos = _decode_varint(data, pos)
            num, wt = tag >> 3, tag & 0x07
            if wt == 3:
                stack.append(num)
                st["groups"] += 1
                st["maxd"] = max(st["maxd"], len(stack))
            elif wt == 4:
                if not stack:
                    raise ValueError("group end without start")
                if stack[-1] != num:
                    raise ValueError("group end mismatches start")
                stack.pop()
            elif wt == 0:
                v, pos = _decode_varint(data, pos)
                st["fields"] += 1
                st["isum"] += v
            elif wt == 2:
                ln, pos = _decode_varint(data, pos)
                if pos + ln > len(data):
                    raise ValueError(
                        "length-delimited field overruns")
                if num == 5:
                    q = pos
                    end = pos + ln
                    while q < end:
                        v, q = _decode_varint(data, q)
                        st["pk"] += 1
                        st["psum"] += v
                    if q != end:
                        raise ValueError(
                            "packed field under-consumed")
                st["fields"] += 1
                pos += ln
            elif wt == 1:
                pos += 8
                st["fields"] += 1
            elif wt == 5:
                pos += 4
                st["fields"] += 1
            else:
                raise ValueError(f"unskippable wire type {wt}")
            if pos > len(data):
                raise ValueError("field overruns message")
        if stack:
            raise ValueError("unterminated group")
    except ValueError as e:
        return {**_PG_NONE, "error": str(e)}
    return {
        "n_fields": st["fields"], "n_groups": st["groups"],
        "max_group_depth": st["maxd"], "int_sum": st["isum"],
        "n_packed_values": st["pk"], "packed_sum": st["psum"],
        "error": None,
    }


def extract_proto_group_features(df: DataFrame,
                                 content_col: str = "content",
                                 id_col: str = "doc_id"
                                 ) -> DataFrame:
    schema = ("doc_id long, n_fields int, n_groups int, "
              "max_group_depth int, int_sum bigint, "
              "n_packed_values int, packed_sum bigint, "
              "error string")
    return map_blobs(df, parse_proto_groups, schema, id_col, content_col)
