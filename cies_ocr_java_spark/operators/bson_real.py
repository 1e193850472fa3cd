"""REAL BSON walker on stdlib struct — the document database's wire
and storage format, and the third value-model codec beside CBOR and
MessagePack with a very different shape: BSON is SIZE-PREFIXED AND
NUL-TERMINATED AT ONCE (a document's leading int32 counts ITSELF,
its elements, and the mandatory trailing 0x00 — three redundant
framing signals that must all agree), names are cstrings, and the
format's famous quirk is that an ARRAY IS A DOCUMENT whose keys are
the ASCII-decimal strings "0", "1", "2", ... in order — a walker
that trusts the type byte but not the keys will happily accept
{"2": a, "0": b} as an array and silently permute it, so the keys
are VERIFIED here.

Types decoded: double (0x01), string (0x02 — int32 length counts the
trailing NUL), embedded document (0x03), array (0x04), binary (0x05,
subtype byte), ObjectId (0x07, 12 bytes), bool (0x08), null (0x0A),
int32 (0x10), int64 (0x12).

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed document yields an error ROW — never an exception.

Reference parity: none — beyond-reference serialization operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_MAX_DEPTH = 32


def _enc_cstring(s: str) -> bytes:
    raw = s.encode("utf-8")
    if b"\x00" in raw:
        raise ValueError("NUL in key")
    return raw + b"\x00"


def encode_bson(doc: dict, array_key_shuffle: bool = False) -> bytes:
    """Shortest-sensible BSON; ``array_key_shuffle`` writes an array's
    keys out of order (the quirk poison)."""

    def enc_value(v) -> tuple[int, bytes]:
        if isinstance(v, bool):
            return 0x08, b"\x01" if v else b"\x00"
        if v is None:
            return 0x0A, b""
        if isinstance(v, float):
            return 0x01, struct.pack("<d", v)
        if isinstance(v, int):
            if -(1 << 31) <= v < 1 << 31:
                return 0x10, struct.pack("<i", v)
            return 0x12, struct.pack("<q", v)
        if isinstance(v, str):
            raw = v.encode("utf-8") + b"\x00"
            return 0x02, struct.pack("<i", len(raw)) + raw
        if isinstance(v, bytes):
            if len(v) == 12:
                return 0x07, v  # ObjectId
            return 0x05, struct.pack("<i", len(v)) + b"\x00" + v
        if isinstance(v, list):
            keys = [str(k) for k in range(len(v))]
            if array_key_shuffle and len(v) >= 2:
                keys[0], keys[1] = keys[1], keys[0]
            return 0x04, enc_doc(dict(zip(keys, v)))
        if isinstance(v, dict):
            return 0x03, enc_doc(v)
        raise ValueError(f"unsupported type {type(v).__name__}")

    def enc_doc(d: dict) -> bytes:
        body = b""
        for k, v in d.items():
            t, payload = enc_value(v)
            body += bytes([t]) + _enc_cstring(k) + payload
        return struct.pack("<i", len(body) + 5) + body + b"\x00"

    return enc_doc(doc)


def _read_cstring(data: bytes, pos: int) -> tuple[str, int]:
    end = data.find(b"\x00", pos)
    if end < 0:
        raise ValueError("unterminated cstring")
    return data[pos:end].decode("utf-8"), end + 1


def decode_bson(data: bytes, depth: int = 0):
    """One complete document; the three framing signals (size field,
    trailing NUL, element walk landing exactly on it) must agree."""
    if depth > _MAX_DEPTH:
        raise ValueError("nesting too deep")
    if len(data) < 5:
        raise ValueError("document too short")
    (size,) = struct.unpack_from("<i", data, 0)
    if size != len(data):
        raise ValueError("document size mismatch")
    if data[-1] != 0:
        raise ValueError("missing document terminator")
    pos = 4
    out: dict = {}
    while True:
        t = data[pos]
        if t == 0:
            if pos != len(data) - 1:
                raise ValueError("terminator before declared end")
            return out
        pos += 1
        key, pos = _read_cstring(data, pos)
        if t == 0x01:
            if pos + 8 > len(data) - 1:
                raise ValueError("double overruns document")
            out[key] = struct.unpack_from("<d", data, pos)[0]
            pos += 8
        elif t == 0x02:
            (ln,) = struct.unpack_from("<i", data, pos)
            pos += 4
            if ln < 1 or pos + ln > len(data) - 1:
                raise ValueError("string overruns document")
            if data[pos + ln - 1] != 0:
                raise ValueError("string missing terminator")
            out[key] = data[pos:pos + ln - 1].decode("utf-8")
            pos += ln
        elif t in (0x03, 0x04):
            (ln,) = struct.unpack_from("<i", data, pos)
            if ln < 5 or pos + ln > len(data) - 1:
                raise ValueError("embedded document overruns")
            sub = decode_bson(data[pos:pos + ln], depth + 1)
            pos += ln
            if t == 0x04:
                expect = [str(k) for k in range(len(sub))]
                if list(sub.keys()) != expect:
                    raise ValueError(
                        f"array keys not sequential under {key}")
                out[key] = list(sub.values())
            else:
                out[key] = sub
        elif t == 0x05:
            (ln,) = struct.unpack_from("<i", data, pos)
            pos += 4
            if ln < 0 or pos + 1 + ln > len(data) - 1:
                raise ValueError("binary overruns document")
            out[key] = data[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        elif t == 0x07:
            if pos + 12 > len(data) - 1:
                raise ValueError("objectid overruns document")
            out[key] = data[pos:pos + 12]
            pos += 12
        elif t == 0x08:
            if data[pos] not in (0, 1):
                raise ValueError("bad boolean byte")
            out[key] = bool(data[pos])
            pos += 1
        elif t == 0x0A:
            out[key] = None
        elif t == 0x10:
            if pos + 4 > len(data) - 1:
                raise ValueError("int32 overruns document")
            out[key] = struct.unpack_from("<i", data, pos)[0]
            pos += 4
        elif t == 0x12:
            if pos + 8 > len(data) - 1:
                raise ValueError("int64 overruns document")
            out[key] = struct.unpack_from("<q", data, pos)[0]
            pos += 8
        else:
            raise ValueError(f"unsupported bson type 0x{t:02x}")
        if pos >= len(data):
            raise ValueError("element walk overran terminator")


_BSON_NONE = {"rid": None, "name": None, "n_tags": None, "tags": None,
              "ratio": None, "oid": None, "blob_len": None,
              "active": None, "note_isnull": None, "nested_city": None}


def parse_bson_doc(data: bytes | None) -> dict:
    if data is None or len(data) < 5:
        return {**_BSON_NONE, "error": "short or missing payload"}
    try:
        v = decode_bson(bytes(data))
    except ValueError as e:
        return {**_BSON_NONE, "error": str(e)}
    except UnicodeDecodeError:
        return {**_BSON_NONE, "error": "invalid utf-8"}
    tags = v.get("tags")
    if not isinstance(tags, list) or not isinstance(v.get("meta"),
                                                    dict):
        return {**_BSON_NONE, "error": "unexpected document shape"}
    return {
        "rid": v.get("id") if isinstance(v.get("id"), int) else None,
        "name": v.get("name")
        if isinstance(v.get("name"), str) else None,
        "n_tags": len(tags),
        "tags": ",".join(str(t) for t in tags),
        "ratio": v.get("ratio")
        if isinstance(v.get("ratio"), float) else None,
        "oid": v["oid"].hex()
        if isinstance(v.get("oid"), bytes) and len(v["oid"]) == 12
        else None,
        "blob_len": len(v["blob"])
        if isinstance(v.get("blob"), bytes) else None,
        "active": None if "active" not in v
        else int(bool(v["active"])),
        "note_isnull": int(v.get("note") is None),
        "nested_city": v["meta"].get("city")
        if isinstance(v["meta"].get("city"), str) else None,
        "error": None,
    }


BSON_SCHEMA = (
    "doc_id long, rid bigint, name string, n_tags int, tags string, "
    "ratio double, oid string, blob_len int, active int, "
    "note_isnull int, nested_city string, error string"
)


def extract_bson_docs(df: DataFrame, content_col: str = "content",
                      id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> decoded fields via one Arrow-batched
    mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_bson_doc, BSON_SCHEMA, id_col, content_col)
