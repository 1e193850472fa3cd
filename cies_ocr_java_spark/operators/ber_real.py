"""BER walker — the lenient encoding DER deliberately forbids
(operators/der_real.py enforces the strict rules; this module
accepts and COUNTS the freedoms): INDEFINITE lengths (length octet
0x80) are legal on CONSTRUCTED values only — the body runs until a
matching end-of-contents (two zero bytes) at the SAME nesting
level, EOCs pair with indefinite openers like brackets and an EOC
anywhere else is a named error; long-form definite lengths need
NOT be minimal (0x81 0x05 for five bytes is valid BER, counted
here as a non-minimality — the DER/CBOR canonicality gates in
reverse); and a logically-primitive string type may arrive
CONSTRUCTED, its content split across primitive segments that
reassemble by concatenation (the fragmentation move WebSocket and
HTTP/2 make at other layers). High-tag-number form (tag 0x1F +
base-128 continuation bytes) is decoded for completeness.

Failure contract: every malformed value yields an error ROW.

Reference parity: none — crypto-envelope recovery is
beyond-reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs


def enc_len(n: int, *, wide: int = 0) -> bytes:
    """Definite length; wide>0 forces a non-minimal long form with
    that many EXTRA leading zero bytes."""
    if wide == 0 and n < 0x80:
        return bytes((n,))
    body = n.to_bytes(max(1, (n.bit_length() + 7) // 8), "big")
    body = b"\x00" * wide + body
    return bytes((0x80 | len(body),)) + body


def tlv(tag: int, body: bytes, *, wide: int = 0) -> bytes:
    return bytes((tag,)) + enc_len(len(body), wide=wide) + body


def indef(tag: int, body: bytes, *,
          drop_eoc: bool = False) -> bytes:
    out = bytes((tag,)) + b"\x80" + body
    if not drop_eoc:
        out += b"\x00\x00"
    return out


_BER_NONE = {
    "n_values": None, "max_depth": None, "n_indefinite": None,
    "n_nonminimal": None, "content_bytes": None,
    "n_constructed_strings": None,
}


def parse_ber(data: bytes | None) -> dict:
    if data is None or len(data) < 2:
        return {**_BER_NONE, "error": "short or missing payload"}
    data = bytes(data)
    st = {"values": 0, "maxd": 0, "indef": 0, "nonmin": 0,
          "content": 0, "cstr": 0}

    def walk(pos: int, end: int, depth: int,
             in_indef: bool) -> int:
        """Parse values in data[pos:end]; returns pos after the
        region (for indefinite: after the matching EOC)."""
        if depth > 32:
            raise ValueError("nesting too deep")
        st["maxd"] = max(st["maxd"], depth)
        while pos < end:
            tag = data[pos]
            if tag == 0 and pos + 1 < end and data[pos + 1] == 0:
                if in_indef:
                    return pos + 2
                raise ValueError("unexpected end-of-contents")
            pos += 1
            if tag & 0x1F == 0x1F:  # high tag number form
                while True:
                    if pos >= end:
                        raise ValueError("truncated tag")
                    b = data[pos]
                    pos += 1
                    if not b & 0x80:
                        break
            constructed = bool(tag & 0x20)
            if pos >= end:
                raise ValueError("truncated length")
            l0 = data[pos]
            pos += 1
            if l0 == 0x80:
                if not constructed:
                    raise ValueError(
                        "indefinite length on primitive")
                st["indef"] += 1
                st["values"] += 1
                if (tag & 0x1F) in (0x04, 0x0C):
                    st["cstr"] += 1
                pos = walk(pos, end, depth + 1, True)
                continue
            if l0 & 0x80:
                nb = l0 & 0x7F
                if pos + nb > end:
                    raise ValueError("truncated length")
                raw = data[pos:pos + nb]
                pos += nb
                n = int.from_bytes(raw, "big")
                if raw[0] == 0 or (nb == 1 and n < 0x80):
                    st["nonmin"] += 1
            else:
                n = l0
            if pos + n > end:
                raise ValueError("value overruns container")
            st["values"] += 1
            if constructed:
                if (tag & 0x1F) in (0x04, 0x0C):
                    st["cstr"] += 1
                inner_end = pos + n
                p2 = walk(pos, inner_end, depth + 1, False)
                if p2 != inner_end:
                    raise ValueError("constructed under-consumed")
                pos = inner_end
            else:
                st["content"] += n
                pos += n
        if in_indef:
            raise ValueError("missing end-of-contents")
        return pos

    try:
        final = walk(0, len(data), 1, False)
        if final != len(data):
            raise ValueError("trailing bytes after value")
    except ValueError as e:
        return {**_BER_NONE, "error": str(e)}
    except RecursionError:
        return {**_BER_NONE, "error": "nesting too deep"}
    return {
        "n_values": st["values"], "max_depth": st["maxd"],
        "n_indefinite": st["indef"], "n_nonminimal": st["nonmin"],
        "content_bytes": st["content"],
        "n_constructed_strings": st["cstr"], "error": None,
    }


_BER_SCHEMA = (
    "doc_id long, n_values int, max_depth int, n_indefinite int, "
    "n_nonminimal int, content_bytes bigint, "
    "n_constructed_strings int, error string"
)


def extract_ber_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_ber, _BER_SCHEMA, id_col, content_col)
