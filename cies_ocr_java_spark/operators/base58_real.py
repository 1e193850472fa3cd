"""REAL Base58Check codec — the content-addressing envelope of the
cryptocurrency world, and a different beast from every base-N codec
in the repo: base58 is NOT a bit-field regrouping (58 is not a power
of two), so encoding is whole-number BASE CONVERSION over the entire
payload — O(n²), order-sensitive, with the famous LEADING-ZERO rule:
each leading 0x00 byte is carried as a literal '1' character OUTSIDE
the big-number conversion (a round-tripper that forgets this silently
strips address version bytes).

The Check layer: payload = version byte + body, followed by the first
4 bytes of sha256(sha256(payload)) — verified here; the alphabet
excludes 0/O/I/l by design, and any excluded or foreign character is
an error naming its position.

Oracle scope (the git_object_walk rule): the decoded payload is
hex-replayed exactly in DuckDB; the double-sha256 checksum cannot be
(DuckDB hashes VARCHARs only), so the `verified` flag carries that
gate and the docstring says so.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed string yields an error ROW — never an exception.

Reference parity: none — beyond-reference encoding operator.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

ALPHABET = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
_REV = {c: k for k, c in enumerate(ALPHABET)}


def b58check_encode(payload: bytes) -> str:
    check = hashlib.sha256(
        hashlib.sha256(payload).digest()).digest()[:4]
    raw = payload + check
    n_zero = len(raw) - len(raw.lstrip(b"\x00"))
    num = int.from_bytes(raw, "big")
    out = []
    while num:
        num, r = divmod(num, 58)
        out.append(ALPHABET[r])
    return "1" * n_zero + "".join(reversed(out))


def b58check_decode(s: str) -> bytes:
    """Returns the payload (checksum stripped); raises ValueError."""
    if not s:
        raise ValueError("empty base58 string")
    num = 0
    for pos, c in enumerate(s):
        v = _REV.get(c)
        if v is None:
            raise ValueError(f"invalid base58 character at {pos}")
        num = num * 58 + v
    n_zero = len(s) - len(s.lstrip("1"))
    body = num.to_bytes((num.bit_length() + 7) // 8, "big")
    raw = b"\x00" * n_zero + body
    if len(raw) < 5:
        raise ValueError("too short for a checksum")
    payload, check = raw[:-4], raw[-4:]
    expect = hashlib.sha256(
        hashlib.sha256(payload).digest()).digest()[:4]
    if check != expect:
        raise ValueError("checksum mismatch")
    return payload


_B58_NONE = {"version": None, "payload_hex": None, "payload_len": None,
             "n_leading_ones": None, "verified": None}


def parse_b58_doc(data: bytes | None) -> dict:
    if data is None or len(data) == 0:
        return {**_B58_NONE, "error": "empty base58 string"}
    try:
        s = bytes(data).decode("ascii")
        payload = b58check_decode(s)
    except (ValueError, UnicodeDecodeError) as e:
        msg = str(e) if isinstance(e, ValueError) \
            else "non-ascii base58 input"
        return {**_B58_NONE, "error": msg}
    return {
        "version": payload[0] if payload else None,
        "payload_hex": payload.hex(),
        "payload_len": len(payload),
        "n_leading_ones": len(s) - len(s.lstrip("1")),
        "verified": 1,
        "error": None,
    }


B58_SCHEMA = ("doc_id long, version int, payload_hex string, "
              "payload_len int, n_leading_ones int, verified int, "
              "error string")


def extract_b58_docs(df: DataFrame, content_col: str = "content",
                     id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> decoded facts via one Arrow-batched
    mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_b58_doc, B58_SCHEMA, id_col, content_col)
