"""REAL uuencode decoder — base64's 1980 predecessor, still found in
old mail archives and newsgroup dumps: 'begin <mode> <name>', then
lines whose FIRST character encodes the decoded byte count (32 + n,
n <= 45) followed by 4-char groups each carrying 3 bytes in the
32..95 printable range — with the historical wart that ZERO is
written either as space (0x20, binascii's choice) or backtick (0x60,
most Unix uuencodes'), so a decoder must fold 0x60 to 0 or reject
half the files in the wild.  The stream ends with a zero-length line
and the literal 'end'.

The LENGTH PREFIX is the integrity mechanism: each line must carry at
least ceil(n/3)*4 encoded chars for its declared n — a line shorter
than its prefix claims is corruption, caught by name.

Fixtures come from stdlib ``binascii.b2a_uu`` — every decode checked
against the canonical encoder (the bz2/lzma/utf7 interop precedent).

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed payload yields an error ROW — never an exception.

Reference parity: none — beyond-reference mail-encoding operator.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs


def build_uu(name: str, mode: int, payload: bytes) -> bytes:
    import binascii

    out = bytearray(f"begin {mode:03o} {name}\n".encode())
    for k in range(0, len(payload), 45):
        out += binascii.b2a_uu(payload[k:k + 45])
    out += b"`\nend\n"
    return bytes(out)


def _dec_char(c: int) -> int:
    if c == 0x60:  # backtick-as-zero, the wild-file convention
        return 0
    if not 0x20 <= c < 0x60:
        raise ValueError(f"invalid uu character 0x{c:02x}")
    return (c - 0x20) & 0x3F


def uu_decode(data: bytes) -> tuple[str, int, bytes, int]:
    """Returns (name, mode, payload, n_data_lines)."""
    lines = data.split(b"\n")
    if not lines or not lines[0].startswith(b"begin "):
        raise ValueError("missing begin header")
    hdr = lines[0].split(b" ", 2)
    if len(hdr) != 3:
        raise ValueError("malformed begin header")
    try:
        mode = int(hdr[1], 8)
    except ValueError:
        raise ValueError("bad mode field") from None
    name = hdr[2].decode("utf-8", "replace")
    payload = bytearray()
    n_lines = 0
    idx = 1
    ended = False
    while idx < len(lines):
        line = lines[idx]
        idx += 1
        if line == b"end":
            ended = True
            break
        if not line:
            continue
        n = _dec_char(line[0])
        if n == 0:
            continue  # the zero-length terminator line
        if n > 45:
            raise ValueError(f"line {idx - 1} claims {n} bytes")
        need = (n + 2) // 3 * 4
        body = line[1:]
        if len(body) < need:
            raise ValueError(f"line {idx - 1} too short")
        got = bytearray()
        for k in range(0, need, 4):
            g = [_dec_char(c) for c in body[k:k + 4]]
            got.append(((g[0] << 2) | (g[1] >> 4)) & 0xFF)
            got.append(((g[1] << 4) | (g[2] >> 2)) & 0xFF)
            got.append(((g[2] << 6) | g[3]) & 0xFF)
        payload += got[:n]
        n_lines += 1
    if not ended:
        raise ValueError("missing end marker")
    return name, mode, bytes(payload), n_lines


_UU_NONE = {"name": None, "mode": None, "n_lines": None,
            "payload_len": None, "payload_md5": None}


def parse_uu_doc(data: bytes | None) -> dict:
    if data is None or len(data) < 10:
        return {**_UU_NONE, "error": "short or missing payload"}
    try:
        name, mode, payload, n_lines = uu_decode(bytes(data))
    except ValueError as e:
        return {**_UU_NONE, "error": str(e)}
    return {
        "name": name, "mode": mode, "n_lines": n_lines,
        "payload_len": len(payload),
        "payload_md5": hashlib.md5(payload).hexdigest(),
        "error": None,
    }


UU_SCHEMA = ("doc_id long, name string, mode int, n_lines int, "
             "payload_len int, payload_md5 string, error string")


def extract_uu_docs(df: DataFrame, content_col: str = "content",
                    id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> decoded facts via one Arrow-batched
    mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_uu_doc, UU_SCHEMA, id_col, content_col)
