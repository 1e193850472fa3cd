"""REAL UTF-7 decoder (RFC 2152) — the mail world's legacy 7-bit
transport encoding, still emitted by IMAP servers and lurking in old
mail corpora: ASCII passes through, everything else rides in
'+...-' shifted segments of MODIFIED base64 (no padding '=' — the
tail bits must be zero, and a decoder that ignores non-zero trailing
bits accepts aliased encodings, a classic smuggling vector) over
UTF-16BE code units, with '+-' denoting a literal '+'.

Two gates make this a validator, not just a decoder:
- trailing bits in the last base64 sextet must be ZERO (non-zero =
  'nonzero trailing bits', the aliasing gate);
- a shifted segment must contain a whole number of UTF-16 code units
  worth of bits... minus the sub-byte remainder the spec allows; an
  ODD number of decoded BYTES is an error ('dangling utf-16 byte').

Fixtures come from Python's own utf_7 codec — every decode is checked
against the stdlib encoder (the bz2/lzma interop precedent).

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed payload yields an error ROW — never an exception.

Reference parity: none — beyond-reference mail-encoding operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_B64 = ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
        "abcdefghijklmnopqrstuvwxyz0123456789+/")
_B64_REV = {c: k for k, c in enumerate(_B64)}


def utf7_decode(data: bytes) -> str:
    """RFC 2152 decode with the aliasing and code-unit gates."""
    out: list[str] = []
    pos = 0
    n = len(data)
    while pos < n:
        b = data[pos]
        if b != 0x2B:  # '+'
            if b >= 0x80:
                raise ValueError(f"non-ascii byte at {pos}")
            out.append(chr(b))
            pos += 1
            continue
        pos += 1
        if pos < n and data[pos] == 0x2D:  # '+-' -> literal '+'
            out.append("+")
            pos += 1
            continue
        acc = 0
        nbits = 0
        raw = bytearray()
        seg_start = pos
        while pos < n and chr(data[pos]) in _B64_REV:
            acc = (acc << 6) | _B64_REV[chr(data[pos])]
            nbits += 6
            pos += 1
            if nbits >= 8:
                nbits -= 8
                raw.append((acc >> nbits) & 0xFF)
        if pos == seg_start:
            raise ValueError(f"empty shifted segment at {pos}")
        if nbits and acc & ((1 << nbits) - 1):
            raise ValueError("nonzero trailing bits")
        if len(raw) % 2:
            raise ValueError("dangling utf-16 byte")
        out.append(raw.decode("utf-16-be"))
        if pos < n and data[pos] == 0x2D:
            pos += 1  # explicit terminator is absorbed
    return "".join(out)


_U7_NONE = {"text": None, "n_chars": None, "n_segments": None,
            "n_nonascii": None}


def parse_utf7_doc(data: bytes | None) -> dict:
    if data is None:
        return {**_U7_NONE, "error": "missing payload"}
    data = bytes(data)
    try:
        text = utf7_decode(data)
    except ValueError as e:
        return {**_U7_NONE, "error": str(e)}
    except UnicodeDecodeError:
        return {**_U7_NONE, "error": "invalid utf-16 in segment"}
    return {
        "text": text,
        "n_chars": len(text),
        "n_segments": data.count(b"+") - data.count(b"+-"),
        "n_nonascii": sum(1 for c in text if ord(c) > 0x7F),
        "error": None,
    }


UTF7_SCHEMA = ("doc_id long, text string, n_chars int, "
               "n_segments int, n_nonascii int, error string")


def extract_utf7_docs(df: DataFrame, content_col: str = "content",
                      id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> decoded text via one Arrow-batched
    mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_utf7_doc, UTF7_SCHEMA, id_col, content_col)
