"""REAL DNS wire-format walker (RFC 1035) on stdlib struct — the
pointer-chasing grammar: names in a DNS message are label sequences
that may end in a 2-byte COMPRESSION POINTER back into earlier bytes of
the same message, so decoding a record's name (or a CNAME target) is a
bounded offset chase through the message — the same shape as the
pagination pointer-chase, but inside a single binary payload.

Termination discipline: we enforce the validator rule that every
pointer must point STRICTLY BACKWARDS (target < the pointer's own
offset).  That makes the chase a strictly decreasing sequence — loops
are impossible BY CONSTRUCTION, no jump budget needed (one is kept as
belt-and-braces) — and a self- or forward-pointer is a document error
("forward compression pointer at N", offset included so the oracle
must replay the wire layout arithmetic to restate it).

Supported RR types: A (dotted quad), CNAME (compressed name in the
rdata), TXT (length-prefixed strings).  Everything else is a document
error, as are all bounds violations.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed message yields an error ROW — never an exception.

Reference parity: none — beyond-reference wire operator (the reference
never touches name resolution; DocumentManager.java speaks HTTP to a
pre-resolved endpoint).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs, rows_or_error

QTYPE = {1: "A", 5: "CNAME", 16: "TXT"}
_QTYPE_REV = {v: k for k, v in QTYPE.items()}


def encode_name(name: str, tail_ptr: int | None = None) -> bytes:
    """Encode dotted ``name`` as length-prefixed labels; if ``tail_ptr``
    is given the sequence ends in a compression pointer to that offset
    instead of the root label."""
    out = bytearray()
    if name:
        for label in name.split("."):
            raw = label.encode("ascii")
            if not 0 < len(raw) < 64:
                raise ValueError("bad label length")
            out += bytes([len(raw)]) + raw
    if tail_ptr is None:
        out += b"\x00"
    else:
        if tail_ptr >= 1 << 14:
            raise ValueError("pointer offset too large")
        out += bytes([0xC0 | (tail_ptr >> 8), tail_ptr & 0xFF])
    return bytes(out)


def build_dns_response(txid: int, qname: str,
                       answers: list[tuple[bytes, str, int, bytes]],
                       flags: int = 0x8180) -> bytes:
    """Header + one question + the given answers.  Each answer is
    (encoded_name, rtype, ttl, rdata) — names/rdata are pre-encoded by
    the caller so compression offsets can point anywhere earlier."""
    msg = bytearray(struct.pack(">HHHHHH", txid, flags, 1,
                                len(answers), 0, 0))
    msg += encode_name(qname) + struct.pack(">HH", 1, 1)
    for name_enc, rtype, ttl, rdata in answers:
        msg += name_enc
        msg += struct.pack(">HHIH", _QTYPE_REV[rtype], 1, ttl,
                           len(rdata))
        msg += rdata
    return bytes(msg)


def read_name(msg: bytes, pos: int) -> tuple[str, int, int]:
    """Decode a (possibly compressed) name at ``pos``; returns
    (dotted_name, next_pos, n_pointer_jumps).  Raises ValueError with
    the degradation message on any malformation."""
    labels: list[str] = []
    p, jumps, end = pos, 0, None
    while True:
        if p >= len(msg):
            raise ValueError(f"name overruns message at {p}")
        b = msg[p]
        if b == 0:
            p += 1
            break
        if b >= 0xC0:
            if p + 1 >= len(msg):
                raise ValueError(f"truncated pointer at {p}")
            tgt = ((b & 0x3F) << 8) | msg[p + 1]
            if tgt >= p:
                raise ValueError(
                    f"forward compression pointer at {p}")
            if end is None:
                end = p + 2
            p = tgt
            jumps += 1
            if jumps > 64:  # unreachable under the backwards rule
                raise ValueError("compression jump budget exceeded")
        elif b < 64:
            if p + 1 + b > len(msg):
                raise ValueError(f"label overruns message at {p}")
            labels.append(msg[p + 1:p + 1 + b].decode("ascii"))
            p += 1 + b
        else:
            raise ValueError(f"bad label type at {p}")
    return ".".join(labels), (end if end is not None else p), jumps


def parse_dns(data: bytes | None) -> tuple[list[dict] | None,
                                           str | None]:
    """Walk header, question, answers.  Returns (rows, None) with one
    row per answer RR, or (None, error)."""
    if data is None or len(data) < 12:
        return None, "short or missing message"
    data = bytes(data)
    txid, flags, qd, an, _ns, _ar = struct.unpack(">HHHHHH", data[:12])
    if qd != 1:
        return None, f"unsupported question count {qd}"
    try:
        qname, pos, _ = read_name(data, 12)
        if pos + 4 > len(data):
            return None, "truncated question"
        pos += 4
        rows = []
        for idx in range(an):
            name, pos, jumps = read_name(data, pos)
            if pos + 10 > len(data):
                return None, f"truncated rr header at {pos}"
            rtype, rclass, ttl, rdlen = struct.unpack(
                ">HHIH", data[pos:pos + 10])
            pos += 10
            if pos + rdlen > len(data):
                return None, f"rdata overruns message at {pos}"
            if rtype not in QTYPE:
                return None, f"unsupported rr type {rtype}"
            if rtype == 1:
                if rdlen != 4:
                    return None, f"bad A rdata length {rdlen}"
                rdata = ".".join(str(b) for b in data[pos:pos + 4])
            elif rtype == 5:
                target, tpos, tjumps = read_name(data, pos)
                if tpos > pos + rdlen:
                    return None, f"cname overruns rdata at {pos}"
                rdata = target
                jumps += tjumps
            else:  # TXT
                parts, q = [], pos
                while q < pos + rdlen:
                    ln = data[q]
                    if q + 1 + ln > pos + rdlen:
                        return None, f"txt string overruns rdata at {q}"
                    parts.append(
                        data[q + 1:q + 1 + ln].decode("ascii"))
                    q += 1 + ln
                rdata = "".join(parts)
            pos += rdlen
            rows.append({
                "rr_idx": idx, "qname": qname, "name": name,
                "rtype": QTYPE[rtype], "ttl": ttl, "rdata": rdata,
                "n_ptr_jumps": jumps,
            })
        return rows, None
    except ValueError as e:
        return None, str(e)
    except UnicodeDecodeError:
        return None, "non-ascii label"


DNS_RR_SCHEMA = (
    "doc_id long, rr_idx int, qname string, name string, rtype string, "
    "ttl bigint, rdata string, n_ptr_jumps int, error string"
)


def extract_dns_records(df: DataFrame, content_col: str = "content",
                        id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> one row per answer RR via one
    Arrow-batched mapInPandas pass (no shuffle); malformed messages
    degrade to a single error row per document."""
    return map_blobs(df, rows_or_error(parse_dns), DNS_RR_SCHEMA, id_col,
                     content_col)
