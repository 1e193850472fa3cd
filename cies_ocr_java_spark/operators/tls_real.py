"""REAL TLS ClientHello walker on stdlib struct — the handshake that
precedes every HTTPS fetch a crawler makes: a TLS record (type 0x16,
u16 length) wrapping a handshake message (type 0x01, u24 length)
wrapping the hello body — legacy version, 32-byte random, session id,
cipher-suite vector, compression vector, then the extension block
where everything modern actually lives (SNI, ALPN, supported_versions,
supported_groups) as (u16 type, u16 length, bytes) triples.

Two realities this walker pins:
- GREASE (RFC 8701): real clients inject reserved 0x?A?A cipher values
  precisely so that brittle parsers break; we count them instead of
  choking (n_grease), the tolerant-reader obligation.
- Three nested length fields (record, handshake, vectors) must AGREE:
  each level is bounds-gated against its parent, and any overrun is a
  document error naming the level or extension that lied.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed payload yields an error ROW — never an exception.

Reference parity: none — beyond-reference wire operator (the reference
delegates TLS to the JVM's HTTP stack).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

EXT_SNI = 0
EXT_SUPPORTED_GROUPS = 10
EXT_ALPN = 16
EXT_SUPPORTED_VERSIONS = 43

_VERSION_NAMES = {0x0304: "TLS1.3", 0x0303: "TLS1.2", 0x0302: "TLS1.1",
                  0x0301: "TLS1.0"}


def _is_grease(v: int) -> bool:
    return (v & 0x0F0F) == 0x0A0A and (v >> 8) == (v & 0xFF)


def build_client_hello(sni: str, ciphers: list[int],
                       alpn: list[str], versions: list[int],
                       session_id_len: int = 0,
                       groups: list[int] | None = None,
                       alpn_oversize: int = 0,
                       random32: bytes | None = None) -> bytes:
    """One record/handshake/hello stack; ``alpn_oversize`` inflates the
    ALPN extension's declared length past its data (the poison tier)."""
    random32 = random32 or bytes(range(32))
    body = struct.pack(">H", 0x0303) + random32
    body += bytes([session_id_len]) + bytes(
        (7 * k) & 0xFF for k in range(session_id_len))
    body += struct.pack(">H", 2 * len(ciphers))
    body += b"".join(struct.pack(">H", c) for c in ciphers)
    body += b"\x01\x00"  # one compression method: null
    exts = b""
    sni_entry = b"\x00" + struct.pack(">H", len(sni)) + sni.encode()
    sni_list = struct.pack(">H", len(sni_entry)) + sni_entry
    exts += struct.pack(">HH", EXT_SNI, len(sni_list)) + sni_list
    if groups is not None:
        gl = b"".join(struct.pack(">H", g) for g in groups)
        gdata = struct.pack(">H", len(gl)) + gl
        exts += struct.pack(">HH", EXT_SUPPORTED_GROUPS,
                            len(gdata)) + gdata
    al = b"".join(bytes([len(p)]) + p.encode() for p in alpn)
    adata = struct.pack(">H", len(al)) + al
    exts += struct.pack(">HH", EXT_ALPN,
                        len(adata) + alpn_oversize) + adata
    vl = b"".join(struct.pack(">H", v) for v in versions)
    vdata = bytes([len(vl)]) + vl
    exts += struct.pack(">HH", EXT_SUPPORTED_VERSIONS,
                        len(vdata)) + vdata
    body += struct.pack(">H", len(exts)) + exts
    hs = b"\x01" + len(body).to_bytes(3, "big") + body
    return b"\x16" + struct.pack(">HH", 0x0301, len(hs)) + hs


_TLS_NONE = {"sni": None, "n_ciphers": None, "n_grease": None,
             "alpn": None, "max_version": None, "n_extensions": None,
             "session_id_len": None}


def parse_client_hello(data: bytes | None) -> dict:
    """Walk record -> handshake -> hello -> extensions with per-level
    bounds gates.  Every malformed payload yields an error row."""
    if data is None or len(data) < 5 or data[0] != 0x16:
        return {**_TLS_NONE, "error": "not a tls handshake record"}
    data = bytes(data)
    (rlen,) = struct.unpack_from(">H", data, 3)
    if 5 + rlen > len(data):
        return {**_TLS_NONE, "error": "record overruns payload"}
    rec = data[5:5 + rlen]
    if len(rec) < 4 or rec[0] != 0x01:
        return {**_TLS_NONE, "error": "not a client hello"}
    hlen = int.from_bytes(rec[1:4], "big")
    if 4 + hlen > len(rec):
        return {**_TLS_NONE, "error": "handshake overruns record"}
    b = rec[4:4 + hlen]
    try:
        pos = 2 + 32  # legacy version + random
        if pos + 1 > len(b):
            raise ValueError("truncated before session id")
        sid_len = b[pos]
        pos += 1 + sid_len
        if pos + 2 > len(b):
            raise ValueError("truncated cipher vector")
        (clen,) = struct.unpack_from(">H", b, pos)
        pos += 2
        if clen % 2 or pos + clen > len(b):
            raise ValueError("cipher vector overruns hello")
        ciphers = list(struct.unpack_from(f">{clen // 2}H", b, pos))
        pos += clen
        if pos + 1 > len(b):
            raise ValueError("truncated compression vector")
        comp_len = b[pos]
        pos += 1 + comp_len
        if pos + 2 > len(b):
            raise ValueError("truncated extension block")
        (elen,) = struct.unpack_from(">H", b, pos)
        pos += 2
        if pos + elen > len(b):
            raise ValueError("extension block overruns hello")
        end = pos + elen
        sni = None
        alpn: list[str] = []
        versions: list[int] = []
        n_ext = 0
        while pos < end:
            if pos + 4 > end:
                raise ValueError("truncated extension header")
            etype, edlen = struct.unpack_from(">HH", b, pos)
            pos += 4
            if pos + edlen > end:
                raise ValueError(f"extension {etype} overruns block")
            ed = b[pos:pos + edlen]
            pos += edlen
            n_ext += 1
            if etype == EXT_SNI:
                if len(ed) < 5:
                    raise ValueError("truncated sni extension")
                (nlen,) = struct.unpack_from(">H", ed, 3)
                if 5 + nlen > len(ed):
                    raise ValueError("sni name overruns extension")
                sni = ed[5:5 + nlen].decode("ascii")
            elif etype == EXT_ALPN:
                if len(ed) < 2:
                    raise ValueError("truncated alpn extension")
                q = 2
                while q < len(ed):
                    ln = ed[q]
                    if q + 1 + ln > len(ed):
                        raise ValueError("alpn entry overruns extension")
                    alpn.append(ed[q + 1:q + 1 + ln].decode("ascii"))
                    q += 1 + ln
            elif etype == EXT_SUPPORTED_VERSIONS:
                if not ed or 1 + ed[0] > len(ed) or ed[0] % 2:
                    raise ValueError("bad supported_versions extension")
                versions = list(struct.unpack_from(
                    f">{ed[0] // 2}H", ed, 1))
    except ValueError as e:
        return {**_TLS_NONE, "error": str(e)}
    except UnicodeDecodeError:
        return {**_TLS_NONE, "error": "non-ascii name"}
    best = max((v for v in versions if not _is_grease(v)),
               default=0x0303)
    return {
        "sni": sni,
        "n_ciphers": len(ciphers),
        "n_grease": sum(1 for c in ciphers if _is_grease(c)),
        "alpn": ",".join(alpn),
        "max_version": _VERSION_NAMES.get(best, f"0x{best:04x}"),
        "n_extensions": n_ext,
        "session_id_len": sid_len,
        "error": None,
    }


TLS_SCHEMA = (
    "doc_id long, sni string, n_ciphers int, n_grease int, "
    "alpn string, max_version string, n_extensions int, "
    "session_id_len int, error string"
)


def extract_tls_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> ClientHello metadata via one
    Arrow-batched mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_client_hello, TLS_SCHEMA, id_col, content_col)
