"""HPACK (RFC 7541) header-block decode — HTTP/2's header compression,
the wire-tier layer above tls_real/pcap_real: N-bit-prefix integers
with continuation bytes, the full 257-symbol static Huffman code
(decode AND encode; padding must be a PREFIX OF EOS — all ones, at
most 7 bits — and a complete EOS symbol inside a string is a coding
error by spec), the 61-entry static header table, and the dynamic
table with entry size = name + value + 32, size-update instructions,
and automatic eviction from the OLDEST end.

Table provenance: both constant tables are extracted from Netty's
HpackUtil/HpackStaticTable (netty-codec-http2 4.2.7, shipped in this
container's Spark distribution) rather than hand-transcribed — 257
Huffman entries copied by eye would be unverifiable for the rare
symbols; spot-pinned against the RFC's published values (sym 0 =
13-bit 0x1FF8, space = 6-bit 0x14, '0' = 5-bit 0x0, EOS = 30 ones)
and exercised end-to-end by the RFC 7541 Appendix C request examples
in the tests.

Representations: indexed (1xxxxxxx), literal with incremental
indexing (01xxxxxx), without indexing (0000xxxx), never-indexed
(0001xxxx), dynamic-table size update (001xxxxx). Gates: index 0 is
a coding error; an index beyond static+dynamic range names itself; a
size update above the protocol maximum is rejected; truncations
fail loud at every prefix.

Failure contract: every malformed block yields an error ROW.

Reference parity: none — beyond-reference wire-protocol operator
(the HTTP envelope family: warc_http_extract, pcap_http_reassembly).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_HUFF = [
    (13, 0x1FF8), (23, 0x7FFFD8), (28, 0xFFFFFE2), (28, 0xFFFFFE3), (28, 0xFFFFFE4),
    (28, 0xFFFFFE5), (28, 0xFFFFFE6), (28, 0xFFFFFE7), (28, 0xFFFFFE8), (24, 0xFFFFEA),
    (30, 0x3FFFFFFC), (28, 0xFFFFFE9), (28, 0xFFFFFEA), (30, 0x3FFFFFFD), (28, 0xFFFFFEB),
    (28, 0xFFFFFEC), (28, 0xFFFFFED), (28, 0xFFFFFEE), (28, 0xFFFFFEF), (28, 0xFFFFFF0),
    (28, 0xFFFFFF1), (28, 0xFFFFFF2), (30, 0x3FFFFFFE), (28, 0xFFFFFF3), (28, 0xFFFFFF4),
    (28, 0xFFFFFF5), (28, 0xFFFFFF6), (28, 0xFFFFFF7), (28, 0xFFFFFF8), (28, 0xFFFFFF9),
    (28, 0xFFFFFFA), (28, 0xFFFFFFB), (6, 0x14), (10, 0x3F8), (10, 0x3F9),
    (12, 0xFFA), (13, 0x1FF9), (6, 0x15), (8, 0xF8), (11, 0x7FA),
    (10, 0x3FA), (10, 0x3FB), (8, 0xF9), (11, 0x7FB), (8, 0xFA),
    (6, 0x16), (6, 0x17), (6, 0x18), (5, 0x0), (5, 0x1),
    (5, 0x2), (6, 0x19), (6, 0x1A), (6, 0x1B), (6, 0x1C),
    (6, 0x1D), (6, 0x1E), (6, 0x1F), (7, 0x5C), (8, 0xFB),
    (15, 0x7FFC), (6, 0x20), (12, 0xFFB), (10, 0x3FC), (13, 0x1FFA),
    (6, 0x21), (7, 0x5D), (7, 0x5E), (7, 0x5F), (7, 0x60),
    (7, 0x61), (7, 0x62), (7, 0x63), (7, 0x64), (7, 0x65),
    (7, 0x66), (7, 0x67), (7, 0x68), (7, 0x69), (7, 0x6A),
    (7, 0x6B), (7, 0x6C), (7, 0x6D), (7, 0x6E), (7, 0x6F),
    (7, 0x70), (7, 0x71), (7, 0x72), (8, 0xFC), (7, 0x73),
    (8, 0xFD), (13, 0x1FFB), (19, 0x7FFF0), (13, 0x1FFC), (14, 0x3FFC),
    (6, 0x22), (15, 0x7FFD), (5, 0x3), (6, 0x23), (5, 0x4),
    (6, 0x24), (5, 0x5), (6, 0x25), (6, 0x26), (6, 0x27),
    (5, 0x6), (7, 0x74), (7, 0x75), (6, 0x28), (6, 0x29),
    (6, 0x2A), (5, 0x7), (6, 0x2B), (7, 0x76), (6, 0x2C),
    (5, 0x8), (5, 0x9), (6, 0x2D), (7, 0x77), (7, 0x78),
    (7, 0x79), (7, 0x7A), (7, 0x7B), (15, 0x7FFE), (11, 0x7FC),
    (14, 0x3FFD), (13, 0x1FFD), (28, 0xFFFFFFC), (20, 0xFFFE6), (22, 0x3FFFD2),
    (20, 0xFFFE7), (20, 0xFFFE8), (22, 0x3FFFD3), (22, 0x3FFFD4), (22, 0x3FFFD5),
    (23, 0x7FFFD9), (22, 0x3FFFD6), (23, 0x7FFFDA), (23, 0x7FFFDB), (23, 0x7FFFDC),
    (23, 0x7FFFDD), (23, 0x7FFFDE), (24, 0xFFFFEB), (23, 0x7FFFDF), (24, 0xFFFFEC),
    (24, 0xFFFFED), (22, 0x3FFFD7), (23, 0x7FFFE0), (24, 0xFFFFEE), (23, 0x7FFFE1),
    (23, 0x7FFFE2), (23, 0x7FFFE3), (23, 0x7FFFE4), (21, 0x1FFFDC), (22, 0x3FFFD8),
    (23, 0x7FFFE5), (22, 0x3FFFD9), (23, 0x7FFFE6), (23, 0x7FFFE7), (24, 0xFFFFEF),
    (22, 0x3FFFDA), (21, 0x1FFFDD), (20, 0xFFFE9), (22, 0x3FFFDB), (22, 0x3FFFDC),
    (23, 0x7FFFE8), (23, 0x7FFFE9), (21, 0x1FFFDE), (23, 0x7FFFEA), (22, 0x3FFFDD),
    (22, 0x3FFFDE), (24, 0xFFFFF0), (21, 0x1FFFDF), (22, 0x3FFFDF), (23, 0x7FFFEB),
    (23, 0x7FFFEC), (21, 0x1FFFE0), (21, 0x1FFFE1), (22, 0x3FFFE0), (21, 0x1FFFE2),
    (23, 0x7FFFED), (22, 0x3FFFE1), (23, 0x7FFFEE), (23, 0x7FFFEF), (20, 0xFFFEA),
    (22, 0x3FFFE2), (22, 0x3FFFE3), (22, 0x3FFFE4), (23, 0x7FFFF0), (22, 0x3FFFE5),
    (22, 0x3FFFE6), (23, 0x7FFFF1), (26, 0x3FFFFE0), (26, 0x3FFFFE1), (20, 0xFFFEB),
    (19, 0x7FFF1), (22, 0x3FFFE7), (23, 0x7FFFF2), (22, 0x3FFFE8), (25, 0x1FFFFEC),
    (26, 0x3FFFFE2), (26, 0x3FFFFE3), (26, 0x3FFFFE4), (27, 0x7FFFFDE), (27, 0x7FFFFDF),
    (26, 0x3FFFFE5), (24, 0xFFFFF1), (25, 0x1FFFFED), (19, 0x7FFF2), (21, 0x1FFFE3),
    (26, 0x3FFFFE6), (27, 0x7FFFFE0), (27, 0x7FFFFE1), (26, 0x3FFFFE7), (27, 0x7FFFFE2),
    (24, 0xFFFFF2), (21, 0x1FFFE4), (21, 0x1FFFE5), (26, 0x3FFFFE8), (26, 0x3FFFFE9),
    (28, 0xFFFFFFD), (27, 0x7FFFFE3), (27, 0x7FFFFE4), (27, 0x7FFFFE5), (20, 0xFFFEC),
    (24, 0xFFFFF3), (20, 0xFFFED), (21, 0x1FFFE6), (22, 0x3FFFE9), (21, 0x1FFFE7),
    (21, 0x1FFFE8), (23, 0x7FFFF3), (22, 0x3FFFEA), (22, 0x3FFFEB), (25, 0x1FFFFEE),
    (25, 0x1FFFFEF), (24, 0xFFFFF4), (24, 0xFFFFF5), (26, 0x3FFFFEA), (23, 0x7FFFF4),
    (26, 0x3FFFFEB), (27, 0x7FFFFE6), (26, 0x3FFFFEC), (26, 0x3FFFFED), (27, 0x7FFFFE7),
    (27, 0x7FFFFE8), (27, 0x7FFFFE9), (27, 0x7FFFFEA), (27, 0x7FFFFEB), (28, 0xFFFFFFE),
    (27, 0x7FFFFEC), (27, 0x7FFFFED), (27, 0x7FFFFEE), (27, 0x7FFFFEF), (27, 0x7FFFFF0),
    (26, 0x3FFFFEE), (30, 0x3FFFFFFF),
]

_STATIC = [
    (':authority', ''),
    (':method', 'GET'),
    (':method', 'POST'),
    (':path', '/'),
    (':path', '/index.html'),
    (':scheme', 'http'),
    (':scheme', 'https'),
    (':status', '200'),
    (':status', '204'),
    (':status', '206'),
    (':status', '304'),
    (':status', '400'),
    (':status', '404'),
    (':status', '500'),
    ('accept-charset', ''),
    ('accept-encoding', 'gzip, deflate'),
    ('accept-language', ''),
    ('accept-ranges', ''),
    ('accept', ''),
    ('access-control-allow-origin', ''),
    ('age', ''),
    ('allow', ''),
    ('authorization', ''),
    ('cache-control', ''),
    ('content-disposition', ''),
    ('content-encoding', ''),
    ('content-language', ''),
    ('content-length', ''),
    ('content-location', ''),
    ('content-range', ''),
    ('content-type', ''),
    ('cookie', ''),
    ('date', ''),
    ('etag', ''),
    ('expect', ''),
    ('expires', ''),
    ('from', ''),
    ('host', ''),
    ('if-match', ''),
    ('if-modified-since', ''),
    ('if-none-match', ''),
    ('if-range', ''),
    ('if-unmodified-since', ''),
    ('last-modified', ''),
    ('link', ''),
    ('location', ''),
    ('max-forwards', ''),
    ('proxy-authenticate', ''),
    ('proxy-authorization', ''),
    ('range', ''),
    ('referer', ''),
    ('refresh', ''),
    ('retry-after', ''),
    ('server', ''),
    ('set-cookie', ''),
    ('strict-transport-security', ''),
    ('transfer-encoding', ''),
    ('user-agent', ''),
    ('vary', ''),
    ('via', ''),
    ('www-authenticate', ''),
]

_EOS = _HUFF[256]
_DECODE = {(n, c): i for i, (n, c) in enumerate(_HUFF[:256])}


def huffman_encode(data: bytes) -> bytes:
    acc = nbits = 0
    out = bytearray()
    for b in data:
        n, c = _HUFF[b]
        acc = (acc << n) | c
        nbits += n
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
    if nbits:
        pad = 8 - nbits
        out.append(((acc << pad) | ((1 << pad) - 1)) & 0xFF)
    return bytes(out)


def huffman_decode(data: bytes) -> bytes:
    out = bytearray()
    code = nbits = 0
    for byte in data:
        for k in range(7, -1, -1):
            code = (code << 1) | ((byte >> k) & 1)
            nbits += 1
            sym = _DECODE.get((nbits, code))
            if sym is not None:
                out.append(sym)
                code = nbits = 0
            elif nbits == 30:
                if code == _EOS[1]:
                    raise ValueError("eos in huffman string")
                raise ValueError("bad huffman code")
    if nbits >= 8 or code != (1 << nbits) - 1:
        # padding must be a strict prefix of EOS: < 8 bits, all ones
        raise ValueError("bad huffman padding")
    return bytes(out)


def encode_int(value: int, prefix_bits: int, flags: int = 0) -> bytes:
    limit = (1 << prefix_bits) - 1
    if value < limit:
        return bytes([flags | value])
    out = bytearray([flags | limit])
    value -= limit
    while value >= 128:
        out.append(0x80 | (value & 0x7F))
        value >>= 7
    out.append(value)
    return bytes(out)


def _decode_int(data: bytes, pos: int, prefix_bits: int
                ) -> tuple[int, int]:
    limit = (1 << prefix_bits) - 1
    if pos >= len(data):
        raise ValueError("truncated integer")
    v = data[pos] & limit
    pos += 1
    if v < limit:
        return v, pos
    shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("truncated integer continuation")
        b = data[pos]
        pos += 1
        v += (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return v, pos
        if shift > 28:
            raise ValueError("integer overflow")


def _encode_str(s: str, huffman: bool) -> bytes:
    raw = s.encode("utf-8")
    if huffman:
        h = huffman_encode(raw)
        return encode_int(len(h), 7, 0x80) + h
    return encode_int(len(raw), 7, 0x00) + raw


def _decode_str(data: bytes, pos: int) -> tuple[str, int, bool]:
    if pos >= len(data):
        raise ValueError("truncated string length")
    huff = bool(data[pos] & 0x80)
    n, pos = _decode_int(data, pos, 7)
    if pos + n > len(data):
        raise ValueError("string overruns block")
    raw = data[pos:pos + n]
    if huff:
        raw = huffman_decode(raw)
    return raw.decode("utf-8", "strict"), pos + n, huff


def _entry_size(name: str, value: str) -> int:
    return len(name.encode()) + len(value.encode()) + 32


class HpackCodec:
    """Shared dynamic-table state machine (encoder and decoder keep
    symmetric tables — HPACK's core invariant)."""

    def __init__(self, max_size: int = 4096):
        self.protocol_max = max_size
        self.max_size = max_size
        self.table: list[tuple[str, str]] = []  # newest first
        self.size = 0

    def _evict(self) -> None:
        while self.size > self.max_size and self.table:
            n, v = self.table.pop()
            self.size -= _entry_size(n, v)

    def add(self, name: str, value: str) -> None:
        self.table.insert(0, (name, value))
        self.size += _entry_size(name, value)
        self._evict()

    def resize(self, new_max: int) -> None:
        if new_max > self.protocol_max:
            raise ValueError("table size update above maximum")
        self.max_size = new_max
        self._evict()

    def lookup(self, idx: int) -> tuple[str, str]:
        if idx == 0:
            raise ValueError("zero index")
        if idx <= len(_STATIC):
            return _STATIC[idx - 1]
        d = idx - len(_STATIC) - 1
        if d >= len(self.table):
            raise ValueError("index out of table")
        return self.table[d]

    def find(self, name: str, value: str) -> tuple[int, bool]:
        """(index, exact) — static preferred, 0 if absent."""
        name_only = 0
        for i, (n, v) in enumerate(_STATIC, 1):
            if n == name:
                if v == value:
                    return i, True
                name_only = name_only or i
        for i, (n, v) in enumerate(self.table, len(_STATIC) + 1):
            if n == name:
                if v == value:
                    return i, True
                name_only = name_only or i
        return name_only, False


def encode_header_block(headers: list[tuple[str, str, str]],
                        codec: HpackCodec,
                        huffman: bool = True,
                        size_update: int | None = None) -> bytes:
    """headers: (name, value, mode) with mode in
    'auto' (indexed if known, else literal-with-indexing),
    'noindex', 'never'."""
    out = bytearray()
    if size_update is not None:
        codec.resize(size_update)
        out += encode_int(size_update, 5, 0x20)
    for name, value, mode in headers:
        idx, exact = codec.find(name, value)
        if mode == "auto" and exact:
            out += encode_int(idx, 7, 0x80)
            continue
        if mode == "auto":
            out += encode_int(idx, 6, 0x40)
            if idx == 0:
                out += _encode_str(name, huffman)
            out += _encode_str(value, huffman)
            codec.add(name, value)
        else:
            flags = 0x00 if mode == "noindex" else 0x10
            out += encode_int(idx, 4, flags)
            if idx == 0:
                out += _encode_str(name, huffman)
            out += _encode_str(value, huffman)
    return bytes(out)


_HPACK_NONE = {
    "n_headers": None, "n_indexed": None, "n_literal": None,
    "n_never": None, "n_size_updates": None, "n_huff_strings": None,
    "dyn_entries": None, "dyn_size": None, "headers_md5": None,
}


def parse_header_block(data: bytes | None,
                       max_table_size: int = 4096) -> dict:
    if data is None:
        return {**_HPACK_NONE, "error": "short or missing payload"}
    codec = HpackCodec(max_table_size)
    try:
        pos = 0
        headers: list[tuple[str, str]] = []
        n_indexed = n_literal = n_never = n_upd = n_huff = 0
        data = bytes(data)
        while pos < len(data):
            b = data[pos]
            if b & 0x80:
                idx, pos = _decode_int(data, pos, 7)
                headers.append(codec.lookup(idx))
                n_indexed += 1
            elif b & 0x40:
                idx, pos = _decode_int(data, pos, 6)
                if idx:
                    name = codec.lookup(idx)[0]
                else:
                    name, pos, h = _decode_str(data, pos)
                    n_huff += h
                value, pos, h = _decode_str(data, pos)
                n_huff += h
                headers.append((name, value))
                codec.add(name, value)
                n_literal += 1
            elif b & 0x20:
                new_max, pos = _decode_int(data, pos, 5)
                codec.resize(new_max)
                n_upd += 1
            else:
                never = bool(b & 0x10)
                idx, pos = _decode_int(data, pos, 4)
                if idx:
                    name = codec.lookup(idx)[0]
                else:
                    name, pos, h = _decode_str(data, pos)
                    n_huff += h
                value, pos, h = _decode_str(data, pos)
                n_huff += h
                headers.append((name, value))
                if never:
                    n_never += 1
                else:
                    n_literal += 1
    except (ValueError, UnicodeDecodeError) as e:
        msg = str(e) if isinstance(e, ValueError) \
            else "invalid utf-8 in header string"
        return {**_HPACK_NONE, "error": msg}
    joined = "".join(f"{n}:{v}\n" for n, v in headers)
    return {
        "n_headers": len(headers), "n_indexed": n_indexed,
        "n_literal": n_literal, "n_never": n_never,
        "n_size_updates": n_upd, "n_huff_strings": n_huff,
        "dyn_entries": len(codec.table), "dyn_size": codec.size,
        "headers_md5": hashlib.md5(joined.encode()).hexdigest(),
        "error": None,
    }


_HPACK_SCHEMA = (
    "doc_id long, n_headers int, n_indexed int, n_literal int, "
    "n_never int, n_size_updates int, n_huff_strings int, "
    "dyn_entries int, dyn_size int, headers_md5 string, error string"
)


def extract_hpack_features(df: DataFrame, content_col: str = "content",
                           id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_header_block, _HPACK_SCHEMA,
                     id_col, content_col)
