"""REAL LZ4: block format + frame format + xxHash32, all from scratch.

LZ4 is the storage tier's fast codec (parquet/orc pages, kafka batches,
checkpoint streams) — after DEFLATE (operators/inflate.py) it is the
second compression family a data engine actually meets, and its design
is instructively different: no entropy coding at all, just
byte-aligned LITERAL/MATCH sequences — a token whose nibbles carry
literal length and match length (15 escapes to 255-run extension
bytes), raw literals, and a 2-byte little-endian match offset into the
already-produced output (overlap-forward copies are legal and REQUIRED:
offset 1 + length 20 RLE-extends the last byte).

The FRAME format (v1.6.3) wraps blocks with the format's own hash,
xxHash32 — implemented here from its published algorithm (4-lane
striped state, rotl/prime avalanche) — as a HEADER checksum (second
byte of the hash of the frame descriptor), optional per-BLOCK
checksums, and a CONTENT checksum over the decoded stream; blocks are
u32-length-framed with a high-bit "stored uncompressed" escape, ended
by a zero EndMark.

Writer: greedy hash-chain compressor honoring the spec's end-of-block
safety margins (last 5 bytes literal, no match into the final 5);
stdlib-free but format-true — any lz4 tool decodes these frames.
Reader: verifies magic/version/header-checksum, walks blocks verifying
each xxh32, decompresses with full gates (zero or out-of-window
offsets, truncated sequences, output caps), checks EndMark + content
checksum + declared content size. Error rows, never exceptions."""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

__all__ = ["xxh32", "lz4_compress_block", "lz4_decompress_block",
           "build_lz4_frame", "parse_lz4_frame", "extract_lz4_features",
           "LZ4_FEATURES_SCHEMA", "BLOCK_SIZE"]

_M = 0xFFFFFFFF
_P1, _P2, _P3 = 2654435761, 2246822519, 3266489917
_P4, _P5 = 668265263, 374761393
BLOCK_SIZE = 1024  # writer: small blocks force real multi-block frames
_MAGIC = 0x184D2204


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M


def xxh32(data: bytes, seed: int = 0) -> int:
    """xxHash32 per the published algorithm (the hash LZ4 frames use)."""
    n = len(data)
    i = 0
    if n >= 16:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 16 <= n:
            for _lane in range(4):
                (w,) = struct.unpack_from("<I", data, i)
                if _lane == 0:
                    v1 = (_rotl((v1 + w * _P2) & _M, 13) * _P1) & _M
                elif _lane == 1:
                    v2 = (_rotl((v2 + w * _P2) & _M, 13) * _P1) & _M
                elif _lane == 2:
                    v3 = (_rotl((v3 + w * _P2) & _M, 13) * _P1) & _M
                else:
                    v4 = (_rotl((v4 + w * _P2) & _M, 13) * _P1) & _M
                i += 4
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 4 <= n:
        (w,) = struct.unpack_from("<I", data, i)
        h = (_rotl((h + w * _P3) & _M, 17) * _P4) & _M
        i += 4
    while i < n:
        h = (_rotl((h + data[i] * _P5) & _M, 11) * _P1) & _M
        i += 1
    h ^= h >> 15
    h = (h * _P2) & _M
    h ^= h >> 13
    h = (h * _P3) & _M
    h ^= h >> 16
    return h


class _Lz4Error(Exception):
    pass


def _emit_len(out: bytearray, extra: int) -> None:
    while extra >= 255:
        out.append(255)
        extra -= 255
    out.append(extra)


def lz4_compress_block(src: bytes) -> bytes:
    """Greedy hash-table compressor honoring the spec's end margins:
    the last 5 bytes are always literals and no match reaches into
    them. Correctness over ratio — any decoder reads this."""
    n = len(src)
    out = bytearray()
    anchor = 0
    if n >= 13:  # below MFLIMIT everything is one literal run
        table: dict[bytes, int] = {}
        i = 0
        limit = n - 12
        while i < limit:
            key = src[i:i + 4]
            cand = table.get(key)
            table[key] = i
            if (cand is not None and i - cand <= 0xFFFF
                    and src[cand:cand + 4] == key):
                mlen = 4
                while i + mlen < n - 5 and src[cand + mlen] == src[i + mlen]:
                    mlen += 1
                lit = src[anchor:i]
                token_lit = min(len(lit), 15)
                token_mat = min(mlen - 4, 15)
                out.append((token_lit << 4) | token_mat)
                if token_lit == 15:
                    _emit_len(out, len(lit) - 15)
                out += lit
                out += struct.pack("<H", i - cand)
                if token_mat == 15:
                    _emit_len(out, mlen - 4 - 15)
                i += mlen
                anchor = i
            else:
                i += 1
    lit = src[anchor:]
    token_lit = min(len(lit), 15)
    out.append(token_lit << 4)
    if token_lit == 15:
        _emit_len(out, len(lit) - 15)
    out += lit
    return bytes(out)


def lz4_decompress_block(blk: bytes, max_out: int) -> bytes:
    """Sequence walk with full gates; overlap-forward copies byte by
    byte (the RLE-extension semantics a memcpy would corrupt)."""
    out = bytearray()
    i = 0
    n = len(blk)
    if n == 0:
        raise _Lz4Error("empty block")
    while True:
        if i >= n:
            raise _Lz4Error("truncated sequence")
        token = blk[i]
        i += 1
        litlen = token >> 4
        if litlen == 15:
            while True:
                if i >= n:
                    raise _Lz4Error("truncated literal length")
                b = blk[i]
                i += 1
                litlen += b
                if b < 255:
                    break
        if i + litlen > n:
            raise _Lz4Error("truncated literals")
        out += blk[i:i + litlen]
        i += litlen
        if len(out) > max_out:
            raise _Lz4Error("output overflow")
        if i == n:
            return bytes(out)  # final sequence is literals-only
        if i + 2 > n:
            raise _Lz4Error("truncated match offset")
        (offset,) = struct.unpack_from("<H", blk, i)
        i += 2
        if offset == 0 or offset > len(out):
            raise _Lz4Error("invalid match offset")
        mlen = token & 0x0F
        if mlen == 15:
            while True:
                if i >= n:
                    raise _Lz4Error("truncated match length")
                b = blk[i]
                i += 1
                mlen += b
                if b < 255:
                    break
        mlen += 4
        if len(out) + mlen > max_out:
            raise _Lz4Error("output overflow")
        at = len(out) - offset
        for _ in range(mlen):  # overlap-forward: one byte at a time
            out.append(out[at])
            at += 1


def build_lz4_frame(content: bytes, *, poison: str | None = None) -> bytes:
    """Emit a real LZ4 frame: magic, FLG (v01, independent blocks,
    block checksums, content size, content checksum), BD (64 KB max),
    header checksum, compressed-or-stored blocks of BLOCK_SIZE input
    each with xxh32, EndMark, content checksum. ``poison``:
    ``header_sum``, ``block_sum``, ``bad_offset`` (first block replaced
    by a zero-offset sequence, ITS checksum kept valid),
    ``content_size`` (declared size off by one, header checksum kept
    valid)."""
    flg = (1 << 6) | (1 << 5) | (1 << 4) | (1 << 3) | (1 << 2)
    bd = 4 << 4
    size = len(content) + (1 if poison == "content_size" else 0)
    desc = bytes([flg, bd]) + struct.pack("<Q", size)
    hc = (xxh32(desc) >> 8) & 0xFF
    if poison == "header_sum":
        hc ^= 0x5A
    out = bytearray(struct.pack("<I", _MAGIC) + desc + bytes([hc]))
    first = True
    for at in range(0, len(content), BLOCK_SIZE):
        chunk = content[at:at + BLOCK_SIZE]
        comp = lz4_compress_block(chunk)
        if len(comp) < len(chunk):
            blk, stored = comp, False
        else:
            blk, stored = chunk, True
        if poison == "bad_offset" and first:
            blk, stored = b"\x00\x00\x00", False
        bsum = xxh32(blk)
        if poison == "block_sum" and first:
            bsum ^= 0x01
        out += struct.pack("<I", len(blk) | (0x80000000 if stored else 0))
        out += blk
        out += struct.pack("<I", bsum)
        first = False
    out += struct.pack("<I", 0)  # EndMark
    out += struct.pack("<I", xxh32(content))
    return bytes(out)


def parse_lz4_frame(data: bytes | None) -> dict:
    """-> {content: bytes, n_blocks, content_size, error}. Verifies
    magic, FLG version, header checksum, per-block xxh32, EndMark,
    declared content size, and the content checksum."""
    none = {"content": None, "n_blocks": None, "content_size": None}
    if data is None or len(data) < 11:
        return {**none, "error": "short or missing payload"}
    data = bytes(data)
    try:
        (magic,) = struct.unpack_from("<I", data, 0)
        if magic != _MAGIC:
            raise _Lz4Error("bad magic")
        flg, bd = data[4], data[5]
        if (flg >> 6) != 0b01:
            raise _Lz4Error("unsupported frame version")
        if flg & 0b10:
            raise _Lz4Error("reserved flg bit set")
        has_bsum = bool(flg & (1 << 4))
        has_csize = bool(flg & (1 << 3))
        has_csum = bool(flg & (1 << 2))
        if (bd >> 4) not in (4, 5, 6, 7) or bd & 0x8F:
            raise _Lz4Error("bad bd byte")
        pos = 6
        csize = None
        if has_csize:
            if pos + 8 > len(data):
                raise _Lz4Error("truncated frame header")
            (csize,) = struct.unpack_from("<Q", data, pos)
            pos += 8
        if pos + 1 > len(data):
            raise _Lz4Error("truncated frame header")
        hc = data[pos]
        if (xxh32(data[4:pos]) >> 8) & 0xFF != hc:
            raise _Lz4Error("header checksum mismatch")
        pos += 1
        content = bytearray()
        n_blocks = 0
        while True:
            if pos + 4 > len(data):
                raise _Lz4Error("missing endmark")
            (bword,) = struct.unpack_from("<I", data, pos)
            pos += 4
            if bword == 0:
                break
            stored = bool(bword & 0x80000000)
            blen = bword & 0x7FFFFFFF
            if pos + blen > len(data):
                raise _Lz4Error("truncated block")
            blk = data[pos:pos + blen]
            pos += blen
            if has_bsum:
                if pos + 4 > len(data):
                    raise _Lz4Error("truncated block checksum")
                (want,) = struct.unpack_from("<I", data, pos)
                pos += 4
                if xxh32(blk) != want:
                    raise _Lz4Error("block checksum mismatch")
            if stored:
                content += blk
            else:
                content += lz4_decompress_block(blk, 64 * 1024)
            n_blocks += 1
        if has_csum:
            if pos + 4 > len(data):
                raise _Lz4Error("truncated content checksum")
            (want,) = struct.unpack_from("<I", data, pos)
            pos += 4
            if xxh32(bytes(content)) != want:
                raise _Lz4Error("content checksum mismatch")
        if pos != len(data):
            raise _Lz4Error("trailing bytes")
        if csize is not None and csize != len(content):
            raise _Lz4Error("content size mismatch")
        return {"content": bytes(content), "n_blocks": n_blocks,
                "content_size": len(content), "error": None}
    except _Lz4Error as e:
        return {**none, "error": str(e)}


def _lz4_row(b: bytes | None) -> dict:
    """parse_lz4_frame's row with the content decoded as UTF-8 text."""
    r = parse_lz4_frame(b)
    if r["error"] is not None:
        return {"error": r["error"]}
    try:
        return {**r, "text": r["content"].decode("utf-8")}
    except UnicodeDecodeError:
        return {"error": "non-utf8 content"}


LZ4_FEATURES_SCHEMA = (
    "doc_id long, text string, n_blocks int, content_size bigint, "
    "error string"
)


def extract_lz4_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> decoded frame rows, one Arrow pass."""
    return map_blobs(df, _lz4_row, LZ4_FEATURES_SCHEMA, id_col, content_col)
