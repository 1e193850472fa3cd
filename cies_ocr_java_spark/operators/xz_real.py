"""REAL .xz container walker — the modern-archive trio completed
(gzip -> DEFLATE, bz2 -> BWT, xz -> LZMA2): an xz stream is a CRC-
armored envelope around LZMA2, which is itself a CHUNK protocol over
the LZMA1 core (operators/lzma_real.py's _Lzma1Decoder, factored out
for exactly this): each chunk's control byte selects uncompressed
vs LZMA data and one of four RESET levels (nothing / probability
state / state+new props / state+props+dictionary) — the dictionary
window is the shared output buffer, so chunks without a dict reset
keep matching into earlier chunks' bytes.

Envelope walked and VERIFIED end to end: stream header (magic, flags,
CRC32 of the flags), block header (size byte, filter list — LZMA2 id
0x21 + dict-size props byte — zero padding, CRC32), compressed chunk
run, block padding to 4, the integrity CHECK of the uncompressed
bytes (CRC32, the xz flavor of CRC64 — reflected poly
0xC96C5795D7870F42, all-ones init/xor, implemented here — or
SHA256), the index (one varint record per block, its own CRC32,
cross-checked against the blocks actually walked), and the footer
(CRC32, backward-size that must equal the index's real size, flags
EQUAL to the header's, 'YZ').

Fixtures come from STDLIB lzma at FORMAT_XZ — every decode checked
against the canonical encoder (the bz2/zip/tar interop precedent).

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed stream yields an error ROW — never an exception.

Reference parity: none — beyond-reference codec operator.
"""

from __future__ import annotations

import hashlib
import zlib

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.lzma_real import (
    _Lzma1Decoder,
    _RangeDecoder,
    split_props,
)
from cies_ocr_java_spark.operators.walker import map_blobs

XZ_MAGIC = b"\xfd7zXZ\x00"
_CHECK_SIZES = {0: 0, 1: 4, 4: 8, 10: 32}
_CHECK_NAMES = {0: "none", 1: "crc32", 4: "crc64", 10: "sha256"}
_FILTER_LZMA2 = 0x21


def crc64_xz(data: bytes, crc: int = 0) -> int:
    """xz's CRC64: reflected ECMA-182 polynomial, all-ones init and
    final xor (zlib.crc32's 64-bit cousin; not available in stdlib)."""
    crc ^= 0xFFFFFFFFFFFFFFFF
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = (crc >> 1) ^ (0xC96C5795D7870F42 if crc & 1 else 0)
    return crc ^ 0xFFFFFFFFFFFFFFFF


def _varint(data: bytes, pos: int) -> tuple[int, int]:
    v = shift = 0
    while True:
        if pos >= len(data) or shift > 63:
            raise ValueError("varint overruns container")
        b = data[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return v, pos


def _decode_lzma2(data: bytes, pos: int, end: int,
                  max_out: int) -> tuple[bytes, int, int]:
    """Chunk loop; returns (payload, next_pos, n_chunks)."""
    out = bytearray()
    dec: _Lzma1Decoder | None = None
    props: tuple[int, int, int] | None = None
    n_chunks = 0
    # Dictionary-reset fence: ``out`` is ALSO the block's output
    # accumulator, so a mid-block dict reset must not clear it (that
    # would lose every previously decoded byte of the block). Instead
    # the window base advances and run() fences distances below it.
    win_base = 0
    while True:
        if pos >= end:
            raise ValueError("lzma2 stream missing end control")
        ctrl = data[pos]
        pos += 1
        if ctrl == 0x00:
            return bytes(out), pos, n_chunks
        n_chunks += 1
        if ctrl in (0x01, 0x02):
            if pos + 2 > end:
                raise ValueError("truncated uncompressed chunk header")
            size = int.from_bytes(data[pos:pos + 2], "big") + 1
            pos += 2
            if pos + size > end:
                raise ValueError("uncompressed chunk overruns block")
            if ctrl == 0x01:
                win_base = len(out)  # dict reset
            out += data[pos:pos + size]
            pos += size
            if len(out) > max_out:
                raise ValueError("output size cap exceeded")
            # an uncompressed chunk invalidates probability state
            if dec is not None:
                dec.reset_state()
        elif ctrl >= 0x80:
            if pos + 4 > end:
                raise ValueError("truncated lzma chunk header")
            unpacked = (((ctrl & 0x1F) << 16)
                        | int.from_bytes(data[pos:pos + 2], "big")) + 1
            packed = int.from_bytes(data[pos + 2:pos + 4], "big") + 1
            pos += 4
            reset = (ctrl >> 5) & 0x03
            if reset >= 2:
                if pos >= end:
                    raise ValueError("truncated props byte")
                props = split_props(data[pos])
                pos += 1
            if props is None:
                raise ValueError("lzma chunk before any props")
            if pos + packed > end:
                raise ValueError("lzma chunk overruns block")
            if reset == 3:
                win_base = len(out)
            if reset >= 1 or dec is None or (
                    reset >= 2 and (dec.lc, dec.lp, dec.pb) != props):
                dec = _Lzma1Decoder(*props)
            rc = _RangeDecoder(data, pos)
            limit = len(out) + unpacked
            if limit > max_out:
                raise ValueError("output size cap exceeded")
            dec.run(rc, out, limit, max_out, allow_end_marker=False,
                    win_base=win_base)
            if rc.pos - pos != packed:
                raise ValueError("lzma chunk packed-size mismatch")
            pos += packed
        else:
            raise ValueError(f"bad lzma2 control byte 0x{ctrl:02x}")


def xz_decode(data: bytes, max_out: int = 1 << 22
              ) -> tuple[bytes, dict]:
    """Full envelope walk; returns (payload, facts)."""
    if len(data) < 32 or data[:6] != XZ_MAGIC:
        raise ValueError("bad xz magic")
    flags = data[6:8]
    if int.from_bytes(data[8:12], "little") != zlib.crc32(flags):
        raise ValueError("stream header crc mismatch")
    if flags[0] != 0 or flags[1] not in _CHECK_SIZES:
        raise ValueError("bad stream flags")
    check_id = flags[1]
    pos = 12
    out = bytearray()
    records = []
    n_chunks_total = 0
    while True:
        if pos >= len(data):
            raise ValueError("missing index")
        first = data[pos]
        if first == 0x00:
            break  # index indicator
        header_size = (first + 1) * 4
        if pos + header_size > len(data):
            raise ValueError("block header overruns stream")
        hdr = data[pos:pos + header_size]
        if int.from_bytes(hdr[-4:], "little") \
                != zlib.crc32(hdr[:-4]):
            raise ValueError("block header crc mismatch")
        bflags = hdr[1]
        n_filters = (bflags & 0x03) + 1
        if bflags & 0x3C:
            raise ValueError("reserved block flag bits set")
        p = 2
        comp_size = unc_size = None
        if bflags & 0x40:
            comp_size, p = _varint(hdr, p)
        if bflags & 0x80:
            unc_size, p = _varint(hdr, p)
        lzma2_seen = False
        for _ in range(n_filters):
            fid, p = _varint(hdr, p)
            psize, p = _varint(hdr, p)
            fprops = hdr[p:p + psize]
            p += psize
            if fid == _FILTER_LZMA2:
                if psize != 1:
                    raise ValueError("bad lzma2 props size")
                lzma2_seen = True
            else:
                raise ValueError(f"unsupported filter 0x{fid:x}")
        if not lzma2_seen:
            raise ValueError("no lzma2 filter in block")
        if any(hdr[p:-4]):
            raise ValueError("nonzero block header padding")
        block_data_start = pos + header_size
        before = len(out)
        payload, dpos, n_chunks = _decode_lzma2(
            data, block_data_start, len(data), max_out)
        out += payload
        n_chunks_total += n_chunks
        comp_len = dpos - block_data_start
        if comp_size is not None and comp_size != comp_len:
            raise ValueError("declared compressed size mismatch")
        if unc_size is not None and unc_size != len(payload):
            raise ValueError("declared uncompressed size mismatch")
        pad = -comp_len % 4
        if any(data[dpos:dpos + pad]):
            raise ValueError("nonzero block padding")
        dpos += pad
        csize = _CHECK_SIZES[check_id]
        check = data[dpos:dpos + csize]
        if len(check) != csize:
            raise ValueError("truncated block check")
        if check_id == 1 and int.from_bytes(check, "little") \
                != zlib.crc32(payload):
            raise ValueError("block crc32 mismatch")
        if check_id == 4 and int.from_bytes(check, "little") \
                != crc64_xz(payload):
            raise ValueError("block crc64 mismatch")
        if check_id == 10 and check != hashlib.sha256(payload).digest():
            raise ValueError("block sha256 mismatch")
        dpos += csize
        unpadded = header_size + comp_len + csize
        records.append((unpadded, len(payload)))
        pos = dpos
    # index
    index_start = pos
    pos += 1
    count, pos = _varint(data, pos)
    if count != len(records):
        raise ValueError("index record count mismatch")
    for unpadded, usize in records:
        iu, pos = _varint(data, pos)
        iz, pos = _varint(data, pos)
        if iu != unpadded or iz != usize:
            raise ValueError("index record mismatch")
    pad = -(pos - index_start) % 4
    if any(data[pos:pos + pad]):
        raise ValueError("nonzero index padding")
    pos += pad
    if int.from_bytes(data[pos:pos + 4], "little") \
            != zlib.crc32(data[index_start:pos]):
        raise ValueError("index crc mismatch")
    index_size = pos + 4 - index_start
    pos += 4
    # footer
    if pos + 12 > len(data):
        raise ValueError("truncated stream footer")
    footer = data[pos:pos + 12]
    if int.from_bytes(footer[:4], "little") != zlib.crc32(footer[4:10]):
        raise ValueError("stream footer crc mismatch")
    backward = (int.from_bytes(footer[4:8], "little") + 1) * 4
    if backward != index_size:
        raise ValueError("footer backward size mismatch")
    if footer[8:10] != flags:
        raise ValueError("footer flags disagree with header")
    if footer[10:12] != b"YZ":
        raise ValueError("bad footer magic")
    return bytes(out), {
        "check_type": _CHECK_NAMES[check_id],
        "n_blocks": len(records),
        "n_chunks": n_chunks_total,
    }


_XZ_NONE = {"n_bytes": None, "n_lines": None, "text_md5": None,
            "check_type": None, "n_blocks": None, "n_chunks": None}


def parse_xz_doc(data: bytes | None) -> dict:
    if data is None or len(data) < 32:
        return {**_XZ_NONE, "error": "short or missing payload"}
    try:
        out, facts = xz_decode(bytes(data))
    except ValueError as e:
        return {**_XZ_NONE, "error": str(e)}
    return {
        "n_bytes": len(out),
        "n_lines": out.count(b"\n"),
        "text_md5": hashlib.md5(out).hexdigest(),
        **facts,
        "error": None,
    }


XZ_SCHEMA = ("doc_id long, n_bytes bigint, n_lines int, "
             "text_md5 string, check_type string, n_blocks int, "
             "n_chunks int, error string")


def extract_xz_docs(df: DataFrame, content_col: str = "content",
                    id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> decoded-stream stats via one
    Arrow-batched mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_xz_doc, XZ_SCHEMA, id_col, content_col)
