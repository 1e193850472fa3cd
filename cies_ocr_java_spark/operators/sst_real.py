"""REAL LevelDB SSTable walker — the LSM storage artifact under
half the world's embedded databases, and three new disciplines in
one file:

- PREFIX-COMPRESSED KEYS: each entry stores (shared, unshared,
  value_len) varints and only the key SUFFIX — the key reconstructs
  from the previous entry's prefix, so entries are order-dependent
  and RESTART POINTS (full keys every K entries, offsets listed in a
  trailer array) are what make binary search possible at all;
- CRC32C (Castagnoli, reflected poly 0x82F63B78 — the FOURTH CRC
  polynomial in the repo after zlib's, OGG's unreflected, and xz's
  CRC64) over block-contents+type, then MASKED by leveldb's
  rotate-and-add (((crc >> 15) | (crc << 17)) + 0xa282ead8) so a CRC
  stored over data that itself contains CRCs stays uncorrelated;
- per-block compression dispatch: type 0 stored, type 1 snappy —
  decoded by operators/snappy_real.py, the from-scratch codec.

Layout: data blocks, metaindex block, index block (last-key ->
varint BlockHandle), 48-byte footer ending in the magic
0xdb4775248b80fb57.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed table yields an error ROW — never an exception.

Reference parity: none — beyond-reference storage operator.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.snappy_real import (
    snappy_compress,
    snappy_decompress,
)
from cies_ocr_java_spark.operators.walker import map_blobs

SST_MAGIC = 0xDB4775248B80FB57
_RESTART_INTERVAL = 4
_MASK_DELTA = 0xA282EAD8


def crc32c(data: bytes, crc: int = 0) -> int:
    """Castagnoli CRC-32 (reflected 0x82F63B78), init/xor all-ones."""
    crc ^= 0xFFFFFFFF
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = (crc >> 1) ^ (0x82F63B78 if crc & 1 else 0)
    return crc ^ 0xFFFFFFFF


def mask_crc(crc: int) -> int:
    return (((crc >> 15) | (crc << 17)) + _MASK_DELTA) & 0xFFFFFFFF


def unmask_crc(masked: int) -> int:
    rot = (masked - _MASK_DELTA) & 0xFFFFFFFF
    return ((rot >> 17) | (rot << 15)) & 0xFFFFFFFF


def _uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_uvarint(data: bytes, pos: int) -> tuple[int, int]:
    v = shift = 0
    while True:
        if pos >= len(data) or shift > 35:
            raise ValueError("varint overruns block")
        b = data[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return v, pos


def build_block(entries: list[tuple[bytes, bytes]]) -> bytes:
    """Prefix-compressed entries + restart array trailer."""
    out = bytearray()
    restarts = []
    prev = b""
    for k, (key, val) in enumerate(entries):
        if k % _RESTART_INTERVAL == 0:
            restarts.append(len(out))
            shared = 0
        else:
            shared = 0
            while shared < min(len(prev), len(key)) \
                    and prev[shared] == key[shared]:
                shared += 1
        out += _uvarint(shared) + _uvarint(len(key) - shared) \
            + _uvarint(len(val))
        out += key[shared:] + val
        prev = key
    for r in restarts:
        out += struct.pack("<I", r)
    out += struct.pack("<I", len(restarts))
    return bytes(out)


def parse_block(data: bytes) -> tuple[list[tuple[bytes, bytes]], int]:
    """Returns (entries, n_restarts); prefix reconstruction with the
    order-dependency the format imposes."""
    if len(data) < 4:
        raise ValueError("block too short")
    (n_restarts,) = struct.unpack_from("<I", data, len(data) - 4)
    trailer = 4 + 4 * n_restarts
    if trailer > len(data):
        raise ValueError("restart array overruns block")
    end = len(data) - trailer
    entries = []
    pos = 0
    prev = b""
    while pos < end:
        shared, pos = _read_uvarint(data, pos)
        unshared, pos = _read_uvarint(data, pos)
        vlen, pos = _read_uvarint(data, pos)
        if shared > len(prev):
            raise ValueError("shared prefix exceeds previous key")
        if pos + unshared + vlen > end:
            raise ValueError("entry overruns block")
        key = prev[:shared] + data[pos:pos + unshared]
        pos += unshared
        val = data[pos:pos + vlen]
        pos += vlen
        entries.append((key, val))
        prev = key
    return entries, n_restarts


def _emit_block(out: bytearray, contents: bytes,
                compress: bool) -> tuple[int, int]:
    if compress:
        blob = snappy_compress(contents)
        ctype = 1
    else:
        blob = contents
        ctype = 0
    handle = (len(out), len(blob))
    out += blob + bytes([ctype])
    out += struct.pack("<I", mask_crc(crc32c(blob + bytes([ctype]))))
    return handle


def build_sst(kvs: list[tuple[bytes, bytes]], block_entries: int = 4,
              compress: bool = False, bad_crc: bool = False,
              bad_magic: bool = False) -> bytes:
    out = bytearray()
    handles = []
    for k in range(0, len(kvs), block_entries):
        chunk = kvs[k:k + block_entries]
        h = _emit_block(out, build_block(chunk), compress)
        handles.append((chunk[-1][0], h))
    meta_h = _emit_block(out, build_block([]), False)
    index_entries = [
        (last_key, _uvarint(off) + _uvarint(size))
        for last_key, (off, size) in handles
    ]
    index_h = _emit_block(out, build_block(index_entries), False)
    footer = (_uvarint(meta_h[0]) + _uvarint(meta_h[1])
              + _uvarint(index_h[0]) + _uvarint(index_h[1]))
    footer = footer.ljust(40, b"\x00")
    footer += struct.pack("<Q",
                          SST_MAGIC ^ 1 if bad_magic else SST_MAGIC)
    out += footer
    if bad_crc:
        # flip a byte inside block 0's stored crc
        h0 = handles[0][1]
        at = h0[0] + h0[1] + 1
        out[at] ^= 0xFF
    return bytes(out)


_SST_NONE = {"n_blocks": None, "n_entries": None, "n_restarts": None,
             "compression": None, "keys_md5": None, "values_md5": None}


def parse_sst(data: bytes | None) -> dict:
    if data is None or len(data) < 48:
        return {**_SST_NONE, "error": "table too short"}
    data = bytes(data)
    (magic,) = struct.unpack_from("<Q", data, len(data) - 8)
    if magic != SST_MAGIC:
        return {**_SST_NONE, "error": "bad sst magic"}
    footer = data[len(data) - 48:len(data) - 8]
    try:
        _mo, p = _read_uvarint(footer, 0)
        _ms, p = _read_uvarint(footer, p)
        io_, p = _read_uvarint(footer, p)
        isz, p = _read_uvarint(footer, p)

        def read_block(off: int, size: int, what: str) -> bytes:
            if off + size + 5 > len(data):
                raise ValueError(f"{what} handle out of table")
            blob = data[off:off + size]
            ctype = data[off + size]
            (stored,) = struct.unpack_from("<I", data, off + size + 1)
            if unmask_crc(stored) != crc32c(blob + bytes([ctype])):
                raise ValueError(f"{what} crc mismatch")
            if ctype == 0:
                return blob
            if ctype == 1:
                return snappy_decompress(blob)
            raise ValueError(f"unknown compression type {ctype}")

        index, _nr = parse_block(read_block(io_, isz, "index block"))
        n_entries = 0
        n_restarts = 0
        keys = hashlib.md5()
        vals = hashlib.md5()
        ctypes = set()
        for _last_key, handle_raw in index:
            off, q = _read_uvarint(handle_raw, 0)
            size, q = _read_uvarint(handle_raw, q)
            ctypes.add(data[off + size]
                       if off + size < len(data) else -1)
            entries, nr = parse_block(
                read_block(off, size, "data block"))
            n_restarts += nr
            for k, v in entries:
                keys.update(k)
                vals.update(v)
                n_entries += 1
    except ValueError as e:
        return {**_SST_NONE, "error": str(e)}
    return {
        "n_blocks": len(index),
        "n_entries": n_entries,
        "n_restarts": n_restarts,
        "compression": "snappy" if 1 in ctypes else "none",
        "keys_md5": keys.hexdigest(),
        "values_md5": vals.hexdigest(),
        "error": None,
    }


SST_SCHEMA = ("doc_id long, n_blocks int, n_entries int, "
              "n_restarts int, compression string, keys_md5 string, "
              "values_md5 string, error string")


def extract_sst_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> table facts via one Arrow-batched
    mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_sst, SST_SCHEMA, id_col, content_col)
