"""REAL git packfile walker — the DELTA layer above git_objects.py's
loose-object walk: a pack is 'PACK' + version + count, then a run of
objects each headed by a type/size varint (4 low bits in the first
byte, 7 per continuation — the one varint in git that changes stride
mid-number), zlib-compressed — and a third of them are not objects at
all but DELTAS against earlier ones: OFS_DELTA (base addressed by a
backwards byte-offset in git's +1-biased offset encoding, the
off-by-one that makes naive decoders point one object early) or
REF_DELTA (base addressed by object id).

Delta application is its own little ISA: copy opcodes (high bit set;
4 offset + 3 size presence flags pick which bytes follow, size 0
means 0x10000) and insert opcodes (the literal count itself).  Copies
are bounds-gated against the base, and the declared target size must
match EXACTLY after the last opcode.

Two compositions make this operator honest:
- streams are inflated by operators/inflate.py (the from-scratch
  DEFLATE decoder), whose RETURNED CONSUMED-BYTE COUNT is what lets
  the walk find the next object header — a decoder that cannot report
  where a stream ended cannot walk a pack at all;
- object ids use git's SHA-256 object format (git_objects.py's
  choice), so the oracle hash-replays every id and the pack trailer
  as DuckDB sha256 over the same text (the git_object_walk scope
  rule: DuckDB has no sha1).

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed pack yields an error ROW — never an exception.

Reference parity: none — beyond-reference VCS-container operator.
"""

from __future__ import annotations

import hashlib
import zlib

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.inflate import (
    InflateError,
    inflate_zlib_stream,
)
from cies_ocr_java_spark.operators.walker import map_blobs, rows_or_error

OBJ_TYPES = {1: "commit", 2: "tree", 3: "blob", 4: "tag"}
OFS_DELTA, REF_DELTA = 6, 7
_OID_LEN = 32  # sha256 object format


def _obj_header(t: int, size: int) -> bytes:
    b = (t << 4) | (size & 0x0F)
    size >>= 4
    out = bytearray()
    while size:
        out.append(b | 0x80)
        b = size & 0x7F
        size >>= 7
    out.append(b)
    return bytes(out)


def _ofs_encode(n: int) -> bytes:
    parts = [n & 0x7F]
    n >>= 7
    while n:
        n -= 1
        parts.append(0x80 | (n & 0x7F))
        n >>= 7
    return bytes(reversed(parts))


def _delta_size(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def delta_copy(off: int, size: int) -> bytes:
    op = 0x80
    tail = bytearray()
    for k in range(4):
        b = (off >> (8 * k)) & 0xFF
        if b:
            op |= 1 << k
            tail.append(b)
    for k in range(3):
        b = (size >> (8 * k)) & 0xFF
        if b:
            op |= 0x10 << k
            tail.append(b)
    return bytes([op]) + bytes(tail)


def delta_insert(data: bytes) -> bytes:
    out = bytearray()
    for k in range(0, len(data), 127):
        chunk = data[k:k + 127]
        out += bytes([len(chunk)]) + chunk
    return bytes(out)


def build_delta(src_size: int, tgt_size: int, ops: bytes) -> bytes:
    return _delta_size(src_size) + _delta_size(tgt_size) + ops


def object_id(otype: str, content: bytes) -> str:
    return hashlib.sha256(
        f"{otype} {len(content)}\x00".encode() + content).hexdigest()


def build_pack(entries: list[tuple], bad_trailer: bool = False,
               bad_ofs: bool = False) -> bytes:
    """``entries``: ('blob'|'commit'|..., content) for full objects,
    ('ofs', base_idx, delta) or ('ref', base_oid_hex, delta) for
    deltas.  ``bad_ofs`` shifts the first OFS_DELTA's base offset one
    byte early (the off-by-one a naive decoder makes)."""
    rev = {v: k for k, v in OBJ_TYPES.items()}
    out = bytearray(b"PACK" + (2).to_bytes(4, "big")
                    + len(entries).to_bytes(4, "big"))
    offsets: list[int] = []
    poisoned = False
    for e in entries:
        offsets.append(len(out))
        if e[0] in rev:
            _t, content = e
            out += _obj_header(rev[_t], len(content))
            out += zlib.compress(content)
        elif e[0] == "ofs":
            _k, base_idx, delta = e
            rel = len(out) - offsets[base_idx]
            if bad_ofs and not poisoned:
                rel += 1
                poisoned = True
            out += _obj_header(OFS_DELTA, len(delta))
            out += _ofs_encode(rel)
            out += zlib.compress(delta)
        else:
            _k, oid, delta = e
            out += _obj_header(REF_DELTA, len(delta))
            out += bytes.fromhex(oid)
            out += zlib.compress(delta)
    digest = hashlib.sha256(bytes(out)).digest()
    if bad_trailer:
        digest = digest[:-1] + bytes([digest[-1] ^ 0xFF])
    return bytes(out) + digest


def _read_varint_le(data: bytes, pos: int) -> tuple[int, int]:
    v = shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("varint overruns pack")
        b = data[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return v, pos


def apply_delta(base: bytes, delta: bytes) -> bytes:
    src_size, pos = _read_varint_le(delta, 0)
    tgt_size, pos = _read_varint_le(delta, pos)
    if src_size != len(base):
        raise ValueError("delta source size mismatch")
    out = bytearray()
    while pos < len(delta):
        op = delta[pos]
        pos += 1
        if op == 0:
            raise ValueError("reserved delta opcode 0")
        if op & 0x80:
            off = size = 0
            for k in range(4):
                if op & (1 << k):
                    if pos >= len(delta):
                        raise ValueError("copy operand overruns delta")
                    off |= delta[pos] << (8 * k)
                    pos += 1
            for k in range(3):
                if op & (0x10 << k):
                    if pos >= len(delta):
                        raise ValueError("copy operand overruns delta")
                    size |= delta[pos] << (8 * k)
                    pos += 1
            if size == 0:
                size = 0x10000
            if off + size > len(base):
                raise ValueError("copy out of base bounds")
            out += base[off:off + size]
        else:
            if pos + op > len(delta):
                raise ValueError("insert overruns delta")
            out += delta[pos:pos + op]
            pos += op
    if len(out) != tgt_size:
        raise ValueError("delta target size mismatch")
    return bytes(out)


def parse_pack(data: bytes | None) -> tuple[list[dict] | None,
                                            str | None]:
    """Walk the object run (consumed-byte counts from the from-scratch
    inflater locate each next header), resolve both delta kinds, and
    verify the sha256 trailer."""
    if data is None or len(data) < 12 + _OID_LEN:
        return None, "short or missing pack"
    data = bytes(data)
    if data[:4] != b"PACK":
        return None, "bad pack magic"
    version = int.from_bytes(data[4:8], "big")
    if version != 2:
        return None, f"unsupported pack version {version}"
    n_obj = int.from_bytes(data[8:12], "big")
    body_end = len(data) - _OID_LEN
    if hashlib.sha256(data[:body_end]).digest() != data[body_end:]:
        return None, "pack checksum mismatch"
    pos = 12
    by_offset: dict[int, tuple[str, bytes, int]] = {}
    by_oid: dict[str, tuple[str, bytes, int]] = {}
    rows: list[dict] = []
    try:
        for idx in range(n_obj):
            start = pos
            if pos >= body_end:
                return None, f"object {idx} overruns pack"
            b = data[pos]
            pos += 1
            otype_n = (b >> 4) & 0x07
            size = b & 0x0F
            shift = 4
            while b & 0x80:
                if pos >= body_end:
                    return None, f"object {idx} overruns pack"
                b = data[pos]
                pos += 1
                size |= (b & 0x7F) << shift
                shift += 7
            base = None
            base_kind = None
            if otype_n == OFS_DELTA:
                if pos >= body_end:
                    return None, f"object {idx} overruns pack"
                c = data[pos]
                pos += 1
                rel = c & 0x7F
                while c & 0x80:
                    if pos >= body_end:
                        return None, f"object {idx} overruns pack"
                    c = data[pos]
                    pos += 1
                    rel = ((rel + 1) << 7) | (c & 0x7F)
                base_off = start - rel
                if base_off not in by_offset:
                    return None, "delta base is not an object boundary"
                base = by_offset[base_off]
                base_kind = "ofs"
            elif otype_n == REF_DELTA:
                if pos + _OID_LEN > body_end:
                    return None, f"object {idx} overruns pack"
                oid = data[pos:pos + _OID_LEN].hex()
                pos += _OID_LEN
                if oid not in by_oid:
                    return None, "delta base id not in pack"
                base = by_oid[oid]
                base_kind = "ref"
            elif otype_n not in OBJ_TYPES:
                return None, f"bad object type {otype_n}"
            try:
                raw, consumed = inflate_zlib_stream(data[pos:body_end])
            except InflateError as e:
                return None, f"deflate error in object {idx}: {e}"
            pos += consumed
            if len(raw) != size:
                return None, f"object {idx} size mismatch"
            if base is None:
                otype, content, depth = OBJ_TYPES[otype_n], raw, 0
            else:
                b_type, b_content, b_depth = base
                content = apply_delta(b_content, raw)
                otype, depth = b_type, b_depth + 1
            oid = object_id(otype, content)
            by_offset[start] = (otype, content, depth)
            by_oid[oid] = (otype, content, depth)
            rows.append({
                "obj_idx": idx, "otype": otype,
                "size": len(content), "oid": oid,
                "is_delta": int(base is not None),
                "base_kind": base_kind, "delta_depth": depth,
                "content_md5": hashlib.md5(content).hexdigest(),
            })
        if pos != body_end:
            return None, "trailing bytes before pack trailer"
    except ValueError as e:
        return None, str(e)
    return rows, None


GIT_PACK_SCHEMA = (
    "doc_id long, obj_idx int, otype string, size bigint, oid string, "
    "is_delta int, base_kind string, delta_depth int, "
    "content_md5 string, error string"
)


def extract_pack_objects(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> one row per pack object via one
    Arrow-batched mapInPandas pass (no shuffle)."""
    return map_blobs(df, rows_or_error(parse_pack), GIT_PACK_SCHEMA,
                     id_col, content_col)
