"""REAL git index (.git/index) walker — the third leg of the git
story (loose objects in git_objects.py, packs in git_pack.py, and now
the staging area): 'DIRC' + version 2, big-endian entries carrying
the full stat() snapshot (ctime/mtime with NANOSECONDS, dev, ino,
mode, uid, gid, size), a 20-byte object id, and a u16 flags word
whose LOW 12 BITS are the path length — then the entry is NUL-padded
so its total length is a multiple of 8 (the padding rule that makes
naive length arithmetic drift one entry in).

The whole file is closed by a SHA-1 over everything before it —
verified here with hashlib (the ORACLE cannot replay it: DuckDB has
no sha1, the git_object_walk scope rule — so the parser-side
`checksum_ok` flag carries that gate and this docstring says so).

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed index yields an error ROW — never an exception.

Reference parity: none — beyond-reference VCS operator.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

INDEX_MAGIC = b"DIRC"


def build_index(entries: list[tuple[str, int, int, bytes]],
                bad_checksum: bool = False,
                bad_magic: bool = False) -> bytes:
    """``entries`` = (path, mode, size, 20-byte oid), pre-sorted."""
    out = bytearray((b"DIRX" if bad_magic else INDEX_MAGIC)
                    + struct.pack(">II", 2, len(entries)))
    for k, (path, mode, size, oid) in enumerate(entries):
        raw = path.encode()
        fixed = struct.pack(
            ">10I", 1700000000 + k, 123456789, 1700000001 + k,
            987654321, 2049, 100000 + k, mode, 1000, 1000, size)
        ent = fixed + oid + struct.pack(">H", len(raw)) + raw
        # pad with NULs to a multiple of 8, AT LEAST one (it doubles
        # as the path terminator) — the rule that drifts naive walks
        pad = 8 - (len(ent) % 8) if len(ent) % 8 else 8
        ent += b"\x00" * pad
        out += ent
    digest = hashlib.sha1(bytes(out)).digest()
    if bad_checksum:
        digest = digest[:-1] + bytes([digest[-1] ^ 0xFF])
    return bytes(out) + digest


_GI_NONE = {"version": None, "n_entries": None, "paths": None,
            "total_size": None, "n_regular": None, "n_exec": None,
            "checksum_ok": None}


def parse_index(data: bytes | None) -> dict:
    if data is None or len(data) < 32 or data[:4] != INDEX_MAGIC:
        return {**_GI_NONE, "error": "bad index magic"}
    data = bytes(data)
    version, n = struct.unpack_from(">II", data, 4)
    if version != 2:
        return {**_GI_NONE, "error": f"unsupported index version "
                                     f"{version}"}
    body_end = len(data) - 20
    if hashlib.sha1(data[:body_end]).digest() != data[body_end:]:
        return {**_GI_NONE, "error": "index checksum mismatch"}
    pos = 12
    paths = []
    total_size = 0
    n_regular = n_exec = 0
    try:
        for k in range(n):
            if pos + 62 > body_end:
                raise ValueError(f"entry {k} overruns index")
            fields = struct.unpack_from(">10I", data, pos)
            mode, size = fields[6], fields[9]
            (flags,) = struct.unpack_from(">H", data, pos + 60)
            namelen = flags & 0x0FFF
            if pos + 62 + namelen > body_end:
                raise ValueError(f"entry {k} path overruns index")
            path = data[pos + 62:pos + 62 + namelen].decode("utf-8")
            entry_len = 62 + namelen
            entry_len += 8 - (entry_len % 8) if entry_len % 8 else 8
            if pos + entry_len > body_end:
                raise ValueError(f"entry {k} padding overruns index")
            pad = data[pos + 62 + namelen:pos + entry_len]
            if any(pad):
                raise ValueError(f"entry {k} nonzero padding")
            pos += entry_len
            paths.append(path)
            total_size += size
            if mode == 0o100644:
                n_regular += 1
            elif mode == 0o100755:
                n_exec += 1
        if pos != body_end:
            raise ValueError("trailing bytes before index checksum")
        if paths != sorted(paths):
            raise ValueError("entries not sorted by path")
    except (ValueError, UnicodeDecodeError) as e:
        msg = str(e) if isinstance(e, ValueError) \
            else "invalid utf-8 path"
        return {**_GI_NONE, "error": msg}
    return {
        "version": version, "n_entries": n,
        "paths": ",".join(paths), "total_size": total_size,
        "n_regular": n_regular, "n_exec": n_exec,
        "checksum_ok": 1, "error": None,
    }


GI_SCHEMA = ("doc_id long, version int, n_entries int, paths string, "
             "total_size bigint, n_regular int, n_exec int, "
             "checksum_ok int, error string")


def extract_index_features(df: DataFrame,
                           content_col: str = "content",
                           id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> staging-area facts via one
    Arrow-batched mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_index, GI_SCHEMA, id_col, content_col)
