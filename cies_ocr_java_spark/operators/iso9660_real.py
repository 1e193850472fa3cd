"""REAL ISO 9660 (CD-ROM filesystem) walker on stdlib struct — the
container a corpus dump or software archive actually ships as: 2048-
byte sectors, a Primary Volume Descriptor at sector 16, and a
directory TREE of variable-length records whose files are contiguous
extents.

The format's signature quirk is BOTH-ENDIAN integers: every
multi-byte field is stored twice, little-endian THEN big-endian
(ECMA-119 7.2.3/7.3.3), because 1988 could not agree on byte order.
This walker reads BOTH and treats disagreement as corruption — a
free integrity check no single-endian format offers (the poison tier
flips one copy only, which a lazy LE-only reader would never notice).

Directory records: u8 record length, u8 ext-attr length, both-endian
extent LBA, both-endian size, 7-byte datetime, flags (0x02 =
directory), name length + name (files carry the ";1" version suffix;
the root's own record lives IN the PVD).  Subdirectory recursion is
depth-capped and cycle-guarded by LBA; records never cross sector
boundaries (a record length that would is padding, skip to next
sector — the real mastering rule).

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed image yields an error ROW — never an exception.

Reference parity: none — beyond-reference container operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs, rows_or_error

SECTOR = 2048
_MAX_DEPTH = 16


def _both_u32(v: int) -> bytes:
    return struct.pack("<I", v) + struct.pack(">I", v)


def _both_u16(v: int) -> bytes:
    return struct.pack("<H", v) + struct.pack(">H", v)


def _dir_record(name: bytes, lba: int, size: int,
                is_dir: bool, bad_be_size: bool = False) -> bytes:
    be_size = size + 1 if bad_be_size else size
    body = bytes([0])  # ext attr length
    body += struct.pack("<I", lba) + struct.pack(">I", lba)
    body += struct.pack("<I", size) + struct.pack(">I", be_size)
    body += bytes([124, 1, 1, 0, 0, 0, 0])  # recording datetime
    body += bytes([0x02 if is_dir else 0x00])
    body += bytes([0, 0])  # unit size / gap
    body += _both_u16(1)  # volume sequence number
    body += bytes([len(name)]) + name
    rec = bytes([len(body) + 1]) + body
    if len(rec) % 2:
        rec += b"\x00"
        rec = bytes([rec[0] + 1]) + rec[1:]
    return rec


def build_iso(volume_id: str,
              tree: dict, bad_be_size_name: str | None = None,
              bad_pvd_magic: bool = False) -> bytes:
    """``tree`` maps names to either bytes (file content) or a nested
    dict (subdirectory).  Layout: 16 blank system sectors, PVD,
    terminator, then directories and file extents."""
    sectors: list[bytes] = []

    def alloc(data: bytes) -> int:
        lba = 18 + len(sectors)
        n = max(1, -(-len(data) // SECTOR))
        for k in range(n):
            sectors.append(data[k * SECTOR:(k + 1) * SECTOR]
                           .ljust(SECTOR, b"\x00"))
        return lba

    def layout(d: dict, parent_lba_slot: list) -> tuple[int, int]:
        entries = []
        for name, v in d.items():
            if isinstance(v, dict):
                lba, size = layout(v, parent_lba_slot)
                entries.append((name.encode("ascii"), lba, size, True))
            else:
                lba = alloc(v)
                entries.append(((name + ";1").encode("ascii"), lba,
                                len(v), False))
        # assemble this directory's sector: . and .. first
        recs = bytearray()
        self_slot = len(sectors)
        body = bytearray()
        for name, lba, size, is_dir in entries:
            bad = (bad_be_size_name is not None
                   and name.decode("ascii", "replace")
                   .split(";")[0] == bad_be_size_name)
            body += _dir_record(name, lba, size, is_dir,
                                bad_be_size=bad)
        # placeholder . / .. records point at self (patched after
        # alloc; parent omitted from size accounting simplicity)
        dir_lba = 18 + len(sectors)
        dot = _dir_record(b"\x00", dir_lba, 0, True)
        dotdot = _dir_record(b"\x01", dir_lba, 0, True)
        data = bytes(dot) + bytes(dotdot) + bytes(body)
        if len(data) > SECTOR:
            raise ValueError("directory too large for one sector")
        lba = alloc(data)
        return lba, SECTOR

    root_lba, root_size = layout(tree, [])
    pvd = bytearray(SECTOR)
    pvd[0] = 1
    pvd[1:6] = b"CD001" if not bad_pvd_magic else b"CD002"
    pvd[6] = 1
    pvd[40:40 + 32] = volume_id.ljust(32).encode("ascii")
    total = 18 + len(sectors)
    pvd[80:88] = _both_u32(total)
    pvd[120:124] = _both_u16(1) # volume set size
    pvd[124:128] = _both_u16(1) # volume sequence number
    pvd[128:132] = _both_u16(SECTOR)
    root_rec = _dir_record(b"\x00", root_lba, root_size, True)
    pvd[156:156 + len(root_rec)] = root_rec
    term = bytearray(SECTOR)
    term[0] = 255
    term[1:6] = b"CD001"
    term[6] = 1
    return (b"\x00" * (16 * SECTOR) + bytes(pvd) + bytes(term)
            + b"".join(sectors))


def _read_both_u32(data: bytes, pos: int, what: str) -> int:
    le = struct.unpack_from("<I", data, pos)[0]
    be = struct.unpack_from(">I", data, pos + 4)[0]
    if le != be:
        raise ValueError(f"both-endian mismatch in {what}")
    return le


def parse_iso(data: bytes | None) -> tuple[list[dict] | None,
                                           str | None]:
    """PVD at sector 16, root record, recursive directory walk.
    Returns one row per file/dir with path, size, extent lba, and an
    md5 of file content."""
    import hashlib

    if data is None or len(data) < 18 * SECTOR:
        return None, "image too small"
    data = bytes(data)
    pvd = data[16 * SECTOR:17 * SECTOR]
    if pvd[0] != 1 or pvd[1:6] != b"CD001":
        return None, "bad primary volume descriptor"
    volume_id = pvd[40:72].decode("ascii", "replace").rstrip()
    try:
        total = _read_both_u32(pvd, 80, "volume space size")
    except ValueError as e:
        return None, str(e)
    rows: list[dict] = []

    def read_record(buf: bytes, pos: int):
        rlen = buf[pos]
        if rlen == 0:
            return None
        if pos + rlen > len(buf):
            raise ValueError("directory record overruns sector")
        rec = buf[pos:pos + rlen]
        lba = _read_both_u32(rec, 2, "extent lba")
        size = _read_both_u32(rec, 10, "extent size")
        flags = rec[25]
        nlen = rec[32]
        if 33 + nlen > rlen:
            raise ValueError("name overruns record")
        name = rec[33:33 + nlen]
        return lba, size, bool(flags & 0x02), name, rlen

    def walk(lba: int, size: int, path: str, depth: int,
             seen: frozenset) -> None:
        if depth > _MAX_DEPTH:
            raise ValueError("directory nesting too deep")
        if lba in seen:
            raise ValueError(f"directory cycle at lba {lba}")
        if (lba + max(1, -(-size // SECTOR))) * SECTOR > len(data):
            raise ValueError(f"extent out of image at lba {lba}")
        buf = data[lba * SECTOR:lba * SECTOR + size]
        pos = 0
        while pos < len(buf):
            got = read_record(buf, pos)
            if got is None:
                # zero pad: skip to the next sector boundary
                pos = (pos // SECTOR + 1) * SECTOR
                continue
            e_lba, e_size, is_dir, name, rlen = got
            pos += rlen
            if name in (b"\x00", b"\x01"):
                continue
            plain = name.decode("ascii", "replace").split(";")[0]
            full = f"{path}/{plain}"
            if is_dir:
                rows.append({"path": full, "is_dir": 1,
                             "size": e_size, "lba": e_lba,
                             "content_md5": None})
                walk(e_lba, e_size, full, depth + 1, seen | {lba})
            else:
                if (e_lba * SECTOR + e_size) > len(data):
                    raise ValueError(
                        f"extent out of image at lba {e_lba}")
                content = data[e_lba * SECTOR:e_lba * SECTOR + e_size]
                rows.append({
                    "path": full, "is_dir": 0, "size": e_size,
                    "lba": e_lba,
                    "content_md5": hashlib.md5(content).hexdigest(),
                })

    try:
        root = data[16 * SECTOR + 156:16 * SECTOR + 156 + 256]
        got = read_record(root, 0)
        if got is None:
            return None, "missing root directory record"
        r_lba, r_size, is_dir, _name, _rl = got
        if not is_dir:
            return None, "root record is not a directory"
        walk(r_lba, r_size, "", 0, frozenset())
    except ValueError as e:
        return None, str(e)
    for r in rows:
        r["volume_id"] = volume_id
        r["total_sectors"] = total
    return rows, None


ISO_SCHEMA = (
    "doc_id long, path string, is_dir int, size bigint, lba int, "
    "content_md5 string, volume_id string, total_sectors int, "
    "error string"
)


def extract_iso_entries(df: DataFrame, content_col: str = "content",
                        id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> one row per filesystem entry via one
    Arrow-batched mapInPandas pass (no shuffle)."""
    return map_blobs(df, rows_or_error(parse_iso), ISO_SCHEMA, id_col,
                     content_col)
