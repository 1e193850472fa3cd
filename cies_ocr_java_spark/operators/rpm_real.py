"""REAL RPM package walker — deb's counterpart on the other half of
the Linux world, and a different composition stack: where deb is
ar(tar.gz + tar.xz), rpm is

    lead (96 fixed bytes, the obsolete-but-mandatory v3 envelope)
    + signature header        (8-ALIGNED header structure)
    + main header             (the same structure, unpadded)
    + gzip                    (archive.gunzip_members)
      └── cpio "newc"         (ASCII-HEX fixed-width headers)

The rpm "header structure" is TIFF's IFD idea reinvented: a count of
16-byte index entries (tag, type, offset, count) pointing into a data
blob, with per-type alignment (INT32 data 4-aligned — the store must
pad, the reader must not assume contiguity).  The cpio newc member
format is pure 1990: thirteen 8-char ASCII-HEX fields (sizes, ids,
mtime — all hex TEXT), names NUL-terminated and padded so header+name
lands 4-aligned, data padded to 4, closed by a member literally named
"TRAILER!!!".

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed package yields an error ROW — never an exception; each
layer keeps its own error strings (the deb four-tier precedent).

Reference parity: none — beyond-reference container operator.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.archive import (
    build_gzip,
    gunzip_members,
)
from cies_ocr_java_spark.operators.walker import map_blobs

RPM_LEAD_MAGIC = b"\xed\xab\xee\xdb"
HDR_MAGIC = b"\x8e\xad\xe8\x01"

T_INT32, T_STRING = 4, 6
TAG_NAME, TAG_VERSION, TAG_RELEASE = 1000, 1001, 1002
TAG_SIZE, TAG_ARCH = 1009, 1022


def build_header(entries: list[tuple[int, int, object]]) -> bytes:
    """One rpm header structure: index entries + typed, aligned data."""
    data = bytearray()
    index = b""
    for tag, typ, val in entries:
        if typ == T_STRING:
            off = len(data)
            data += str(val).encode() + b"\x00"
            cnt = 1
        elif typ == T_INT32:
            while len(data) % 4:
                data += b"\x00"
            off = len(data)
            for v in val:
                data += struct.pack(">I", v)
            cnt = len(val)
        else:
            raise ValueError("unsupported header type")
        index += struct.pack(">IIII", tag, typ, off, cnt)
    return (HDR_MAGIC + b"\x00" * 4
            + struct.pack(">II", len(entries), len(data))
            + index + bytes(data))


def build_cpio(files: list[tuple[str, bytes]]) -> bytes:
    """A real cpio newc archive."""
    out = bytearray()

    def entry(name: str, data: bytes, mode: int) -> None:
        raw = name.encode()
        hdr = b"070701" + b"".join(
            b"%08X" % v for v in [
                len(out) + 1, mode, 0, 0, 1, 0, len(data), 0, 0, 0, 0,
                len(raw) + 1, 0])
        out.extend(hdr + raw + b"\x00")
        out.extend(b"\x00" * (-(len(hdr) + len(raw) + 1) % 4))
        out.extend(data)
        out.extend(b"\x00" * (-len(data) % 4))

    for name, data in files:
        entry(name, data, 0o100644)
    entry("TRAILER!!!", b"", 0)
    return bytes(out)


def build_rpm(name: str, version: str, release: str, arch: str,
              files: list[tuple[str, bytes]],
              bad_hdr_magic: bool = False,
              bad_cpio_magic: bool = False) -> bytes:
    lead = bytearray(96)
    lead[0:4] = RPM_LEAD_MAGIC
    lead[4:6] = bytes([3, 0])
    lead[6:8] = struct.pack(">H", 0)   # binary package
    lead[8:10] = struct.pack(">H", 1)  # arch num
    nb = f"{name}-{version}-{release}".encode()[:65]
    lead[10:10 + len(nb)] = nb
    lead[76:78] = struct.pack(">H", 1)   # os
    lead[78:80] = struct.pack(">H", 5)   # signature type
    sig = build_header([(1004, T_INT32, [0])])  # placeholder digest
    sig_padded = sig + b"\x00" * (-len(sig) % 8)
    size_tag = sum(len(d) for _n, d in files)
    hdr = build_header([
        (TAG_NAME, T_STRING, name),
        (TAG_VERSION, T_STRING, version),
        (TAG_RELEASE, T_STRING, release),
        (TAG_SIZE, T_INT32, [size_tag]),
        (TAG_ARCH, T_STRING, arch),
    ])
    if bad_hdr_magic:
        hdr = b"\x8e\xad\xe8\x02" + hdr[4:]
    cpio = build_cpio(files)
    if bad_cpio_magic:
        # corrupt the SECOND entry's magic (first file stays valid)
        first_len = cpio.index(b"070701", 6)
        cpio = cpio[:first_len] + b"070702" + cpio[first_len + 6:]
    return bytes(lead) + sig_padded + hdr \
        + build_gzip([("payload.cpio", cpio)])


def _parse_header(data: bytes, pos: int, what: str
                  ) -> tuple[dict, int]:
    if data[pos:pos + 4] != HDR_MAGIC:
        raise ValueError(f"bad header magic in {what}")
    if pos + 16 > len(data):
        raise ValueError(f"truncated {what} header")
    nidx, hsize = struct.unpack_from(">II", data, pos + 8)
    if nidx > 0xFFFF or hsize > 1 << 24:
        raise ValueError(f"unreasonable {what} header geometry")
    base = pos + 16
    store = base + 16 * nidx
    if store + hsize > len(data):
        raise ValueError(f"{what} header overruns package")
    blob = data[store:store + hsize]
    out: dict[int, object] = {}
    for k in range(nidx):
        tag, typ, off, cnt = struct.unpack_from(">IIII", data,
                                                base + 16 * k)
        if typ == T_STRING:
            if off >= len(blob):
                raise ValueError(f"tag {tag} offset out of store")
            out[tag] = blob[off:].split(b"\x00")[0].decode(
                "utf-8", "replace")
        elif typ == T_INT32:
            if off + 4 * cnt > len(blob):
                raise ValueError(f"tag {tag} data out of store")
            out[tag] = list(struct.unpack_from(f">{cnt}I", blob, off))
    return out, store + hsize


def parse_cpio(data: bytes) -> list[tuple[str, bytes]]:
    pos = 0
    files: list[tuple[str, bytes]] = []
    idx = 0
    while True:
        if pos + 110 > len(data):
            raise ValueError(f"truncated cpio header in entry {idx}")
        hdr = data[pos:pos + 110]
        if hdr[:6] != b"070701":
            raise ValueError(f"bad cpio magic in entry {idx}")
        fields = []
        for k in range(13):
            f = hdr[6 + 8 * k:14 + 8 * k]
            try:
                fields.append(int(f, 16))
            except ValueError:
                raise ValueError(
                    f"bad cpio hex field in entry {idx}") from None
        fsize, nsize = fields[6], fields[11]
        name_at = pos + 110
        if name_at + nsize > len(data):
            raise ValueError(f"cpio name overruns in entry {idx}")
        name = data[name_at:name_at + nsize - 1].decode(
            "utf-8", "replace")
        pos = name_at + nsize
        pos += -((110 + nsize) % 4) % 4
        if name == "TRAILER!!!":
            return files
        if pos + fsize > len(data):
            raise ValueError(f"cpio data overruns in entry {idx}")
        files.append((name, data[pos:pos + fsize]))
        pos += fsize + (-fsize % 4)
        idx += 1


_RPM_NONE = {"name": None, "version": None, "release": None,
             "arch": None, "size_tag": None, "n_files": None,
             "file_bytes": None, "files_md5": None}


def parse_rpm(data: bytes | None) -> dict:
    """lead -> signature header (8-aligned) -> main header -> gzip ->
    cpio, each layer with its own errors."""
    if data is None or len(data) < 96:
        return {**_RPM_NONE, "error": "short or missing payload"}
    data = bytes(data)
    if data[:4] != RPM_LEAD_MAGIC:
        return {**_RPM_NONE, "error": "bad rpm lead magic"}
    if data[4] != 3:
        return {**_RPM_NONE, "error": "unsupported rpm version"}
    try:
        _sig, pos = _parse_header(data, 96, "signature")
        pos += -pos % 8  # signature header is 8-aligned
        tags, pos = _parse_header(data, pos, "main")
    except ValueError as e:
        return {**_RPM_NONE, "error": str(e)}
    g = gunzip_members(data[pos:])
    if g["error"] is not None:
        return {**_RPM_NONE, "error": f"payload: {g['error']}"}
    try:
        files = parse_cpio(b"".join(g["payloads"]))
    except ValueError as e:
        return {**_RPM_NONE, "error": f"payload: {e}"}
    blob = b"".join(d for _n, d in files)
    size = tags.get(TAG_SIZE)
    return {
        "name": tags.get(TAG_NAME),
        "version": tags.get(TAG_VERSION),
        "release": tags.get(TAG_RELEASE),
        "arch": tags.get(TAG_ARCH),
        "size_tag": size[0] if size else None,
        "n_files": len(files),
        "file_bytes": len(blob),
        "files_md5": hashlib.md5(blob).hexdigest(),
        "error": None,
    }


RPM_SCHEMA = (
    "doc_id long, name string, version string, release string, "
    "arch string, size_tag bigint, n_files int, file_bytes bigint, "
    "files_md5 string, error string"
)


def extract_rpm_packages(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> package metadata via one Arrow-batched
    mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_rpm, RPM_SCHEMA, id_col, content_col)
