"""REAL Mach-O universal ("fat") binary walker on stdlib struct — and
the resolution of computing's best-known MAGIC COLLISION: Apple's fat
header and Java's class format BOTH begin 0xCAFEBABE.  The
disambiguation rule shipped in Apple's own parser (and in file(1)) is
a historical accident elevated to an interface: the next big-endian
u32 is the fat ARCH COUNT (realistically < 30) for universal
binaries, and the class-file minor<<16|major VERSION (major >= 45,
Java 1.0's number) for classes — the ranges don't overlap, so
value < 30 routes to the fat walk, value >= 45 to
javaclass_real.parse_class, and the 30..44 gap is formally AMBIGUOUS
and rejected by name.  Content-based dispatch on one u32, pinned.

The fat layer is big-endian (cputype, cpusubtype, offset, size,
align per slice); each slice is a little-endian 64-bit Mach-O: magic
0xFEEDFACF, cputype echoed (and CROSS-CHECKED against the fat entry —
a slice whose arch disagrees with its directory entry is corruption),
then ncmds load commands walked by cmdsize: LC_SEGMENT_64 names,
LC_UUID (the build fingerprint, like ELF's build-id note), and
LC_LOAD_DYLIB whose name lives at an offset INSIDE its own command.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed binary yields an error ROW — never an exception.

Reference parity: none — beyond-reference binary-artifact operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.javaclass_real import parse_class
from cies_ocr_java_spark.operators.walker import map_blobs

FAT_MAGIC = 0xCAFEBABE
MH_MAGIC_64 = 0xFEEDFACF
LC_SEGMENT_64, LC_UUID, LC_LOAD_DYLIB = 0x19, 0x1B, 0xC

CPU_NAMES = {0x01000007: "x86_64", 0x0100000C: "arm64"}


def build_macho(cputype: int, uuid: bytes, dylibs: list[str],
                segname: str = "__TEXT") -> bytes:
    cmds = b""
    sn = segname.encode().ljust(16, b"\x00")
    cmds += struct.pack("<II16sQQQQiiII", LC_SEGMENT_64, 72, sn,
                        0x100000000, 0x1000, 0, 0x1000, 5, 5, 0, 0)
    cmds += struct.pack("<II", LC_UUID, 24) + uuid
    for name in dylibs:
        raw = name.encode() + b"\x00"
        pad = -len(raw) % 8
        cmdsize = 24 + len(raw) + pad
        cmds += struct.pack("<IIIIII", LC_LOAD_DYLIB, cmdsize, 24,
                            2, 0x10000, 0x10000)
        cmds += raw + b"\x00" * pad
    ncmds = 2 + len(dylibs)
    hdr = struct.pack("<IiiIIIII", MH_MAGIC_64, cputype, 0, 2,
                      ncmds, len(cmds), 0, 0)
    return hdr + cmds


def build_fat(slices: list[tuple[int, bytes]],
              ambiguous_count: int | None = None,
              bad_slice_cpu: bool = False) -> bytes:
    """Big-endian directory + concatenated slices, 8-aligned."""
    n = ambiguous_count if ambiguous_count is not None else len(slices)
    hdr = struct.pack(">II", FAT_MAGIC, n)
    entries = b""
    bodies = b""
    off = 8 + 20 * len(slices)
    off += -off % 8
    for k, (cpu, body) in enumerate(slices):
        dir_cpu = cpu + 1 if (bad_slice_cpu and k == 0) else cpu
        entries += struct.pack(">iiIII", dir_cpu, 0, off, len(body), 3)
        pad = -len(body) % 8
        bodies += body + b"\x00" * pad
        off += len(body) + pad
    out = hdr + entries
    out += b"\x00" * (-len(out) % 8)
    return out + bodies


_MACHO_NONE = {"format": None, "n_archs": None, "cputypes": None,
               "uuids": None, "n_cmds": None, "dylibs": None,
               "class_name": None, "class_major": None}


def _parse_slice(data: bytes) -> dict:
    if len(data) < 32:
        raise ValueError("short mach-o slice")
    magic, cputype, _sub, _ft, ncmds, sizeofcmds, _fl, _r = \
        struct.unpack_from("<IiiIIIII", data, 0)
    if magic != MH_MAGIC_64:
        raise ValueError("bad mach-o slice magic")
    if 32 + sizeofcmds > len(data):
        raise ValueError("load commands overrun slice")
    pos = 32
    uuid = None
    dylibs: list[str] = []
    for k in range(ncmds):
        if pos + 8 > 32 + sizeofcmds:
            raise ValueError(f"load command {k} overruns commands")
        cmd, cmdsize = struct.unpack_from("<II", data, pos)
        if cmdsize < 8 or pos + cmdsize > 32 + sizeofcmds:
            raise ValueError(f"load command {k} overruns commands")
        if cmd == LC_UUID:
            if cmdsize < 24:
                raise ValueError("short uuid command")
            uuid = data[pos + 8:pos + 24].hex()
        elif cmd == LC_LOAD_DYLIB:
            (noff,) = struct.unpack_from("<I", data, pos + 8)
            if noff >= cmdsize:
                raise ValueError("dylib name offset out of command")
            raw = data[pos + noff:pos + cmdsize]
            dylibs.append(raw.split(b"\x00")[0].decode(
                "utf-8", "replace"))
        pos += cmdsize
    return {"cputype": cputype, "ncmds": ncmds, "uuid": uuid,
            "dylibs": dylibs}


def parse_cafebabe(data: bytes | None) -> dict:
    """Content-dispatch on the shared magic, then the matching walk."""
    if data is None or len(data) < 8:
        return {**_MACHO_NONE, "error": "short or missing payload"}
    data = bytes(data)
    (magic,) = struct.unpack_from(">I", data, 0)
    if magic != FAT_MAGIC:
        return {**_MACHO_NONE, "error": "not a cafebabe artifact"}
    (word,) = struct.unpack_from(">I", data, 4)
    if word >= 45:
        # class-file version territory (Java 1.0 == major 45)
        r = parse_class(data)
        if r["error"] is not None:
            return {**_MACHO_NONE, "error": f"class: {r['error']}"}
        return {**_MACHO_NONE, "format": "class",
                "class_name": r["class_name"],
                "class_major": r["major"], "error": None}
    if word >= 30:
        return {**_MACHO_NONE,
                "error": f"ambiguous cafebabe value {word}"}
    try:
        if 8 + 20 * word > len(data):
            raise ValueError("fat arch table overruns file")
        cputypes: list[str] = []
        uuids: list[str] = []
        dylibs: list[str] = []
        n_cmds = None
        for k in range(word):
            cpu, _sub, off, size, _al = struct.unpack_from(
                ">iiIII", data, 8 + 20 * k)
            if off + size > len(data):
                raise ValueError(f"fat slice {k} overruns file")
            s = _parse_slice(data[off:off + size])
            if s["cputype"] != cpu:
                raise ValueError(
                    f"slice {k} cputype disagrees with fat entry")
            cputypes.append(CPU_NAMES.get(cpu, hex(cpu)))
            if s["uuid"]:
                uuids.append(s["uuid"])
            dylibs.extend(s["dylibs"])
            if n_cmds is None:
                n_cmds = s["ncmds"]
    except ValueError as e:
        return {**_MACHO_NONE, "error": str(e)}
    return {
        "format": "macho-fat",
        "n_archs": word,
        "cputypes": ",".join(cputypes),
        "uuids": ",".join(uuids),
        "n_cmds": n_cmds,
        "dylibs": ",".join(sorted(set(dylibs))),
        "class_name": None, "class_major": None,
        "error": None,
    }


MACHO_SCHEMA = (
    "doc_id long, format string, n_archs int, cputypes string, "
    "uuids string, n_cmds int, dylibs string, class_name string, "
    "class_major int, error string"
)


def extract_cafebabe(df: DataFrame, content_col: str = "content",
                     id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> dispatched artifact metadata via one
    Arrow-batched mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_cafebabe, MACHO_SCHEMA, id_col, content_col)
