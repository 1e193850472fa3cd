"""REAL PE/COFF (Windows executable) walker on stdlib struct — the
third leg of the executable trio (elf_real.py, macho_real.py): a PE
is 1981 wrapping 1993: a DOS executable stub whose e_lfanew field (at
fixed offset 0x3C) points at the real "PE\\0\\0" signature — honoring
the POINTER, not assuming a fixed stub size, is the first gate — then
the COFF header (machine, section count, timestamp), the optional
header (magic 0x20B = PE32+, subsystem, and the DATA DIRECTORY of
RVA/size pairs), and the section table.

The format's core indirection is RVA RESOLUTION: every directory
entry addresses VIRTUAL memory, and a reader must map each RVA
through the section table (raw offset + (rva - virtual address)) to
find its file bytes — done here for the EXPORT directory, whose name
pointers are themselves RVAs (two levels of virtual addressing before
a single string is read).

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed binary yields an error ROW — never an exception.

Reference parity: none — beyond-reference binary-artifact operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_MACHINES = {0x8664: "x86_64", 0xAA64: "arm64"}
_SUBSYSTEMS = {2: "gui", 3: "console"}
_SECT_ALIGN = 0x1000
_FILE_ALIGN = 0x200


def build_pe(machine: int, subsystem: int, timestamp: int,
             exports: list[str], dll_name: str,
             extra_sections: list[str] | None = None,
             bad_lfanew: bool = False,
             bad_export_rva: bool = False) -> bytes:
    """A structurally genuine PE32+ with .text, .edata and any extra
    named sections; export names resolved through real RVAs."""
    # --- build .edata content (virtual layout starts at RVA 0x2000)
    edata_rva = 0x2000
    n = len(exports)
    # directory (40) + EAT (4n) + ENPT (4n) + ordinal table (2n)
    name_rva_at = 40 + 4 * n
    ord_at = name_rva_at + 4 * n
    names_at = ord_at + 2 * n
    names_blob = b""
    name_rvas = []
    for nm in exports:
        name_rvas.append(edata_rva + names_at + len(names_blob))
        names_blob += nm.encode() + b"\x00"
    dll_rva = edata_rva + names_at + len(names_blob)
    names_blob += dll_name.encode() + b"\x00"
    edata = struct.pack("<IIHHIIIIIII", 0, timestamp, 0, 0, dll_rva,
                        1, n, n, edata_rva + 40,
                        edata_rva + name_rva_at, edata_rva + ord_at)
    edata += b"".join(struct.pack("<I", 0x1000 + 16 * k)
                      for k in range(n))       # EAT (func RVAs)
    edata += b"".join(struct.pack("<I", r) for r in name_rvas)
    edata += b"".join(struct.pack("<H", k) for k in range(n))
    edata += names_blob
    text = bytes([0xC3] * 64)  # ret sleds
    sections = [(b".text", 0x1000, text, 0x60000020),
                (b".edata", edata_rva, edata, 0x40000040)]
    for k, nm in enumerate(extra_sections or []):
        sections.append((nm.encode()[:8], 0x3000 + 0x1000 * k,
                         bytes(16), 0x42000040))
    # --- headers
    dos = bytearray(128)
    dos[0:2] = b"MZ"
    stub = b"graft dos stub: this program requires a newer layer\r\n"
    dos[64:64 + len(stub)] = stub
    struct.pack_into("<I", dos, 0x3C,
                     9999 if bad_lfanew else len(dos))
    coff = struct.pack("<HHIIIHH", machine, len(sections), timestamp,
                       0, 0, 240, 0x0022)
    data_dirs = [(0, 0)] * 16
    data_dirs[0] = ((edata_rva + 5000) if bad_export_rva
                    else edata_rva, len(edata))
    opt = struct.pack("<HBBIIIIIQ", 0x20B, 14, 0, len(text), 0, 0,
                      0x1000, 0x1000, 0x140000000)
    opt += struct.pack("<IIHHHHHHIIIIHHQQQQII", _SECT_ALIGN,
                       _FILE_ALIGN, 6, 0, 0, 0, 6, 0, 0,
                       0x4000, 0x400, 0, subsystem, 0x8160,
                       0x100000, 0x1000, 0x100000, 0x1000, 0, 16)
    opt += b"".join(struct.pack("<II", r, s) for r, s in data_dirs)
    assert len(opt) == 240, len(opt)
    hdr_end = len(dos) + 4 + 20 + 240 + 40 * len(sections)
    raw_off = (hdr_end + _FILE_ALIGN - 1) // _FILE_ALIGN * _FILE_ALIGN
    sect_table = b""
    raw_blobs = []
    off = raw_off
    for name, rva, payload, flags in sections:
        rawsz = (len(payload) + _FILE_ALIGN - 1) \
            // _FILE_ALIGN * _FILE_ALIGN
        sect_table += struct.pack(
            "<8sIIIIIIHHI", name.ljust(8, b"\x00"), len(payload),
            rva, rawsz, off, 0, 0, 0, 0, flags)
        raw_blobs.append(payload.ljust(rawsz, b"\x00"))
        off += rawsz
    out = bytes(dos) + b"PE\x00\x00" + coff + opt + sect_table
    out = out.ljust(raw_off, b"\x00")
    return out + b"".join(raw_blobs)


_PE_NONE = {"machine": None, "subsystem": None, "timestamp": None,
            "n_sections": None, "section_names": None,
            "dll_name": None, "n_exports": None, "export_names": None}


def parse_pe(data: bytes | None) -> dict:
    """e_lfanew chase, COFF + optional header, section table, export
    directory through two levels of RVA resolution."""
    if data is None or len(data) < 64 or data[:2] != b"MZ":
        return {**_PE_NONE, "error": "not a dos/pe executable"}
    data = bytes(data)
    (lfanew,) = struct.unpack_from("<I", data, 0x3C)
    if lfanew + 24 > len(data):
        return {**_PE_NONE, "error": "e_lfanew out of file"}
    if data[lfanew:lfanew + 4] != b"PE\x00\x00":
        return {**_PE_NONE, "error": "bad pe signature"}
    try:
        machine, nsect, ts, _pst, _nsym, opt_size, _chars = \
            struct.unpack_from("<HHIIIHH", data, lfanew + 4)
        opt_at = lfanew + 24
        if opt_at + opt_size > len(data):
            return {**_PE_NONE, "error": "optional header overruns"}
        (opt_magic,) = struct.unpack_from("<H", data, opt_at)
        if opt_magic != 0x20B:
            return {**_PE_NONE,
                    "error": f"unsupported optional magic "
                             f"0x{opt_magic:x}"}
        (sub,) = struct.unpack_from("<H", data, opt_at + 68)
        (n_dirs,) = struct.unpack_from("<I", data, opt_at + 108)
        if n_dirs < 1:
            return {**_PE_NONE, "error": "no data directories"}
        exp_rva, exp_size = struct.unpack_from("<II", data,
                                               opt_at + 112)
        sect_at = opt_at + opt_size
        sections = []
        for k in range(nsect):
            name, vsize, rva, rawsz, rawoff = struct.unpack_from(
                "<8sIIII", data, sect_at + 40 * k)
            if rawoff + rawsz > len(data):
                raise ValueError(f"section {k} raw data out of file")
            sections.append((name.rstrip(b"\x00").decode(
                "ascii", "replace"), vsize, rva, rawsz, rawoff))

        def resolve(rva: int, what: str) -> int:
            for _n, vsize, srva, rawsz, rawoff in sections:
                if srva <= rva < srva + max(vsize, rawsz):
                    return rawoff + (rva - srva)
            raise ValueError(f"{what} rva not mapped by any section")

        def cstr(at: int) -> str:
            end = data.index(b"\x00", at)
            return data[at:end].decode("ascii", "replace")

        dll_name = None
        exports: list[str] = []
        if exp_rva:
            at = resolve(exp_rva, "export directory")
            if at + 40 > len(data):
                raise ValueError("export directory out of file")
            (_f, _ts, _maj, _min, name_rva, _base, n_funcs, n_names,
             _eat, enpt, _ords) = struct.unpack_from(
                "<IIHHIIIIIII", data, at)
            dll_name = cstr(resolve(name_rva, "dll name"))
            npt_at = resolve(enpt, "export name table")
            for k in range(n_names):
                (nrva,) = struct.unpack_from("<I", data,
                                             npt_at + 4 * k)
                exports.append(cstr(resolve(nrva, "export name")))
    except (ValueError, struct.error) as e:
        msg = str(e) if isinstance(e, ValueError) \
            else "truncated pe structure"
        return {**_PE_NONE, "error": msg}
    return {
        "machine": _MACHINES.get(machine, hex(machine)),
        "subsystem": _SUBSYSTEMS.get(sub, str(sub)),
        "timestamp": ts,
        "n_sections": nsect,
        "section_names": ",".join(s[0] for s in sections),
        "dll_name": dll_name,
        "n_exports": len(exports),
        "export_names": ",".join(exports),
        "error": None,
    }


PE_SCHEMA = (
    "doc_id long, machine string, subsystem string, timestamp bigint, "
    "n_sections int, section_names string, dll_name string, "
    "n_exports int, export_names string, error string"
)


def extract_pe_features(df: DataFrame, content_col: str = "content",
                        id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> executable metadata via one
    Arrow-batched mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_pe, PE_SCHEMA, id_col, content_col)
