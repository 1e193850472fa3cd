"""REAL ELF (Executable and Linkable Format) walker on stdlib struct —
the opaque-binary modality of a crawl: shared objects and executables
carry their provenance (compiler .comment, GNU build-id) and their
export surface (.symtab names) in a section table whose strings live
in OTHER sections — every name is an offset into a string-table
section that must be resolved through TWO levels of indirection
(section name -> .shstrtab via e_shstrndx; symbol name -> .strtab via
the symtab's sh_link field).  Getting sh_link wrong and reading symbol
names out of .shstrtab is the classic bug this walker pins.

Layout walked: 64-byte ELF header (byte order discovered from
e_ident[EI_DATA] — both orders built and parsed), section header table
at e_shoff, NOTE sections (4-aligned namesz/descsz/type records — the
GNU build-id is note type 3 under name "GNU"), SYMTAB with 24-byte
Elf64_Sym entries.  All offsets are trusted then bounds-VERIFIED (the
PDF xref discipline).

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed binary yields an error ROW — never an exception.

Reference parity: none — beyond-reference binary-metadata operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_MACHINES = {0x3E: "x86_64", 0xB7: "aarch64"}
_TYPES = {2: "EXEC", 3: "DYN"}

SHT_PROGBITS, SHT_SYMTAB, SHT_STRTAB, SHT_NOTE = 1, 2, 3, 7


def build_note(name: str, ntype: int, desc: bytes,
               e: str = "<") -> bytes:
    """One 4-aligned note record; ``e`` follows the FILE's byte order
    (note headers are not fixed-endian — the bug the round-trip test
    caught)."""
    raw = name.encode() + b"\x00"
    out = struct.pack(e + "III", len(raw), len(desc), ntype)
    out += raw + b"\x00" * (-len(raw) % 4)
    out += desc + b"\x00" * (-len(desc) % 4)
    return out


def build_elf(machine: int, etype: int, comment: str,
              build_id: bytes, symbols: list[str],
              big_endian: bool = False, bad_shoff: bool = False,
              bad_shstrndx: bool = False) -> bytes:
    """Minimal but genuine ELF64: NULL + .comment + .note.gnu.build-id
    + .symtab + .strtab + .shstrtab, header table last."""
    e = ">" if big_endian else "<"
    shstr = bytearray(b"\x00")
    name_off: dict[str, int] = {}
    for n in [".comment", ".note.gnu.build-id", ".symtab", ".strtab",
              ".shstrtab"]:
        name_off[n] = len(shstr)
        shstr += n.encode() + b"\x00"
    strtab = bytearray(b"\x00")
    sym_off = []
    for s in symbols:
        sym_off.append(len(strtab))
        strtab += s.encode() + b"\x00"
    symtab = bytearray(struct.pack(e + "IBBHQQ", 0, 0, 0, 0, 0, 0))
    for k, off in enumerate(sym_off):
        symtab += struct.pack(e + "IBBHQQ", off, 0x12, 0, 1,
                              0x1000 + 0x40 * k, 16 + k)
    comment_b = comment.encode() + b"\x00"
    note_b = build_note("GNU", 3, build_id, e)
    bodies = [
        (".comment", SHT_PROGBITS, comment_b, 0, 0, 1),
        (".note.gnu.build-id", SHT_NOTE, note_b, 0, 0, 4),
        (".symtab", SHT_SYMTAB, bytes(symtab), 4, 1, 8),  # link=.strtab
        (".strtab", SHT_STRTAB, bytes(strtab), 0, 0, 1),
        (".shstrtab", SHT_STRTAB, bytes(shstr), 0, 0, 1),
    ]
    out = bytearray(64)
    offs = []
    for _n, _t, body, _l, _i, align in bodies:
        out += b"\x00" * (-len(out) % align)
        offs.append(len(out))
        out += body
    out += b"\x00" * (-len(out) % 8)
    shoff = len(out)
    out += bytes(64)  # NULL section header
    for (n, t, body, link, info, align), off in zip(bodies, offs):
        entsize = 24 if t == SHT_SYMTAB else 0
        out += struct.pack(e + "IIQQQQIIQQ", name_off[n], t, 0, 0,
                           off, len(body), link, info, align, entsize)
    ident = b"\x7fELF" + bytes([2, 2 if big_endian else 1, 1, 0]) \
        + bytes(8)
    hdr = ident + struct.pack(
        e + "HHIQQQIHHHHHH", etype, machine, 1, 0x1000, 0,
        len(out) + 10000 if bad_shoff else shoff,
        0, 64, 0, 0, 64, len(bodies) + 1,
        99 if bad_shstrndx else len(bodies))  # .shstrtab index
    out[:64] = hdr
    return bytes(out)


_ELF_NONE = {"machine": None, "etype": None, "endian": None,
             "n_sections": None, "comment": None, "build_id": None,
             "n_symbols": None, "sym_names": None}


def parse_elf(data: bytes | None) -> dict:
    """Header, section table, two-level string resolution, note walk,
    symbol census.  Every malformed binary yields an error row."""
    if data is None or len(data) < 64 or data[:4] != b"\x7fELF":
        return {**_ELF_NONE, "error": "not an elf binary"}
    data = bytes(data)
    if data[4] != 2:
        return {**_ELF_NONE, "error": "not elf64"}
    if data[5] not in (1, 2):
        return {**_ELF_NONE, "error": "bad elf data encoding"}
    e = "<" if data[5] == 1 else ">"
    etype, machine, _v, _entry, _phoff, shoff = struct.unpack_from(
        e + "HHIQQQ", data, 16)
    _flags, _ehsz, _phes, _phn, shentsize, shnum, shstrndx = \
        struct.unpack_from(e + "IHHHHHH", data, 48)
    if shentsize != 64:
        return {**_ELF_NONE, "error": "bad section entry size"}
    if shoff + 64 * shnum > len(data):
        return {**_ELF_NONE, "error": "section headers out of bounds"}
    if shstrndx >= shnum:
        return {**_ELF_NONE, "error": "bad shstrndx"}
    secs = []
    for k in range(shnum):
        name, typ, _fl, _addr, off, size, link, _info, _al, ent = \
            struct.unpack_from(e + "IIQQQQIIQQ", data, shoff + 64 * k)
        if typ != 0 and off + size > len(data):
            return {**_ELF_NONE,
                    "error": f"section {k} out of bounds"}
        secs.append((name, typ, off, size, link, ent))

    def str_at(tab_idx: int, off: int) -> str | None:
        _n, typ, toff, tsize, _l, _e = secs[tab_idx]
        if typ != SHT_STRTAB or off >= tsize:
            return None
        raw = data[toff + off:toff + tsize]
        return raw.split(b"\x00")[0].decode("utf-8", "replace")

    names = [str_at(shstrndx, s[0]) for s in secs]
    comment = build_id = None
    n_symbols = 0
    sym_names: list[str] = []
    try:
        for k, (name, typ, off, size, link, ent) in enumerate(secs):
            sname = names[k]
            if sname == ".comment" and typ == SHT_PROGBITS:
                comment = data[off:off + size].split(b"\x00")[0] \
                    .decode("utf-8", "replace")
            elif typ == SHT_NOTE:
                p = off
                while p + 12 <= off + size:
                    nsz, dsz, ntype = struct.unpack_from(e + "III",
                                                         data, p)
                    p += 12
                    nm = data[p:p + nsz].rstrip(b"\x00")
                    p += nsz + (-nsz % 4)
                    if p + dsz > off + size:
                        return {**_ELF_NONE,
                                "error": f"note overruns section {k}"}
                    if nm == b"GNU" and ntype == 3:
                        build_id = data[p:p + dsz].hex()
                    p += dsz + (-dsz % 4)
            elif typ == SHT_SYMTAB:
                if ent != 24 or link >= shnum:
                    return {**_ELF_NONE,
                            "error": f"bad symtab section {k}"}
                count = size // 24
                for s in range(1, count):  # entry 0 is the null symbol
                    (noff,) = struct.unpack_from(
                        e + "I", data, off + 24 * s)
                    nm = str_at(link, noff)
                    if nm is None:
                        return {**_ELF_NONE,
                                "error": f"symbol name out of strtab "
                                         f"in section {k}"}
                    sym_names.append(nm)
                n_symbols = count - 1
    except struct.error:
        return {**_ELF_NONE, "error": "truncated structure"}
    return {
        "machine": _MACHINES.get(machine, f"0x{machine:04x}"),
        "etype": _TYPES.get(etype, str(etype)),
        "endian": "LE" if data[5] == 1 else "BE",
        "n_sections": shnum,
        "comment": comment,
        "build_id": build_id,
        "n_symbols": n_symbols,
        "sym_names": ",".join(sym_names),
        "error": None,
    }


ELF_SCHEMA = (
    "doc_id long, machine string, etype string, endian string, "
    "n_sections int, comment string, build_id string, n_symbols int, "
    "sym_names string, error string"
)


def extract_elf_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> binary provenance metadata via one
    Arrow-batched mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_elf, ELF_SCHEMA, id_col, content_col)
