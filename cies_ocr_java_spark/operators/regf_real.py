"""Windows registry hive (regf) walker — three signatures no other
format here shares: the 512-byte base block's integrity is an
XOR-32 checksum over its first 508 bytes (not a CRC — any aligned
u32 word flip is caught, but two identical flips cancel, which is
WHY the format also keeps primary/secondary sequence numbers that
must MATCH for a clean hive: a mismatch means a torn write and the
hive needs log replay — surfaced as a flag, not an error); cells
inside hbin blocks carry SIGN-encoded sizes (NEGATIVE = allocated,
positive = free — readers that abs() without checking allocation
walk freed garbage); and a value's data length sets bit 31
(0x80000000) to mean the data is stored INLINE in the offset field
itself (up to 4 bytes) rather than in a separate cell — the
classic small-DWORD optimization that crashes readers who
dereference the "offset".

Structure walked: base block -> root nk cell -> subkey lists (lf
with name-prefix hash entries, verified against the stored names)
-> nk subkeys -> value lists -> vk cells (inline and celled data),
accumulating key/value censuses.

Failure contract: every malformed hive yields an error ROW.

Reference parity: none — system-artifact recovery is
beyond-reference.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_HBIN_AT = 4096


class _Hive:
    """Cell allocator over a growing hbin area. Offsets are
    HIVE-BIN-relative per the spec (offset 0 = the hbin header
    itself), so the first cell sits at offset 32."""

    def __init__(self) -> None:
        self.data = bytearray()

    def cell(self, payload: bytes) -> int:
        size = 4 + len(payload)
        size += -size % 8
        off = 32 + len(self.data)
        blob = struct.pack("<i", -size) + payload
        self.data += blob + b"\x00" * (size - len(blob))
        return off

    def free_cell(self, payload: bytes) -> int:
        size = 4 + len(payload)
        size += -size % 8
        off = 32 + len(self.data)
        blob = struct.pack("<i", size) + payload  # positive = free
        self.data += blob + b"\x00" * (size - len(blob))
        return off


def _nk(name: bytes, n_sub: int, sub_off: int, n_vals: int,
        vlist_off: int, *, root: bool = False) -> bytes:
    b = bytearray()
    b += b"nk"
    b += struct.pack("<H", 0x2C if root else 0x20)
    b += b"\x00" * 8  # timestamp
    b += b"\x00" * 4  # access bits
    b += struct.pack("<i", -1)  # parent
    b += struct.pack("<I", n_sub)
    b += struct.pack("<I", 0)  # volatile subkeys
    b += struct.pack("<i", sub_off)
    b += struct.pack("<i", -1)
    b += struct.pack("<I", n_vals)
    b += struct.pack("<i", vlist_off)
    b += struct.pack("<i", -1) * 2  # security, classname
    b += b"\x00" * 16  # max-lengths block
    b += b"\x00" * 4
    b += struct.pack("<HH", len(name), 0)
    b += name
    return bytes(b)


def _vk(name: bytes, vtype: int, data: bytes | None,
        inline: int | None) -> bytes:
    b = bytearray()
    b += b"vk"
    b += struct.pack("<H", len(name))
    if inline is not None:
        b += struct.pack("<I", 0x80000000 | 4)
        b += struct.pack("<I", inline & 0xFFFFFFFF)
    else:
        b += struct.pack("<I", len(data))
        b += struct.pack("<i", -1)  # patched later
    b += struct.pack("<I", vtype)
    b += struct.pack("<HH", 1 if name else 0, 0)
    b += name
    return bytes(b)


def build_regf(keys: list[tuple[str, list[tuple[str, int,
                                                bytes | int]]]], *,
               torn_write: bool = False, bad_checksum: bool = False,
               bad_hash: bool = False, free_subkey: bool = False,
               chop: int = 0) -> bytes:
    """keys: (name, values); value = (name, type, bytes-data or
    int-for-inline-DWORD). A root key holds them all."""
    hv = _Hive()

    key_offs = []
    for kname, values in keys:
        voffs = []
        for vname, vtype, vdata in values:
            if isinstance(vdata, int):
                voffs.append(hv.cell(_vk(vname.encode(), vtype,
                                         None, vdata)))
            else:
                doff = hv.cell(vdata)
                blob = bytearray(_vk(vname.encode(), vtype, vdata,
                                     None))
                struct.pack_into("<i", blob, 8, doff)
                voffs.append(hv.cell(bytes(blob)))
        vlist = hv.cell(b"".join(struct.pack("<i", o)
                                 for o in voffs)) if voffs else -1
        key_offs.append(hv.cell(_nk(
            kname.encode(), 0, -1, len(values), vlist)))

    # lf subkey list: (offset, 4-byte name prefix) entries
    ents = bytearray()
    ents += b"lf" + struct.pack("<H", len(keys))
    for (kname, _), off in zip(keys, key_offs):
        pref = (kname.encode() + b"\x00" * 4)[:4]
        if bad_hash:
            pref = b"ZZZZ"
            bad_hash = False  # only the first entry
        ents += struct.pack("<i", off) + pref
    if free_subkey and key_offs:
        # re-emit the first subkey's nk as a FREE cell and point
        # the list at it
        kname, values = keys[0]
        free_off = hv.free_cell(_nk(kname.encode(), 0, -1, 0, -1))
        struct.pack_into("<i", ents, 4, free_off)
    lf_off = hv.cell(bytes(ents))
    root_off = hv.cell(_nk(b"ROOT", len(keys), lf_off, 0, -1,
                           root=True))

    payload = bytes(hv.data)
    hbin_size = 32 + len(payload)
    hbin_size += -hbin_size % 4096
    hbin = bytearray(hbin_size)
    hbin[0:4] = b"hbin"
    struct.pack_into("<I", hbin, 4, 0)
    struct.pack_into("<I", hbin, 8, hbin_size)
    hbin[32:32 + len(payload)] = payload

    base = bytearray(4096)
    base[0:4] = b"regf"
    struct.pack_into("<I", base, 4, 7)   # primary seq
    struct.pack_into("<I", base, 8, 8 if torn_write else 7)
    struct.pack_into("<I", base, 20, 1)  # major
    struct.pack_into("<I", base, 24, 5)  # minor
    struct.pack_into("<I", base, 36, root_off)  # root cell
    struct.pack_into("<I", base, 40, hbin_size)      # hive size
    csum = 0
    for k in range(0, 508, 4):
        csum ^= struct.unpack_from("<I", base, k)[0]
    if bad_checksum:
        csum ^= 0x5A5A5A5A
    struct.pack_into("<I", base, 508, csum)
    out = bytes(base) + bytes(hbin)
    if chop:
        out = out[:-chop]
    return out


_REGF_NONE = {
    "n_keys": None, "n_values": None, "inline_values": None,
    "data_bytes": None, "dword_sum": None, "torn": None,
}


def parse_regf(data: bytes | None) -> dict:
    if data is None or len(data) < 4096 + 32:
        return {**_REGF_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        if data[:4] != b"regf":
            raise ValueError("bad signature")
        csum = 0
        for k in range(0, 508, 4):
            csum ^= struct.unpack_from("<I", data, k)[0]
        if csum != struct.unpack_from("<I", data, 508)[0]:
            raise ValueError("base block checksum mismatch")
        seq1 = struct.unpack_from("<I", data, 4)[0]
        seq2 = struct.unpack_from("<I", data, 8)[0]
        torn = 1 if seq1 != seq2 else 0
        root_rel = struct.unpack_from("<I", data, 36)[0]
        if data[_HBIN_AT:_HBIN_AT + 4] != b"hbin":
            raise ValueError("missing hbin")
        hbin_size = struct.unpack_from("<I", data, _HBIN_AT + 8)[0]
        if _HBIN_AT + hbin_size > len(data):
            raise ValueError("hbin overruns file")

        def cell(rel: int) -> bytes:
            at = _HBIN_AT + rel
            if at + 4 > len(data):
                raise ValueError("cell out of bounds")
            size = struct.unpack_from("<i", data, at)[0]
            if size >= 0:
                raise ValueError("reference into a free cell")
            size = -size
            if at + size > len(data):
                raise ValueError("cell overruns hive")
            return data[at + 4:at + size]

        st = {"keys": 0, "vals": 0, "inline": 0, "bytes": 0,
              "dsum": 0}

        def walk_nk(rel: int, depth: int) -> None:
            if depth > 16:
                raise ValueError("key nesting too deep")
            c = cell(rel)
            if c[:2] != b"nk":
                raise ValueError("expected nk cell")
            st["keys"] += 1
            n_sub = struct.unpack_from("<I", c, 20)[0]
            sub_off = struct.unpack_from("<i", c, 28)[0]
            n_vals = struct.unpack_from("<I", c, 36)[0]
            vlist_off = struct.unpack_from("<i", c, 40)[0]
            nlen = struct.unpack_from("<H", c, 72)[0]
            name = c[76:76 + nlen]
            if len(name) != nlen:
                raise ValueError("key name overruns cell")
            if n_vals:
                vl = cell(vlist_off)
                if len(vl) < 4 * n_vals:
                    raise ValueError("value list too short")
                for k in range(n_vals):
                    voff = struct.unpack_from("<i", vl, 4 * k)[0]
                    v = cell(voff)
                    if v[:2] != b"vk":
                        raise ValueError("expected vk cell")
                    dlen = struct.unpack_from("<I", v, 4)[0]
                    st["vals"] += 1
                    if dlen & 0x80000000:
                        n = dlen & 0x7FFFFFFF
                        if n > 4:
                            raise ValueError(
                                "inline data too long")
                        raw = v[8:12][:n]
                        st["inline"] += 1
                        st["dsum"] += int.from_bytes(raw,
                                                     "little")
                    else:
                        doff = struct.unpack_from("<i", v, 8)[0]
                        blob = cell(doff)[:dlen]
                        if len(blob) != dlen:
                            raise ValueError(
                                "value data overruns cell")
                        st["bytes"] += dlen
            if n_sub:
                sl = cell(sub_off)
                if sl[:2] not in (b"lf", b"lh"):
                    raise ValueError("unsupported subkey list")
                cnt = struct.unpack_from("<H", sl, 2)[0]
                if cnt != n_sub:
                    raise ValueError(
                        "subkey count disagrees with list")
                for k in range(cnt):
                    soff = struct.unpack_from("<i", sl,
                                              4 + 8 * k)[0]
                    pref = sl[8 + 8 * k:12 + 8 * k]
                    sc = cell(soff)
                    if sc[:2] != b"nk":
                        raise ValueError("expected nk cell")
                    snlen = struct.unpack_from("<H", sc, 72)[0]
                    sname = sc[76:76 + snlen]
                    want = (sname + b"\x00" * 4)[:4]
                    if sl[:2] == b"lf" and pref != want:
                        raise ValueError(
                            "subkey hash disagrees with name")
                    walk_nk(soff, depth + 1)

        walk_nk(root_rel, 1)
    except (ValueError, struct.error) as e:
        msg = str(e) or "malformed structure"
        return {**_REGF_NONE, "error": msg}
    return {
        "n_keys": st["keys"], "n_values": st["vals"],
        "inline_values": st["inline"], "data_bytes": st["bytes"],
        "dword_sum": st["dsum"], "torn": torn, "error": None,
    }


_REGF_SCHEMA = (
    "doc_id long, n_keys int, n_values int, inline_values int, "
    "data_bytes bigint, dword_sum bigint, torn int, error string"
)


def extract_regf_features(df: DataFrame,
                          content_col: str = "content",
                          id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_regf, _REGF_SCHEMA, id_col, content_col)
