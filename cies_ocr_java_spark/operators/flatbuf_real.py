"""REAL FlatBuffers walker — the zero-copy serialization under Arrow
IPC and half of mobile gaming, and a mechanism unlike anything else
in the repo: a table does not store its fields, it stores a SIGNED
offset BACK to a VTABLE (u16 vtable size, u16 table size, then one
u16 per field slot, offset-from-table-start, 0 = field ABSENT — that
is how schema evolution works: old readers index past the vtable's
end and see defaults), and every string/vector/table reference is a
u32 forward offset measured FROM ITS OWN LOCATION.  Three levels of
relative addressing before one integer is read — each bounds-checked
here, because a crafted soffset is the classic flatbuffer CVE shape.

Schema decoded (fixed): Doc { id: i64 (slot 0), name: string (1),
tags: [string] (2), score: f64 (3), flags: u8 (4) } — with absent
slots exercising the default path.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed buffer yields an error ROW — never an exception.

Reference parity: none — beyond-reference serialization operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_N_SLOTS = 5


def build_flatdoc(rid: int, name: str | None, tags: list[str],
                  score: float | None, flags: int,
                  bad_vtable: bool = False,
                  bad_field: bool = False) -> bytes:
    """Canonical forward-pointing layout: root uoffset, table, vtable,
    then children (vector before its strings) — every uoffset measured
    from its own location points to a HIGHER address, the format's
    convention (real builders achieve it by building back-to-front;
    we emit forward and patch)."""
    buf = bytearray(b"\x00\x00\x00\x00")  # root uoffset
    buf += b"\x00" * (-len(buf) % 8)
    tstart = len(buf)
    buf += b"\x00\x00\x00\x00"  # soffset slot
    field_offsets: dict[int, int] = {}
    ref_slots: dict[int, int] = {}  # slot -> field location

    def inline(slot, fmt, v, align):
        nonlocal buf
        buf += b"\x00" * (-len(buf) % align)
        field_offsets[slot] = len(buf) - tstart
        buf += struct.pack(fmt, v)

    inline(0, "<q", rid, 8)
    if score is not None:
        inline(3, "<d", float(score), 8)
    if name is not None:
        buf += b"\x00" * (-len(buf) % 4)
        field_offsets[1] = len(buf) - tstart
        ref_slots[1] = len(buf)
        buf += b"\x00\x00\x00\x00"
    if tags:
        buf += b"\x00" * (-len(buf) % 4)
        field_offsets[2] = len(buf) - tstart
        ref_slots[2] = len(buf)
        buf += b"\x00\x00\x00\x00"
    inline(4, "<B", flags, 1)
    tsize = len(buf) - tstart
    buf += b"\x00" * (len(buf) % 2)
    vt = len(buf)
    n = max(field_offsets) + 1
    buf += struct.pack("<HH", 4 + 2 * n, tsize)
    for slot in range(n):
        buf += struct.pack("<H", field_offsets.get(slot, 0))
    struct.pack_into("<i", buf, tstart, tstart - vt)

    def emit_string(s: str) -> int:
        nonlocal buf
        buf += b"\x00" * (-len(buf) % 4)
        at = len(buf)
        raw = s.encode("utf-8")
        buf += struct.pack("<I", len(raw)) + raw + b"\x00"
        return at

    if tags:
        buf += b"\x00" * (-len(buf) % 4)
        vec = len(buf)
        buf += struct.pack("<I", len(tags))
        el_locs = []
        for _ in tags:
            el_locs.append(len(buf))
            buf += b"\x00\x00\x00\x00"
        for el, t in zip(el_locs, tags):
            struct.pack_into("<I", buf, el, emit_string(t) - el)
        struct.pack_into("<I", buf, ref_slots[2], vec - ref_slots[2])
    if name is not None:
        struct.pack_into("<I", buf, ref_slots[1],
                         emit_string(name) - ref_slots[1])
    struct.pack_into("<I", buf, 0, tstart)
    out = bytearray(buf)
    if bad_vtable:
        struct.pack_into("<i", out, tstart, -50000)
    if bad_field and name is not None:
        struct.pack_into("<I", out, ref_slots[1], 1 << 24)
    return bytes(out)


_FB_NONE = {"rid": None, "name": None, "n_tags": None, "tags": None,
            "score": None, "flags": None, "n_present": None}


def parse_flatdoc(data: bytes | None) -> dict:
    if data is None or len(data) < 8:
        return {**_FB_NONE, "error": "short or missing buffer"}
    data = bytes(data)
    try:
        (root,) = struct.unpack_from("<I", data, 0)
        if root + 4 > len(data):
            raise ValueError("root table out of buffer")
        (soff,) = struct.unpack_from("<i", data, root)
        vt = root - soff
        if vt < 0 or vt + 4 > len(data):
            raise ValueError("vtable out of buffer")
        vt_size, t_size = struct.unpack_from("<HH", data, vt)
        if vt_size < 4 or vt_size % 2 or vt + vt_size > len(data):
            raise ValueError("bad vtable geometry")
        n_slots = (vt_size - 4) // 2

        def field_at(slot: int) -> int | None:
            if slot >= n_slots:
                return None  # schema evolution: absent -> default
            (off,) = struct.unpack_from("<H", data, vt + 4 + 2 * slot)
            if off == 0:
                return None
            if root + off >= len(data):
                raise ValueError(f"field {slot} out of buffer")
            return root + off

        def ref_at(at: int, what: str) -> int:
            (u,) = struct.unpack_from("<I", data, at)
            tgt = at + u
            if tgt + 4 > len(data):
                raise ValueError(f"{what} reference out of buffer")
            return tgt

        def string_at(tgt: int, what: str) -> str:
            (ln,) = struct.unpack_from("<I", data, tgt)
            if ln > 1 << 20 or tgt + 4 + ln + 1 > len(data):
                raise ValueError(f"{what} string out of buffer")
            return data[tgt + 4:tgt + 4 + ln].decode("utf-8")

        at = field_at(0)
        rid = struct.unpack_from("<q", data, at)[0] if at else 0
        at = field_at(1)
        name = string_at(ref_at(at, "name"), "name") if at else None
        tags: list[str] = []
        at = field_at(2)
        if at:
            vec = ref_at(at, "tags vector")
            (count,) = struct.unpack_from("<I", data, vec)
            if count > 1 << 16:
                raise ValueError("unreasonable vector count")
            for k in range(count):
                el = vec + 4 + 4 * k
                if el + 4 > len(data):
                    raise ValueError("vector element out of buffer")
                tags.append(string_at(ref_at(el, "tag"), "tag"))
        at = field_at(3)
        score = struct.unpack_from("<d", data, at)[0] if at else 0.0
        at = field_at(4)
        flags = data[at] if at else 0
        n_present = sum(1 for s in range(_N_SLOTS)
                        if s < n_slots and struct.unpack_from(
                            "<H", data, vt + 4 + 2 * s)[0])
    except (ValueError, UnicodeDecodeError, struct.error) as e:
        msg = str(e) if isinstance(e, ValueError) \
            else "truncated structure"
        if isinstance(e, UnicodeDecodeError):
            msg = "invalid utf-8 string"
        return {**_FB_NONE, "error": msg}
    return {
        "rid": rid, "name": name, "n_tags": len(tags),
        "tags": ",".join(tags), "score": score, "flags": flags,
        "n_present": n_present, "error": None,
    }


FB_SCHEMA = ("doc_id long, rid bigint, name string, n_tags int, "
             "tags string, score double, flags int, n_present int, "
             "error string")


def extract_flatdocs(df: DataFrame, content_col: str = "content",
                     id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> decoded fields via one Arrow-batched
    mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_flatdoc, FB_SCHEMA, id_col, content_col)
