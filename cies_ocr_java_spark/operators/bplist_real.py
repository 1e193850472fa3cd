"""REAL Apple binary property list (bplist00) walker on stdlib struct
— the mobile-ecosystem configuration format a crawl of app bundles and
backups actually contains.  Unlike every other container in this repo,
a bplist is fully INDIRECT: the object table holds marker-typed
objects (int/real/ascii/utf16/data/array/dict) that reference each
other by OBJECT NUMBER, an offset table at the end maps object numbers
to byte positions (with a per-file offset integer width), and a fixed
32-byte trailer bootstraps the whole walk (offsetIntSize,
objectRefSize, numObjects, topObject, offsetTableOffset).  Decoding is
a ref-graph traversal from topObject — depth-capped and VISITED-
GUARDED, because nothing in the format prevents a cycle (unlike DNS's
backwards rule, cycles here are representable and must be detected).

Marker grammar: high nibble = type, low nibble = count, with 0xF
meaning "count follows as an int object inline".  UTF-16 strings are
BIG-endian; ints are sized 2^nibble bytes; bools live in the 0x0
row (0x08 false / 0x09 true).

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed plist yields an error ROW — never an exception.

Reference parity: none — beyond-reference serialization operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_MAX_DEPTH = 32


def _encode_count(nibble_type: int, n: int) -> bytes:
    if n < 15:
        return bytes([nibble_type | n])
    # count follows as an int object (1/2/4-byte)
    if n < 1 << 8:
        return bytes([nibble_type | 0x0F, 0x10, n])
    if n < 1 << 16:
        return bytes([nibble_type | 0x0F, 0x11]) + struct.pack(">H", n)
    return bytes([nibble_type | 0x0F, 0x12]) + struct.pack(">I", n)


def _encode_int(v: int) -> bytes:
    if v < 0:
        return b"\x13" + struct.pack(">q", v)
    for nib, fmt, lim in ((0x10, ">B", 1 << 8), (0x11, ">H", 1 << 16),
                          (0x12, ">I", 1 << 32)):
        if v < lim:
            return bytes([nib]) + struct.pack(fmt, v)
    return b"\x13" + struct.pack(">Q", v)


def build_bplist(root, ref_size: int = 1,
                 bad_top: bool = False,
                 bad_offset_table: bool = False) -> bytes:
    """Flatten ``root`` (None/bool/int/float/str/bytes/list/dict) into
    an object table in discovery order, then emit offsets + trailer."""
    objects: list = []

    def flatten(v) -> int:
        idx = len(objects)
        objects.append(v)
        if isinstance(v, list):
            objects[idx] = ("array", [flatten(x) for x in v])
        elif isinstance(v, dict):
            keys = [flatten(k) for k in v]
            vals = [flatten(x) for x in v.values()]
            objects[idx] = ("dict", keys, vals)
        return idx

    flatten(root)

    def pack_ref(r: int) -> bytes:
        return r.to_bytes(ref_size, "big")

    out = bytearray(b"bplist00")
    offsets = []
    for ob in objects:
        offsets.append(len(out))
        if ob is None:
            out += b"\x00"
        elif ob is False:
            out += b"\x08"
        elif ob is True:
            out += b"\x09"
        elif isinstance(ob, int):
            out += _encode_int(ob)
        elif isinstance(ob, float):
            out += b"\x23" + struct.pack(">d", ob)
        elif isinstance(ob, bytes):
            out += _encode_count(0x40, len(ob)) + ob
        elif isinstance(ob, str):
            if all(c < "\x80" for c in ob):
                out += _encode_count(0x50, len(ob)) + ob.encode("ascii")
            else:
                enc = ob.encode("utf-16-be")
                out += _encode_count(0x60, len(enc) // 2) + enc
        elif ob[0] == "array":
            out += _encode_count(0xA0, len(ob[1]))
            out += b"".join(pack_ref(r) for r in ob[1])
        else:  # dict
            out += _encode_count(0xD0, len(ob[1]))
            out += b"".join(pack_ref(r) for r in ob[1])
            out += b"".join(pack_ref(r) for r in ob[2])
    table_off = len(out)
    off_size = 1 if table_off < 1 << 8 else (
        2 if table_off < 1 << 16 else 4)
    for o in offsets:
        out += o.to_bytes(off_size, "big")
    out += struct.pack(
        ">6xBBQQQ", off_size, ref_size, len(objects),
        len(objects) + 5 if bad_top else 0,
        table_off + 100000 if bad_offset_table else table_off)
    return bytes(out)


def parse_bplist(data: bytes | None):
    """Trailer bootstrap, offset-table read, visited-guarded ref walk
    from topObject.  Returns (value, n_objects, off_size, ref_size) or
    raises ValueError with the degradation message."""
    if data is None or len(data) < 40 or data[:8] != b"bplist00":
        raise ValueError("not a bplist00")
    data = bytes(data)
    off_size, ref_size, n_obj, top, table_off = struct.unpack_from(
        ">6xBBQQQ", data, len(data) - 32)
    if off_size not in (1, 2, 4, 8) or ref_size not in (1, 2, 4, 8):
        raise ValueError("bad trailer widths")
    if top >= n_obj:
        raise ValueError("top object out of range")
    if table_off + n_obj * off_size > len(data) - 32:
        raise ValueError("offset table out of bounds")
    offsets = [int.from_bytes(
        data[table_off + k * off_size:table_off + (k + 1) * off_size],
        "big") for k in range(n_obj)]

    def read_count(pos: int, nib: int) -> tuple[int, int]:
        if nib < 15:
            return nib, pos
        if pos >= len(data) or data[pos] >> 4 != 1:
            raise ValueError(f"bad inline count at {pos}")
        w = 1 << (data[pos] & 0x0F)
        if pos + 1 + w > len(data):
            raise ValueError(f"inline count overruns at {pos}")
        return int.from_bytes(data[pos + 1:pos + 1 + w], "big"), \
            pos + 1 + w

    def obj(idx: int, depth: int, seen: frozenset):
        if depth > _MAX_DEPTH:
            raise ValueError("nesting too deep")
        if idx in seen:
            raise ValueError(f"reference cycle at object {idx}")
        if idx >= n_obj:
            raise ValueError(f"object ref {idx} out of range")
        pos = offsets[idx]
        if pos >= len(data) - 32:
            raise ValueError(f"object {idx} offset out of bounds")
        m = data[pos]
        t, nib = m >> 4, m & 0x0F
        pos += 1
        if t == 0:
            if m == 0x00:
                return None
            if m == 0x08:
                return False
            if m == 0x09:
                return True
            raise ValueError(f"bad singleton marker 0x{m:02x}")
        if t == 1:
            w = 1 << nib
            if pos + w > len(data) - 32:
                raise ValueError(f"int overruns at object {idx}")
            return int.from_bytes(data[pos:pos + w], "big",
                                  signed=(w == 8))
        if t == 2:
            w = 1 << nib
            if w not in (4, 8) or pos + w > len(data) - 32:
                raise ValueError(f"bad real at object {idx}")
            return struct.unpack(">f" if w == 4 else ">d",
                                 data[pos:pos + w])[0]
        if t in (4, 5, 6):
            n, pos = read_count(pos, nib)
            nbytes = n * (2 if t == 6 else 1)
            if pos + nbytes > len(data) - 32:
                raise ValueError(f"payload overruns at object {idx}")
            raw = data[pos:pos + nbytes]
            if t == 4:
                return raw
            if t == 5:
                return raw.decode("ascii")
            return raw.decode("utf-16-be")
        if t in (0xA, 0xD):
            n, pos = read_count(pos, nib)
            nrefs = n * (2 if t == 0xD else 1)
            if pos + nrefs * ref_size > len(data) - 32:
                raise ValueError(f"refs overrun at object {idx}")
            refs = [int.from_bytes(
                data[pos + j * ref_size:pos + (j + 1) * ref_size],
                "big") for j in range(nrefs)]
            s2 = seen | {idx}
            if t == 0xA:
                return [obj(r, depth + 1, s2) for r in refs]
            keys = [obj(r, depth + 1, s2) for r in refs[:n]]
            vals = [obj(r, depth + 1, s2) for r in refs[n:]]
            if not all(isinstance(k, str) for k in keys):
                raise ValueError(f"non-string dict key at object {idx}")
            return dict(zip(keys, vals))
        raise ValueError(f"unsupported marker 0x{m:02x}")

    return obj(top, 0, frozenset()), n_obj, off_size, ref_size


_BP_NONE = {"rid": None, "name": None, "uname": None, "n_vals": None,
            "vals_sum": None, "flag": None, "payload_len": None,
            "n_objects": None, "offset_size": None, "ref_size": None}


def parse_bplist_doc(data: bytes | None) -> dict:
    try:
        v, n_obj, off_size, ref_size = parse_bplist(data)
    except ValueError as e:
        return {**_BP_NONE, "error": str(e)}
    except UnicodeDecodeError:
        return {**_BP_NONE, "error": "invalid string encoding"}
    if (not isinstance(v, dict)
            or not isinstance(v.get("vals"), list)
            or not all(isinstance(x, int) and not isinstance(x, bool)
                       for x in v["vals"])
            or not isinstance(v.get("id"), (int, type(None)))
            or not isinstance(v.get("name"), (str, type(None)))
            or not isinstance(v.get("uname"), (str, type(None)))):
        return {**_BP_NONE, "error": "unexpected document shape"}
    return {
        "rid": v.get("id"),
        "name": v.get("name"),
        "uname": v.get("uname"),
        "n_vals": len(v["vals"]),
        "vals_sum": sum(v["vals"]),
        "flag": None if "flag" not in v else int(bool(v["flag"])),
        "payload_len": len(v["payload"])
        if isinstance(v.get("payload"), bytes) else None,
        "n_objects": n_obj,
        "offset_size": off_size,
        "ref_size": ref_size,
        "error": None,
    }


BPLIST_SCHEMA = (
    "doc_id long, rid bigint, name string, uname string, n_vals int, "
    "vals_sum bigint, flag int, payload_len int, n_objects int, "
    "offset_size int, ref_size int, error string"
)


def extract_bplist_docs(df: DataFrame, content_col: str = "content",
                        id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> decoded plist fields via one
    Arrow-batched mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_bplist_doc, BPLIST_SCHEMA, id_col, content_col)
