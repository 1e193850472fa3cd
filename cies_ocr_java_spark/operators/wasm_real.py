"""REAL WebAssembly module walker on stdlib struct — the web's fourth
language artifact (js/css/fonts and now wasm): a module is a run of
(id byte, ULEB128 size, content) sections whose CONTENT is itself
ULEB128-framed lists — type signatures (0x60 functype with param/
result valtype vectors), function->type indices, exports (name, kind,
index), memory limits, code bodies (their own size prefix, locals
vector, expression ending 0x0B), and the CUSTOM "name" section whose
subsections map function indices back to debug names.

Disciplines pinned here:
- every section's declared size must be consumed EXACTLY (a section
  whose content walks past or short of its frame is a module error —
  the exact-consumption rule msgpack taught, applied per frame);
- ULEB128 is bounded (5 bytes for u32 — an unterminated varint is an
  error, not a hang);
- export kinds are a closed enum (func/table/memory/global) — kind 9
  is a document error naming itself.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed module yields an error ROW — never an exception.

Reference parity: none — beyond-reference binary-artifact operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

WASM_MAGIC = b"\x00asm"
_KINDS = {0: "func", 1: "table", 2: "memory", 3: "global"}


def uleb(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def read_uleb(data: bytes, pos: int) -> tuple[int, int]:
    v = shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("uleb overruns module")
        if shift > 28:
            raise ValueError("unterminated uleb128")
        b = data[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return v, pos


def _section(sid: int, content: bytes, oversize: int = 0) -> bytes:
    return bytes([sid]) + uleb(len(content) + oversize) + content


def _name(s: str) -> bytes:
    raw = s.encode("utf-8")
    return uleb(len(raw)) + raw


def build_wasm(func_param_counts: list[int], exports: list[str],
               mem_min: int, func_names: list[str],
               pad_custom: int = 200,
               export_oversize: int = 0,
               bad_export_kind: bool = False) -> bytes:
    """Types (func k: k i32 params, k%2 i32 results), funcs, memory,
    exports (each func + one memory export), code (k nops), and the
    'name' custom section.  ``pad_custom`` adds a >127-byte custom
    section so at least one size is a MULTI-BYTE uleb."""
    nf = len(func_param_counts)
    types = uleb(nf)
    for k in func_param_counts:
        types += b"\x60" + uleb(k) + b"\x7f" * k \
            + uleb(k % 2) + b"\x7f" * (k % 2)
    funcs = uleb(nf) + b"".join(uleb(k) for k in range(nf))
    mems = uleb(1) + b"\x00" + uleb(mem_min)
    exp = uleb(len(exports) + 1)
    for k, nm in enumerate(exports):
        kind = 9 if (bad_export_kind and k == 0) else 0
        exp += _name(nm) + bytes([kind]) + uleb(k)
    exp += _name("memory") + b"\x02" + uleb(0)
    code = uleb(nf)
    for k in range(nf):
        body = uleb(0) + b"\x01" * k + b"\x0b"
        code += uleb(len(body)) + body
    names_sub = uleb(len(func_names))
    for k, nm in enumerate(func_names):
        names_sub += uleb(k) + _name(nm)
    name_sec = _name("name") + b"\x01" + uleb(len(names_sub)) \
        + names_sub
    pad_sec = _name("pad") + bytes((3 * j) & 0xFF
                                   for j in range(pad_custom))
    out = WASM_MAGIC + struct.pack("<I", 1)
    out += _section(1, types)
    out += _section(3, funcs)
    out += _section(5, mems)
    out += _section(7, exp, oversize=export_oversize)
    out += _section(10, code)
    out += _section(0, name_sec)
    out += _section(0, pad_sec)
    return out


_WASM_NONE = {"n_types": None, "n_funcs": None, "n_exports": None,
              "export_names": None, "mem_min": None,
              "func_names": None, "code_bytes": None}


def parse_wasm(data: bytes | None) -> dict:
    """Section walk with exact-consumption gates per frame."""
    if data is None or len(data) < 8 or data[:4] != WASM_MAGIC:
        return {**_WASM_NONE, "error": "bad wasm magic"}
    data = bytes(data)
    if struct.unpack_from("<I", data, 4)[0] != 1:
        return {**_WASM_NONE, "error": "unsupported wasm version"}
    pos = 8
    n_types = n_funcs = None
    exports: list[str] = []
    mem_min = None
    func_names: list[str] = []
    code_bytes = None
    try:
        while pos < len(data):
            sid = data[pos]
            size, p = read_uleb(data, pos + 1)
            if p + size > len(data):
                raise ValueError(f"section {sid} overruns module")
            body = data[p:p + size]
            pos = p + size
            q = 0
            if sid == 1:
                n_types, q = read_uleb(body, q)
                for _ in range(n_types):
                    if q >= len(body) or body[q] != 0x60:
                        raise ValueError("bad functype marker")
                    q += 1
                    np_, q = read_uleb(body, q)
                    q += np_
                    nr, q = read_uleb(body, q)
                    q += nr
            elif sid == 3:
                n_funcs, q = read_uleb(body, q)
                for _ in range(n_funcs):
                    _t, q = read_uleb(body, q)
            elif sid == 5:
                nm, q = read_uleb(body, q)
                for _ in range(nm):
                    if q >= len(body):
                        raise ValueError("truncated memory limits")
                    flags = body[q]
                    q += 1
                    mem_min, q = read_uleb(body, q)
                    if flags & 1:
                        _mx, q = read_uleb(body, q)
            elif sid == 7:
                ne, q = read_uleb(body, q)
                for _ in range(ne):
                    ln, q = read_uleb(body, q)
                    if q + ln > len(body):
                        raise ValueError("export name overruns section")
                    nm = body[q:q + ln].decode("utf-8")
                    q += ln
                    if q >= len(body):
                        raise ValueError("truncated export entry")
                    kind = body[q]
                    q += 1
                    if kind not in _KINDS:
                        raise ValueError(f"bad export kind {kind}")
                    _idx, q = read_uleb(body, q)
                    exports.append(nm)
            elif sid == 10:
                nb, q = read_uleb(body, q)
                code_bytes = len(body)
                for _ in range(nb):
                    bsz, q = read_uleb(body, q)
                    if q + bsz > len(body):
                        raise ValueError("code body overruns section")
                    if not body[q:q + bsz].endswith(b"\x0b"):
                        raise ValueError("code body missing end opcode")
                    q += bsz
            elif sid == 0:
                ln, q = read_uleb(body, q)
                cname = body[q:q + ln].decode("utf-8")
                q += ln
                if cname == "name":
                    while q < len(body):
                        sub = body[q]
                        ssz, q2 = read_uleb(body, q + 1)
                        sbody = body[q2:q2 + ssz]
                        q = q2 + ssz
                        if sub == 1:
                            r = 0
                            cnt, r = read_uleb(sbody, r)
                            for _ in range(cnt):
                                _i, r = read_uleb(sbody, r)
                                nl2, r = read_uleb(sbody, r)
                                func_names.append(
                                    sbody[r:r + nl2].decode("utf-8"))
                                r += nl2
                    q = len(body)
                else:
                    q = len(body)  # foreign custom: skipped by frame
            else:
                q = len(body)  # unknown section id: skip by frame
            if q != len(body):
                raise ValueError(
                    f"section {sid} not fully consumed")
    except ValueError as e:
        return {**_WASM_NONE, "error": str(e)}
    except UnicodeDecodeError:
        return {**_WASM_NONE, "error": "invalid utf-8 name"}
    return {
        "n_types": n_types, "n_funcs": n_funcs,
        "n_exports": len(exports),
        "export_names": ",".join(exports),
        "mem_min": mem_min,
        "func_names": ",".join(func_names),
        "code_bytes": code_bytes,
        "error": None,
    }


WASM_SCHEMA = (
    "doc_id long, n_types int, n_funcs int, n_exports int, "
    "export_names string, mem_min int, func_names string, "
    "code_bytes int, error string"
)


def extract_wasm_features(df: DataFrame,
                          content_col: str = "content",
                          id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> module metadata via one Arrow-batched
    mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_wasm, WASM_SCHEMA, id_col, content_col)
