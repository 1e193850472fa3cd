"""REAL GGUF walker — llama.cpp's model container, the other
ML-artifact format beside safetensors and a different design point:
where safetensors is one JSON header, GGUF is a fully BINARY
key-value schema (u64-length strings, a typed-value enum including
nested ARRAYS carrying their element type), tensor descriptors with
u64 dimension vectors, and the ALIGNMENT contract: every tensor's
data offset is relative to the aligned data-section start and must
itself be a multiple of `general.alignment` (default 32) — the rule
that lets mmap'd inference cast pointers directly, and the first
thing corrupted quantization tools break.

Walked here: v3 little-endian header, the KV section (u8..f64,
bool, string, arrays — string arrays carry the tokenizer vocab),
tensor infos (name, dims, ggml type, offset), the alignment gate,
and F32 tensor data read back and exactly summed (values integral).

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed file yields an error ROW — never an exception.

Reference parity: none — beyond-reference ML-artifact operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

GGUF_MAGIC = b"GGUF"
_T_U8, _T_I8, _T_U16, _T_I16 = 0, 1, 2, 3
_T_U32, _T_I32, _T_F32, _T_BOOL = 4, 5, 6, 7
_T_STRING, _T_ARRAY, _T_U64, _T_I64, _T_F64 = 8, 9, 10, 11, 12

_SCALAR_FMT = {_T_U8: "<B", _T_I8: "<b", _T_U16: "<H", _T_I16: "<h",
               _T_U32: "<I", _T_I32: "<i", _T_F32: "<f",
               _T_U64: "<Q", _T_I64: "<q", _T_F64: "<d"}


def _s(v: str) -> bytes:
    raw = v.encode("utf-8")
    return struct.pack("<Q", len(raw)) + raw


def _kv(key: str, vtype: int, value) -> bytes:
    out = _s(key) + struct.pack("<I", vtype)
    if vtype == _T_STRING:
        out += _s(value)
    elif vtype == _T_BOOL:
        out += bytes([1 if value else 0])
    elif vtype == _T_ARRAY:
        etype, items = value
        out += struct.pack("<IQ", etype, len(items))
        for it in items:
            if etype == _T_STRING:
                out += _s(it)
            else:
                out += struct.pack(_SCALAR_FMT[etype], it)
    else:
        out += struct.pack(_SCALAR_FMT[vtype], value)
    return out


def build_gguf(arch: str, name: str, vocab: list[str],
               tensors: list[tuple[str, list[int], list]],
               align: int = 32, misalign: bool = False,
               bad_magic: bool = False) -> bytes:
    kvs = [
        _kv("general.architecture", _T_STRING, arch),
        _kv("general.name", _T_STRING, name),
        _kv("general.alignment", _T_U32, align),
        _kv("general.parameter_count", _T_U64,
            sum(len(t[2]) for t in tensors)),
        _kv("tokenizer.ggml.tokens", _T_ARRAY, (_T_STRING, vocab)),
    ]
    infos = b""
    data = bytearray()
    for tname, dims, vals in tensors:
        off = len(data)
        pad = -off % align
        if misalign and tname.endswith(".0.weight") and pad == 0:
            data += b"\x00" * 4  # push the first tensor off alignment
            off = len(data)
        else:
            data += b"\x00" * pad
            off = len(data)
        for v in vals:
            data += struct.pack("<f", float(v))
        infos += _s(tname) + struct.pack("<I", len(dims))
        for d in dims:
            infos += struct.pack("<Q", d)
        infos += struct.pack("<IQ", 0, off)  # ggml type F32
    hdr = (GGUF_MAGIC if not bad_magic else b"GGUX") \
        + struct.pack("<IQQ", 3, len(tensors), len(kvs))
    head = hdr + b"".join(kvs) + infos
    head += b"\x00" * (-len(head) % align)
    return head + bytes(data)


_GGUF_NONE = {"arch": None, "model_name": None, "alignment": None,
              "n_kv": None, "n_tensors": None, "tensor_names": None,
              "total_params": None, "value_sum": None, "n_vocab": None}


def parse_gguf(data: bytes | None) -> dict:
    if data is None or len(data) < 24 or data[:4] != GGUF_MAGIC:
        return {**_GGUF_NONE, "error": "bad gguf magic"}
    data = bytes(data)
    version, n_tensors, n_kv = struct.unpack_from("<IQQ", data, 4)
    if version != 3:
        return {**_GGUF_NONE, "error": f"unsupported gguf version "
                                       f"{version}"}
    if n_tensors > 1 << 16 or n_kv > 1 << 16:
        return {**_GGUF_NONE, "error": "unreasonable header counts"}
    pos = 24
    try:
        def rstr(p: int) -> tuple[str, int]:
            if p + 8 > len(data):
                raise ValueError("string overruns file")
            (ln,) = struct.unpack_from("<Q", data, p)
            if ln > 1 << 20 or p + 8 + ln > len(data):
                raise ValueError("string overruns file")
            return data[p + 8:p + 8 + ln].decode("utf-8"), p + 8 + ln

        def rval(p: int, vtype: int):
            if vtype == _T_STRING:
                return rstr(p)
            if vtype == _T_BOOL:
                if p >= len(data) or data[p] not in (0, 1):
                    raise ValueError("bad bool value")
                return bool(data[p]), p + 1
            if vtype == _T_ARRAY:
                if p + 12 > len(data):
                    raise ValueError("array header overruns file")
                etype, count = struct.unpack_from("<IQ", data, p)
                if count > 1 << 16:
                    raise ValueError("unreasonable array count")
                p += 12
                items = []
                for _ in range(count):
                    v, p = rval(p, etype)
                    items.append(v)
                return items, p
            fmt = _SCALAR_FMT.get(vtype)
            if fmt is None:
                raise ValueError(f"unsupported kv type {vtype}")
            size = struct.calcsize(fmt)
            if p + size > len(data):
                raise ValueError("scalar overruns file")
            return struct.unpack_from(fmt, data, p)[0], p + size

        kvs: dict[str, object] = {}
        for _ in range(n_kv):
            key, pos = rstr(pos)
            if pos + 4 > len(data):
                raise ValueError("kv type overruns file")
            (vtype,) = struct.unpack_from("<I", data, pos)
            v, pos = rval(pos + 4, vtype)
            kvs[key] = v
        align = int(kvs.get("general.alignment", 32))
        if align <= 0 or align & (align - 1):
            raise ValueError("bad alignment value")
        infos = []
        for _ in range(n_tensors):
            tname, pos = rstr(pos)
            if pos + 4 > len(data):
                raise ValueError("tensor info overruns file")
            (nd,) = struct.unpack_from("<I", data, pos)
            pos += 4
            if nd > 8 or pos + 8 * nd + 12 > len(data):
                raise ValueError("tensor dims overrun file")
            dims = list(struct.unpack_from(f"<{nd}Q", data, pos))
            pos += 8 * nd
            gtype, off = struct.unpack_from("<IQ", data, pos)
            pos += 12
            infos.append((tname, dims, gtype, off))
        data_start = pos + (-pos % align)
        total_params = 0
        value_sum = 0
        for tname, dims, gtype, off in infos:
            if off % align:
                raise ValueError(
                    f"tensor {tname} offset not aligned")
            if gtype != 0:
                raise ValueError(
                    f"unsupported ggml type {gtype} in {tname}")
            n = 1
            for d in dims:
                n *= d
            at = data_start + off
            if at + 4 * n > len(data):
                raise ValueError(f"tensor {tname} overruns file")
            total_params += n
            value_sum += int(sum(
                struct.unpack_from(f"<{n}f", data, at))) if n else 0
    except (ValueError, UnicodeDecodeError) as e:
        msg = str(e) if isinstance(e, ValueError) \
            else "invalid utf-8 string"
        return {**_GGUF_NONE, "error": msg}
    vocab = kvs.get("tokenizer.ggml.tokens")
    return {
        "arch": kvs.get("general.architecture"),
        "model_name": kvs.get("general.name"),
        "alignment": align,
        "n_kv": n_kv,
        "n_tensors": n_tensors,
        "tensor_names": ",".join(t[0] for t in infos),
        "total_params": total_params,
        "value_sum": value_sum,
        "n_vocab": len(vocab) if isinstance(vocab, list) else None,
        "error": None,
    }


GGUF_SCHEMA = ("doc_id long, arch string, model_name string, "
               "alignment int, n_kv int, n_tensors int, "
               "tensor_names string, total_params bigint, "
               "value_sum bigint, n_vocab int, error string")


def extract_gguf_features(df: DataFrame,
                          content_col: str = "content",
                          id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> model facts via one Arrow-batched
    mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_gguf, GGUF_SCHEMA, id_col, content_col)
