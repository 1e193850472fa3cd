"""REAL safetensors walker — the model-weights format a training-data
pipeline actually ships artifacts in, designed as the ANTI-pickle:
one u64le header length, a JSON header mapping tensor names to
{dtype, shape, data_offsets}, then a flat byte buffer — and safety
IS the validation discipline this walker enforces:

- offsets must be within the buffer, non-overlapping, and
  byte-exact for dtype×shape (the format's whole pitch is that a
  reader never executes anything and never reads out of bounds);
- the committee rule that offsets must be CONTIGUOUS and sorted
  (gaps would smuggle hidden bytes past any auditor — checked);
- the optional __metadata__ key is string-to-string only.

i8/f32 tensors are read back and summed (f32 values chosen integral
so the sum is exact).

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed file yields an error ROW — never an exception.

Reference parity: none — beyond-reference ML-artifact operator.
"""

from __future__ import annotations

import json
import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_DTYPE_SIZE = {"I8": 1, "F32": 4, "I32": 4, "F16": 2}


def build_safetensors(tensors: list[tuple[str, str, list[int], list]],
                      metadata: dict | None = None,
                      gap: bool = False,
                      oob: bool = False) -> bytes:
    """``tensors`` = (name, dtype, shape, flat values)."""
    header: dict = {}
    buf = bytearray()
    for name, dtype, shape, vals in tensors:
        start = len(buf)
        if gap and start:
            buf += b"\x00" * 8  # smuggled bytes between tensors
            start = len(buf)
        for v in vals:
            if dtype == "I8":
                buf += struct.pack("<b", v)
            elif dtype == "F32":
                buf += struct.pack("<f", float(v))
            elif dtype == "I32":
                buf += struct.pack("<i", v)
        header[name] = {"dtype": dtype, "shape": shape,
                        "data_offsets": [start, len(buf)]}
    if oob and tensors:
        name = tensors[-1][0]
        s, e = header[name]["data_offsets"]
        header[name]["data_offsets"] = [s, e + 64]
    if metadata:
        header["__metadata__"] = metadata
    hj = json.dumps(header, sort_keys=True).encode()
    return struct.pack("<Q", len(hj)) + hj + bytes(buf)


_ST_NONE = {"n_tensors": None, "names": None, "total_params": None,
            "total_bytes": None, "value_sum": None, "meta_format": None}


def parse_safetensors(data: bytes | None) -> dict:
    if data is None or len(data) < 8:
        return {**_ST_NONE, "error": "short or missing file"}
    data = bytes(data)
    (hlen,) = struct.unpack_from("<Q", data, 0)
    if hlen > len(data) - 8 or hlen > 1 << 24:
        return {**_ST_NONE, "error": "header length overruns file"}
    try:
        header = json.loads(data[8:8 + hlen].decode("utf-8"))
    except (json.JSONDecodeError, UnicodeDecodeError):
        return {**_ST_NONE, "error": "invalid json header"}
    if not isinstance(header, dict):
        return {**_ST_NONE, "error": "header is not an object"}
    buf = data[8 + hlen:]
    meta = header.pop("__metadata__", None)
    if meta is not None and not (
            isinstance(meta, dict)
            and all(isinstance(k, str) and isinstance(v, str)
                    for k, v in meta.items())):
        return {**_ST_NONE, "error": "metadata must be str-to-str"}
    try:
        spans = []
        total_params = 0
        value_sum = 0
        for name in sorted(header):
            t = header[name]
            dtype = t.get("dtype")
            shape = t.get("shape")
            offs = t.get("data_offsets")
            if dtype not in _DTYPE_SIZE \
                    or not isinstance(shape, list) \
                    or not isinstance(offs, list) or len(offs) != 2:
                raise ValueError(f"malformed tensor entry {name}")
            n = 1
            for d in shape:
                if not isinstance(d, int) or d < 0:
                    raise ValueError(f"bad shape in {name}")
                n *= d
            s, e = offs
            if not (0 <= s <= e <= len(buf)):
                raise ValueError(f"offsets out of buffer in {name}")
            if e - s != n * _DTYPE_SIZE[dtype]:
                raise ValueError(
                    f"offsets disagree with dtype*shape in {name}")
            spans.append((s, e, name))
            total_params += n
            if dtype == "I8":
                value_sum += sum(
                    struct.unpack_from(f"<{n}b", buf, s)) if n else 0
            elif dtype == "F32":
                value_sum += int(sum(
                    struct.unpack_from(f"<{n}f", buf, s))) if n else 0
            elif dtype == "I32":
                value_sum += sum(
                    struct.unpack_from(f"<{n}i", buf, s)) if n else 0
        spans.sort()
        at = 0
        for s, e, name in spans:
            if s != at:
                raise ValueError(
                    f"non-contiguous buffer before {name}")
            at = e
        if at != len(buf):
            raise ValueError("trailing bytes after last tensor")
    except ValueError as e:
        return {**_ST_NONE, "error": str(e)}
    return {
        "n_tensors": len(header),
        "names": ",".join(sorted(header)),
        "total_params": total_params,
        "total_bytes": len(buf),
        "value_sum": value_sum,
        "meta_format": (meta or {}).get("format"),
        "error": None,
    }


ST_SCHEMA = ("doc_id long, n_tensors int, names string, "
             "total_params bigint, total_bytes bigint, "
             "value_sum bigint, meta_format string, error string")


def extract_safetensors(df: DataFrame, content_col: str = "content",
                        id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> tensor facts via one Arrow-batched
    mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_safetensors, ST_SCHEMA, id_col, content_col)
