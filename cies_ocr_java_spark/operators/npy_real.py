"""NumPy .npy / .npz walker — the ML-artifact trio's third member
beside safetensors and GGUF (the pipeline's own outputs as
parseable inputs): the .npy header is a PYTHON DICT LITERAL
("{'descr': '<i8', 'fortran_order': False, 'shape': (3, 4), }")
whose total header size (magic+version+len+dict+padding) must be a
multiple of 64 for mmap alignment (the GGUF lesson in numpy
clothing — verified here), the u16/u32 header-length field depends
on the version byte pair, the shape tuple's Python spelling
distinguishes (3,) from (3) (trailing comma REQUIRED for rank 1),
and declared shape x itemsize must equal the remaining bytes
EXACTLY. Dict parsing here is a strict grammar over the three
known keys — never eval.

.npz is a ZIP of .npy members and rides the repo's shared
structural ZIP walk (operators/archive.py walk_zip_members — the
docx/epub composition reused): every member is CRC-verified by the
archive layer, then npy-parsed, and a non-npy member is a named
per-archive error.

Supported dtypes: '<i8', '<i4', '<f8', '|u1' (itemsizes 8/4/8/1);
int payloads are value-summed exactly, f8 payloads are summed as
integers scaled by 256 at build time so the sum stays exact.

Failure contract: every malformed array yields an error ROW.

Reference parity: none — ML-artifact recovery is beyond-reference.
"""

from __future__ import annotations

import math
import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.archive import walk_zip_members
from cies_ocr_java_spark.operators.walker import map_blobs

_MAGIC = b"\x93NUMPY"
_ITEM = {"<i8": 8, "<i4": 4, "<f8": 8, "|u1": 1}


def build_npy(descr: str, shape: tuple[int, ...],
              values: list[int], *, fortran: bool = False,
              version: tuple[int, int] = (1, 0),
              bad_align: bool = False, lie_shape: bool = False,
              chop: int = 0) -> bytes:
    """values are ints; for '<f8' they are written as value/256.0
    (exact in binary) so decoded sums replay exactly."""
    n = 1
    for s in shape:
        n *= s
    if len(values) != n:
        raise ValueError("value count mismatch")
    if lie_shape:
        shape = (shape[0] + 1,) + tuple(shape[1:])
    sh = "(" + ", ".join(str(s) for s in shape) + \
        ("," if len(shape) == 1 else "") + ")"
    head = ("{'descr': '%s', 'fortran_order': %s, 'shape': %s, }"
            % (descr, "True" if fortran else "False", sh)).encode()
    base = len(_MAGIC) + 2 + (2 if version[0] == 1 else 4)
    pad = -(base + len(head) + 1) % 64
    if bad_align:
        pad += 3
    head = head + b" " * pad + b"\n"
    out = bytearray()
    out += _MAGIC
    out += bytes(version)
    if version[0] == 1:
        out += len(head).to_bytes(2, "little")
    else:
        out += len(head).to_bytes(4, "little")
    out += head
    for v in values:
        if descr == "<i8":
            out += struct.pack("<q", v)
        elif descr == "<i4":
            out += struct.pack("<i", v)
        elif descr == "<f8":
            out += struct.pack("<d", v / 256.0)
        elif descr == "|u1":
            out += struct.pack("<B", v)
        else:
            raise ValueError(descr)
    if chop:
        del out[-chop:]
    return bytes(out)


def parse_npy(data: bytes) -> dict:
    """Returns {descr, shape, fortran, n, vsum_x256} or raises
    ValueError."""
    if len(data) < 10 or data[:6] != _MAGIC:
        raise ValueError("bad npy magic")
    major, _minor = data[6], data[7]
    if major == 1:
        hlen = int.from_bytes(data[8:10], "little")
        hoff = 10
    elif major in (2, 3):
        if len(data) < 12:
            raise ValueError("truncated npy header")
        hlen = int.from_bytes(data[8:12], "little")
        hoff = 12
    else:
        raise ValueError("unsupported npy version")
    if hoff + hlen > len(data):
        raise ValueError("truncated npy header")
    if (hoff + hlen) % 64:
        raise ValueError("npy header not 64-byte aligned")
    head = data[hoff:hoff + hlen]
    if not head.endswith(b"\n"):
        raise ValueError("npy header missing terminator")
    text = head.decode("latin-1").strip()
    if not (text.startswith("{") and text.endswith("}")):
        raise ValueError("bad npy header dict")
    inner = text[1:-1].strip().rstrip(",")

    import re as _re
    m = _re.fullmatch(
        r"'descr':\s*'([^']+)',\s*"
        r"'fortran_order':\s*(True|False),\s*"
        r"'shape':\s*\(([0-9,\s]*)\),?", inner)
    if not m:
        raise ValueError("bad npy header dict")
    descr, fortran, shape_s = m.group(1), m.group(2), m.group(3)
    if descr not in _ITEM:
        raise ValueError(f"unsupported dtype {descr}")
    parts = [p for p in shape_s.replace(" ", "").split(",") if p]
    shape = tuple(int(p) for p in parts)
    if len(shape) == 1 and not shape_s.replace(" ", "").endswith(","):
        raise ValueError("rank-1 shape missing trailing comma")
    n = 1
    for s in shape:
        n *= s
    body = data[hoff + hlen:]
    isz = _ITEM[descr]
    if len(body) != n * isz:
        raise ValueError("npy payload size disagrees with shape")
    vsum = 0
    if descr == "<i8":
        vsum = sum(struct.unpack(f"<{n}q", body)) * 256
    elif descr == "<i4":
        vsum = sum(struct.unpack(f"<{n}i", body)) * 256
    elif descr == "|u1":
        vsum = sum(body) * 256
    else:
        total = 0.0
        for v in struct.unpack(f"<{n}d", body):
            total += v * 256
        # An f8 body containing +/-inf makes int(round(total)) raise
        # OverflowError, which the ValueError net misses — gate first.
        if not math.isfinite(total):
            raise ValueError("non-finite value")
        vsum = int(round(total))
    return {"descr": descr, "shape": shape,
            "fortran": fortran == "True", "n": n,
            "vsum_x256": vsum}


_NPZ_NONE = {
    "n_arrays": None, "n_values": None, "vsum_x256": None,
    "n_f8": None, "n_fortran": None, "max_rank": None,
}


def parse_npz(data: bytes | None) -> dict:
    members, err = walk_zip_members(data)
    if err is not None:
        return {**_NPZ_NONE, "error": err}
    try:
        n_arrays = n_values = vsum = n_f8 = n_fortran = 0
        max_rank = 0
        for name, raw, _method in members:
            if not name.endswith(".npy"):
                raise ValueError("non-npy member in archive")
            r = parse_npy(raw)
            n_arrays += 1
            n_values += r["n"]
            vsum += r["vsum_x256"]
            if r["descr"] == "<f8":
                n_f8 += 1
            if r["fortran"]:
                n_fortran += 1
            max_rank = max(max_rank, len(r["shape"]))
    except ValueError as e:
        return {**_NPZ_NONE, "error": str(e)}
    return {"n_arrays": n_arrays, "n_values": n_values,
            "vsum_x256": vsum, "n_f8": n_f8,
            "n_fortran": n_fortran, "max_rank": max_rank,
            "error": None}


_NPZ_SCHEMA = (
    "doc_id long, n_arrays int, n_values bigint, "
    "vsum_x256 bigint, n_f8 int, n_fortran int, max_rank int, "
    "error string"
)


def extract_npz_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_npz, _NPZ_SCHEMA, id_col, content_col)
