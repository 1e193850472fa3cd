"""REAL Roaring bitmap walker (the portable serialization) — the
compressed-set artifact under Lucene, ClickHouse and half of OLAP:
32-bit values split into a u16 HIGH key selecting a container and a
u16 LOW half stored either as a sorted u16 ARRAY (cardinality <=
4096) or as an 8 KiB BITMAP — the hybrid whose crossover point IS the
format (4096 * 2 bytes == 8192: past it the bitmap is smaller, and a
serializer that picks wrong is nonconforming even though it
round-trips).

Portable layout (no-run cookie 12347): u32 cookie, u32 container
count, then (u16 key, u16 cardinality-1) descriptors, then u32
OFFSETS to each container — redundant with sequential layout and
therefore VERIFIED here (an offset that disagrees with where the
container actually lands is corruption), then the containers.  Array
containers must be STRICTLY sorted; bitmap popcount must equal the
declared cardinality — both checked.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed bitmap yields an error ROW — never an exception.

Reference parity: none — beyond-reference analytics-artifact
operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

COOKIE_NO_RUN = 12347
_ARRAY_MAX = 4096


def build_roaring(containers: list[tuple[int, list[int]]],
                  lie_offset: bool = False,
                  unsorted: bool = False) -> bytes:
    """``containers`` = (key, sorted low-16 values)."""
    n = len(containers)
    out = bytearray(struct.pack("<II", COOKIE_NO_RUN, n))
    for key, vals in containers:
        out += struct.pack("<HH", key, len(vals) - 1)
    off_at = len(out)
    out += b"\x00" * 4 * n
    offsets = []
    for ci, (key, vals) in enumerate(containers):
        offsets.append(len(out))
        if len(vals) <= _ARRAY_MAX:
            emit = list(vals)
            if unsorted and ci == 0 and len(emit) >= 2:
                emit[0], emit[1] = emit[1], emit[0]
            for v in emit:
                out += struct.pack("<H", v)
        else:
            words = [0] * 1024
            for v in vals:
                words[v >> 6] |= 1 << (v & 63)
            for w in words:
                out += struct.pack("<Q", w)
    for k, o in enumerate(offsets):
        struct.pack_into("<I", out, off_at + 4 * k,
                         o + (7 if lie_offset and k == 1 else 0))
    return bytes(out)


_RB_NONE = {"n_containers": None, "cardinality": None, "vmin": None,
            "vmax": None, "value_sum": None, "n_array": None,
            "n_bitmap": None}


def parse_roaring(data: bytes | None) -> dict:
    if data is None or len(data) < 8:
        return {**_RB_NONE, "error": "short or missing bitmap"}
    data = bytes(data)
    cookie, n = struct.unpack_from("<II", data, 0)
    if cookie != COOKIE_NO_RUN:
        return {**_RB_NONE, "error": f"unsupported cookie {cookie}"}
    if n > 1 << 16:
        return {**_RB_NONE, "error": "unreasonable container count"}
    try:
        hdr_at = 8
        off_at = hdr_at + 4 * n
        body_at = off_at + 4 * n
        if body_at > len(data):
            raise ValueError("descriptors overrun bitmap")
        pos = body_at
        card_total = 0
        vmin = vmax = None
        vsum = 0
        n_array = n_bitmap = 0
        prev_key = -1
        for c in range(n):
            key, cm1 = struct.unpack_from("<HH", data, hdr_at + 4 * c)
            if key <= prev_key:
                raise ValueError("container keys not increasing")
            prev_key = key
            card = cm1 + 1
            (stated_off,) = struct.unpack_from("<I", data,
                                               off_at + 4 * c)
            if stated_off != pos:
                raise ValueError(f"container {c} offset mismatch")
            base = key << 16
            if card <= _ARRAY_MAX:
                n_array += 1
                if pos + 2 * card > len(data):
                    raise ValueError(f"container {c} overruns bitmap")
                vals = struct.unpack_from(f"<{card}H", data, pos)
                for a, b in zip(vals, vals[1:]):
                    if b <= a:
                        raise ValueError(
                            f"container {c} array not sorted")
                pos += 2 * card
                lo_min, lo_max = vals[0], vals[-1]
                vsum += base * card + sum(vals)
            else:
                n_bitmap += 1
                if pos + 8192 > len(data):
                    raise ValueError(f"container {c} overruns bitmap")
                words = struct.unpack_from("<1024Q", data, pos)
                pop = sum(bin(w).count("1") for w in words)
                if pop != card:
                    raise ValueError(
                        f"container {c} popcount disagrees with "
                        f"cardinality")
                pos += 8192
                lo_min = next(i * 64 + (w & -w).bit_length() - 1
                              for i, w in enumerate(words) if w)
                lo_max = max(i * 64 + w.bit_length() - 1
                             for i, w in enumerate(words) if w)
                vsum += base * card + sum(
                    i * 64 + b
                    for i, w in enumerate(words) if w
                    for b in range(64) if w >> b & 1)
            card_total += card
            if vmin is None:
                vmin = base + lo_min
            vmax = base + lo_max
        if pos != len(data):
            raise ValueError("trailing bytes after containers")
    except (ValueError, struct.error) as e:
        msg = str(e) if isinstance(e, ValueError) \
            else "truncated structure"
        return {**_RB_NONE, "error": msg}
    return {
        "n_containers": n, "cardinality": card_total,
        "vmin": vmin, "vmax": vmax, "value_sum": vsum,
        "n_array": n_array, "n_bitmap": n_bitmap, "error": None,
    }


RB_SCHEMA = ("doc_id long, n_containers int, cardinality bigint, "
             "vmin bigint, vmax bigint, value_sum bigint, "
             "n_array int, n_bitmap int, error string")


def extract_roaring(df: DataFrame, content_col: str = "content",
                    id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> set facts via one Arrow-batched
    mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_roaring, RB_SCHEMA, id_col, content_col)
