"""ESRI Shapefile (.shp) walker — the format where ENDIANNESS IS
PER-FIELD: the file header mixes big-endian bookkeeping (the 9994
file code, the total file length measured in 16-BIT WORDS
including the header's own 50) with little-endian payload fields
(version 1000, shape type, the f64 bounding box), and every record
has a BIG-endian header (1-BASED sequential record number +
content length in words) wrapping LITTLE-endian geometry. Three
redundancies are verified: the declared file length vs actual
bytes/2, each record's declared word length vs its geometry's
actual size, and the header bbox vs the envelope of every decoded
point (value-correct but misplaced geometry breaks it). All
non-null records must carry the header's shape type — a mixed file
is structurally invalid. Polygon/polyline part arrays must start
at 0 and strictly increase.

Coordinates in fixtures are integer-valued f64s so sums replay
exactly.

Failure contract: every malformed file yields an error ROW.

Reference parity: none — geodata recovery is beyond-reference.
"""

from __future__ import annotations

import math
import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs


def _geom(shape_type: int, pts: list[tuple[int, int]],
          parts: list[int]) -> bytes:
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    out = bytearray()
    out += struct.pack("<i", shape_type)
    out += struct.pack("<4d", min(xs), min(ys), max(xs), max(ys))
    out += struct.pack("<ii", len(parts), len(pts))
    for p in parts:
        out += struct.pack("<i", p)
    for x, y in pts:
        out += struct.pack("<dd", float(x), float(y))
    return bytes(out)


def build_shp(shape_type: int,
              records: list[None | tuple[list[tuple[int, int]],
                                         list[int]]], *,
              lie_file_len: bool = False,
              break_seq: bool = False,
              mixed_type: bool = False,
              chop: int = 0) -> bytes:
    """records: None (null shape) or (points, part_starts)."""
    body = bytearray()
    all_pts = []
    last_geom = max((k for k, r in enumerate(records)
                     if r is not None), default=-1)
    for k, rec in enumerate(records):
        if rec is None:
            content = struct.pack("<i", 0)
        else:
            pts, parts = rec
            st = shape_type
            if mixed_type and k == last_geom:
                st = 3 if shape_type == 5 else 5
            content = _geom(st, pts, parts)
            all_pts += pts
        num = k + 1
        if break_seq and k == 1:
            num += 3
        body += struct.pack(">ii", num, len(content) // 2)
        body += content
    if all_pts:
        bbox = (min(x for x, _ in all_pts),
                min(y for _, y in all_pts),
                max(x for x, _ in all_pts),
                max(y for _, y in all_pts))
    else:
        bbox = (0, 0, 0, 0)
    total_words = (100 + len(body)) // 2
    if lie_file_len:
        total_words += 8
    hdr = bytearray(100)
    struct.pack_into(">i", hdr, 0, 9994)
    struct.pack_into(">i", hdr, 24, total_words)
    struct.pack_into("<i", hdr, 28, 1000)
    struct.pack_into("<i", hdr, 32, shape_type)
    struct.pack_into("<4d", hdr, 36, *map(float, bbox))
    out = bytes(hdr) + bytes(body)
    if chop:
        out = out[:-chop]
    return out


_SHP_NONE = {
    "shape_type": None, "n_records": None, "n_null": None,
    "n_points": None, "n_parts": None, "x_sum": None,
    "y_sum": None,
}


def parse_shp(data: bytes | None) -> dict:
    if data is None or len(data) < 100:
        return {**_SHP_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        if struct.unpack_from(">i", data, 0)[0] != 9994:
            raise ValueError("bad file code")
        declared = struct.unpack_from(">i", data, 24)[0]
        if len(data) % 2 or declared != len(data) // 2:
            raise ValueError("declared length disagrees with file")
        if struct.unpack_from("<i", data, 28)[0] != 1000:
            raise ValueError("unsupported version")
        hdr_type = struct.unpack_from("<i", data, 32)[0]
        hdr_bbox = struct.unpack_from("<4d", data, 36)
        pos = 100
        n_rec = n_null = n_pts = n_parts = 0
        x_sum = y_sum = 0
        env = None
        expect_num = 1
        while pos < len(data):
            if pos + 8 > len(data):
                raise ValueError("truncated record header")
            num, clen = struct.unpack_from(">ii", data, pos)
            if num != expect_num:
                raise ValueError("record numbers not sequential")
            expect_num += 1
            pos += 8
            content = data[pos:pos + 2 * clen]
            if len(content) != 2 * clen:
                raise ValueError("record overruns file")
            pos += 2 * clen
            n_rec += 1
            if len(content) < 4:
                raise ValueError("record too short")
            st = struct.unpack_from("<i", content, 0)[0]
            if st == 0:
                if clen != 2:
                    raise ValueError(
                        "record length disagrees with geometry")
                n_null += 1
                continue
            if st != hdr_type:
                raise ValueError("shape type disagrees with header")
            if st not in (3, 5):
                raise ValueError("unsupported shape type")
            if len(content) < 44:
                raise ValueError("geometry header truncated")
            npp, npt = struct.unpack_from("<ii", content, 36)
            need = 4 + 32 + 8 + 4 * npp + 16 * npt
            if 2 * clen != need:
                raise ValueError(
                    "record length disagrees with geometry")
            parts = struct.unpack_from(f"<{npp}i", content, 44)
            if npp:
                if parts[0] != 0:
                    raise ValueError("first part does not start at 0")
                for a, b in zip(parts, parts[1:]):
                    if b <= a:
                        raise ValueError("parts not increasing")
                if parts[-1] >= npt:
                    raise ValueError("part start past point count")
            coords = struct.unpack_from(f"<{2 * npt}d", content,
                                        44 + 4 * npp)
            for k in range(npt):
                x, y = coords[2 * k], coords[2 * k + 1]
                # int() on +/-inf raises OverflowError past the ValueError
                # net — gate so poisoned coordinates yield an error row.
                if not (math.isfinite(x) and math.isfinite(y)):
                    raise ValueError("non-finite value")
                x_sum += int(x)
                y_sum += int(y)
                if env is None:
                    env = [x, y, x, y]
                else:
                    env[0] = min(env[0], x)
                    env[1] = min(env[1], y)
                    env[2] = max(env[2], x)
                    env[3] = max(env[3], y)
            n_pts += npt
            n_parts += npp
        if env is not None and tuple(env) != hdr_bbox:
            raise ValueError("header bbox disagrees with envelope")
    except (ValueError, struct.error) as e:
        msg = str(e) or "malformed structure"
        return {**_SHP_NONE, "error": msg}
    return {
        "shape_type": hdr_type, "n_records": n_rec,
        "n_null": n_null, "n_points": n_pts, "n_parts": n_parts,
        "x_sum": x_sum, "y_sum": y_sum, "error": None,
    }


_SHP_SCHEMA = (
    "doc_id long, shape_type int, n_records int, n_null int, "
    "n_points int, n_parts int, x_sum bigint, y_sum bigint, "
    "error string"
)


def extract_shp_features(df: DataFrame,
                         content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_shp, _SHP_SCHEMA, id_col, content_col)
