"""TrueType glyf outline walker — the second sfnt layer beside
sfnt_real's cmap: glyph locations come from `loca`, whose SHORT
format stores offset/2 (odd offsets are unrepresentable BY DESIGN
— writers pad glyph records to even length; head.indexToLocFormat
picks short vs long and getting it wrong reads garbage that still
looks like glyphs), an EMPTY glyph is loca[i] == loca[i+1] (no
bytes at all — not a zero-contour record), and simple-glyph point
streams are doubly compressed: flag bytes carry a REPEAT bit whose
NEXT byte is a repeat count, and coordinates are DELTAS from the
previous point (first point from (0,0)) in short-with-sign-bit or
long form, with the SAME bit meaning "delta is zero" when the
short bit is clear. The declared glyph bbox is CROSS-CHECKED
against the decoded point extremes — the format carries its own
redundancy and a parser that trusts the header misses corrupt
outlines that still render.

Font assembly reuses sfnt_real's checksum discipline: per-table
checksums, head.checkSumAdjustment zeroed while summing, whole
file summing to 0xB1B0AFBA.

Failure contract: every malformed font yields an error ROW.

Reference parity: none — font recovery is beyond-reference.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.sfnt_real import _csum
from cies_ocr_java_spark.operators.walker import map_blobs

_HEAD_MAGIC = 0x5F0F3CF5
_MAGIC_SUM = 0xB1B0AFBA

_ON = 0x01
_XS = 0x02
_YS = 0x04
_REP = 0x08
_XSAME = 0x10
_YSAME = 0x20


def _encode_glyph(contours: list[list[tuple[int, int]]], *,
                  lie_bbox: bool = False) -> bytes:
    pts = [p for c in contours for p in c]
    xs = [x for x, _ in pts]
    ys = [y for _, y in pts]
    bbox = (min(xs), min(ys), max(xs), max(ys))
    if lie_bbox:
        bbox = (bbox[0], bbox[1], bbox[2] + 5, bbox[3])
    out = bytearray()
    out += struct.pack(">hhhhh", len(contours), *bbox)
    ends = []
    total = -1
    for c in contours:
        total += len(c)
        ends.append(total)
    out += b"".join(struct.pack(">H", e) for e in ends)
    out += struct.pack(">H", 0)  # no instructions

    flags = []
    xdata = []
    ydata = []
    px = py = 0
    for x, y in pts:
        dx, dy = x - px, y - py
        px, py = x, y
        f = _ON
        if dx == 0:
            f |= _XSAME
            xb = b""
        elif -255 <= dx <= 255:
            f |= _XS | (_XSAME if dx > 0 else 0)
            xb = bytes((abs(dx),))
        else:
            xb = struct.pack(">h", dx)
        if dy == 0:
            f |= _YSAME
            yb = b""
        elif -255 <= dy <= 255:
            f |= _YS | (_YSAME if dy > 0 else 0)
            yb = bytes((abs(dy),))
        else:
            yb = struct.pack(">h", dy)
        flags.append(f)
        xdata.append(xb)
        ydata.append(yb)
    # repeat-compress the flag bytes
    k = 0
    while k < len(flags):
        run = 1
        while (k + run < len(flags) and run < 255
               and flags[k + run] == flags[k]):
            run += 1
        if run >= 2:
            out.append(flags[k] | _REP)
            out.append(run - 1)
        else:
            out.append(flags[k])
        k += run
    out += b"".join(xdata) + b"".join(ydata)
    return bytes(out)


def build_glyf_font(glyphs: list[list[list[tuple[int, int]]] | None],
                    *, long_loca: bool = False,
                    lie_bbox: bool = False,
                    break_loca: bool = False,
                    chop_glyf: int = 0) -> bytes:
    """glyphs: per glyph a contour list, or None for an EMPTY glyph.
    lie_bbox poisons the FIRST non-empty glyph's bbox."""
    records = []
    lied = False
    for g in glyphs:
        if g is None:
            records.append(b"")
            continue
        rec = _encode_glyph(g, lie_bbox=lie_bbox and not lied)
        if lie_bbox and not lied:
            lied = True
        rec += b"\x00" * (len(rec) % 2)  # even for short loca
        records.append(rec)
    offsets = [0]
    for rec in records:
        offsets.append(offsets[-1] + len(rec))
    glyf = b"".join(records)
    if chop_glyf:
        glyf = glyf[:-chop_glyf]
    if break_loca and len(offsets) > 2:
        offsets[1], offsets[2] = offsets[2], offsets[1]
    if long_loca:
        loca = b"".join(struct.pack(">I", o) for o in offsets)
    else:
        loca = b"".join(struct.pack(">H", o // 2) for o in offsets)

    head = struct.pack(
        ">IIIIHHqqhhhhHHhhh",
        0x00010000, 0, 0, _HEAD_MAGIC, 0b1011, 1000,
        3_500_000_000, 3_500_000_000, 0, -200, 1000, 800, 0, 8, 2,
        1 if long_loca else 0, 0,
    )
    maxp = struct.pack(">IH", 0x00005000, len(glyphs))
    tables = [(b"glyf", glyf), (b"head", head), (b"loca", loca),
              (b"maxp", maxp)]
    n = len(tables)
    msb = 1 << (n.bit_length() - 1)
    off = 12 + 16 * n
    directory = b""
    blobs = b""
    head_off = None
    for tag, data in tables:
        if tag == b"head":
            head_off = off
        directory += struct.pack(">4sIII", tag, _csum(data), off,
                                 len(data))
        pad = data + b"\x00" * (-len(data) % 4)
        blobs += pad
        off += len(pad)
    font = bytearray(struct.pack(
        ">IHHHH", 0x00010000, n, 16 * msb, msb.bit_length() - 1,
        16 * n - 16 * msb) + directory + blobs)
    adjustment = (_MAGIC_SUM - _csum(bytes(font))) & 0xFFFFFFFF
    struct.pack_into(">I", font, head_off + 8, adjustment)
    return bytes(font)


_GLYF_NONE = {
    "n_glyphs": None, "n_empty": None, "n_contours": None,
    "n_points": None, "x_extent_sum": None, "abs_delta_sum": None,
    "n_repeat_flags": None, "long_loca": None,
}


def parse_glyf_font(data: bytes | None) -> dict:
    if data is None or len(data) < 12:
        return {**_GLYF_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        n_tables = int.from_bytes(data[4:6], "big")
        tabs = {}
        for k in range(n_tables):
            off = 12 + 16 * k
            if off + 16 > len(data):
                raise ValueError("truncated table directory")
            tag = data[off:off + 4]
            cs, toff, tlen = struct.unpack_from(">III", data,
                                                off + 4)
            if toff + tlen > len(data):
                raise ValueError("table overruns file")
            blob = data[toff:toff + tlen]
            check = bytearray(blob)
            if tag == b"head" and tlen >= 12:
                check[8:12] = b"\x00" * 4
            if _csum(bytes(check)) != cs:
                raise ValueError(
                    f"table checksum mismatch {tag.decode()}")
            tabs[tag] = blob
        if b"head" not in tabs or b"maxp" not in tabs \
                or b"loca" not in tabs or b"glyf" not in tabs:
            raise ValueError("missing required table")
        # the adjustment was chosen so the WHOLE file sums to the
        # magic constant — one add-check catches any aligned flip
        # the per-table sums missed (directory bytes included)
        if _csum(data) != _MAGIC_SUM:
            raise ValueError("font checksum mismatch")
        head = tabs[b"head"]
        if struct.unpack_from(">I", head, 12)[0] != _HEAD_MAGIC:
            raise ValueError("bad head magic")
        long_loca = struct.unpack_from(">h", head, 50)[0]
        if long_loca not in (0, 1):
            raise ValueError("bad loca format")
        n_glyphs = struct.unpack_from(">H", tabs[b"maxp"], 4)[0]
        loca_raw = tabs[b"loca"]
        need = (n_glyphs + 1) * (4 if long_loca else 2)
        if len(loca_raw) < need:
            raise ValueError("loca too short")
        if long_loca:
            offs = list(struct.unpack_from(
                f">{n_glyphs + 1}I", loca_raw))
        else:
            offs = [2 * v for v in struct.unpack_from(
                f">{n_glyphs + 1}H", loca_raw)]
        for a, b in zip(offs, offs[1:]):
            if b < a:
                raise ValueError("loca not monotonic")
        glyf = tabs[b"glyf"]
        if offs[-1] > len(glyf):
            raise ValueError("loca past glyf end")

        n_empty = n_contours = n_points = 0
        x_extent = delta_sum = n_rep = 0
        for gi in range(n_glyphs):
            rec = glyf[offs[gi]:offs[gi + 1]]
            if not rec:
                n_empty += 1
                continue
            if len(rec) < 10:
                raise ValueError("glyph header truncated")
            nc, xmin, ymin, xmax, ymax = struct.unpack_from(
                ">hhhhh", rec, 0)
            if nc < 0:
                raise ValueError("composite glyphs unsupported")
            p = 10
            if p + 2 * nc + 2 > len(rec):
                raise ValueError("glyph endpoints truncated")
            ends = struct.unpack_from(f">{nc}H", rec, p)
            p += 2 * nc
            for a, b in zip(ends, ends[1:]):
                if b <= a:
                    raise ValueError("endpoints not increasing")
            npts = (ends[-1] + 1) if nc else 0
            ilen = struct.unpack_from(">H", rec, p)[0]
            p += 2 + ilen
            flags = []
            while len(flags) < npts:
                if p >= len(rec):
                    raise ValueError("flags truncated")
                f = rec[p]
                p += 1
                if f & _REP:
                    if p >= len(rec):
                        raise ValueError("flags truncated")
                    cnt = rec[p]
                    p += 1
                    flags += [f] * (1 + cnt)
                    n_rep += 1
                else:
                    flags.append(f)
            if len(flags) != npts:
                raise ValueError("repeat overruns point count")

            def coords(short_bit: int, same_bit: int,
                       pp: int) -> tuple[list[int], int]:
                out = []
                for f in flags:
                    if f & short_bit:
                        if pp >= len(rec):
                            raise ValueError("coords truncated")
                        v = rec[pp]
                        pp += 1
                        out.append(v if f & same_bit else -v)
                    elif f & same_bit:
                        out.append(0)
                    else:
                        if pp + 2 > len(rec):
                            raise ValueError("coords truncated")
                        out.append(struct.unpack_from(
                            ">h", rec, pp)[0])
                        pp += 2
                return out, pp

            dxs, p = coords(_XS, _XSAME, p)
            dys, p = coords(_YS, _YSAME, p)
            xs_abs = []
            ys_abs = []
            cx = cy = 0
            for dx, dy in zip(dxs, dys):
                cx += dx
                cy += dy
                xs_abs.append(cx)
                ys_abs.append(cy)
            if (min(xs_abs), min(ys_abs), max(xs_abs),
                    max(ys_abs)) != (xmin, ymin, xmax, ymax):
                raise ValueError("bbox disagrees with points")
            n_contours += nc
            n_points += npts
            x_extent += xmax - xmin
            delta_sum += sum(abs(d) for d in dxs) \
                + sum(abs(d) for d in dys)
    except (ValueError, struct.error) as e:
        msg = str(e) or "malformed structure"
        return {**_GLYF_NONE, "error": msg}
    return {
        "n_glyphs": n_glyphs, "n_empty": n_empty,
        "n_contours": n_contours, "n_points": n_points,
        "x_extent_sum": x_extent, "abs_delta_sum": delta_sum,
        "n_repeat_flags": n_rep, "long_loca": long_loca,
        "error": None,
    }


_GLYF_SCHEMA = (
    "doc_id long, n_glyphs int, n_empty int, n_contours int, "
    "n_points int, x_extent_sum bigint, abs_delta_sum bigint, "
    "n_repeat_flags int, long_loca int, error string"
)


def extract_glyf_features(df: DataFrame,
                          content_col: str = "content",
                          id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_glyf_font, _GLYF_SCHEMA, id_col, content_col)
