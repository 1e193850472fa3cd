"""PNG Adam7 interlace codec — the seventh dimension of the PNG
support in multimodal.py (which handles interlace=0 only and
rejects 1 by name): an interlaced image is SEVEN independent
sub-images, each with its own scanline-filter context (prev row
resets to zeros at every pass boundary — carrying it across passes
corrupts pass 2 onward even though every filter decodes), each
pass placing pixels on the grid (x0 + j*dx, y0 + k*dy) from the
fixed pass table, and — the classic bug — a pass whose sub-image
is EMPTY for this geometry (pw==0 or ph==0, e.g. pass 2 for
width <= 4) contributes NOTHING, not even filter bytes. The
expected total inflated size is therefore geometry-dependent:
sum over nonempty passes of ph * (pw + 1).

Outputs include row-0 and column-0 checksums besides the full ink
sum: value-correct but MISPLACED pixels (a wrong pass table) break
those while preserving ink_sum.

Failure contract: every malformed image yields an error ROW.

Reference parity: none — media decode is Textract's problem in the
reference; codec-layer recovery is beyond-reference.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_SIG = b"\x89PNG\r\n\x1a\n"
_PASSES = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
           (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I",
                          zlib.crc32(ctype + body) & 0xFFFFFFFF))


def _filter_rows(rows: list[bytes]) -> bytes:
    """Cycle the five filter types by row index within the pass."""
    out = bytearray()
    prev = bytes(len(rows[0])) if rows else b""
    for y, row in enumerate(rows):
        ft = y % 5
        out.append(ft)
        if ft == 0:
            out += row
        elif ft == 1:
            left = 0
            for x in row:
                out.append((x - left) & 0xFF)
                left = x
        elif ft == 2:
            out += bytes((x - b) & 0xFF
                         for x, b in zip(row, prev))
        elif ft == 3:
            left = 0
            for x, b in zip(row, prev):
                out.append((x - (left + b) // 2) & 0xFF)
                left = x
        else:
            left = ul = 0
            for x, b in zip(row, prev):
                p = left + b - ul
                pa, pb, pc = abs(p - left), abs(p - b), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else ul)
                out.append((x - pred) & 0xFF)
                ul = b
                left = x
        prev = row
    return bytes(out)


def _unfilter(data: bytes, pw: int, ph: int,
              at: int) -> tuple[list[bytes], int]:
    rows: list[bytes] = []
    prev = bytes(pw)
    for _ in range(ph):
        if at + 1 + pw > len(data):
            raise ValueError("interlaced data size mismatch")
        ft = data[at]
        line = data[at + 1:at + 1 + pw]
        at += 1 + pw
        out = bytearray(pw)
        if ft == 0:
            out[:] = line
        elif ft == 1:
            left = 0
            for k, v in enumerate(line):
                left = (v + left) & 0xFF
                out[k] = left
        elif ft == 2:
            for k, v in enumerate(line):
                out[k] = (v + prev[k]) & 0xFF
        elif ft == 3:
            left = 0
            for k, v in enumerate(line):
                left = (v + (left + prev[k]) // 2) & 0xFF
                out[k] = left
        elif ft == 4:
            left = ul = 0
            for k, v in enumerate(line):
                b = prev[k]
                p = left + b - ul
                pa, pb, pc = abs(p - left), abs(p - b), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else ul)
                left = (v + pred) & 0xFF
                out[k] = left
                ul = b
        else:
            raise ValueError(f"unknown filter type {ft}")
        rows.append(bytes(out))
        prev = bytes(out)
    return rows, at


def build_png_adam7(rows: list[bytes], *,
                    drop_scanline: bool = False,
                    bad_filter: bool = False,
                    bad_idat_crc: bool = False) -> bytes:
    """8-bit grayscale, interlace=1. rows = the FULL image grid;
    the builder extracts the 7 passes."""
    h = len(rows)
    w = len(rows[0])
    raw = bytearray()
    for x0, y0, dx, dy in _PASSES:
        prows = [bytes(rows[y][x] for x in range(x0, w, dx))
                 for y in range(y0, h, dy)]
        if not prows or not prows[0]:
            continue  # empty pass: nothing at all, not even filters
        blob = _filter_rows(prows)
        raw += blob
    if drop_scanline:
        del raw[-(w // 8 + 2):]
    if bad_filter:
        raw[0] = 7
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1)
    idat = _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
    if bad_idat_crc:
        idat = idat[:-1] + bytes((idat[-1] ^ 0x5A,))
    return (_SIG + _chunk(b"IHDR", ihdr) + idat
            + _chunk(b"IEND", b""))


_A7_NONE = {
    "width": None, "height": None, "ink_sum": None,
    "row0_sum": None, "col0_sum": None, "n_passes": None,
}


def parse_png_adam7(data: bytes | None) -> dict:
    if data is None or len(data) < len(_SIG) + 12:
        return {**_A7_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        if not data.startswith(_SIG):
            raise ValueError("bad png signature")
        pos = len(_SIG)
        ihdr = None
        idat = bytearray()
        seen_end = False
        while pos + 12 <= len(data):
            (clen,) = struct.unpack_from(">I", data, pos)
            ctype = data[pos + 4:pos + 8]
            body = data[pos + 8:pos + 8 + clen]
            if len(body) != clen or pos + 12 + clen > len(data):
                raise ValueError("truncated chunk")
            (crc,) = struct.unpack_from(">I", data, pos + 8 + clen)
            if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
                raise ValueError(
                    f"crc mismatch in {ctype.decode('latin1')}")
            if ctype == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", body)
            elif ctype == b"IDAT":
                idat += body
            elif ctype == b"IEND":
                seen_end = True
                break
            pos += 12 + clen
        if ihdr is None or not idat or not seen_end:
            raise ValueError("missing IHDR/IDAT/IEND")
        w, h, depth, ct, comp, filt, interlace = ihdr
        if depth != 8 or ct != 0:
            raise ValueError("unsupported depth/colortype")
        if interlace != 1:
            raise ValueError("not interlaced")
        if w <= 0 or h <= 0 or w * h > (4 << 20):
            raise ValueError("bad dimensions")
        try:
            raw = zlib.decompress(bytes(idat))
        except zlib.error as e:
            raise ValueError(f"idat inflate failed: {e}") from None

        grid = [bytearray(w) for _ in range(h)]
        at = 0
        n_passes = 0
        for x0, y0, dx, dy in _PASSES:
            pw = (w - x0 + dx - 1) // dx if w > x0 else 0
            ph = (h - y0 + dy - 1) // dy if h > y0 else 0
            if pw == 0 or ph == 0:
                continue
            rows, at = _unfilter(raw, pw, ph, at)
            n_passes += 1
            for k, row in enumerate(rows):
                y = y0 + k * dy
                for j, v in enumerate(row):
                    grid[y][x0 + j * dx] = v
        if at != len(raw):
            raise ValueError("interlaced data size mismatch")
        ink = sum(sum(r) for r in grid)
        row0 = sum(grid[0])
        col0 = sum(r[0] for r in grid)
    except ValueError as e:
        return {**_A7_NONE, "error": str(e)}
    return {
        "width": w, "height": h, "ink_sum": ink,
        "row0_sum": row0, "col0_sum": col0, "n_passes": n_passes,
        "error": None,
    }


_A7_SCHEMA = (
    "doc_id long, width int, height int, ink_sum bigint, "
    "row0_sum bigint, col0_sum bigint, n_passes int, error string"
)


def extract_adam7_features(df: DataFrame,
                           content_col: str = "content",
                           id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_png_adam7, _A7_SCHEMA, id_col, content_col)
