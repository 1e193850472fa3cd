"""QOI ("Quite OK Image") codec — a complete from-spec encoder +
decoder pair for the one-pass RGB(A) format: the 14-byte header
("qoif", u32-BE width/height, channels, colorspace), the six op
kinds dispatched on tag bits (QOI_OP_RGB 0xFE / RGBA 0xFF consume
literal channel bytes; 2-bit-tagged INDEX / DIFF / LUMA / RUN pack
a 64-slot running palette, signed 2-bit channel deltas with bias 2,
the green-anchored luma delta with bias 32/8, and 1..62-pixel runs
— 63/64 are unrepresentable BY DESIGN because those bitpatterns ARE
the RGB/RGBA tags), the running index hash
(r*3 + g*5 + b*7 + a*11) % 64 that encoder and decoder must compute
identically or INDEX ops dereference the wrong slot, and the exact
8-byte end marker (seven 0x00 then 0x01) with nothing after it.

Decode gates (each a named error row, never an exception): magic,
dimension sanity (nonzero, capped), channels/colorspace enums, RUN
overrun past width*height, op-stream truncation, marker exactness,
trailing bytes. The encoder is the fixture source and is itself
checked by the encode->decode==pixels property test — the INDEX /
DIFF / LUMA / RUN paths all fire on gradient content.

Failure contract: every malformed image yields an error ROW.

Reference parity: none — media decode is Textract's problem in the
reference (DocumentExtractManager.java routes media to OCR);
codec-layer structure recovery is beyond-reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_MAGIC = b"qoif"
_END = b"\x00" * 7 + b"\x01"
_MAX_PIXELS = 4 << 20


def _hash(r: int, g: int, b: int, a: int) -> int:
    return (r * 3 + g * 5 + b * 7 + a * 11) % 64


def build_qoi(width: int, height: int,
              pixels: list[tuple[int, int, int, int]], *,
              channels: int = 4, colorspace: int = 0,
              bad_magic: bool = False, chop_marker: bool = False,
              lying_run: bool = False,
              trailing: bytes = b"") -> bytes:
    """Real QOI encoder (spec order: RUN > INDEX > DIFF > LUMA >
    literal). `pixels` is row-major RGBA; poisons are appended /
    spliced AFTER honest encoding so each corrupts exactly one
    gate."""
    if len(pixels) != width * height:
        raise ValueError("pixel count does not match dimensions")
    out = bytearray()
    out += _MAGIC
    out += width.to_bytes(4, "big") + height.to_bytes(4, "big")
    out += bytes((channels, colorspace))
    if lying_run:
        # encode all but the last pixel, then claim a 62-pixel run:
        # it is read while one pixel is still owed, so the overrun
        # gate (not the marker gate) fires.
        pixels = pixels[:-1]
    index = [(0, 0, 0, 0)] * 64
    prev = (0, 0, 0, 255)
    run = 0
    for px in pixels:
        if px == prev:
            run += 1
            if run == 62:
                out.append(0xC0 | (run - 1))
                run = 0
            continue
        if run:
            out.append(0xC0 | (run - 1))
            run = 0
        h = _hash(*px)
        if index[h] == px:
            out.append(h)
        else:
            index[h] = px
            r, g, b, a = px
            pr, pg, pb, pa = prev
            if a == pa:
                dr = (r - pr + 128) % 256 - 128
                dg = (g - pg + 128) % 256 - 128
                db = (b - pb + 128) % 256 - 128
                dg_r, dg_b = dr - dg, db - dg
                if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                    out.append(0x40 | ((dr + 2) << 4)
                               | ((dg + 2) << 2) | (db + 2))
                elif (-32 <= dg <= 31 and -8 <= dg_r <= 7
                      and -8 <= dg_b <= 7):
                    out.append(0x80 | (dg + 32))
                    out.append(((dg_r + 8) << 4) | (dg_b + 8))
                else:
                    out += bytes((0xFE, r, g, b))
            else:
                out += bytes((0xFF, r, g, b, a))
        prev = px
    if run:
        out.append(0xC0 | (run - 1))
    if lying_run:
        out.append(0xC0 | 61)  # 62 extra pixels past width*height
    out += _END
    if bad_magic:
        out[0] = 0x51  # 'Q' — case matters
    if chop_marker:
        del out[-3:]
    out += trailing
    return bytes(out)


_QOI_NONE = {
    "width": None, "height": None, "channels": None,
    "px_sum": None, "n_ops": None,
}


def parse_qoi(data: bytes | None) -> dict:
    """Decode a QOI stream; px_sum = sum(r+g+b+a) over all pixels
    (the closed-form oracle hook), n_ops = op count including RUNs
    as one op each."""
    # gate on the HEADER length only (14 bytes), not header+marker (22):
    # a tiny solid image with its end marker chopped can be shorter than
    # 22 bytes total, and the corruption it carries is the MISSING
    # MARKER, not a short payload — the decode loop is fully bounds-
    # gated, so attribution belongs to the marker check (found by the
    # round-5 10x sweep at doc 33536: solid 5x3, chopped to 20 bytes)
    if data is None or len(data) < 14:
        return {**_QOI_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        if data[:4] != _MAGIC:
            raise ValueError("bad magic")
        w = int.from_bytes(data[4:8], "big")
        h = int.from_bytes(data[8:12], "big")
        channels, colorspace = data[12], data[13]
        if w == 0 or h == 0 or w * h > _MAX_PIXELS:
            raise ValueError("bad dimensions")
        if channels not in (3, 4):
            raise ValueError("bad channel count")
        if colorspace not in (0, 1):
            raise ValueError("bad colorspace")
        need = w * h
        index = [(0, 0, 0, 0)] * 64
        px = (0, 0, 0, 255)
        pos, npx, n_ops, total = 14, 0, 0, 0
        while npx < need:
            if pos >= len(data):
                raise ValueError("truncated op stream")
            b0 = data[pos]
            pos += 1
            n_ops += 1
            if b0 == 0xFE:
                if pos + 3 > len(data):
                    raise ValueError("truncated op stream")
                px = (data[pos], data[pos + 1], data[pos + 2], px[3])
                pos += 3
                emit = 1
            elif b0 == 0xFF:
                if pos + 4 > len(data):
                    raise ValueError("truncated op stream")
                px = tuple(data[pos:pos + 4])
                pos += 4
                emit = 1
            else:
                tag = b0 >> 6
                if tag == 0:
                    px = index[b0 & 0x3F]
                    emit = 1
                elif tag == 1:
                    dr = ((b0 >> 4) & 3) - 2
                    dg = ((b0 >> 2) & 3) - 2
                    db = (b0 & 3) - 2
                    px = ((px[0] + dr) % 256, (px[1] + dg) % 256,
                          (px[2] + db) % 256, px[3])
                    emit = 1
                elif tag == 2:
                    if pos >= len(data):
                        raise ValueError("truncated op stream")
                    dg = (b0 & 0x3F) - 32
                    b1 = data[pos]
                    pos += 1
                    dr = dg + ((b1 >> 4) & 0xF) - 8
                    db = dg + (b1 & 0xF) - 8
                    px = ((px[0] + dr) % 256, (px[1] + dg) % 256,
                          (px[2] + db) % 256, px[3])
                    emit = 1
                else:
                    emit = (b0 & 0x3F) + 1
                    if npx + emit > need:
                        raise ValueError("run overruns image")
            index[_hash(*px)] = px
            npx += emit
            total += emit * (px[0] + px[1] + px[2] + px[3])
        if data[pos:pos + 8] != _END:
            raise ValueError("missing end marker")
        if pos + 8 != len(data):
            raise ValueError("trailing bytes after end marker")
    except ValueError as e:
        return {**_QOI_NONE, "error": str(e)}
    return {
        "width": w, "height": h, "channels": channels,
        "px_sum": total, "n_ops": n_ops, "error": None,
    }


_QOI_SCHEMA = (
    "doc_id long, width int, height int, channels int, "
    "px_sum bigint, n_ops int, error string"
)


def extract_qoi_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_qoi, _QOI_SCHEMA, id_col, content_col)
