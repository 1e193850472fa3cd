"""Truevision TGA decoder — the little-endian image sibling of the
BMP codec (multimodal.py) with the format's two defining quirks
handled exactly: RLE packets whose 7-bit count field stores
COUNT-1 (high bit selects run-of-one-pixel vs raw-pixel-list, and a
packet may NOT span scanline... actually per spec v2 packets must
not cross scanlines — we enforce the weaker, universally-compatible
gate that the total decoded pixel count matches exactly), and the
image-descriptor origin bit (bit 5: 0 = bottom-left rows stored
bottom-up, 1 = top-left) which flips row order — px_sum is
origin-invariant but row0_sum is NOT, so the decoder resolves
orientation before summing row 0 (the oracle replays both).

Layout: 18-byte header (id-length, colormap-type, image-type, 5
colormap-spec bytes, x/y origin, width, height u16 LE, pixel depth,
descriptor), then the image id blob (skipped by length), then
pixels: type 2 = uncompressed truecolor, type 10 = RLE truecolor,
depth 24 (BGR) or 32 (BGRA). The optional 26-byte v2 footer ending
"TRUEVISION-XFILE.\\0" is detected and excluded from pixel data.

Decode gates: colormap-type must be 0 for truecolor, image types
other than 2/10 rejected by name, depth limited to 24/32, RLE
overrun past width*height, truncation anywhere, and trailing bytes
that are not the v2 footer.

Failure contract: every malformed image yields an error ROW.

Reference parity: none — media decode is Textract's problem in the
reference; codec-layer structure recovery is beyond-reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_FOOTER_SIG = b"TRUEVISION-XFILE.\x00"


def build_tga(width: int, height: int,
              pixels: list[tuple[int, int, int, int]], *,
              rle: bool = True, depth: int = 32,
              top_left: bool = True, image_id: bytes = b"",
              footer: bool = True, bad_cmap: bool = False,
              bad_type: bool = False, lying_rle: bool = False,
              chop: int = 0) -> bytes:
    """Encode row-major top-down RGBA `pixels` as TGA. If
    top_left=False rows are physically reversed so the image is
    equivalent. RLE packets are emitted greedily per scanline."""
    if len(pixels) != width * height:
        raise ValueError("pixel count does not match dimensions")
    out = bytearray()
    out.append(len(image_id))
    out.append(1 if bad_cmap else 0)
    itype = (10 if rle else 2)
    if bad_type:
        itype = 3  # grayscale, unsupported here
    out.append(itype)
    out += b"\x00" * 5  # colormap spec (none)
    out += (0).to_bytes(2, "little") * 2  # x,y origin
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out.append(depth)
    out.append(0x20 if top_left else 0x00)
    out += image_id

    if lying_rle and rle:
        # drop one pixel so the 128-run poison below is read while a
        # pixel is still owed — the overrun gate, not trailing bytes
        pixels = pixels[:-1]
    rows = [pixels[y * width:(y + 1) * width] for y in range(height)]
    if not top_left:
        rows = rows[::-1]

    def emit_px(px: tuple[int, int, int, int]) -> bytes:
        r, g, b, a = px
        return bytes((b, g, r) if depth == 24 else (b, g, r, a))

    if not rle:
        for row in rows:
            for px in row:
                out += emit_px(px)
    else:
        for row in rows:
            x = 0
            while x < len(row):
                # run of identical pixels?
                rl = 1
                while (x + rl < len(row) and rl < 128
                       and row[x + rl] == row[x]):
                    rl += 1
                if rl >= 2:
                    out.append(0x80 | (rl - 1))
                    out += emit_px(row[x])
                    x += rl
                else:
                    start = x
                    while (x < len(row) and x - start < 128
                           and (x + 1 >= len(row)
                                or row[x + 1] != row[x])):
                        x += 1
                    out.append((x - start) - 1)
                    for px in row[start:x]:
                        out += emit_px(px)
    if lying_rle and rle:
        out.append(0x80 | 127)  # 128-pixel run past the image
        out += emit_px((1, 2, 3, 4))
    if chop:
        del out[-chop:]
    if footer:
        out += (0).to_bytes(4, "little") * 2
        out += _FOOTER_SIG
    return bytes(out)


_TGA_NONE = {
    "width": None, "height": None, "depth": None, "rle": None,
    "px_sum": None, "row0_sum": None, "has_footer": None,
}


def parse_tga(data: bytes | None) -> dict:
    if data is None or len(data) < 18:
        return {**_TGA_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        id_len = data[0]
        cmap_type = data[1]
        itype = data[2]
        if cmap_type != 0:
            raise ValueError("colormap not supported for truecolor")
        if itype not in (2, 10):
            raise ValueError("unsupported image type")
        w = int.from_bytes(data[12:14], "little")
        h = int.from_bytes(data[14:16], "little")
        depth = data[16]
        desc = data[17]
        if w == 0 or h == 0 or w * h > (4 << 20):
            raise ValueError("bad dimensions")
        if depth not in (24, 32):
            raise ValueError("unsupported pixel depth")
        top_left = bool(desc & 0x20)
        bpp = depth // 8
        pos = 18 + id_len
        if pos > len(data):
            raise ValueError("image id overruns file")
        end = len(data)
        has_footer = 0
        if end - pos >= 26 and data[end - 18:end] == _FOOTER_SIG:
            end -= 26
            has_footer = 1
        need = w * h
        px = []

        def read_px(p: int) -> tuple[tuple[int, int, int, int], int]:
            if p + bpp > end:
                raise ValueError("truncated pixel data")
            b, g, r = data[p], data[p + 1], data[p + 2]
            a = data[p + 3] if bpp == 4 else 255
            return (r, g, b, a), p + bpp

        if itype == 2:
            for _ in range(need):
                v, pos = read_px(pos)
                px.append(v)
        else:
            while len(px) < need:
                if pos >= end:
                    raise ValueError("truncated pixel data")
                hdr = data[pos]
                pos += 1
                cnt = (hdr & 0x7F) + 1
                if len(px) + cnt > need:
                    raise ValueError("rle run overruns image")
                if hdr & 0x80:
                    v, pos = read_px(pos)
                    px.extend([v] * cnt)
                else:
                    for _ in range(cnt):
                        v, pos = read_px(pos)
                        px.append(v)
        if pos != end:
            raise ValueError("trailing bytes after pixel data")
        rows = [px[y * w:(y + 1) * w] for y in range(h)]
        if not top_left:
            rows = rows[::-1]
        total = sum(r + g + b + a for row in rows
                    for (r, g, b, a) in row)
        row0 = sum(r + g + b + a for (r, g, b, a) in rows[0])
    except ValueError as e:
        return {**_TGA_NONE, "error": str(e)}
    return {
        "width": w, "height": h, "depth": depth,
        "rle": 1 if itype == 10 else 0, "px_sum": total,
        "row0_sum": row0, "has_footer": has_footer, "error": None,
    }


_TGA_SCHEMA = (
    "doc_id long, width int, height int, depth int, rle int, "
    "px_sum bigint, row0_sum bigint, has_footer int, error string"
)


def extract_tga_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_tga, _TGA_SCHEMA, id_col, content_col)
