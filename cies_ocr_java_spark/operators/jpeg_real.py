"""Real baseline JPEG (ITU-T T.81) writer + structural decoder for the
grayscale subset — the dominant web image format, completing the codec
suite's compression families: raw pixels (BMP), zlib/DEFLATE (PNG), LZW
(GIF), PCM (WAV), and now entropy-coded transform compression (JPEG:
canonical Huffman + zigzag run-length + dequantization + 2-D IDCT).

The writer emits genuine JFIF files — SOI/APP0/DQT/SOF0/DHT/SOS markers,
custom canonical Huffman tables declared in DHT (what "optimized JPEG"
encoders produce), per-block DC-difference coding with sign-extension
categories, EOB-terminated AC runs, and 0xFF byte stuffing — restricted
to BLOCK-SOLID images (every 8x8 block one level, all AC zero). JPEG is
lossy in general, but a DC-only block round-trips EXACTLY (quant=1:
DC = 8*(v-128); IDCT of a DC-only block is flat v-128), which is what
makes the decode oracle-verifiable in closed form. Any image viewer
opens the generated files.

The decoder is NOT restricted to the writer's subset shape: it parses
arbitrary marker layouts, arbitrary DHT/DQT tables (the full canonical
Huffman reconstruction from BITS/HUFFVAL), full AC run/size decoding
(EOB, ZRL, sign extension), dezigzag, dequantization, and a separable
float IDCT (numpy matrix form) with spec rounding/clipping — gated to
baseline sequential grayscale (SOF0, one component, 8-bit). Malformed or
unsupported payloads (progressive SOF2, multi-component color, bad
Huffman codes, truncated entropy data) yield error ROWS, never task
crashes — the formats.py degradation contract.

Reference parity: none (the reference delegates all image handling to
Textract; this exceeds it — cited per repo rules: DocumentExtractManager
.java:571-599 is the closest analog, an external-service call).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.multimodal import MediaCodec, with_mime
from cies_ocr_java_spark.operators.walker import map_blobs

# zigzag order: index k -> (row, col) in the 8x8 block
_ZIGZAG: list[tuple[int, int]] = []
_r = _c = 0
for _k in range(64):
    _ZIGZAG.append((_r, _c))
    if (_r + _c) % 2 == 0:  # moving up-right
        if _c == 7:
            _r += 1
        elif _r == 0:
            _c += 1
        else:
            _r -= 1
            _c += 1
    else:  # moving down-left
        if _r == 7:
            _c += 1
        elif _c == 0:
            _r += 1
        else:
            _r += 1
            _c -= 1
del _r, _c, _k

# 1-D DCT-III basis (IDCT matrix): pixel = M @ coef @ M.T with
# M[x, u] = c(u)/2 * cos((2x+1) u pi / 16) — float64, used by numpy only.
_IDCT_M = np.zeros((8, 8))
for _x in range(8):
    for _u in range(8):
        cu = (1 / np.sqrt(2)) if _u == 0 else 1.0
        _IDCT_M[_x, _u] = 0.5 * cu * np.cos((2 * _x + 1) * _u * np.pi / 16)
del _x, _u

# Writer Huffman tables (canonical, declared in DHT — a real decoder must
# reconstruct them from BITS/HUFFVAL, exactly like any optimized JPEG):
#   DC: categories 0..11, all 4-bit codes (12 codes fit in 4 bits).
#   AC: EOB only, one 2-bit code (we never emit AC coefficients).
_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_AC_VALS = [0x00]  # EOB


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), per the T.81 canonical construction."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_ENC = _canonical_codes(_DC_BITS, _DC_VALS)
_AC_ENC = _canonical_codes(_AC_BITS, _AC_VALS)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        if self.n:
            self.acc <<= 8 - self.n
            self.acc |= (1 << (8 - self.n)) - 1  # pad with 1s per spec
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0


def _category(v: int) -> int:
    """DC difference magnitude category (bit size of |v|)."""
    a = abs(v)
    s = 0
    while a:
        a >>= 1
        s += 1
    return s


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def build_jpeg(width: int, height: int, value: int) -> bytes:
    """Emit a real baseline JFIF grayscale JPEG where every 8x8 block is
    solid ``value`` (DC-only, quant table all-ones -> bit-exact decode).
    Edge blocks are pad-replicated, so any width/height works."""
    grid = np.full(
        ((height + 7) // 8, (width + 7) // 8), value, dtype=np.int64
    )
    return build_jpeg_blocks(grid, width, height)


def build_jpeg_blocks(grid, width: int, height: int) -> bytes:
    """Block-solid writer: ``grid[by, bx]`` is the level (0..255) of block
    (by, bx). Exercises the whole DC-difference chain (categories, sign
    bits, prediction across blocks) while staying exactly decodable."""
    grid = np.asarray(grid, dtype=np.int64)
    bh, bw = grid.shape
    if (
        width <= 0 or height <= 0
        or bh != (height + 7) // 8 or bw != (width + 7) // 8
        or grid.min() < 0 or grid.max() > 255
    ):
        raise ValueError("bad jpeg dimensions/levels")
    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, bytes([0x00]) + bytes([1] * 64))  # DQT 0: all ones
    out += _seg(  # SOF0: baseline, 8-bit, 1 component, 1x1 sampling
        0xC0,
        struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0]),
    )
    out += _seg(0xC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += _seg(0xC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))  # SOS
    bw_writer = _BitWriter()
    pred = 0
    for by in range(bh):
        for bx in range(bw):
            dc = 8 * (int(grid[by, bx]) - 128)  # DCT DC of a solid block
            diff = dc - pred
            pred = dc
            cat = _category(diff)
            code, length = _DC_ENC[cat]
            bw_writer.write(code, length)
            if cat:
                bits = diff if diff > 0 else diff + (1 << cat) - 1
                bw_writer.write(bits & ((1 << cat) - 1), cat)
            code, length = _AC_ENC[0x00]  # EOB: all AC zero
            bw_writer.write(code, length)
    bw_writer.flush()
    out += bw_writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing; raises
    _Truncated on exhaustion or an embedded marker."""

    class Truncated(Exception):
        pass

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise self.Truncated
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise self.Truncated
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1
            else:  # a real marker inside entropy data
                raise self.Truncated
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _build_decoder(bits: list[int], vals: list[int]):
    """(code, length) lookup dict for Huffman decode: {(length, code): sym}."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if k >= len(vals):
                return None
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(reader: _BitReader, table: dict) -> int | None:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    return None


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 sign extension."""
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(data: bytes | None) -> dict:
    """Structural decode of baseline grayscale JPEG: marker walk, DQT/DHT
    table reconstruction, Huffman entropy decode (DC diffs + AC run/size
    with EOB/ZRL), dezigzag, dequantization, separable IDCT, level shift
    + clip, edge-block crop, pixel ink sum. Returns {width, height,
    ink_sum, error}; every malformed/unsupported payload is an error row."""
    none = {"width": None, "height": None, "ink_sum": None}
    if data is None or len(data) < 4:
        return {**none, "error": "short or missing payload"}
    data = bytes(data)
    if data[:2] != b"\xff\xd8":
        return {**none, "error": "bad jpeg signature"}
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> decode table
    sof = None
    sos = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            return {**none, "error": "marker sync lost"}
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI before SOS
            return {**none, "error": "no scan data"}
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4:pos + 2 + seglen]
        if len(body) != seglen - 2:
            return {**none, "error": "truncated segment"}
        if marker == 0xDB:  # DQT
            b = body
            while b:
                pq, tq = b[0] >> 4, b[0] & 0x0F
                if pq != 0:
                    return {**none, "error": "16-bit quant table"}
                if len(b) < 65:
                    return {**none, "error": "short quant table"}
                qt[tq] = np.frombuffer(b[1:65], dtype=np.uint8).astype(
                    np.int64
                )
                b = b[65:]
        elif marker == 0xC4:  # DHT
            b = body
            while b:
                tc, th = b[0] >> 4, b[0] & 0x0F
                if len(b) < 17:
                    return {**none, "error": "short huffman table"}
                bits = list(b[1:17])
                n = sum(bits)
                vals = list(b[17:17 + n])
                if len(vals) != n:
                    return {**none, "error": "short huffman table"}
                table = _build_decoder(bits, vals)
                if table is None:
                    return {**none, "error": "bad huffman table"}
                huff[(tc, th)] = table
                b = b[17 + n:]
        elif marker == 0xC0:  # SOF0 baseline
            if len(body) < 8:
                return {**none, "error": "short frame header"}
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                return {**none, "error": "unsupported precision"}
            if nc != 1:
                return {**none, "error": "unsupported multi-component jpeg"}
            cid, sampling, tq = body[6], body[7], body[8]
            if sampling != 0x11:
                return {**none, "error": "unsupported sampling"}
            sof = (w, h, cid, tq)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return {**none, "error": "unsupported jpeg variant"}
        elif marker == 0xDD:
            return {**none, "error": "unsupported restart interval"}
        elif marker == 0xDA:  # SOS
            if len(body) < 6 or body[0] != 1:
                return {**none, "error": "unsupported scan header"}
            td, ta = body[2] >> 4, body[2] & 0x0F
            sos = (td, ta)
            pos = pos + 2 + seglen
            break
        pos += 2 + seglen
    if sof is None or sos is None:
        return {**none, "error": "missing SOF/SOS"}
    w, h, _cid, tq = sof
    if w <= 0 or h <= 0:
        return {**none, "error": "bad dimensions"}
    if tq not in qt:
        return {**none, "error": "missing quant table"}
    td, ta = sos
    if (0, td) not in huff or (1, ta) not in huff:
        return {**none, "error": "missing huffman table"}
    dct, act = huff[(0, td)], huff[(1, ta)]
    quant = qt[tq]
    reader = _BitReader(data, pos)
    bw_n, bh_n = (w + 7) // 8, (h + 7) // 8
    ink = 0
    pred = 0
    try:
        for by in range(bh_n):
            for bx in range(bw_n):
                zz = np.zeros(64, dtype=np.int64)
                cat = _huff_decode(reader, dct)
                if cat is None or cat > 11:
                    return {**none, "error": "bad dc code"}
                diff = _extend(reader.bits(cat), cat) if cat else 0
                pred += diff
                zz[0] = pred
                k = 1
                while k < 64:
                    rs = _huff_decode(reader, act)
                    if rs is None:
                        return {**none, "error": "bad ac code"}
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r == 0:  # EOB
                            break
                        if r == 15:  # ZRL
                            k += 16
                            continue
                        return {**none, "error": "bad ac run"}
                    k += r
                    if k > 63:
                        return {**none, "error": "ac index overflow"}
                    zz[k] = _extend(reader.bits(s), s)
                    k += 1
                coef = np.zeros((8, 8), dtype=np.float64)
                dq = zz * quant
                for kk in range(64):
                    coef[_ZIGZAG[kk]] = dq[kk]
                px = _IDCT_M @ coef @ _IDCT_M.T
                px = np.clip(np.round(px) + 128, 0, 255)
                y0, x0 = by * 8, bx * 8
                ink += int(
                    px[: min(8, h - y0), : min(8, w - x0)].sum()
                )
    except _BitReader.Truncated:
        return {**none, "error": "truncated entropy data"}
    return {"width": w, "height": h, "ink_sum": ink, "error": None}


class JpegCodec(MediaCodec):
    """Real decode for baseline grayscale JPEG — canonical Huffman,
    run-length AC, dequant, IDCT. Registered 'jpeg'."""

    name = "jpeg"

    def decode_batch(self, content: pd.Series) -> pd.DataFrame:
        rows = [decode_jpeg(b) for b in content]
        ok = [r["error"] is None for r in rows]
        return pd.DataFrame(
            {
                "width": pd.array([r["width"] for r in rows], dtype="Int32"),
                "height": pd.array([r["height"] for r in rows], dtype="Int32"),
                "n_frames": pd.array(
                    [1 if o else None for o in ok], dtype="Int32"
                ),
                "mime": ["image/jpeg" if o else None for o in ok],
                "error": [r["error"] for r in rows],
            },
            index=content.index,
        )


JPEG_FEATURES_SCHEMA = (
    "doc_id long, width int, height int, mime string, ink_sum long, "
    "error string"
)


def extract_jpeg_features(df: DataFrame, content_col: str = "content",
                          id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> decoded width/height/ink rows via one
    Arrow-batched mapInPandas pass."""
    return map_blobs(df, with_mime(decode_jpeg, "image/jpeg"),
                     JPEG_FEATURES_SCHEMA, id_col, content_col)


# ---------------------------------------------------------------------
# EXIF — the metadata sidecar every real camera JPEG carries: an APP1
# segment whose body is "Exif\0\0" followed by a COMPLETE EMBEDDED TIFF
# (endian-aware header + IFD chain, offsets relative to the TIFF start,
# EXIF 2.3 / CIPA DC-008 §4.5). The walker below shares the baseline-TIFF
# discipline of multimodal.decode_tiff (trust offsets, bounds-verify every
# read) and adds the ASCII value type the pixel codec never needed.
# ---------------------------------------------------------------------

_EXIF_ASCII, _EXIF_SHORT, _EXIF_LONG = 2, 3, 4
_TAG_ORIENTATION = 274
_TAG_DATETIME = 306
_TAG_EXIF_IFD = 34665
_TAG_PIXEL_X = 40962
_TAG_PIXEL_Y = 40963


def _exif_entry(e: str, tag: int, typ: int, vals, data_off: int):
    """One 12-byte IFD entry. Returns (entry_bytes, deferred_bytes):
    values that fit 4 bytes are inline; otherwise the value field is the
    absolute TIFF-relative offset ``data_off`` and the caller appends
    ``deferred_bytes`` there."""
    if typ == _EXIF_ASCII:
        raw = vals  # bytes, NUL-terminated by the caller
        cnt = len(raw)
    else:
        fmt = "H" if typ == _EXIF_SHORT else "I"
        raw = b"".join(struct.pack(e + fmt, v) for v in vals)
        cnt = len(vals)
    head = struct.pack(e + "HHI", tag, typ, cnt)
    if len(raw) <= 4:
        return head + raw + b"\x00" * (4 - len(raw)), b""
    return head + struct.pack(e + "I", data_off), raw


def build_exif_app1(orientation: int, datetime_str: str,
                    pixel_x: int, pixel_y: int,
                    big_endian: bool = False) -> bytes:
    """Emit a real APP1 EXIF segment: embedded TIFF with IFD0
    (Orientation SHORT, DateTime ASCII out-of-line, ExifIFDPointer LONG)
    chaining to the Exif sub-IFD (PixelXDimension / PixelYDimension).
    ``datetime_str`` must be the spec's exactly-19-char
    'YYYY:MM:DD HH:MM:SS' form."""
    if not (1 <= orientation <= 8):
        raise ValueError("exif orientation out of range")
    if len(datetime_str) != 19:
        raise ValueError("exif datetime must be 19 chars")
    e = ">" if big_endian else "<"
    dt_raw = datetime_str.encode("ascii") + b"\x00"  # count 20 -> deferred
    # fixed layout, offsets relative to the TIFF header start:
    # 0 header(8) | 8 IFD0: 2 + 3*12 + 4 = 42 | 50 dt string(20) | 70 sub-IFD
    ifd0_at, dt_at, sub_at = 8, 50, 70
    tiff = bytearray(
        struct.pack(e + "2sHI", b"MM" if big_endian else b"II", 42, ifd0_at)
    )
    entries0 = [
        _exif_entry(e, _TAG_ORIENTATION, _EXIF_SHORT, [orientation], 0),
        _exif_entry(e, _TAG_DATETIME, _EXIF_ASCII, dt_raw, dt_at),
        _exif_entry(e, _TAG_EXIF_IFD, _EXIF_LONG, [sub_at], 0),
    ]
    tiff += struct.pack(e + "H", len(entries0))
    for ent, _ in entries0:
        tiff += ent
    tiff += b"\x00\x00\x00\x00"  # next IFD: none
    assert len(tiff) == dt_at
    tiff += dt_raw
    assert len(tiff) == sub_at
    sub = [
        _exif_entry(e, _TAG_PIXEL_X, _EXIF_LONG, [pixel_x], 0),
        _exif_entry(e, _TAG_PIXEL_Y, _EXIF_LONG, [pixel_y], 0),
    ]
    tiff += struct.pack(e + "H", len(sub))
    for ent, _ in sub:
        tiff += ent
    tiff += b"\x00\x00\x00\x00"
    return _seg(0xE1, b"Exif\x00\x00" + bytes(tiff))


def build_jpeg_exif(width: int, height: int, value: int, orientation: int,
                    datetime_str: str, big_endian: bool = False) -> bytes:
    """A real decodable JPEG carrying a real EXIF APP1: the segment is
    spliced right after SOI (where cameras put it), so decode_jpeg still
    round-trips the pixels exactly — the two decoders cross-check."""
    base = build_jpeg(width, height, value)
    app1 = build_exif_app1(
        orientation, datetime_str, width, height, big_endian=big_endian
    )
    return base[:2] + app1 + base[2:]


def _exif_read_ifd(t: bytes, e: str, off: int):
    """Typed read of one EXIF IFD at TIFF-relative ``off``. Returns
    (tags, error): tags maps tag id -> int (SHORT/LONG first value) or
    str (ASCII, NUL-stripped); unknown value types are skipped."""
    if off + 2 > len(t):
        return None, "exif ifd out of bounds"
    (n_ent,) = struct.unpack_from(e + "H", t, off)
    end = off + 2 + 12 * n_ent + 4
    if end > len(t):
        return None, "exif ifd out of bounds"
    tags: dict[int, object] = {}
    for k in range(n_ent):
        at = off + 2 + 12 * k
        tag, typ, cnt = struct.unpack_from(e + "HHI", t, at)
        size = {_EXIF_ASCII: 1, _EXIF_SHORT: 2, _EXIF_LONG: 4}.get(typ)
        if size is None:
            continue
        nbytes = cnt * size
        if nbytes <= 4:
            vat = at + 8
        else:
            (vat,) = struct.unpack_from(e + "I", t, at + 8)
            if vat + nbytes > len(t):
                return None, "exif tag array out of bounds"
        if typ == _EXIF_ASCII:
            tags[tag] = t[vat:vat + cnt].split(b"\x00")[0].decode(
                "ascii", "replace"
            )
        elif cnt >= 1:
            fmt = "H" if typ == _EXIF_SHORT else "I"
            tags[tag] = struct.unpack_from(e + fmt, t, vat)[0]
    return tags, None


_EXIF_NONE = {
    "orientation": None, "exif_datetime": None,
    "pixel_x": None, "pixel_y": None,
}


def decode_exif(data: bytes | None) -> dict:
    """Walk the JPEG marker stream for an APP1 EXIF segment and parse its
    embedded TIFF: IFD0 tags + the Exif sub-IFD behind the 34665 pointer.
    Returns {orientation, exif_datetime, pixel_x, pixel_y, error}; every
    malformed payload is an error row, never an exception (the MediaCodec
    degradation contract). Missing individual tags are nulls, not errors."""
    if data is None or len(data) < 4:
        return {**_EXIF_NONE, "error": "short or missing payload"}
    data = bytes(data)
    if data[:2] != b"\xff\xd8":
        return {**_EXIF_NONE, "error": "bad jpeg signature"}
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            return {**_EXIF_NONE, "error": "marker sync lost"}
        marker = data[pos + 1]
        if marker in (0xD9, 0xDA):  # EOI / entropy data follows: stop
            break
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4:pos + 2 + seglen]
        if len(body) != seglen - 2:
            return {**_EXIF_NONE, "error": "truncated segment"}
        if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
            return _decode_exif_tiff(body[6:])
        pos += 2 + seglen
    return {**_EXIF_NONE, "error": "no exif segment"}


def _decode_exif_tiff(t: bytes) -> dict:
    if len(t) < 8:
        return {**_EXIF_NONE, "error": "bad exif tiff header"}
    if t[:2] == b"II":
        e = "<"
    elif t[:2] == b"MM":
        e = ">"
    else:
        return {**_EXIF_NONE, "error": "bad exif tiff header"}
    ver, ifd0 = struct.unpack_from(e + "HI", t, 2)
    if ver != 42:
        return {**_EXIF_NONE, "error": "bad exif tiff header"}
    tags, err = _exif_read_ifd(t, e, ifd0)
    if err:
        return {**_EXIF_NONE, "error": err}
    out = dict(_EXIF_NONE)
    ori = tags.get(_TAG_ORIENTATION)
    out["orientation"] = ori if isinstance(ori, int) else None
    dt = tags.get(_TAG_DATETIME)
    out["exif_datetime"] = dt if isinstance(dt, str) else None
    sub_off = tags.get(_TAG_EXIF_IFD)
    if isinstance(sub_off, int):
        sub, err = _exif_read_ifd(t, e, sub_off)
        if err:
            return {**_EXIF_NONE, "error": err}
        px, py = sub.get(_TAG_PIXEL_X), sub.get(_TAG_PIXEL_Y)
        out["pixel_x"] = px if isinstance(px, int) else None
        out["pixel_y"] = py if isinstance(py, int) else None
    return {**out, "error": None}


def _exif_row(b: bytes | None) -> dict:
    """decode_exif's row plus the pixel decoder's width."""
    return {**decode_exif(b), "width": decode_jpeg(b)["width"]}


EXIF_SCHEMA = (
    "doc_id long, orientation int, exif_datetime string, pixel_x int, "
    "pixel_y int, width int, error string"
)


def extract_exif_metadata(df: DataFrame, content_col: str = "content",
                          id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> EXIF metadata rows + the pixel decoder's
    width as a cross-check that the APP1 splice leaves the image
    decodable. One Arrow-batched mapInPandas pass, no shuffle."""
    return map_blobs(df, _exif_row, EXIF_SCHEMA, id_col, content_col)


# register on import (multimodal's dispatch imports this module lazily)
from cies_ocr_java_spark.operators.multimodal import register_codec  # noqa: E402

register_codec(JpegCodec())
