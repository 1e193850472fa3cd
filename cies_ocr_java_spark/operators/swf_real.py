"""SWF (Flash) container walker — two structural signatures worth
recovering exactly: the header RECT is BIT-packed MSB-first with
its own field width in-band (a 5-bit nbits count, then four SIGNED
nbits-wide values — sign bit is the top bit of each field, no byte
alignment until the whole RECT ends), and the body after byte 8 is
optionally zlib-compressed (signature CWS vs FWS) while the
header's u32 fileLength declares the UNCOMPRESSED total — so the
length gate can only run after inflation, via the repo's own
from-scratch inflate (operators/inflate.py). Tags are u16 records
(code = >>6, len = &0x3F) with the 0x3F escape to a u32 extended
length — the escape means a length of exactly 63 MUST use the long
form, and short-form 63 is indistinguishable, the format's classic
ambiguity. Tag 0 (End) is mandatory and nothing may follow it.

Failure contract: every malformed file yields an error ROW.

Reference parity: none — rich-media containers are Textract's
problem in the reference; structure recovery is beyond-reference.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.inflate import (
    InflateError,
    inflate_zlib,
)
from cies_ocr_java_spark.operators.walker import map_blobs


class _BitWriter:
    def __init__(self) -> None:
        self.bits: list[int] = []

    def write(self, value: int, n: int) -> None:
        for k in range(n - 1, -1, -1):
            self.bits.append((value >> k) & 1)

    def bytes(self) -> bytes:
        bits = self.bits + [0] * (-len(self.bits) % 8)
        out = bytearray()
        for k in range(0, len(bits), 8):
            b = 0
            for bit in bits[k:k + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def _rect(xmin: int, xmax: int, ymin: int, ymax: int,
          nbits: int) -> bytes:
    w = _BitWriter()
    w.write(nbits, 5)
    for v in (xmin, xmax, ymin, ymax):
        if not -(1 << (nbits - 1)) <= v < (1 << (nbits - 1)):
            raise ValueError("rect value does not fit nbits")
        w.write(v & ((1 << nbits) - 1), nbits)
    return w.bytes()


def _tag(code: int, body: bytes, *, force_long: bool = False) -> bytes:
    if len(body) >= 0x3F or force_long:
        return ((code << 6) | 0x3F).to_bytes(2, "little") \
            + len(body).to_bytes(4, "little") + body
    return ((code << 6) | len(body)).to_bytes(2, "little") + body


def build_swf(stage_w: int, stage_h: int, frame_rate_x256: int,
              tags: list[tuple[int, bytes]], *,
              compressed: bool = True, nbits: int = 15,
              bad_sig: bool = False, lie_length: bool = False,
              drop_end: bool = False, chop: int = 0) -> bytes:
    """tags: (code, body); ShowFrame tags (code 1) define the frame
    count declared in the header."""
    body = bytearray()
    body += _rect(0, stage_w * 20, 0, stage_h * 20, nbits)
    body += frame_rate_x256.to_bytes(2, "little")
    n_show = sum(1 for c, _ in tags if c == 1)
    body += n_show.to_bytes(2, "little")
    for code, tb in tags:
        body += _tag(code, tb)
    if not drop_end:
        body += _tag(0, b"")
    total = 8 + len(body)
    if lie_length:
        total += 16
    out = bytearray()
    out += b"CWS" if compressed else b"FWS"
    if bad_sig:
        out[0] = ord("X")
    out.append(6)
    out += total.to_bytes(4, "little")
    out += zlib.compress(bytes(body), 6) if compressed else body
    if chop:
        del out[-chop:]
    return bytes(out)


_SWF_NONE = {
    "n_tags": None, "n_frames": None, "frame_count": None,
    "frame_rate_x256": None, "stage_w": None, "stage_h": None,
    "compressed": None, "tag_bytes": None,
}


def parse_swf(data: bytes | None) -> dict:
    if data is None or len(data) < 9:
        return {**_SWF_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        sig = data[:3]
        if sig == b"FWS":
            comp = 0
        elif sig == b"CWS":
            comp = 1
        else:
            raise ValueError("bad signature")
        declared = int.from_bytes(data[4:8], "little")
        if comp:
            try:
                body, _used = inflate_zlib(data[8:])
            except InflateError as e:
                raise ValueError(
                    f"bad compressed body: {e}") from None
        else:
            body = data[8:]
        if 8 + len(body) != declared:
            raise ValueError("declared length mismatch")

        # RECT: 5-bit nbits then 4 signed fields, MSB-first
        if not body:
            raise ValueError("truncated header")
        nbits = body[0] >> 3
        total_bits = 5 + 4 * nbits
        nbytes = (total_bits + 7) // 8
        if nbytes > len(body):
            raise ValueError("truncated header")
        big = int.from_bytes(body[:nbytes], "big")
        shift = nbytes * 8 - 5
        fields = []
        for _ in range(4):
            shift -= nbits
            v = (big >> shift) & ((1 << nbits) - 1)
            if nbits and v >> (nbits - 1):
                v -= 1 << nbits
            fields.append(v)
        xmin, xmax, ymin, ymax = fields
        if xmax < xmin or ymax < ymin:
            raise ValueError("inverted stage rect")
        pos = nbytes
        if pos + 4 > len(body):
            raise ValueError("truncated header")
        rate = int.from_bytes(body[pos:pos + 2], "little")
        fcount = int.from_bytes(body[pos + 2:pos + 4], "little")
        pos += 4

        n_tags = n_show = 0
        tag_bytes = 0
        ended = False
        while pos < len(body):
            if ended:
                raise ValueError("data after end tag")
            if pos + 2 > len(body):
                raise ValueError("truncated tag")
            cl = int.from_bytes(body[pos:pos + 2], "little")
            pos += 2
            code = cl >> 6
            ln = cl & 0x3F
            if ln == 0x3F:
                if pos + 4 > len(body):
                    raise ValueError("truncated tag")
                ln = int.from_bytes(body[pos:pos + 4], "little")
                pos += 4
            if pos + ln > len(body):
                raise ValueError("tag overruns body")
            pos += ln
            if code == 0:
                if ln:
                    raise ValueError("end tag with payload")
                ended = True
                continue
            n_tags += 1
            tag_bytes += ln
            if code == 1:
                n_show += 1
        if not ended:
            raise ValueError("missing end tag")
        if n_show != fcount:
            raise ValueError("frame count disagrees with header")
    except ValueError as e:
        return {**_SWF_NONE, "error": str(e)}
    return {
        "n_tags": n_tags, "n_frames": n_show,
        "frame_count": fcount, "frame_rate_x256": rate,
        "stage_w": (xmax - xmin) // 20,
        "stage_h": (ymax - ymin) // 20,
        "compressed": comp, "tag_bytes": tag_bytes, "error": None,
    }


_SWF_SCHEMA = (
    "doc_id long, n_tags int, n_frames int, frame_count int, "
    "frame_rate_x256 int, stage_w int, stage_h int, "
    "compressed int, tag_bytes bigint, error string"
)


def extract_swf_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_swf, _SWF_SCHEMA, id_col, content_col)
