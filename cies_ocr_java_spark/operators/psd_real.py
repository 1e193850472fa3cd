"""Photoshop PSD layer walker — big-endian section file with three
structural quirks handled exactly: a NEGATIVE layer count in the
layer-info section is legal and means "first alpha channel is the
merged transparency" (the count is its absolute value — a reader
that rejects or zero-clamps negatives drops every layered file
with transparency), channel image data is stored PER LAYER PER
CHANNEL each with its own compression flag, and the RLE mode is
PackBits with a TWO-PART layout: first a u16 byte-count table for
EVERY row of the channel, then the packed rows — each row's slice
is bounded by its table entry and must decode to EXACTLY the rect
width (the count table lying about a row is the classic
corruption, caught by name). PackBits control bytes: 0..127 copy
n+1 literals, 129..255 repeat the next byte 257-n times, 128 is a
no-op to be skipped (not an error).

Sections walked: header (8BPS, version 1, depth 8, RGB), color
mode data, image resources (skipped by length), layer info (rects,
channel lists, blend signature 8BIM, pascal names padded to 4),
per-channel data, then the merged image (raw) — consumed exactly
to end of file.

Failure contract: every malformed file yields an error ROW.

Reference parity: none — layered-image recovery is
beyond-reference (media is Textract's problem in the reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs


def packbits_encode(row: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(row)
    while i < n:
        run = 1
        while i + run < n and run < 127 and row[i + run] == row[i]:
            run += 1
        if run >= 2:
            out.append(257 - run)
            out.append(row[i])
            i += run
        else:
            start = i
            while (i < n and i - start < 128
                   and (i + 1 >= n or row[i + 1] != row[i])):
                i += 1
            out.append(i - start - 1)
            out += row[start:i]
    return bytes(out)


def packbits_decode(data: bytes, expect: int) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        c = data[i]
        i += 1
        if c == 128:
            continue
        if c < 128:
            if i + c + 1 > len(data):
                raise ValueError("rle row length mismatch")
            out += data[i:i + c + 1]
            i += c + 1
        else:
            if i >= len(data):
                raise ValueError("rle row length mismatch")
            out += bytes([data[i]]) * (257 - c)
            i += 1
    if len(out) != expect:
        raise ValueError("rle row length mismatch")
    return bytes(out)


def _pascal4(name: str) -> bytes:
    raw = name.encode()
    b = bytes((len(raw),)) + raw
    return b + b"\x00" * (-len(b) % 4)


def build_psd(width: int, height: int,
              layers: list[dict], *,
              alpha_merge: bool = False, bad_version: bool = False,
              lie_rowcount: bool = False, chop: int = 0) -> bytes:
    """layers: {name, top, left, h, w, channels: [bytes, ...]}
    (each channel blob is h*w bytes, PackBits-compressed here)."""
    out = bytearray()
    out += b"8BPS"
    out += (2 if bad_version else 1).to_bytes(2, "big")
    out += b"\x00" * 6
    out += (3).to_bytes(2, "big")  # channels
    out += height.to_bytes(4, "big")
    out += width.to_bytes(4, "big")
    out += (8).to_bytes(2, "big")  # depth
    out += (3).to_bytes(2, "big")  # RGB
    out += (0).to_bytes(4, "big")  # color mode data

    # one image resource block (resolution stub), even-padded
    res = bytearray()
    res += b"8BIM" + (1005).to_bytes(2, "big")
    res += _pascal_even("res")
    payload = b"\x00" * 16
    res += len(payload).to_bytes(4, "big") + payload
    out += len(res).to_bytes(4, "big") + res

    # layer info
    recs = bytearray()
    chans = bytearray()
    for li, ly in enumerate(layers):
        h, w = ly["h"], ly["w"]
        recs += ly["top"].to_bytes(4, "big")
        recs += ly["left"].to_bytes(4, "big")
        recs += (ly["top"] + h).to_bytes(4, "big")
        recs += (ly["left"] + w).to_bytes(4, "big")
        recs += len(ly["channels"]).to_bytes(2, "big")
        ch_blobs = []
        for ci, blob in enumerate(ly["channels"]):
            rows = [blob[r * w:(r + 1) * w] for r in range(h)]
            packed = [packbits_encode(r) for r in rows]
            counts = bytearray()
            for ri, p in enumerate(packed):
                c = len(p)
                if lie_rowcount and li == 0 and ci == 0 and ri == 0:
                    c += 2
                counts += c.to_bytes(2, "big")
            cdata = (1).to_bytes(2, "big") + bytes(counts) \
                + b"".join(packed)
            ch_blobs.append(cdata)
            recs += ci.to_bytes(2, "big", signed=False)
            recs += len(cdata).to_bytes(4, "big")
        recs += b"8BIM" + b"norm"
        recs += bytes((255, 0, 0, 0))  # opacity/clip/flags/filler
        extra = _pascal4(ly["name"])
        # extra = mask len 0 + blend ranges len 0 + name
        ex = (0).to_bytes(4, "big") + (0).to_bytes(4, "big") + extra
        recs += len(ex).to_bytes(4, "big") + ex
        for cdata in ch_blobs:
            chans += cdata
    count = len(layers)
    linfo = bytearray()
    linfo += ((-count if alpha_merge else count) & 0xFFFF) \
        .to_bytes(2, "big")
    linfo += recs + chans
    if len(linfo) % 2:
        linfo += b"\x00"
    lsec = bytearray()
    lsec += len(linfo).to_bytes(4, "big") + linfo
    out += len(lsec).to_bytes(4, "big") + lsec

    # merged image: raw, 3 planes
    out += (0).to_bytes(2, "big")
    out += bytes(((width * height) % 251 for _ in range(1))) * 0
    merged = bytes((7,)) * (3 * width * height)
    out += merged
    if chop:
        del out[-chop:]
    return bytes(out)


def _pascal_even(name: str) -> bytes:
    raw = name.encode()
    b = bytes((len(raw),)) + raw
    return b + b"\x00" * (len(b) % 2)


_PSD_NONE = {
    "width": None, "height": None, "n_layers": None,
    "alpha_merge": None, "layer_px": None, "content_sum": None,
    "max_channels": None,
}


def parse_psd(data: bytes | None) -> dict:
    if data is None or len(data) < 26:
        return {**_PSD_NONE, "error": "short or missing payload"}
    data = bytes(data)
    pos = 0

    def take(n: int) -> bytes:
        nonlocal pos
        if pos + n > len(data):
            raise ValueError("truncated file")
        b = data[pos:pos + n]
        pos += n
        return b

    try:
        if take(4) != b"8BPS":
            raise ValueError("bad signature")
        ver = int.from_bytes(take(2), "big")
        if ver != 1:
            raise ValueError("unsupported version")
        take(6)
        int.from_bytes(take(2), "big")  # file channels
        height = int.from_bytes(take(4), "big")
        width = int.from_bytes(take(4), "big")
        depth = int.from_bytes(take(2), "big")
        mode = int.from_bytes(take(2), "big")
        if depth != 8 or mode != 3:
            raise ValueError("unsupported depth or mode")
        if width == 0 or height == 0 or width * height > (4 << 20):
            raise ValueError("bad dimensions")
        take(int.from_bytes(take(4), "big"))  # color mode data
        take(int.from_bytes(take(4), "big"))  # image resources
        lsec_len = int.from_bytes(take(4), "big")
        lsec_end = pos + lsec_len
        if lsec_end > len(data):
            raise ValueError("truncated file")
        linfo_len = int.from_bytes(take(4), "big")
        linfo_end = pos + linfo_len
        if linfo_end > lsec_end:
            raise ValueError("layer info overruns section")
        raw_count = int.from_bytes(take(2), "big")
        if raw_count >= 0x8000:
            count = 0x10000 - raw_count
            alpha = 1
        else:
            count = raw_count
            alpha = 0
        layers = []
        max_ch = 0
        layer_px = 0
        for _ in range(count):
            top = int.from_bytes(take(4), "big")
            left = int.from_bytes(take(4), "big")
            bottom = int.from_bytes(take(4), "big")
            right = int.from_bytes(take(4), "big")
            if bottom < top or right < left:
                raise ValueError("inverted layer rect")
            h, w = bottom - top, right - left
            nch = int.from_bytes(take(2), "big")
            max_ch = max(max_ch, nch)
            ch = []
            for _ in range(nch):
                take(2)  # channel id
                ch.append(int.from_bytes(take(4), "big"))
            if take(4) != b"8BIM":
                raise ValueError("bad blend signature")
            take(4 + 4)  # blend key + opacity/clip/flags/filler
            exlen = int.from_bytes(take(4), "big")
            take(exlen)
            layers.append((h, w, ch))
            layer_px += h * w
        content_sum = 0
        for h, w, ch in layers:
            for clen in ch:
                cdata = take(clen)
                if len(cdata) < 2:
                    raise ValueError("channel data too short")
                comp = int.from_bytes(cdata[:2], "big")
                if comp == 0:
                    if len(cdata) - 2 != h * w:
                        raise ValueError(
                            "raw channel size mismatch")
                    content_sum += sum(cdata[2:])
                elif comp == 1:
                    q = 2
                    counts = []
                    for _ in range(h):
                        if q + 2 > len(cdata):
                            raise ValueError(
                                "rle counts overrun channel")
                        counts.append(int.from_bytes(
                            cdata[q:q + 2], "big"))
                        q += 2
                    for c in counts:
                        if q + c > len(cdata):
                            raise ValueError(
                                "rle row overruns channel")
                        row = packbits_decode(cdata[q:q + c], w)
                        content_sum += sum(row)
                        q += c
                    if q != len(cdata):
                        raise ValueError(
                            "trailing bytes in channel")
                else:
                    raise ValueError("unsupported compression")
        # layer info is even-padded to its declared length
        if linfo_end - pos not in (0, 1):
            raise ValueError("layer info length mismatch")
        pos = lsec_end
        comp = int.from_bytes(take(2), "big")
        if comp != 0:
            raise ValueError("unsupported merged compression")
        if len(data) - pos != 3 * width * height:
            raise ValueError("merged image size mismatch")
    except ValueError as e:
        return {**_PSD_NONE, "error": str(e)}
    return {
        "width": width, "height": height, "n_layers": count,
        "alpha_merge": alpha, "layer_px": layer_px,
        "content_sum": content_sum, "max_channels": max_ch,
        "error": None,
    }


_PSD_SCHEMA = (
    "doc_id long, width int, height int, n_layers int, "
    "alpha_merge int, layer_px bigint, content_sum bigint, "
    "max_channels int, error string"
)


def extract_psd_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_psd, _PSD_SCHEMA, id_col, content_col)
