"""REAL EXIF extraction — a TIFF inside a JPEG: the APP1 segment of a
JPEG carries ``Exif\\x00\\x00`` followed by a complete, self-contained
TIFF byte stream (its own byte order, its own IFD chain), and every
offset inside it is relative to THAT inner TIFF header, not the JPEG
file — the classic composition bug this operator exists to pin.

Two grammars meet here:
- the JPEG marker walk (jpeg_real.py's segment discipline): SOI, then
  length-prefixed segments until SOS — after SOS the stream is
  unframed entropy data, so the scan MUST stop there (a scanner that
  keeps looking for markers inside entropy data finds garbage);
- the typed IFD grammar (multimodal.py's build_tiff discipline,
  generalized): 12-byte entries, SORTED by tag id, with ASCII (NUL-
  terminated, count includes the NUL), SHORT, LONG and RATIONAL
  (always 8 bytes, always out-of-line) values, inline when <=4 bytes
  else offset-resolved — plus the ExifIFDPointer (tag 0x8769) sub-IFD
  chase that real camera files use.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed payload yields an error ROW naming the offending tag —
never an exception.

Reference parity: none — the reference hands media to Textract
(DocumentExtractManager.java:463); beyond-reference operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

T_ASCII, T_SHORT, T_LONG, T_RATIONAL = 2, 3, 4, 5
_SIZES = {T_ASCII: 1, T_SHORT: 2, T_LONG: 4, T_RATIONAL: 8}

TAG_MAKE = 0x010F
TAG_MODEL = 0x0110
TAG_ORIENTATION = 0x0112
TAG_XRES = 0x011A
TAG_EXIF_IFD = 0x8769
TAG_DATETIME_ORIG = 0x9003
TAG_PIX_X = 0xA002
TAG_PIX_Y = 0xA003


def _write_ifd(e: str, entries: list[tuple[int, int, object]],
               base_off: int) -> bytes:
    """One IFD at ``base_off`` within the TIFF blob: entry table,
    next-IFD=0, then deferred (>4 byte) values.  Entries must be
    sorted by tag (the TIFF invariant build_tiff pinned)."""
    assert entries == sorted(entries, key=lambda t: t[0])
    table = struct.pack(e + "H", len(entries))
    deferred = b""
    def_at = base_off + 2 + 12 * len(entries) + 4
    for tag, typ, val in entries:
        if typ == T_ASCII:
            raw = val if isinstance(val, bytes) else val.encode("ascii")
            raw += b"\x00"
            cnt = len(raw)
        elif typ == T_RATIONAL:
            raw = b"".join(struct.pack(e + "II", n, d) for n, d in val)
            cnt = len(val)
        else:
            fmt = "H" if typ == T_SHORT else "I"
            raw = b"".join(struct.pack(e + fmt, v) for v in val)
            cnt = len(val)
        if len(raw) <= 4:
            field = raw + b"\x00" * (4 - len(raw))
        else:
            field = struct.pack(e + "I", def_at + len(deferred))
            deferred += raw
        table += struct.pack(e + "HHI", tag, typ, cnt) + field
    table += struct.pack(e + "I", 0)
    return table + deferred


def build_exif_tiff(make: str, model: str, orientation: int,
                    xres: int, datetime_orig: str, pix_x: int,
                    pix_y: int, big_endian: bool = False,
                    bad_exif_ptr: bool = False,
                    bad_value_off: bool = False) -> bytes:
    """The inner TIFF blob: IFD0 (Make/Model/Orientation/XResolution +
    ExifIFDPointer), then the Exif sub-IFD.  Poison knobs send the
    sub-IFD pointer / XResolution's out-of-line offset past the end."""
    e = ">" if big_endian else "<"
    # two-pass: size IFD0 with a placeholder pointer, then patch
    ifd0_entries = [
        (TAG_MAKE, T_ASCII, make),
        (TAG_MODEL, T_ASCII, model),
        (TAG_ORIENTATION, T_SHORT, [orientation]),
        (TAG_XRES, T_RATIONAL, [(xres, 1)]),
        (TAG_EXIF_IFD, T_LONG, [0]),
    ]
    ifd0 = _write_ifd(e, ifd0_entries, 8)
    exif_off = 8 + len(ifd0)
    exif = _write_ifd(e, [
        (TAG_DATETIME_ORIG, T_ASCII, datetime_orig),
        (TAG_PIX_X, T_LONG, [pix_x]),
        (TAG_PIX_Y, T_LONG, [pix_y]),
    ], exif_off)
    blob = bytearray(struct.pack(e + "2sHI",
                                 b"MM" if big_endian else b"II", 42, 8))
    blob += ifd0 + exif
    # patch the ExifIFDPointer value field (entry index 4)
    ptr_at = 8 + 2 + 12 * 4 + 8
    struct.pack_into(e + "I", blob, ptr_at,
                     len(blob) + 1000 if bad_exif_ptr else exif_off)
    if bad_value_off:
        # XResolution (entry 3) is RATIONAL -> out-of-line offset field
        xres_at = 8 + 2 + 12 * 3 + 8
        struct.pack_into(e + "I", blob, xres_at, len(blob) + 1000)
    return bytes(blob)


def build_exif_jpeg(tiff_blob: bytes) -> bytes:
    """SOI + APP0(JFIF) + APP1(Exif) + SOS(minimal) + EOI."""
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    app1 = b"Exif\x00\x00" + tiff_blob
    out = b"\xFF\xD8"
    out += b"\xFF\xE0" + struct.pack(">H", len(app0) + 2) + app0
    out += b"\xFF\xE1" + struct.pack(">H", len(app1) + 2) + app1
    out += b"\xFF\xDA" + struct.pack(">H", 4) + b"\x00\x00"
    out += b"\xAA\xBB"  # entropy bytes (unframed)
    out += b"\xFF\xD9"
    return out


_EXIF_NONE = {"byte_order": None, "make": None, "model": None,
              "orientation": None, "xres": None, "datetime_orig": None,
              "pix_x": None, "pix_y": None}


def _read_ifd(data: bytes, e: str, off: int) -> dict[int, object]:
    """One IFD: returns {tag: decoded value}; raises ValueError with
    the degradation message on bounds violations."""
    if off + 2 > len(data):
        raise ValueError("exif ifd out of bounds")
    (n,) = struct.unpack_from(e + "H", data, off)
    if off + 2 + 12 * n + 4 > len(data):
        raise ValueError("exif ifd out of bounds")
    out: dict[int, object] = {}
    for k in range(n):
        at = off + 2 + 12 * k
        tag, typ, cnt = struct.unpack_from(e + "HHI", data, at)
        if typ not in _SIZES:
            continue  # unknown type: skip (forward compat)
        nbytes = _SIZES[typ] * cnt
        if nbytes <= 4:
            vat = at + 8
        else:
            (vat,) = struct.unpack_from(e + "I", data, at + 8)
            if vat + nbytes > len(data):
                raise ValueError(f"tag {tag} value out of bounds")
        if typ == T_ASCII:
            raw = data[vat:vat + cnt]
            out[tag] = raw.split(b"\x00")[0].decode("ascii", "replace")
        elif typ == T_RATIONAL:
            pairs = [struct.unpack_from(e + "II", data, vat + 8 * j)
                     for j in range(cnt)]
            out[tag] = pairs
        else:
            fmt = "H" if typ == T_SHORT else "I"
            vals = list(struct.unpack_from(e + str(cnt) + fmt, data,
                                           vat))
            out[tag] = vals
    return out


def parse_exif(data: bytes | None) -> dict:
    """JPEG marker walk to APP1, then the inner-TIFF IFD walk with the
    ExifIFDPointer chase.  Every malformed payload yields an error
    row."""
    if data is None or len(data) < 4 or data[:2] != b"\xFF\xD8":
        return {**_EXIF_NONE, "error": "not a jpeg"}
    data = bytes(data)
    pos = 2
    blob = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            return {**_EXIF_NONE, "error": f"bad marker at {pos}"}
        marker = data[pos + 1]
        if marker == 0xDA:  # SOS: entropy data follows, stop scanning
            break
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        if seglen < 2 or pos + 2 + seglen > len(data):
            return {**_EXIF_NONE, "error": "truncated app segment"}
        if marker == 0xE1 and data[pos + 4:pos + 10] == b"Exif\x00\x00":
            blob = data[pos + 10:pos + 2 + seglen]
            break
        pos += 2 + seglen
    if blob is None:
        return {**_EXIF_NONE, "error": "no exif app1 segment"}
    if len(blob) < 8 or blob[:2] not in (b"II", b"MM"):
        return {**_EXIF_NONE, "error": "bad tiff magic in exif"}
    e = "<" if blob[:2] == b"II" else ">"
    (ver,) = struct.unpack_from(e + "H", blob, 2)
    if ver != 42:
        return {**_EXIF_NONE, "error": "bad tiff version in exif"}
    (ifd0_off,) = struct.unpack_from(e + "I", blob, 4)
    try:
        ifd0 = _read_ifd(blob, e, ifd0_off)
        exif: dict[int, object] = {}
        ptr = ifd0.get(TAG_EXIF_IFD)
        if ptr:
            exif = _read_ifd(blob, e, ptr[0])
    except ValueError as err:
        return {**_EXIF_NONE, "error": str(err)}
    xres = ifd0.get(TAG_XRES)
    ori = ifd0.get(TAG_ORIENTATION)
    px, py = exif.get(TAG_PIX_X), exif.get(TAG_PIX_Y)
    return {
        "byte_order": blob[:2].decode("ascii"),
        "make": ifd0.get(TAG_MAKE),
        "model": ifd0.get(TAG_MODEL),
        "orientation": ori[0] if ori else None,
        "xres": (xres[0][0] // xres[0][1])
        if xres and xres[0][1] else None,
        "datetime_orig": exif.get(TAG_DATETIME_ORIG),
        "pix_x": px[0] if px else None,
        "pix_y": py[0] if py else None,
        "error": None,
    }


EXIF_SCHEMA = (
    "doc_id long, byte_order string, make string, model string, "
    "orientation int, xres int, datetime_orig string, pix_x int, "
    "pix_y int, error string"
)


def extract_exif_features(df: DataFrame, content_col: str = "content",
                          id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> EXIF metadata via one Arrow-batched
    mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_exif, EXIF_SCHEMA, id_col, content_col)
