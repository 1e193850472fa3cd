"""REAL DICOM walker — medical imaging's interchange format and the
strangest header discipline in the repo: a 128-byte ignorable
preamble, the 'DICM' magic at offset 128, then TAGGED elements
((group, element) u16 pairs, ascending order REQUIRED) in explicit
VR little endian, where the VALUE REPRESENTATION code itself decides
the length encoding — most VRs carry a u16 length, but OB/OW/OF/SQ/
UT/UN insert 2 reserved bytes and a u32 (the split that desyncs
naive parsers at the first PixelData), and EVERY value must be
EVEN-padded (space for text, NUL for UIDs — odd lengths are a
protocol violation, caught by tag here).

Walked: the group-0002 File Meta (TransferSyntaxUID gate — only
explicit little endian accepted), Modality/PatientName (the
caret-delimited PN grammar)/InstanceNumber, the Rows/Columns/
BitsAllocated trio, and PixelData whose u32 length must equal
rows*cols — read back and summed.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed file yields an error ROW — never an exception.

Reference parity: none — beyond-reference science-data operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

EXPLICIT_LE = "1.2.840.10008.1.2.1"
_LONG_VRS = {b"OB", b"OW", b"OF", b"SQ", b"UT", b"UN"}


def _element(group: int, elem: int, vr: bytes, value: bytes,
             force_odd: bool = False) -> bytes:
    if len(value) % 2 and not force_odd:
        value += b" " if vr in (b"CS", b"PN", b"IS", b"UI") else b"\x00"
    out = struct.pack("<HH", group, elem) + vr
    if vr in _LONG_VRS:
        out += b"\x00\x00" + struct.pack("<I", len(value))
    else:
        out += struct.pack("<H", len(value))
    return out + value


def build_dicom(modality: str, patient: str, instance: int,
                rows: int, cols: int, pixel_fn,
                bad_magic: bool = False,
                odd_length: bool = False) -> bytes:
    meta_body = _element(0x0002, 0x0010, b"UI",
                         EXPLICIT_LE.encode() + b"\x00")
    meta = _element(0x0002, 0x0000, b"UL",
                    struct.pack("<I", len(meta_body))) + meta_body
    pixels = bytes(pixel_fn(x, y) for y in range(rows)
                   for x in range(cols))
    ds = b""
    ds += _element(0x0008, 0x0060, b"CS", modality.encode())
    ds += _element(0x0010, 0x0010, b"PN", patient.encode(),
                   force_odd=odd_length)
    ds += _element(0x0020, 0x0013, b"IS", str(instance).encode())
    ds += _element(0x0028, 0x0010, b"US", struct.pack("<H", rows))
    ds += _element(0x0028, 0x0011, b"US", struct.pack("<H", cols))
    ds += _element(0x0028, 0x0100, b"US", struct.pack("<H", 8))
    ds += _element(0x7FE0, 0x0010, b"OB", pixels)
    magic = b"DICX" if bad_magic else b"DICM"
    return bytes(128) + magic + meta + ds


_DCM_NONE = {"modality": None, "patient": None, "instance": None,
             "rows": None, "cols": None, "pixel_sum": None,
             "n_elements": None}


def parse_dicom(data: bytes | None) -> dict:
    if data is None or len(data) < 140:
        return {**_DCM_NONE, "error": "short or missing file"}
    data = bytes(data)
    if data[128:132] != b"DICM":
        return {**_DCM_NONE, "error": "missing dicm magic"}
    pos = 132
    elems: dict[tuple[int, int], bytes] = {}
    last_tag = (-1, -1)
    try:
        while pos < len(data):
            if pos + 8 > len(data):
                raise ValueError("truncated element header")
            group, elem = struct.unpack_from("<HH", data, pos)
            vr = data[pos + 4:pos + 6]
            if not (vr.isalpha() and vr.isupper()):
                raise ValueError(
                    f"bad vr at tag ({group:04x},{elem:04x})")
            if vr in _LONG_VRS:
                if pos + 12 > len(data):
                    raise ValueError("truncated long-vr header")
                (vlen,) = struct.unpack_from("<I", data, pos + 8)
                pos += 12
            else:
                (vlen,) = struct.unpack_from("<H", data, pos + 6)
                pos += 8
            if vlen % 2:
                raise ValueError(
                    f"odd value length at tag "
                    f"({group:04x},{elem:04x})")
            if pos + vlen > len(data):
                raise ValueError(
                    f"value overruns file at tag "
                    f"({group:04x},{elem:04x})")
            tag = (group, elem)
            if tag <= last_tag and group != 0x0002:
                raise ValueError(
                    f"tags out of order at ({group:04x},{elem:04x})")
            if group != 0x0002:
                last_tag = tag
            elems[tag] = data[pos:pos + vlen]
            pos += vlen
        ts = elems.get((0x0002, 0x0010), b"").rstrip(b"\x00").decode(
            "ascii", "replace")
        if ts != EXPLICIT_LE:
            raise ValueError(f"unsupported transfer syntax {ts}")
        rows = struct.unpack("<H", elems[(0x0028, 0x0010)])[0]
        cols = struct.unpack("<H", elems[(0x0028, 0x0011)])[0]
        pixels = elems[(0x7FE0, 0x0010)]
        expect = rows * cols + (rows * cols) % 2
        if len(pixels) != expect:
            raise ValueError("pixel data length disagrees with "
                             "rows*cols")
        total = sum(pixels[:rows * cols])
        inst_raw = elems.get((0x0020, 0x0013), b"0").decode(
            "ascii", "replace").strip()
        if not inst_raw.isdigit():
            raise ValueError("non-numeric instance number")
        instance = int(inst_raw)
    except (ValueError, KeyError) as e:
        msg = str(e) if isinstance(e, ValueError) \
            else "missing mandatory element"
        return {**_DCM_NONE, "error": msg}
    return {
        "modality": elems.get((0x0008, 0x0060), b"").decode(
            "ascii", "replace").strip(),
        "patient": elems.get((0x0010, 0x0010), b"").decode(
            "ascii", "replace").strip(),
        "instance": instance,
        "rows": rows, "cols": cols, "pixel_sum": total,
        "n_elements": len(elems),
        "error": None,
    }


DICOM_SCHEMA = ("doc_id long, modality string, patient string, "
                "instance int, rows int, cols int, pixel_sum bigint, "
                "n_elements int, error string")


def extract_dicom_features(df: DataFrame,
                           content_col: str = "content",
                           id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> element + pixel facts via one
    Arrow-batched mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_dicom, DICOM_SCHEMA, id_col, content_col)
