"""REAL FITS walker — astronomy's 1981 interchange format and the
science-data modality of a research crawl: everything is 2880-byte
BLOCKS (a card-punch heritage number: 36 records of 80 chars), the
header is fixed-width 80-char CARDS ('KEYWORD = value / comment',
keyword space-padded to 8, '= ' at columns 9-10 for valued cards)
terminated by the literal END card, and the data array follows in
the next block: BITPIX bits per sample (8, 16, 32 — negative means
IEEE float), axes from NAXIS/NAXISn, always BIG-endian, padded to
the 2880 boundary.

Gates: SIMPLE = T must be the FIRST card (the format's magic is a
card, not bytes), mandatory-keyword order (BITPIX then NAXIS...),
an END card must exist within the header blocks, and the data region
must actually contain NAXIS1×NAXIS2×|BITPIX|/8 bytes.  16-bit data
is SIGNED big-endian with the BZERO=32768 offset convention for
unsigned sensors — applied here, the classic FITS gotcha.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed file yields an error ROW — never an exception.

Reference parity: none — beyond-reference science-data operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

BLOCK = 2880


def _card(key: str, value: str, comment: str = "") -> bytes:
    body = f"{key:<8}= {value:>20}"
    if comment:
        body += f" / {comment}"
    return body.ljust(80).encode("ascii")


def build_fits(width: int, height: int, bitpix: int, pixel_fn,
               telescope: str, bzero: int = 0,
               drop_end: bool = False,
               bad_simple: bool = False) -> bytes:
    cards = [
        _card("SIMPLE", "F" if bad_simple else "T",
              "conforms to FITS"),
        _card("BITPIX", str(bitpix)),
        _card("NAXIS", "2"),
        _card("NAXIS1", str(width)),
        _card("NAXIS2", str(height)),
    ]
    if bzero:
        cards.append(_card("BZERO", str(bzero)))
    cards.append(_card("TELESCOP", f"'{telescope}'"))
    if not drop_end:
        cards.append("END".ljust(80).encode("ascii"))
    hdr = b"".join(cards)
    hdr += b" " * (-len(hdr) % BLOCK)
    fmt = {8: ">B", 16: ">h", 32: ">i"}[bitpix]
    data = bytearray()
    for y in range(height):
        for x in range(width):
            data += struct.pack(fmt, pixel_fn(x, y) - bzero)
    data += b"\x00" * (-len(data) % BLOCK)
    return hdr + bytes(data)


_FITS_NONE = {"bitpix": None, "width": None, "height": None,
              "telescope": None, "bzero": None, "pixel_sum": None,
              "n_cards": None}


def parse_fits(data: bytes | None) -> dict:
    if data is None or len(data) < BLOCK:
        return {**_FITS_NONE, "error": "short or missing file"}
    data = bytes(data)
    cards: dict[str, str] = {}
    n_cards = 0
    pos = 0
    ended = False
    try:
        while not ended:
            if pos + BLOCK > len(data):
                raise ValueError("header missing END card")
            block = data[pos:pos + BLOCK]
            pos += BLOCK
            for k in range(36):
                card = block[80 * k:80 * (k + 1)]
                key = card[:8].decode("ascii", "replace").rstrip()
                if key == "END":
                    ended = True
                    break
                if not key:
                    continue
                n_cards += 1
                if card[8:10] == b"= ":
                    val = card[10:].split(b"/")[0].decode(
                        "ascii", "replace").strip()
                    cards[key] = val
        if n_cards == 0 or "SIMPLE" not in cards:
            raise ValueError("missing SIMPLE card")
        first_key = data[:8].decode("ascii", "replace").rstrip()
        if first_key != "SIMPLE" or cards["SIMPLE"] != "T":
            raise ValueError("not a conforming FITS file")
        bitpix = int(cards.get("BITPIX", "0"))
        if bitpix not in (8, 16, 32):
            raise ValueError(f"unsupported bitpix {bitpix}")
        if cards.get("NAXIS") != "2":
            raise ValueError("unsupported axis count")
        width = int(cards["NAXIS1"])
        height = int(cards["NAXIS2"])
        bzero = int(cards.get("BZERO", "0"))
        need = width * height * (bitpix // 8)
        if pos + need > len(data):
            raise ValueError("data array truncated")
        fmt = {8: ">B", 16: ">h", 32: ">i"}[bitpix]
        size = bitpix // 8
        total = 0
        for k in range(width * height):
            (v,) = struct.unpack_from(fmt, data, pos + k * size)
            total += v + bzero  # the BZERO offset convention
        tel = cards.get("TELESCOP", "").strip("'").strip()
    except (ValueError, KeyError) as e:
        msg = str(e) if isinstance(e, ValueError) \
            else f"missing mandatory card {e}"
        return {**_FITS_NONE, "error": msg}
    return {
        "bitpix": bitpix, "width": width, "height": height,
        "telescope": tel, "bzero": bzero, "pixel_sum": total,
        "n_cards": n_cards, "error": None,
    }


FITS_SCHEMA = ("doc_id long, bitpix int, width int, height int, "
               "telescope string, bzero int, pixel_sum bigint, "
               "n_cards int, error string")


def extract_fits_features(df: DataFrame, content_col: str = "content",
                          id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> header + array facts via one
    Arrow-batched mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_fits, FITS_SCHEMA, id_col, content_col)
