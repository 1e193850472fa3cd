"""HEIF/AVIF image containers: the ISO-BMFF `meta` ITEM system.

HEIC (iPhone photos) and AVIF (the web's AV1 image format) are not
video files, but they live in the same ISO-BMFF wrapper mp4_real.py
walks — with a twist worth pinning: their payloads are ITEMS, not
tracks. A `meta` box carries `hdlr` (handler must be 'pict'), `pitm`
(the primary item), `iinf`/`infe` (item ids and four-char types), and
`iloc` — an offset/length table whose entries point back into `mdat`
(construction method 0: absolute file offsets), with FIELD WIDTHS
chosen per file by four size nibbles.

The classic trap this module makes explicit: `meta` is a FULLBOX —
unlike every container mp4_real recurses into, its children start 4
bytes in (version + flags). A walker that treats it as a plain
container reads the version byte as the first child's size and
desyncs. The walk itself (box framing, largesize, bounds) is REUSED
from mp4_real._walk — one framing implementation, two payload models.

Reader gates: brand, meta version, handler, iloc size nibbles (the
4/4/0/0 subset), items present in BOTH iinf and iloc, extents inside
the file, primary item resolvable. Every payload byte of the primary
item is read back and summed (random access proven, never header
trust — the mp4_real discipline). Error rows, never exceptions."""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.mp4_real import (
    _box,
    _full,
    _U32,
    _walk,
)
from cies_ocr_java_spark.operators.walker import map_blobs

__all__ = ["build_heif", "parse_heif", "extract_heif_features",
           "HEIF_FEATURES_SCHEMA"]


def build_heif(items: list[tuple[str, bytes]], primary_idx: int, *,
               poison: str | None = None) -> bytes:
    """Emit a real mif1-brand HEIF: ftyp + meta(hdlr/pitm/iinf/iloc) +
    mdat with item payloads; item ids are 1-based list positions.
    ``poison``: ``meta_version`` (meta FullBox version=1),
    ``dangling_pitm`` (primary id 99), ``extent_oob`` (first item's
    iloc length overstated past EOF), ``iloc_sizes`` (8-byte offset
    nibble, outside the subset)."""
    ftyp = _box(b"ftyp", b"mif1" + _U32.pack(0) + b"mif1" + b"heic")
    hdlr = _full(b"hdlr", 0, 0,
                 _U32.pack(0) + b"pict" + b"\x00" * 12 + b"img\x00")
    pid = 99 if poison == "dangling_pitm" else primary_idx + 1
    pitm = _full(b"pitm", 0, 0, struct.pack(">H", pid))
    infes = b""
    for j, (itype, _payload) in enumerate(items):
        infes += _full(b"infe", 2, 0,
                       struct.pack(">HH", j + 1, 0)
                       + itype.encode("latin-1")[:4].ljust(4, b" ")
                       + b"\x00")
    iinf = _full(b"iinf", 0, 0, struct.pack(">H", len(items)) + infes)

    # iloc needs final absolute offsets: compute meta size first via a
    # fixed-point (iloc's own size depends only on item count)
    iloc_body_len = 2 + 2 + len(items) * (2 + 2 + 2 + 4 + 4)
    iloc_len = 12 + iloc_body_len
    meta_children_len = (len(hdlr) + len(pitm) + len(iinf) + iloc_len)
    meta_len = 12 + meta_children_len
    mdat_payload_at = len(ftyp) + meta_len + 8
    sizes_nibbles = bytes([0x84 if poison == "iloc_sizes" else 0x44, 0x00])
    body = sizes_nibbles + struct.pack(">H", len(items))
    off = mdat_payload_at
    for j, (_itype, payload) in enumerate(items):
        length = len(payload)
        if poison == "extent_oob" and j == 0:
            length += 1 << 16
        body += struct.pack(">HHH", j + 1, 0, 1)
        body += struct.pack(">II", off, length)
        off += len(payload)
    iloc = _full(b"iloc", 0, 0, body)
    assert len(iloc) == iloc_len
    meta = _full(b"meta",
                 1 if poison == "meta_version" else 0, 0,
                 hdlr + pitm + iinf + iloc)
    assert len(meta) == meta_len
    mdat = _box(b"mdat", b"".join(p for _, p in items))
    return ftyp + meta + mdat


def parse_heif(data: bytes | None) -> dict:
    """-> {brand, n_items, primary_id, primary_type, primary_sum,
    items, error}; items is 'id:type:len' in iinf order."""
    none = {"brand": None, "n_items": None, "primary_id": None,
            "primary_type": None, "primary_sum": None, "items": None}
    if data is None or len(data) < 16:
        return {**none, "error": "short or missing payload"}
    data = bytes(data)
    try:
        brand = None
        meta_span = None
        for btype, body, bend in _walk(data, 0, len(data)):
            if btype == b"ftyp":
                brand = data[body:body + 4].decode("latin-1")
            elif btype == b"meta":
                meta_span = (body, bend)
        if brand not in ("mif1", "heic", "avif"):
            raise ValueError(f"not a heif brand: {brand!r}")
        if meta_span is None:
            raise ValueError("missing meta box")
        mbody, mend = meta_span
        # meta is a FULLBOX: version+flags precede the child boxes
        if data[mbody] != 0:
            raise ValueError("unsupported meta version")
        handler = None
        primary_id = None
        infos: list[tuple[int, str]] = []
        locs: dict[int, tuple[int, int]] = {}
        for btype, body, bend in _walk(data, mbody + 4, mend):
            if btype == b"hdlr":
                handler = data[body + 8:body + 12].decode("latin-1")
            elif btype == b"pitm":
                (primary_id,) = struct.unpack_from(">H", data, body + 4)
            elif btype == b"iinf":
                (cnt,) = struct.unpack_from(">H", data, body + 4)
                for ibt, ibody, _ibend in _walk(data, body + 6, bend):
                    if ibt != b"infe":
                        continue
                    iid, _prot = struct.unpack_from(">HH", data, ibody + 4)
                    itype = data[ibody + 8:ibody + 12].decode(
                        "latin-1").rstrip()
                    infos.append((iid, itype))
                if len(infos) != cnt:
                    raise ValueError("iinf count mismatch")
            elif btype == b"iloc":
                p = body + 4
                nib1, _nib2 = data[p], data[p + 1]
                if nib1 != 0x44 or _nib2 != 0x00:
                    raise ValueError("unsupported iloc sizes")
                (cnt,) = struct.unpack_from(">H", data, p + 2)
                p += 4
                for _ in range(cnt):
                    iid, _dri, ecnt = struct.unpack_from(">HHH", data, p)
                    p += 6
                    if ecnt != 1:
                        raise ValueError("multi-extent items unsupported")
                    o, ln = struct.unpack_from(">II", data, p)
                    p += 8
                    if o + ln > len(data):
                        raise ValueError("item extent beyond file")
                    locs[iid] = (o, ln)
        if handler != "pict":
            raise ValueError("meta handler is not pict")
        if primary_id is None:
            raise ValueError("missing pitm")
        items_desc = []
        ptype = None
        for iid, itype in infos:
            if iid not in locs:
                raise ValueError("item missing from iloc")
            items_desc.append(f"{iid}:{itype}:{locs[iid][1]}")
            if iid == primary_id:
                ptype = itype
        if ptype is None:
            raise ValueError("primary item not found")
        o, ln = locs[primary_id]
        return {"brand": brand, "n_items": len(infos),
                "primary_id": primary_id, "primary_type": ptype,
                "primary_sum": sum(data[o:o + ln]),
                "items": ",".join(items_desc), "error": None}
    except (ValueError, struct.error) as e:
        if isinstance(e, struct.error):
            return {**none, "error": "truncated heif structure"}
        return {**none, "error": str(e)}


HEIF_FEATURES_SCHEMA = (
    "doc_id long, brand string, n_items int, primary_id int, "
    "primary_type string, primary_sum bigint, items string, error string"
)


def extract_heif_features(df: DataFrame, content_col: str = "content",
                          id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> item-walk rows, one Arrow-batched pass."""
    return map_blobs(df, parse_heif, HEIF_FEATURES_SCHEMA, id_col, content_col)
