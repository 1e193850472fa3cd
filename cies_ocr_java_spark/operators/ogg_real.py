"""REAL OGG container (RFC 3533): page walk, lacing reassembly, OGG CRC.

OGG is the audio/video container the open-web media tier ships in
(Vorbis/Opus/Theora), and its framing is genuinely different from the
length-prefixed containers already covered (mp4/mp3/wav): a LOGICAL
PACKET is carried as runs of 255-byte "lacing values" in per-page
segment tables — a lacing value of 255 means "packet continues", <255
ends it (so a 255-byte packet needs a trailing 0 lacing), and a packet
may SPAN PAGES, announced by the next page's continuation flag. A
reader that frames by searching for 'OggS' instead of walking lacing
sums will desync on payloads containing the capture pattern.

Checksum is the format's own CRC-32 flavor: polynomial 0x04C11DB7,
init 0, no reflection, no final xor, computed over the whole page with
the checksum field zeroed — table-driven here, and VERIFIED per page
before anything else is trusted.

Writer (``build_ogg``) packs UTF-8 packets into pages (bounded lacing
values per page to force real page-spanning), sets BOS/EOS/continuation
flags per the RFC, stamps granule positions (packets completed; -1 on a
page where none ends), and computes real CRCs — any ogg tool reads the
framing. Reader (``parse_ogg``) walks pages at EXACT offsets, verifies
version/CRC/serial/sequence/flag placement, reassembles packets across
page boundaries, and fails loudly on every malformed input (fixed error
strings — the degradation contract all container walkers share)."""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

__all__ = ["build_ogg", "parse_ogg", "extract_ogg_features",
           "OGG_FEATURES_SCHEMA", "LACING_PER_PAGE"]

_HDR = struct.Struct("<4sBBqIIIB")  # OggS, version, flags, granule,
                                    # serial, seq, crc, n_segments
LACING_PER_PAGE = 4  # writer bound: small pages force real spanning

_CRC_TABLE = []
for _i in range(256):
    _r = _i << 24
    for _ in range(8):
        _r = ((_r << 1) ^ 0x04C11DB7) if _r & 0x80000000 else (_r << 1)
        _r &= 0xFFFFFFFF
    _CRC_TABLE.append(_r)


def _ogg_crc(data: bytes) -> int:
    """The OGG CRC-32: poly 0x04C11DB7, init 0, MSB-first, no final
    xor — NOT zlib.crc32 (which is the reflected variant)."""
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC_TABLE[(crc >> 24) ^ b]
    return crc


def _lacings(packets: list[bytes]) -> list[tuple[int, bool]]:
    """Flatten packets to (lacing_value, ends_packet) pairs: a packet of
    length L emits L//255 values of 255 then L%255 (so exact multiples
    of 255 end with a REQUIRED 0 lacing)."""
    out: list[tuple[int, bool]] = []
    for p in packets:
        for _ in range(len(p) // 255):
            out.append((255, False))
        out.append((len(p) % 255, True))
    return out


def build_ogg(packets: list[bytes], serial: int, *,
              poison: str | None = None) -> bytes:
    """Emit a real single-stream OGG from packet payloads. ``poison``:
    ``crc`` (flip a CRC bit on page 0), ``seq_gap`` (bump the last
    page's sequence, CRC recomputed so the gap is what fails),
    ``version`` (version=1 on page 0, CRC valid), ``truncate`` (the
    final lacing value overstates its segment by one byte)."""
    lac = _lacings(packets)
    stream = b"".join(packets)
    pages = [lac[i:i + LACING_PER_PAGE]
             for i in range(0, len(lac), LACING_PER_PAGE)]
    out = bytearray()
    done = 0          # packets fully ended so far
    consumed = 0      # payload bytes consumed so far
    continued = False
    for pno, plac in enumerate(pages):
        flags = 0
        if continued:
            flags |= 0x01
        if pno == 0:
            flags |= 0x02
        if pno == len(pages) - 1:
            flags |= 0x04
        values = [v for v, _ in plac]
        if (poison == "truncate" and pno == len(pages) - 1):
            values = values[:-1] + [values[-1] + 1]
        ends = sum(1 for _, e in plac if e)
        done += ends
        granule = done if ends else -1
        payload = stream[consumed:consumed + sum(v for v, _ in plac)]
        consumed += len(payload)
        version = 1 if (poison == "version" and pno == 0) else 0
        seq = pno + (1 if poison == "seq_gap"
                     and pno == len(pages) - 1 else 0)
        hdr = bytearray(_HDR.pack(b"OggS", version, flags, granule,
                                  serial, seq, 0, len(values)))
        hdr += bytes(values)
        crc = _ogg_crc(bytes(hdr) + payload)
        if poison == "crc" and pno == 0:
            crc ^= 0x01
        struct.pack_into("<I", hdr, 22, crc)
        out += hdr + payload
        continued = not plac[-1][1]
    return bytes(out)


def parse_ogg(data: bytes | None) -> dict:
    """Structural parse of the single-stream OGG subset.

    Returns {n_pages, n_packets, serial, granule, text, error}: text is
    the UTF-8 packets joined by '|', granule the final page's position.
    Check order is fixed (capture -> header length -> version -> segment
    table -> payload bounds -> CRC -> serial -> sequence -> flags) so
    poisoned fixtures fail deterministically."""
    none = {"n_pages": None, "n_packets": None, "serial": None,
            "granule": None, "text": None}
    if data is None or len(data) < _HDR.size:
        return {**none, "error": "short or missing payload"}
    data = bytes(data)
    pos = 0
    n_pages = 0
    packets: list[bytes] = []
    cur = bytearray()
    prev_open = False   # a packet is mid-flight across the page boundary
    serial0: int | None = None
    granule_last = 0
    eos_seen = False
    while pos < len(data):
        if data[pos:pos + 4] != b"OggS":
            return {**none, "error": "bad capture pattern"}
        if pos + _HDR.size > len(data):
            return {**none, "error": "truncated page header"}
        (_, version, flags, granule, serial, seq, crc, nseg) = (
            _HDR.unpack_from(data, pos)
        )
        if version != 0:
            return {**none, "error": "unsupported version"}
        seg_at = pos + _HDR.size
        if seg_at + nseg > len(data):
            return {**none, "error": "truncated segment table"}
        lacing = data[seg_at:seg_at + nseg]
        body_at = seg_at + nseg
        body_len = sum(lacing)
        if body_at + body_len > len(data):
            return {**none, "error": "truncated page"}
        page = bytearray(data[pos:body_at + body_len])
        struct.pack_into("<I", page, 22, 0)
        if _ogg_crc(bytes(page)) != crc:
            return {**none, "error": "page crc mismatch"}
        if serial0 is None:
            serial0 = serial
        elif serial != serial0:
            return {**none, "error": "serial mismatch"}
        if seq != n_pages:
            return {**none, "error": "page sequence gap"}
        if bool(flags & 0x02) != (n_pages == 0):
            return {**none, "error": "misplaced bos flag"}
        if bool(flags & 0x01) != prev_open:
            return {**none, "error": "bad continuation flag"}
        if eos_seen:
            return {**none, "error": "data after eos"}
        at = body_at
        for v in lacing:
            cur += data[at:at + v]
            at += v
            if v < 255:
                packets.append(bytes(cur))
                cur.clear()
        prev_open = bool(nseg) and lacing[-1] == 255
        granule_last = granule
        eos_seen = bool(flags & 0x04)
        n_pages += 1
        pos = body_at + body_len
    if prev_open or cur:
        return {**none, "error": "unterminated packet"}
    if not eos_seen:
        return {**none, "error": "missing eos flag"}
    try:
        texts = [p.decode("utf-8") for p in packets]
    except UnicodeDecodeError:
        return {**none, "error": "non-utf8 packet"}
    return {"n_pages": n_pages, "n_packets": len(packets),
            "serial": serial0, "granule": granule_last,
            "text": "|".join(texts), "error": None}


OGG_FEATURES_SCHEMA = (
    "doc_id long, n_pages int, n_packets int, serial bigint, "
    "granule bigint, text string, error string"
)


def extract_ogg_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> walked ogg rows, one Arrow-batched pass."""
    return map_blobs(df, parse_ogg, OGG_FEATURES_SCHEMA, id_col, content_col)
