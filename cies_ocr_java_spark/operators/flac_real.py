"""REAL FLAC metadata blocks: the lossless-audio header walk.

FLAC rounds out the audio-container family (WAV = raw RIFF, MP3 =
frame-walk, OGG = lacing pages): after the ``fLaC`` magic comes a chain
of metadata blocks — 1-byte header (bit 7 = LAST-block flag, bits 0..6
= type) + 24-bit big-endian length + body — that MUST begin with
STREAMINFO, whose audio facts are bit-packed (sample rate 20 bits,
channels-1 3, bits-per-sample-1 5, total samples 36 — a field layout
that only yields to real bit arithmetic, not struct formats).

The instructive quirk mirrors id3_real's syncsafe note: FLAC is a
BIG-endian format, but its VORBIS_COMMENT block is imported verbatim
from the Vorbis spec and is LITTLE-endian inside (u32 vendor length,
u32 comment count, per-comment u32 length + UTF-8 ``KEY=value``) — an
endianness island a single-convention reader corrupts.

Gates: STREAMINFO first and exactly once, valid block types (127 is
explicitly invalid per spec), PADDING bodies all-zero, comments must
contain ``=``, the chain must end exactly at the last-block flag with
the audio sync byte (0xFF) following. Error rows, never exceptions."""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

__all__ = ["build_flac", "parse_flac", "extract_flac_features",
           "FLAC_FEATURES_SCHEMA"]

_T_STREAMINFO, _T_PADDING, _T_SEEKTABLE, _T_VORBIS = 0, 1, 3, 4


def _block(btype: int, body: bytes, last: bool = False) -> bytes:
    return bytes([(0x80 if last else 0) | btype]) + len(body).to_bytes(
        3, "big") + body


def _streaminfo(rate: int, channels: int, bits: int,
                total: int) -> bytes:
    packed = (rate << 44) | ((channels - 1) << 41) | ((bits - 1) << 36) \
        | total
    return (struct.pack(">HH", 4096, 4096)
            + (24_000).to_bytes(3, "big") + (48_000).to_bytes(3, "big")
            + packed.to_bytes(8, "big")
            + bytes(16))  # md5 of audio (zeros in the subset)


def _vorbis_comment(vendor: str, comments: list[str]) -> bytes:
    vb = vendor.encode("utf-8")
    out = struct.pack("<I", len(vb)) + vb
    out += struct.pack("<I", len(comments))
    for c in comments:
        cb = c.encode("utf-8")
        out += struct.pack("<I", len(cb)) + cb
    return out


def build_flac(rate: int, channels: int, bits: int, total: int,
               vendor: str, comments: list[str], *,
               n_seekpoints: int = 2, padding: int = 32,
               poison: str | None = None) -> bytes:
    """Emit a real FLAC header chain + one audio sync byte. ``poison``:
    ``not_first`` (STREAMINFO swapped behind the seektable),
    ``dirty_padding``, ``no_equals`` (first comment loses its '='),
    ``truncated`` (last block's declared length overruns the file)."""
    if poison == "no_equals":
        comments = [comments[0].replace("=", ":", 1)] + comments[1:]
    si = _block(_T_STREAMINFO, _streaminfo(rate, channels, bits, total))
    seek = _block(_T_SEEKTABLE, bytes(18 * n_seekpoints))
    vc = _block(_T_VORBIS, _vorbis_comment(vendor, comments))
    pad_body = bytearray(padding)
    if poison == "dirty_padding" and padding >= 3:
        pad_body[1] = 0x42
    pad = _block(_T_PADDING, bytes(pad_body), last=True)
    if poison == "truncated":
        # declared length stays, body is chopped
        pad = pad[:4 + max(0, padding - 8)]
        return b"fLaC" + si + seek + vc + pad
    blocks = [si, seek, vc, pad]
    if poison == "not_first":
        blocks = [seek, si, vc, pad]
    return b"fLaC" + b"".join(blocks) + b"\xff\xf8"  # frame sync start


class _FlacError(Exception):
    pass


def parse_flac(data: bytes | None) -> dict:
    """-> {sample_rate, channels, bits, total_samples, n_blocks,
    vendor, n_comments, fields: {KEY: value}, padding_bytes, error}."""
    none = {"sample_rate": None, "channels": None, "bits": None,
            "total_samples": None, "n_blocks": None, "vendor": None,
            "n_comments": None, "fields": None, "padding_bytes": None}
    if data is None or len(data) < 8:
        return {**none, "error": "short or missing payload"}
    data = bytes(data)
    try:
        if data[:4] != b"fLaC":
            raise _FlacError("bad magic")
        pos = 4
        n_blocks = 0
        si = None
        vendor = None
        fields: dict[str, str] = {}
        n_comments = 0
        padding_bytes = 0
        last_seen = False
        while not last_seen:
            if pos + 4 > len(data):
                raise _FlacError("truncated block header")
            hdr = data[pos]
            last_seen = bool(hdr & 0x80)
            btype = hdr & 0x7F
            if btype == 127:
                raise _FlacError("invalid block type 127")
            length = int.from_bytes(data[pos + 1:pos + 4], "big")
            body_at = pos + 4
            if body_at + length > len(data):
                raise _FlacError("truncated block body")
            body = data[body_at:body_at + length]
            if n_blocks == 0 and btype != _T_STREAMINFO:
                raise _FlacError("streaminfo not first")
            if btype == _T_STREAMINFO:
                if si is not None:
                    raise _FlacError("duplicate streaminfo")
                if length != 34:
                    raise _FlacError("bad streaminfo length")
                packed = int.from_bytes(body[10:18], "big")
                si = {
                    "sample_rate": packed >> 44,
                    "channels": ((packed >> 41) & 0x7) + 1,
                    "bits": ((packed >> 36) & 0x1F) + 1,
                    "total_samples": packed & ((1 << 36) - 1),
                }
            elif btype == _T_PADDING:
                if body.strip(b"\x00"):
                    raise _FlacError("dirty padding")
                padding_bytes += length
            elif btype == _T_VORBIS:
                # the little-endian island inside a big-endian format
                p = 0
                if p + 4 > length:
                    raise _FlacError("truncated vorbis comment")
                (vlen,) = struct.unpack_from("<I", body, p)
                p += 4
                if p + vlen > length:
                    raise _FlacError("truncated vorbis comment")
                vendor = body[p:p + vlen].decode("utf-8")
                p += vlen
                if p + 4 > length:
                    raise _FlacError("truncated vorbis comment")
                (cnt,) = struct.unpack_from("<I", body, p)
                p += 4
                for _ in range(cnt):
                    if p + 4 > length:
                        raise _FlacError("truncated vorbis comment")
                    (clen,) = struct.unpack_from("<I", body, p)
                    p += 4
                    if p + clen > length:
                        raise _FlacError("truncated vorbis comment")
                    c = body[p:p + clen].decode("utf-8")
                    p += clen
                    if "=" not in c:
                        raise _FlacError("malformed vorbis comment")
                    k, v = c.split("=", 1)
                    # field names are case-insensitive ASCII per spec
                    fields[k.upper()] = v
                    n_comments += 1
                if p != length:
                    raise _FlacError("trailing bytes in vorbis comment")
            n_blocks += 1
            pos = body_at + length
        if si is None:
            raise _FlacError("missing streaminfo")
        if pos >= len(data) or data[pos] != 0xFF:
            raise _FlacError("missing audio sync")
        return {**si, "n_blocks": n_blocks, "vendor": vendor,
                "n_comments": n_comments, "fields": fields,
                "padding_bytes": padding_bytes, "error": None}
    except (_FlacError, UnicodeDecodeError) as e:
        if isinstance(e, UnicodeDecodeError):
            return {**none, "error": "non-utf8 vorbis text"}
        return {**none, "error": str(e)}


def _flac_row(b: bytes | None) -> dict:
    """parse_flac's row with the TITLE/ARTIST comments projected."""
    r = parse_flac(b)
    f = r["fields"] or {}
    return {**r, "title": f.get("TITLE"), "artist": f.get("ARTIST")}


FLAC_FEATURES_SCHEMA = (
    "doc_id long, sample_rate int, channels int, bits int, "
    "total_samples bigint, n_blocks int, vendor string, n_comments int, "
    "title string, artist string, padding_bytes int, error string"
)


def extract_flac_features(df: DataFrame, content_col: str = "content",
                          id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> header rows projecting TITLE/ARTIST."""
    return map_blobs(df, _flac_row, FLAC_FEATURES_SCHEMA, id_col, content_col)
