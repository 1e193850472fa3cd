"""HTTP/2 (RFC 7540) frame walker composing the HPACK layer
(operators/hpack_real.py — netty-interop-pinned): the connection
preface string, 9-byte frame headers (u24 length / u8 type / u8
flags / u31 stream id), and the three rules implementations get
wrong: (1) the HPACK dynamic table is CONNECTION-scoped, not
frame-scoped — a header indexed by an earlier HEADERS frame
resolves in a later one on a DIFFERENT stream, so the decoder here
keeps ONE codec across the walk (calling the per-block parser
would silently decode garbage names); (2) a HEADERS frame without
END_HEADERS must be followed by CONTINUATION frames on the SAME
stream with NOTHING in between — and the HPACK block may split at
ANY byte, even mid-integer, so fragments must be joined before
decoding (the WebSocket UTF-8 lesson at the compression layer);
(3) PADDED frames carry a pad-length byte whose value must be
strictly less than the remaining payload. SETTINGS live on stream
0 only, ACKs must be empty, WINDOW_UPDATE increments must be
nonzero, GOAWAY carries last-stream-id + error code.

Failure contract: every malformed connection yields an error ROW.

Reference parity: none — wire-protocol recovery is
beyond-reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.hpack_real import (
    HpackCodec,
    _decode_int,
    _decode_str,
    encode_header_block,
)
from cies_ocr_java_spark.operators.walker import map_blobs

_PREFACE = b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n"
_MAX_FRAME = 16384


def frame(ftype: int, flags: int, stream: int,
          payload: bytes) -> bytes:
    return (len(payload).to_bytes(3, "big") + bytes((ftype, flags))
            + stream.to_bytes(4, "big") + payload)


def build_connection(streams: list[tuple[int,
                                         list[tuple[str, str, str]],
                                         bytes]], *,
                     split_headers_at: int = 0,
                     pad_data: int = 0,
                     interleave_bad: bool = False,
                     settings_on_stream: bool = False,
                     ack_with_payload: bool = False,
                     zero_window: bool = False,
                     chop: int = 0) -> bytes:
    """streams: (stream_id, headers, data). One client connection:
    preface, SETTINGS, per stream HEADERS (+CONTINUATION when
    split_headers_at > 0, applied to the FIRST stream) then DATA,
    then PING + WINDOW_UPDATE + GOAWAY."""
    codec = HpackCodec(4096)
    out = bytearray(_PREFACE)
    sid = 1 if settings_on_stream else 0
    out += frame(4, 0, sid, (3).to_bytes(2, "big")
                 + (100).to_bytes(4, "big"))
    out += frame(4, 0x1, 0, b"\x00" if ack_with_payload else b"")
    for si, (stream_id, headers, data) in enumerate(streams):
        block = encode_header_block(headers, codec, huffman=True)
        if si == 0 and split_headers_at and len(block) > 1:
            cut = min(split_headers_at, len(block) - 1)
            out += frame(1, 0, stream_id, block[:cut])
            if interleave_bad:
                out += frame(6, 0, 0, b"\x00" * 8)
            out += frame(9, 0x4, stream_id, block[cut:])
        else:
            out += frame(1, 0x4, stream_id, block)
        if data:
            if pad_data and si == 0:
                payload = bytes((pad_data,)) + data \
                    + b"\x00" * pad_data
                out += frame(0, 0x1 | 0x8, stream_id, payload)
            else:
                out += frame(0, 0x1, stream_id, data)
    out += frame(6, 0, 0, b"\x12\x34\x56\x78\x9a\xbc\xde\xf0")
    out += frame(8, 0, 0,
                 (0 if zero_window else 512).to_bytes(4, "big"))
    out += frame(7, 0, 0, (max(s for s, _, _ in streams)
                           ).to_bytes(4, "big")
                 + (0).to_bytes(4, "big") + b"bye")
    if chop:
        del out[-chop:]
    return bytes(out)


_H2_NONE = {
    "n_frames": None, "n_streams": None, "n_headers": None,
    "data_bytes": None, "n_settings": None, "n_pings": None,
    "window_delta": None, "goaway_last_stream": None,
    "dyn_entries": None,
}


def parse_connection(data: bytes | None) -> dict:
    if data is None or len(data) < len(_PREFACE):
        return {**_H2_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        if not data.startswith(_PREFACE):
            raise ValueError("missing connection preface")
        pos = len(_PREFACE)
        codec = HpackCodec(4096)
        n_frames = n_headers = n_settings = n_pings = 0
        data_bytes = 0
        window_delta = 0
        goaway_last = None
        streams: set[int] = set()
        pending: bytearray | None = None
        pending_stream = 0

        def decode_block(block: bytes) -> int:
            nonlocal n_headers
            p = 0
            cnt = 0
            while p < len(block):
                b = block[p]
                if b & 0x80:
                    idx, p = _decode_int(block, p, 7)
                    codec.lookup(idx)
                elif b & 0x40:
                    idx, p = _decode_int(block, p, 6)
                    if idx:
                        name = codec.lookup(idx)[0]
                    else:
                        name, p, _h = _decode_str(block, p)
                    value, p, _h = _decode_str(block, p)
                    codec.add(name, value)
                elif b & 0x20:
                    new_max, p = _decode_int(block, p, 5)
                    codec.resize(new_max)
                    continue
                else:
                    idx, p = _decode_int(block, p, 4)
                    if idx:
                        codec.lookup(idx)
                    else:
                        _n, p, _h = _decode_str(block, p)
                    _v, p, _h = _decode_str(block, p)
                cnt += 1
            n_headers += cnt
            return cnt

        while pos < len(data):
            if pos + 9 > len(data):
                raise ValueError("truncated frame header")
            ln = int.from_bytes(data[pos:pos + 3], "big")
            ftype = data[pos + 3]
            flags = data[pos + 4]
            stream = int.from_bytes(data[pos + 5:pos + 9],
                                    "big") & 0x7FFFFFFF
            if ln > _MAX_FRAME:
                raise ValueError("frame exceeds max size")
            if pos + 9 + ln > len(data):
                raise ValueError("truncated frame payload")
            payload = data[pos + 9:pos + 9 + ln]
            pos += 9 + ln
            n_frames += 1

            if pending is not None and ftype != 9:
                raise ValueError("expected continuation")
            if ftype == 9 and pending is None:
                raise ValueError("continuation without headers")

            if ftype == 4:
                if stream != 0:
                    raise ValueError("settings on nonzero stream")
                if flags & 0x1:
                    if ln:
                        raise ValueError("settings ack with payload")
                elif ln % 6:
                    raise ValueError("bad settings payload")
                n_settings += 1
            elif ftype == 1:
                body = payload
                if flags & 0x8:
                    if not body or body[0] >= len(body):
                        raise ValueError("padding exceeds payload")
                    body = body[1:len(body) - body[0]]
                if flags & 0x20:
                    if len(body) < 5:
                        raise ValueError("truncated priority")
                    body = body[5:]
                streams.add(stream)
                if flags & 0x4:
                    decode_block(bytes(body))
                else:
                    pending = bytearray(body)
                    pending_stream = stream
            elif ftype == 9:
                if stream != pending_stream:
                    raise ValueError("continuation on wrong stream")
                pending += payload
                if flags & 0x4:
                    decode_block(bytes(pending))
                    pending = None
            elif ftype == 0:
                body = payload
                if flags & 0x8:
                    if not body or body[0] >= len(body):
                        raise ValueError("padding exceeds payload")
                    body = body[1:len(body) - body[0]]
                data_bytes += len(body)
            elif ftype == 6:
                if ln != 8:
                    raise ValueError("bad ping payload")
                n_pings += 1
            elif ftype == 8:
                if ln != 4:
                    raise ValueError("bad window update")
                inc = int.from_bytes(payload, "big") & 0x7FFFFFFF
                if inc == 0:
                    raise ValueError("zero window increment")
                window_delta += inc
            elif ftype == 7:
                if ln < 8:
                    raise ValueError("bad goaway payload")
                goaway_last = int.from_bytes(payload[:4],
                                             "big") & 0x7FFFFFFF
            # other types (PRIORITY/RST/PUSH_PROMISE) are skipped
        if pending is not None:
            raise ValueError("connection ends inside headers")
    except (ValueError, UnicodeDecodeError) as e:
        msg = str(e) if isinstance(e, ValueError) \
            else "invalid utf-8 in header string"
        return {**_H2_NONE, "error": msg}
    return {
        "n_frames": n_frames, "n_streams": len(streams),
        "n_headers": n_headers, "data_bytes": data_bytes,
        "n_settings": n_settings, "n_pings": n_pings,
        "window_delta": window_delta,
        "goaway_last_stream": goaway_last,
        "dyn_entries": len(codec.table), "error": None,
    }


_H2_SCHEMA = (
    "doc_id long, n_frames int, n_streams int, n_headers int, "
    "data_bytes bigint, n_settings int, n_pings int, "
    "window_delta bigint, goaway_last_stream int, "
    "dyn_entries int, error string"
)


def extract_http2_features(df: DataFrame,
                           content_col: str = "content",
                           id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_connection, _H2_SCHEMA, id_col, content_col)
