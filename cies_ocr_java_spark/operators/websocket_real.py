"""WebSocket (RFC 6455) frame walker — the wire format whose
payload is never stored as sent: client frames are MASKED by a
4-byte key XORed cyclically over the payload (the MASK bit decides
whether the key field exists at all; a server frame with the bit
set, or a client frame without it, is a protocol violation caught
by name), lengths use the 7-bit field with escapes 126 (u16) and
127 (u64) that MUST be minimal (a 16-bit length holding a value
< 126 is the overlong-encoding aliasing bug, rejected like UTF-7's
nonzero trailing bits), and messages FRAGMENT: opcode rides only
the FIRST frame, continuations carry opcode 0, FIN marks the last
— but CONTROL frames (ping/pong/close) may interleave between
fragments and must never fragment themselves (FIN=0 on a control
frame is a violation). Close frames carry a u16 BE status code.

Text messages (opcode 1) are UTF-8 validated AFTER reassembly —
a codepoint split across fragments is legal on the wire and only
checkable once joined (the mime/decode-at-the-group-level lesson).

Failure contract: every malformed stream yields an error ROW.

Reference parity: none — wire-protocol recovery is
beyond-reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs


def _mask(payload: bytes, key: bytes) -> bytes:
    return bytes(b ^ key[k % 4] for k, b in enumerate(payload))


def build_frame(opcode: int, payload: bytes, *, fin: bool = True,
                masked: bool = True, key: bytes = b"\x12\x34\x56\x78",
                overlong: bool = False) -> bytes:
    out = bytearray()
    out.append((0x80 if fin else 0) | opcode)
    n = len(payload)
    mbit = 0x80 if masked else 0
    if overlong:
        out.append(mbit | 126)
        out += n.to_bytes(2, "big")
    elif n < 126:
        out.append(mbit | n)
    elif n < 1 << 16:
        out.append(mbit | 126)
        out += n.to_bytes(2, "big")
    else:
        out.append(mbit | 127)
        out += n.to_bytes(8, "big")
    if masked:
        out += key
        out += _mask(payload, key)
    else:
        out += payload
    return bytes(out)


def build_stream(messages: list[tuple[int, bytes, int]], *,
                 client: bool = True,
                 interleave_ping: bool = False,
                 fragment_control: bool = False,
                 unmasked_one: bool = False,
                 overlong_one: bool = False,
                 chop: int = 0) -> bytes:
    """messages: (opcode, payload, n_fragments). Data messages are
    split into n_fragments; a ping (and its pong in server
    streams) can interleave between the first message's fragments."""
    out = bytearray()
    for mi, (opcode, payload, nfrag) in enumerate(messages):
        if opcode >= 8:
            out += build_frame(opcode, payload, masked=client,
                               fin=not fragment_control)
            continue
        step = max(1, len(payload) // nfrag)
        parts = [payload[k:k + step]
                 for k in range(0, len(payload), step)]
        while len(parts) > nfrag:
            parts[-2] += parts[-1]
            del parts[-1]
        for fi, part in enumerate(parts):
            op = opcode if fi == 0 else 0
            fin = fi == len(parts) - 1
            masked = client and not (unmasked_one
                                     and mi == 0 and fi == 0)
            out += build_frame(
                op, part, fin=fin, masked=masked,
                key=bytes(((mi + fi + k) % 256) for k in range(4)),
                overlong=overlong_one and mi == 0 and fi == 0
                and len(part) < 126)
            if interleave_ping and mi == 0 and fi == 0 \
                    and len(parts) > 1:
                out += build_frame(9, b"hb", masked=client)
    if chop:
        del out[-chop:]
    return bytes(out)


_WS_NONE = {
    "n_frames": None, "n_messages": None, "n_control": None,
    "text_chars": None, "binary_bytes": None, "n_fragmented": None,
    "close_code": None,
}


def parse_ws_stream(data: bytes | None, *,
                    client: bool = True) -> dict:
    """Walk a stream of frames sent by a client (masked) or server
    (unmasked)."""
    if data is None or len(data) < 2:
        return {**_WS_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        pos = 0
        n_frames = n_msgs = n_ctl = n_frag = 0
        text_chars = 0
        bin_bytes = 0
        close_code = None
        cur_op = None
        cur: bytearray | None = None
        cur_parts = 0

        def take(n: int) -> bytes:
            nonlocal pos
            if pos + n > len(data):
                raise ValueError("truncated frame")
            b = data[pos:pos + n]
            pos += n
            return b

        while pos < len(data):
            b0, b1 = take(2)
            fin = bool(b0 & 0x80)
            if b0 & 0x70:
                raise ValueError("reserved bits set")
            opcode = b0 & 0x0F
            masked = bool(b1 & 0x80)
            if masked != client:
                raise ValueError("mask bit violates role")
            n = b1 & 0x7F
            if n == 126:
                n = int.from_bytes(take(2), "big")
                if n < 126:
                    raise ValueError("overlong length encoding")
            elif n == 127:
                n = int.from_bytes(take(8), "big")
                if n < 1 << 16:
                    raise ValueError("overlong length encoding")
            key = take(4) if masked else b""
            payload = take(n)
            if masked:
                payload = _mask(payload, key)
            n_frames += 1

            if opcode >= 8:
                if not fin:
                    raise ValueError("fragmented control frame")
                if n > 125:
                    raise ValueError("control payload too long")
                n_ctl += 1
                if opcode == 8 and n >= 2:
                    close_code = int.from_bytes(payload[:2], "big")
                continue
            if opcode == 0:
                if cur is None:
                    raise ValueError("continuation without start")
                cur += payload
                cur_parts += 1
            else:
                if cur is not None:
                    raise ValueError("new message inside fragment")
                cur_op = opcode
                cur = bytearray(payload)
                cur_parts = 1
            if fin:
                n_msgs += 1
                if cur_parts > 1:
                    n_frag += 1
                if cur_op == 1:
                    try:
                        text_chars += len(cur.decode("utf-8"))
                    except UnicodeDecodeError:
                        raise ValueError(
                            "invalid utf-8 after reassembly"
                        ) from None
                else:
                    bin_bytes += len(cur)
                cur = None
                cur_op = None
        if cur is not None:
            raise ValueError("stream ends inside a message")
    except ValueError as e:
        return {**_WS_NONE, "error": str(e)}
    return {
        "n_frames": n_frames, "n_messages": n_msgs,
        "n_control": n_ctl, "text_chars": text_chars,
        "binary_bytes": bin_bytes, "n_fragmented": n_frag,
        "close_code": close_code, "error": None,
    }


_WS_SCHEMA = (
    "doc_id long, n_frames int, n_messages int, n_control int, "
    "text_chars bigint, binary_bytes bigint, n_fragmented int, "
    "close_code int, error string"
)


def extract_ws_features(df: DataFrame, content_col: str = "content",
                        id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_ws_stream, _WS_SCHEMA, id_col, content_col)
