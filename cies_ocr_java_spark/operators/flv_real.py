"""FLV container walker — the streaming-era tag format with its own
redundancy discipline: every tag is FOLLOWED by a u32 PrevTagSize
that must equal 11 + DataSize of the tag just read (verified at
every seam — the pcapng double-length lesson in RTMP clothing), a
24-bit timestamp whose EXTENSION byte supplies bits 24..31 (stored
AFTER the low 24 bits in the layout, so naive u32 reads are wrong;
streams longer than ~4.6 h exist only via this byte), a StreamID
that is always zero in a file (nonzero = muxer bug, rejected by
name), and script tags carrying AMF0: the "onMetaData" string
marker + ECMA array whose declared count is advisory but whose
terminator (u16 0 + 0x09 object-end) is mandatory. Numbers in AMF0
are ALWAYS f64 BE — width/height/duration arrive as doubles and
are converted exactly (fixture values chosen binary-exact).

Failure contract: every malformed stream yields an error ROW.

Reference parity: none — media containers are Textract's problem
in the reference; structure recovery is beyond-reference.
"""

from __future__ import annotations

import math
import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs


def _amf_str(s: str) -> bytes:
    raw = s.encode()
    return len(raw).to_bytes(2, "big") + raw


def build_flv(meta: dict[str, float | bool],
              tags: list[tuple[int, int, bytes]], *,
              bad_sig: bool = False, lie_prevsize: bool = False,
              nonzero_stream: bool = False, drop_end: bool = False,
              chop: int = 0) -> bytes:
    """meta -> one leading script tag; tags = (type, ts, data)."""
    out = bytearray()
    out += b"FLV" if not bad_sig else b"FLW"
    out.append(1)
    out.append(0x05)  # audio + video present
    out += (9).to_bytes(4, "big")
    out += (0).to_bytes(4, "big")  # PrevTagSize0

    def emit_tag(ttype: int, ts: int, data: bytes,
                 lie: bool = False, sid: int = 0) -> None:
        out.append(ttype)
        out.extend(len(data).to_bytes(3, "big"))
        out.extend((ts & 0xFFFFFF).to_bytes(3, "big"))
        out.append((ts >> 24) & 0xFF)
        out.extend(sid.to_bytes(3, "big"))
        out.extend(data)
        out.extend((11 + len(data)
                    + (4 if lie else 0)).to_bytes(4, "big"))

    amf = bytearray()
    amf.append(0x02)
    amf += _amf_str("onMetaData")
    amf.append(0x08)
    amf += len(meta).to_bytes(4, "big")
    for k, v in meta.items():
        amf += _amf_str(k)
        if isinstance(v, bool):
            amf += bytes((0x01, 1 if v else 0))
        else:
            amf.append(0x00)
            amf += struct.pack(">d", float(v))
    amf += (0).to_bytes(2, "big")
    if not drop_end:
        amf.append(0x09)
    emit_tag(18, 0, bytes(amf))
    for j, (ttype, ts, data) in enumerate(tags):
        emit_tag(ttype, ts, data, lie=lie_prevsize and j == 0,
                 sid=7 if nonzero_stream and j == 0 else 0)
    if chop:
        del out[-chop:]
    return bytes(out)


_FLV_NONE = {
    "n_audio": None, "n_video": None, "n_script": None,
    "payload_bytes": None, "duration_ms": None, "width": None,
    "height": None, "last_ts": None,
}


def parse_flv(data: bytes | None) -> dict:
    if data is None or len(data) < 13:
        return {**_FLV_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        if data[:3] != b"FLV" or data[3] != 1:
            raise ValueError("bad signature")
        off = int.from_bytes(data[5:9], "big")
        if off != 9:
            raise ValueError("bad data offset")
        if int.from_bytes(data[9:13], "big") != 0:
            raise ValueError("bad first prev tag size")
        pos = 13
        n_a = n_v = n_s = 0
        payload = 0
        last_ts = 0
        duration_ms = width = height = None
        while pos < len(data):
            if pos + 11 > len(data):
                raise ValueError("truncated tag header")
            ttype = data[pos]
            dsize = int.from_bytes(data[pos + 1:pos + 4], "big")
            ts = int.from_bytes(data[pos + 4:pos + 7], "big") \
                | (data[pos + 7] << 24)
            sid = int.from_bytes(data[pos + 8:pos + 11], "big")
            if sid != 0:
                raise ValueError("nonzero stream id")
            body_at = pos + 11
            if body_at + dsize + 4 > len(data):
                raise ValueError("truncated tag body")
            prev = int.from_bytes(
                data[body_at + dsize:body_at + dsize + 4], "big")
            if prev != 11 + dsize:
                raise ValueError("prev tag size mismatch")
            body = data[body_at:body_at + dsize]
            last_ts = ts
            if ttype == 8:
                n_a += 1
                payload += dsize
            elif ttype == 9:
                n_v += 1
                payload += dsize
            elif ttype == 18:
                n_s += 1
                props = _parse_amf_meta(body)
                # Degradation contract: AMF doubles can be +/-inf, which
                # int() raises OverflowError on (NaN raises ValueError and
                # is already caught) — gate before converting so a poisoned
                # duration yields an error row, never a task crash.
                for key in ("duration", "width", "height"):
                    if key in props and not math.isfinite(props[key]):
                        raise ValueError("non-finite value")
                if "duration" in props:
                    duration_ms = int(props["duration"] * 1000)
                if "width" in props:
                    width = int(props["width"])
                if "height" in props:
                    height = int(props["height"])
            else:
                raise ValueError("unknown tag type")
            pos = body_at + dsize + 4
    except ValueError as e:
        return {**_FLV_NONE, "error": str(e)}
    return {
        "n_audio": n_a, "n_video": n_v, "n_script": n_s,
        "payload_bytes": payload, "duration_ms": duration_ms,
        "width": width, "height": height, "last_ts": last_ts,
        "error": None,
    }


def _parse_amf_meta(body: bytes) -> dict:
    pos = 0

    def take(n: int) -> bytes:
        nonlocal pos
        if pos + n > len(body):
            raise ValueError("bad amf metadata")
        b = body[pos:pos + n]
        pos += n
        return b

    if take(1)[0] != 0x02:
        raise ValueError("bad amf metadata")
    nlen = int.from_bytes(take(2), "big")
    if take(nlen) != b"onMetaData":
        raise ValueError("bad amf metadata")
    if take(1)[0] != 0x08:
        raise ValueError("bad amf metadata")
    take(4)  # advisory count
    props: dict = {}
    while True:
        klen = int.from_bytes(take(2), "big")
        if klen == 0:
            if pos >= len(body) or take(1)[0] != 0x09:
                raise ValueError("missing object end marker")
            break
        key = take(klen).decode("utf-8", errors="replace")
        marker = take(1)[0]
        if marker == 0x00:
            props[key] = struct.unpack(">d", take(8))[0]
        elif marker == 0x01:
            props[key] = take(1)[0] != 0
        elif marker == 0x02:
            props[key] = take(int.from_bytes(take(2), "big")).decode(
                "utf-8", errors="replace")
        else:
            raise ValueError("bad amf metadata")
    if pos != len(body):
        raise ValueError("trailing bytes after metadata")
    return props


_FLV_SCHEMA = (
    "doc_id long, n_audio int, n_video int, n_script int, "
    "payload_bytes bigint, duration_ms bigint, width int, "
    "height int, last_ts bigint, error string"
)


def extract_flv_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_flv, _FLV_SCHEMA, id_col, content_col)
