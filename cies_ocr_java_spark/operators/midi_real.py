"""REAL Standard MIDI File walker on stdlib struct — the music
world's 1988 interchange format, carrying two quirks every parser
must get right or silently mangle the data:

- RUNNING STATUS: a channel event may OMIT its status byte entirely,
  inheriting the previous one — the single most common SMF parsing
  bug, because the event stream is then only decodable STATEFULLY
  (and a meta/sysex event does NOT cancel... actually it DOES clear
  running status per the SMF spec — both directions are pinned);
- NOTE-ON VELOCITY 0 *IS* NOTE-OFF: the 0x9n opcode with velocity 0
  means release (it made running-status runs longer on 1988 cables);
  a parser counting "note ons" by opcode alone overcounts.

Also walked: VLQ delta times (big-endian 7-bit continuation — the
THIRD varint family in the repo beside protobuf's little-endian and
EBML's length-prefixed), 'MThd'/'MTrk' chunk framing with exact
lengths, meta events (tempo 0x51, the MANDATORY end-of-track 0x2F),
and per-channel-opcode operand arity (program change takes ONE data
byte where most take two — skipping uniformly desynchronizes).

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed file yields an error ROW — never an exception.

Reference parity: none — beyond-reference media operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_ONE_BYTE_OPS = (0xC0, 0xD0)  # program change, channel pressure


def vlq(v: int) -> bytes:
    out = [v & 0x7F]
    v >>= 7
    while v:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    return bytes(reversed(out))


def read_vlq(data: bytes, pos: int) -> tuple[int, int]:
    v = 0
    for _ in range(4):
        if pos >= len(data):
            raise ValueError("vlq overruns track")
        b = data[pos]
        pos += 1
        v = (v << 7) | (b & 0x7F)
        if not b & 0x80:
            return v, pos
    raise ValueError("vlq longer than 4 bytes")


def build_midi(notes: list[tuple[int, int, int]], tempo_us: int,
               division: int = 480, use_running: bool = True,
               drop_eot: bool = False, bad_header: bool = False
               ) -> bytes:
    """One-track SMF0: ``notes`` = (delta, key, velocity) note-ons on
    channel 0, each followed 60 ticks later by a velocity-0 note-on
    (the release idiom); running status reused when enabled."""
    track = bytearray()
    track += vlq(0) + b"\xff\x51\x03" + tempo_us.to_bytes(3, "big")
    last_status = None
    for delta, key, vel in notes:
        for d, v in ((delta, vel), (60, 0)):
            track += vlq(d)
            if last_status != 0x90 or not use_running:
                track += bytes([0x90])
                last_status = 0x90
            track += bytes([key, v])
    # a program change mid-stream clears running status downstream
    track += vlq(0) + bytes([0xC0, 5])
    last_status = 0xC0
    if not drop_eot:
        track += vlq(0) + b"\xff\x2f\x00"
    hdr = b"MThd" + struct.pack(">IHHH", 7 if bad_header else 6,
                                0, 1, division)
    return hdr + b"MTrk" + struct.pack(">I", len(track)) + bytes(track)


_MIDI_NONE = {"format": None, "n_tracks": None, "division": None,
              "total_ticks": None, "n_note_on": None,
              "n_note_off": None, "tempo_us": None, "n_running": None}


def parse_midi(data: bytes | None) -> dict:
    if data is None or len(data) < 14 or data[:4] != b"MThd":
        return {**_MIDI_NONE, "error": "not a midi file"}
    data = bytes(data)
    hlen, fmt, ntrks, division = struct.unpack_from(">IHHH", data, 4)
    if hlen != 6:
        return {**_MIDI_NONE, "error": "bad header chunk"}
    pos = 8 + hlen
    total_ticks = 0
    n_on = n_off = n_running = 0
    tempo = None
    try:
        for t in range(ntrks):
            if pos + 8 > len(data) or data[pos:pos + 4] != b"MTrk":
                raise ValueError(f"track {t} missing MTrk")
            (tlen,) = struct.unpack_from(">I", data, pos + 4)
            body = data[pos + 8:pos + 8 + tlen]
            if len(body) != tlen:
                raise ValueError(f"track {t} overruns file")
            pos += 8 + tlen
            q = 0
            status = None
            saw_eot = False
            while q < len(body):
                if saw_eot:
                    raise ValueError(
                        f"track {t} data after end-of-track")
                delta, q = read_vlq(body, q)
                total_ticks += delta
                if q >= len(body):
                    raise ValueError(f"track {t} truncated event")
                b0 = body[q]
                if b0 == 0xFF:
                    q += 1
                    if q >= len(body):
                        raise ValueError(f"track {t} truncated meta")
                    mtype = body[q]
                    mlen, q = read_vlq(body, q + 1)
                    if q + mlen > len(body):
                        raise ValueError(
                            f"track {t} meta overruns track")
                    if mtype == 0x51 and mlen == 3:
                        tempo = int.from_bytes(body[q:q + 3], "big")
                    if mtype == 0x2F:
                        saw_eot = True
                    q += mlen
                    status = None  # meta clears running status
                elif b0 in (0xF0, 0xF7):
                    slen, q = read_vlq(body, q + 1)
                    if q + slen > len(body):
                        raise ValueError(
                            f"track {t} sysex overruns track")
                    q += slen
                    status = None
                else:
                    if b0 & 0x80:
                        status = b0
                        q += 1
                    else:
                        if status is None:
                            raise ValueError(
                                f"track {t} data byte with no "
                                f"running status")
                        n_running += 1
                    op = status & 0xF0
                    arity = 1 if op in _ONE_BYTE_OPS else 2
                    if q + arity > len(body):
                        raise ValueError(
                            f"track {t} truncated channel event")
                    if op == 0x90:
                        vel = body[q + 1]
                        if vel:
                            n_on += 1
                        else:
                            n_off += 1  # velocity 0 IS note-off
                    elif op == 0x80:
                        n_off += 1
                    q += arity
            if not saw_eot:
                raise ValueError(f"track {t} missing end-of-track")
    except ValueError as e:
        return {**_MIDI_NONE, "error": str(e)}
    return {
        "format": fmt, "n_tracks": ntrks, "division": division,
        "total_ticks": total_ticks, "n_note_on": n_on,
        "n_note_off": n_off, "tempo_us": tempo,
        "n_running": n_running, "error": None,
    }


MIDI_SCHEMA = ("doc_id long, format int, n_tracks int, division int, "
               "total_ticks bigint, n_note_on int, n_note_off int, "
               "tempo_us int, n_running int, error string")


def extract_midi_features(df: DataFrame, content_col: str = "content",
                          id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> SMF facts via one Arrow-batched
    mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_midi, MIDI_SCHEMA, id_col, content_col)
