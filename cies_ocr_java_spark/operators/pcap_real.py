"""REAL packet-capture (pcap) walker on stdlib struct — the WIRE
modality below WARC: where warc.py starts from archived HTTP messages,
this operator starts from the raw packets those messages crossed the
network as, and the HTTP text must be RECOVERED by TCP stream
reassembly (sequence-number ordering, retransmission dedup, gap
detection) before any HTTP grammar can run.

A classic pcap file (libpcap file format) is: 24-byte global header
(magic 0xA1B2C3D4 — byte order of EVERY header field in the file is
discovered from which way the magic reads, there is no endianness
flag), then per-packet records: 16-byte record header (ts_sec, ts_usec,
incl_len, orig_len) + incl_len captured bytes.  We capture Ethernet II
(linktype 1): 14-byte MAC header, IPv4 (IHL-sized header, REAL ones'
complement checksum), TCP (data-offset-sized header, REAL checksum over
the 96-bit pseudo-header + segment).  Both checksums are verified
per-packet and surfaced as flags — a corrupted segment is per-PACKET
degradation (the row carries ok=0 and downstream reassembly drops it,
creating an honest gap), while a truncated record is a document error.

The reassembly itself is deliberately NOT here: packets come out one
row each, and plans/queries.py reorders/dedups/concatenates them
RELATIONALLY (groupBy stream + array_sort by sequence number) — the
Spark-first split: Python only turns bytes into rows, the shuffle
engine rebuilds the streams.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed capture yields an error ROW — never an exception.

Reference parity: none — the reference ingests documents over HTTP
(DocumentManager.java), it never sees the wire; beyond-reference
operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs, rows_or_error

PCAP_MAGIC = 0xA1B2C3D4
LINKTYPE_ETHERNET = 1
_ETHERTYPE_IPV4 = 0x0800


def _ones_complement_sum(data: bytes) -> int:
    """16-bit ones' complement sum (RFC 1071), odd tail zero-padded."""
    if len(data) % 2:
        data += b"\x00"
    s = 0
    for (w,) in struct.iter_unpack(">H", data):
        s += w
        s = (s & 0xFFFF) + (s >> 16)
    return s


def ipv4_checksum(header: bytes) -> int:
    """Header checksum computed with its own checksum field zeroed."""
    z = header[:10] + b"\x00\x00" + header[12:]
    return (~_ones_complement_sum(z)) & 0xFFFF


def tcp_checksum(src_ip: bytes, dst_ip: bytes, segment: bytes) -> int:
    """TCP checksum over the 96-bit pseudo-header + segment (checksum
    field zeroed while summing)."""
    pseudo = src_ip + dst_ip + struct.pack(">BBH", 0, 6, len(segment))
    z = segment[:16] + b"\x00\x00" + segment[18:]
    return (~_ones_complement_sum(pseudo + z)) & 0xFFFF


def _ip(s: str) -> bytes:
    return bytes(int(p) for p in s.split("."))


def build_packet(src_ip: str, dst_ip: str, sport: int, dport: int,
                 seq: int, ack: int, flags: int,
                 payload: bytes = b"") -> bytes:
    """One Ethernet II / IPv4 / TCP frame with REAL checksums."""
    tcp = struct.pack(
        ">HHIIBBHHH", sport, dport, seq & 0xFFFFFFFF, ack & 0xFFFFFFFF,
        5 << 4, flags, 65535, 0, 0,
    ) + payload
    sb, db = _ip(src_ip), _ip(dst_ip)
    ck = tcp_checksum(sb, db, tcp)
    tcp = tcp[:16] + struct.pack(">H", ck) + tcp[18:]
    total = 20 + len(tcp)
    ip = struct.pack(
        ">BBHHHBBH4s4s", 0x45, 0, total, 0, 0, 64, 6, 0, sb, db,
    )
    ip = ip[:10] + struct.pack(">H", ipv4_checksum(ip)) + ip[12:]
    eth = b"\x02\x00\x00\x00\x00\x01" + b"\x02\x00\x00\x00\x00\x02" \
        + struct.pack(">H", _ETHERTYPE_IPV4)
    return eth + ip + tcp


def build_udp_packet(src_ip: str, dst_ip: str, sport: int, dport: int,
                     payload: bytes) -> bytes:
    """One Ethernet II / IPv4 / UDP datagram with REAL checksums
    (UDP's over the same 96-bit pseudo-header, RFC 768)."""
    ulen = 8 + len(payload)
    sb, db = _ip(src_ip), _ip(dst_ip)
    pseudo = sb + db + struct.pack(">BBH", 0, 17, ulen)
    z = struct.pack(">HHHH", sport, dport, ulen, 0) + payload
    ck = (~_ones_complement_sum(pseudo + z)) & 0xFFFF
    if ck == 0:
        ck = 0xFFFF
    udp = struct.pack(">HHHH", sport, dport, ulen, ck) + payload
    total = 20 + len(udp)
    ip = struct.pack(
        ">BBHHHBBH4s4s", 0x45, 0, total, 0, 0, 64, 17, 0, sb, db,
    )
    ip = ip[:10] + struct.pack(">H", ipv4_checksum(ip)) + ip[12:]
    eth = b"\x02\x00\x00\x00\x00\x01" + b"\x02\x00\x00\x00\x00\x02" \
        + struct.pack(">H", _ETHERTYPE_IPV4)
    return eth + ip + udp


def build_pcap(frames: list[tuple[int, bytes]],
               big_endian: bool = False) -> bytes:
    """Classic pcap file: (ts_us, frame) pairs.  ``big_endian`` flips
    the byte order of every HEADER field (the reader must discover it
    from the magic) — packet contents are network order regardless."""
    e = ">" if big_endian else "<"
    out = bytearray(struct.pack(
        e + "IHHiIII", PCAP_MAGIC, 2, 4, 0, 0, 65535, LINKTYPE_ETHERNET))
    for ts_us, frame in frames:
        out += struct.pack(e + "IIII", ts_us // 1_000_000,
                           ts_us % 1_000_000, len(frame), len(frame))
        out += frame
    return bytes(out)


_FIN, _SYN, _RST, _PSH, _ACK = 0x01, 0x02, 0x04, 0x08, 0x10


def parse_pcap(data: bytes | None) -> tuple[list[dict] | None, str | None]:
    """Walk the capture: endianness from the magic, per-record bounds
    gates, Ethernet/IPv4/TCP decode, BOTH checksums re-verified.  Every
    malformed capture returns (None, error); checksum failures are
    per-packet flags, not errors."""
    if data is None or len(data) < 24:
        return None, "short or missing capture"
    data = bytes(data)
    magic_le, = struct.unpack("<I", data[:4])
    magic_be, = struct.unpack(">I", data[:4])
    if magic_le == PCAP_MAGIC:
        e = "<"
    elif magic_be == PCAP_MAGIC:
        e = ">"
    else:
        return None, "bad pcap magic"
    _ver_maj, _ver_min, _tz, _sig, _snap, link = struct.unpack(
        e + "HHiIII", data[4:24])
    if link != LINKTYPE_ETHERNET:
        return None, f"unsupported linktype {link}"
    pos, idx, rows = 24, 0, []
    while pos < len(data):
        if pos + 16 > len(data):
            return None, f"truncated record header at {pos}"
        ts_sec, ts_usec, incl, orig = struct.unpack(
            e + "IIII", data[pos:pos + 16])
        pos += 16
        if incl > orig:
            return None, f"incl_len exceeds orig_len at record {idx}"
        if pos + incl > len(data):
            return None, f"record {idx} overruns capture"
        frame = data[pos:pos + incl]
        pos += incl
        if len(frame) < 14:
            return None, f"short ethernet frame at record {idx}"
        ethertype, = struct.unpack(">H", frame[12:14])
        if ethertype != _ETHERTYPE_IPV4:
            return None, f"non-ipv4 ethertype at record {idx}"
        ip = frame[14:]
        if len(ip) < 20:
            return None, f"short ip header at record {idx}"
        vihl = ip[0]
        if vihl >> 4 != 4:
            return None, f"bad ip version at record {idx}"
        ihl = (vihl & 0x0F) * 4
        if ihl < 20 or len(ip) < ihl:
            return None, f"bad ip header length at record {idx}"
        total, = struct.unpack(">H", ip[2:4])
        if total < ihl or total > len(ip):
            return None, f"ip total length overrun at record {idx}"
        proto = ip[9]
        if proto not in (6, 17):
            return None, f"unsupported ip protocol at record {idx}"
        ip_ok = int(struct.unpack(">H", ip[10:12])[0]
                    == ipv4_checksum(ip[:ihl]))
        src = ".".join(str(b) for b in ip[12:16])
        dst = ".".join(str(b) for b in ip[16:20])
        if proto == 17:
            # UDP: 8-byte header; checksum over the same pseudo-header
            udp = ip[ihl:total]
            if len(udp) < 8:
                return None, f"short udp header at record {idx}"
            sport, dport, ulen, uck = struct.unpack(">HHHH", udp[:8])
            if ulen < 8 or ulen > len(udp):
                return None, f"udp length overrun at record {idx}"
            pseudo = ip[12:16] + ip[16:20] \
                + struct.pack(">BBH", 0, 17, ulen)
            z = udp[:6] + b"\x00\x00" + udp[8:ulen]
            calc = (~_ones_complement_sum(pseudo + z)) & 0xFFFF
            if calc == 0:
                calc = 0xFFFF  # RFC 768: transmitted as all-ones
            udp_ok = int(uck == calc or uck == 0)  # 0 = unchecked
            rows.append({
                "pkt_idx": idx,
                "ts_us": ts_sec * 1_000_000 + ts_usec,
                "src_ip": src, "dst_ip": dst,
                "src_port": sport, "dst_port": dport,
                "seq": None, "ack": None, "flags": None,
                "payload": udp[8:ulen], "ip_ok": ip_ok,
                "tcp_ok": udp_ok,
            })
            idx += 1
            continue
        tcp = ip[ihl:total]
        if len(tcp) < 20:
            return None, f"short tcp header at record {idx}"
        sport, dport, seq, ackn = struct.unpack(">HHII", tcp[:12])
        doff = (tcp[12] >> 4) * 4
        if doff < 20 or doff > len(tcp):
            return None, f"bad tcp data offset at record {idx}"
        flags = tcp[13]
        payload = tcp[doff:]
        tcp_ok = int(struct.unpack(">H", tcp[16:18])[0]
                     == tcp_checksum(ip[12:16], ip[16:20], tcp))
        rows.append({
            "pkt_idx": idx,
            "ts_us": ts_sec * 1_000_000 + ts_usec,
            "src_ip": src, "dst_ip": dst,
            "src_port": sport, "dst_port": dport,
            "seq": seq, "ack": ackn, "flags": flags,
            "payload": payload, "ip_ok": ip_ok, "tcp_ok": tcp_ok,
        })
        idx += 1
    return rows, None


PCAP_PACKETS_SCHEMA = (
    "doc_id long, pkt_idx int, ts_us bigint, src_ip string, "
    "dst_ip string, src_port int, dst_port int, seq bigint, ack bigint, "
    "flags int, payload binary, ip_ok int, tcp_ok int, error string"
)


def extract_pcap_packets(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> one row per captured packet via one
    Arrow-batched mapInPandas pass (no shuffle); malformed captures
    degrade to a single error row per document."""
    return map_blobs(df, rows_or_error(parse_pcap), PCAP_PACKETS_SCHEMA,
                     id_col, content_col)
