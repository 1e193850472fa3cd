"""PCAPNG block walker — the successor container to pcap_real's
classic format, organized as typed blocks whose u32 total length
appears at BOTH ends (the defining redundancy: a reader must verify
leading == trailing or a single corrupted length silently desyncs
every later block), with per-SECTION endianness declared by the
Section Header Block's 0x1A2B3C4D byte-order magic (not by the file
— a multi-section file may switch), Interface Description Blocks
that Enhanced Packet Blocks reference BY INDEX in declaration order
(an EPB naming an interface that was never declared is structural
corruption), and (code, length, padded-value) option lists
terminated by opt_endofopt.

Supported blocks: SHB 0x0A0D0D0A, IDB 0x00000001, EPB 0x00000006;
unknown block types are SKIPPED by their declared length (the
format's forward-compat contract) but still length-verified.

Failure contract: every malformed capture yields an error ROW.

Reference parity: none — wire-capture recovery is beyond-reference
(the reference ingests via S3 events, not captures).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_SHB = 0x0A0D0D0A
_IDB = 0x00000001
_EPB = 0x00000006
_BOM = 0x1A2B3C4D


def _opts(opts: list[tuple[int, bytes]], end: str) -> bytes:
    out = bytearray()
    for code, val in opts:
        out += code.to_bytes(2, end) + len(val).to_bytes(2, end)
        out += val + b"\x00" * (-len(val) % 4)
    if opts:
        out += (0).to_bytes(2, end) + (0).to_bytes(2, end)
    return bytes(out)


def _block(btype: int, body: bytes, end: str, *,
           lie_trailer: bool = False) -> bytes:
    total = 12 + len(body)
    out = btype.to_bytes(4, end) + total.to_bytes(4, end) + body
    out += (total + (4 if lie_trailer else 0)).to_bytes(4, end)
    return out


def build_pcapng(interfaces: list[tuple[int, bytes]],
                 packets: list[tuple[int, int, int, bytes]], *,
                 big_endian: bool = False, bad_bom: bool = False,
                 lie_trailer: bool = False,
                 unknown_block: bool = False,
                 chop: int = 0) -> bytes:
    """interfaces: (linktype, name); packets: (iface_id, ts, orig_len,
    data). Data is padded to 4 inside the EPB."""
    end = "big" if big_endian else "little"
    out = bytearray()
    bom = 0x1A2B3C4E if bad_bom else _BOM
    shb_body = (bom.to_bytes(4, end) + (1).to_bytes(2, end)
                + (0).to_bytes(2, end)
                + (0xFFFFFFFFFFFFFFFF).to_bytes(8, end)
                + _opts([(3, b"cies-spark")], end))
    out += _block(_SHB, shb_body, end)
    for k, (lt, name) in enumerate(interfaces):
        body = (lt.to_bytes(2, end) + (0).to_bytes(2, end)
                + (65535).to_bytes(4, end)
                + _opts([(2, name)], end))
        out += _block(_IDB, body, end,
                      lie_trailer=lie_trailer and k == 0)
    if unknown_block:
        out += _block(0x0BAD, b"\x01\x02\x03\x04", end)
    for iface, ts, orig, data in packets:
        body = (iface.to_bytes(4, end)
                + (ts >> 32).to_bytes(4, end)
                + (ts & 0xFFFFFFFF).to_bytes(4, end)
                + len(data).to_bytes(4, end)
                + orig.to_bytes(4, end)
                + data + b"\x00" * (-len(data) % 4))
        out += _block(_EPB, body, end)
    if chop:
        del out[-chop:]
    return bytes(out)


_PNG_NONE = {
    "n_interfaces": None, "n_packets": None, "pkt_bytes": None,
    "orig_bytes": None, "n_options": None, "big_endian": None,
}


def parse_pcapng(data: bytes | None) -> dict:
    if data is None or len(data) < 28:
        return {**_PNG_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        if int.from_bytes(data[0:4], "little") != _SHB:
            raise ValueError("missing section header")
        bom_le = int.from_bytes(data[8:12], "little")
        bom_be = int.from_bytes(data[8:12], "big")
        if bom_le == _BOM:
            end = "little"
        elif bom_be == _BOM:
            end = "big"
        else:
            raise ValueError("bad byte-order magic")
        pos = 0
        n_if = n_pkt = 0
        pkt_bytes = orig_bytes = 0
        n_opts = 0

        def count_opts(body: bytes, off: int) -> int:
            n = 0
            while off + 4 <= len(body):
                code = int.from_bytes(body[off:off + 2], end)
                ln = int.from_bytes(body[off + 2:off + 4], end)
                off += 4
                if code == 0:
                    if ln != 0:
                        raise ValueError("malformed end option")
                    return n
                pad = ln + (-ln % 4)
                if off + pad > len(body):
                    raise ValueError("option overruns block")
                off += pad
                n += 1
            if n:
                raise ValueError("options not terminated")
            return n

        first = True
        while pos < len(data):
            if pos + 12 > len(data):
                raise ValueError("truncated block")
            btype = int.from_bytes(data[pos:pos + 4], end)
            total = int.from_bytes(data[pos + 4:pos + 8], end)
            if total < 12 or total % 4:
                raise ValueError("bad block length")
            if pos + total > len(data):
                raise ValueError("truncated block")
            trailer = int.from_bytes(
                data[pos + total - 4:pos + total], end)
            if trailer != total:
                raise ValueError("block length mismatch")
            body = data[pos + 8:pos + total - 4]
            if first:
                if btype != _SHB:
                    raise ValueError("missing section header")
                n_opts += count_opts(body, 16)
                first = False
            elif btype == _SHB:
                raise ValueError("multiple sections unsupported")
            elif btype == _IDB:
                if len(body) < 8:
                    raise ValueError("interface block too short")
                n_if += 1
                n_opts += count_opts(body, 8)
            elif btype == _EPB:
                if len(body) < 20:
                    raise ValueError("packet block too short")
                iface = int.from_bytes(body[0:4], end)
                if iface >= n_if:
                    raise ValueError("unknown interface id")
                cap = int.from_bytes(body[12:16], end)
                orig = int.from_bytes(body[16:20], end)
                pad = cap + (-cap % 4)
                if 20 + pad > len(body):
                    raise ValueError("packet data overruns block")
                n_pkt += 1
                pkt_bytes += cap
                orig_bytes += orig
                n_opts += count_opts(body, 20 + pad)
            # unknown types: skipped, length already verified
            pos += total
    except ValueError as e:
        return {**_PNG_NONE, "error": str(e)}
    return {
        "n_interfaces": n_if, "n_packets": n_pkt,
        "pkt_bytes": pkt_bytes, "orig_bytes": orig_bytes,
        "n_options": n_opts,
        "big_endian": 1 if end == "big" else 0, "error": None,
    }


_PNG_SCHEMA = (
    "doc_id long, n_interfaces int, n_packets int, "
    "pkt_bytes bigint, orig_bytes bigint, n_options int, "
    "big_endian int, error string"
)


def extract_pcapng_features(df: DataFrame,
                            content_col: str = "content",
                            id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_pcapng, _PNG_SCHEMA, id_col, content_col)
