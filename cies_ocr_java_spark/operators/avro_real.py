"""REAL Avro Object Container File walker on stdlib struct — the
row-oriented sibling of the parquet footer walk (parquet_footer.py):
where parquet is schema-in-footer + columnar pages, Avro OCF is
schema-in-HEADER + row blocks, and its binary encoding is zigzag
varints (proto_wire.py's varint with the sign folded into bit 0)
rather than thrift compact.

File layout (Avro 1.11 spec): magic ``Obj\\x01``, a file-metadata MAP
(blocks of count + key/value pairs, a NEGATIVE count carries an extra
byte-size long — both forms read here — terminated by count 0) whose
``avro.codec`` names the per-block compression, a random 16-byte SYNC
MARKER, then data blocks: record count (long), serialized byte size
(long), the block bytes (raw-DEFLATE compressed when codec=deflate —
decompressed by operators/inflate.py, the from-scratch decoder; Avro
uses RAW deflate, no zlib wrapper), and the sync marker AGAIN — the
reader must compare it block by block (that is the corruption gate and
the split-detection mechanism at scale).

Decoded schema (fixed for this operator): record(id: long,
name: string, score: union{null, double}) — exercising zigzag longs,
length-prefixed UTF-8, and the union-index branch.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed container yields an error ROW — never an exception.

Reference parity: none — beyond-reference source-format operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.inflate import (
    InflateError,
    deflate_raw,
    inflate_raw,
)
from cies_ocr_java_spark.operators.walker import map_blobs, rows_or_error

AVRO_MAGIC = b"Obj\x01"

SCHEMA_JSON = (
    '{"type":"record","name":"Doc","fields":['
    '{"name":"id","type":"long"},'
    '{"name":"name","type":"string"},'
    '{"name":"score","type":["null","double"]}]}'
)


def encode_long(n: int) -> bytes:
    """Zigzag + varint (Avro long)."""
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_long(data: bytes, pos: int) -> tuple[int, int]:
    shift, z = 0, 0
    while True:
        if pos >= len(data):
            raise ValueError(f"varint overruns container at {pos}")
        b = data[pos]
        pos += 1
        z |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 63:
            raise ValueError(f"varint too long at {pos}")
    return (z >> 1) ^ -(z & 1), pos


def encode_string(s: str) -> bytes:
    raw = s.encode("utf-8")
    return encode_long(len(raw)) + raw


def _encode_record(rid: int, name: str, score: float | None) -> bytes:
    out = encode_long(rid) + encode_string(name)
    if score is None:
        out += encode_long(0)
    else:
        out += encode_long(1) + struct.pack("<d", score)
    return out


def build_avro(records: list[tuple[int, str, float | None]],
               block_sizes: list[int], codec: str = "null",
               sync: bytes = b"\x13" * 16) -> bytes:
    """OCF with the fixed Doc schema; ``block_sizes`` partitions
    ``records`` into data blocks (must sum to len(records))."""
    if sum(block_sizes) != len(records):
        raise ValueError("block sizes must partition the records")
    meta = {
        "avro.schema": SCHEMA_JSON.encode(),
        "avro.codec": codec.encode(),
    }
    out = bytearray(AVRO_MAGIC)
    out += encode_long(len(meta))
    for k, v in sorted(meta.items()):
        out += encode_string(k) + encode_long(len(v)) + v
    out += encode_long(0)
    out += sync
    at = 0
    for n in block_sizes:
        blob = b"".join(_encode_record(*r)
                        for r in records[at:at + n])
        at += n
        if codec == "deflate":
            blob = deflate_raw(blob)
        out += encode_long(n) + encode_long(len(blob)) + blob + sync
    return bytes(out)


def parse_avro(data: bytes | None) -> tuple[list[dict] | None,
                                            str | None]:
    """Walk header metadata, then every block: count/size gates, codec
    dispatch (null / raw-deflate via operators/inflate.py), per-record
    decode, and the per-block sync-marker comparison."""
    if data is None or len(data) < 4 or data[:4] != AVRO_MAGIC:
        return None, "bad avro magic"
    data = bytes(data)
    try:
        pos = 4
        meta: dict[str, bytes] = {}
        while True:
            count, pos = decode_long(data, pos)
            if count == 0:
                break
            if count < 0:
                _sz, pos = decode_long(data, pos)
                count = -count
            for _ in range(count):
                klen, pos = decode_long(data, pos)
                if klen < 0 or pos + klen > len(data):
                    return None, f"metadata key overruns at {pos}"
                key = data[pos:pos + klen].decode("utf-8")
                pos += klen
                vlen, pos = decode_long(data, pos)
                if vlen < 0 or pos + vlen > len(data):
                    return None, f"metadata value overruns at {pos}"
                meta[key] = data[pos:pos + vlen]
                pos += vlen
        codec = meta.get("avro.codec", b"null").decode("ascii")
        if codec not in ("null", "deflate"):
            return None, f"unsupported codec {codec}"
        if pos + 16 > len(data):
            return None, "truncated header sync marker"
        sync = data[pos:pos + 16]
        pos += 16
        rows: list[dict] = []
        rec_idx = 0
        blk = 0
        while pos < len(data):
            count, pos = decode_long(data, pos)
            size, pos = decode_long(data, pos)
            if count < 0 or size < 0:
                return None, f"negative block header in block {blk}"
            if pos + size > len(data):
                return None, f"block {blk} overruns container"
            blob = data[pos:pos + size]
            pos += size
            if codec == "deflate":
                try:
                    blob, _ = inflate_raw(blob)
                except InflateError as e:
                    return None, f"deflate error in block {blk}: {e}"
            q = 0
            for _ in range(count):
                rid, q = decode_long(blob, q)
                nlen, q = decode_long(blob, q)
                if nlen < 0 or q + nlen > len(blob):
                    return None, f"string overruns block {blk}"
                name = blob[q:q + nlen].decode("utf-8")
                q += nlen
                branch, q = decode_long(blob, q)
                if branch == 0:
                    isnull, score = 1, 0.0
                elif branch == 1:
                    if q + 8 > len(blob):
                        return None, f"double overruns block {blk}"
                    isnull = 0
                    score = struct.unpack("<d", blob[q:q + 8])[0]
                    q += 8
                else:
                    return None, (f"union index {branch} out of range "
                                  f"in block {blk}")
                rows.append({"rec_idx": rec_idx, "rid": rid,
                             "name": name, "score_isnull": isnull,
                             "score": score, "codec": codec})
                rec_idx += 1
            if q != len(blob):
                return None, f"trailing bytes in block {blk}"
            if pos + 16 > len(data):
                return None, f"truncated sync marker after block {blk}"
            if data[pos:pos + 16] != sync:
                return None, f"sync marker mismatch after block {blk}"
            pos += 16
            blk += 1
        for r in rows:
            r["n_blocks"] = blk
        return rows, None
    except ValueError as e:
        return None, str(e)
    except UnicodeDecodeError:
        return None, "invalid utf-8 in container"


AVRO_SCHEMA = (
    "doc_id long, rec_idx int, rid bigint, name string, "
    "score_isnull int, score double, codec string, n_blocks int, "
    "error string"
)


def extract_avro_records(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> one row per Avro record via one
    Arrow-batched mapInPandas pass (no shuffle); malformed containers
    degrade to a single error row per document."""
    return map_blobs(df, rows_or_error(parse_avro), AVRO_SCHEMA, id_col,
                     content_col)
