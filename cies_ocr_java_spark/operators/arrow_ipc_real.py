"""Arrow IPC FILE walk — the engine's own interchange format read from
first principles: the double "ARROW1" magic (leading 8-byte padded,
trailing bare 6-byte), the trailing int32 footer length, the Footer
FLATBUFFER (vtable walk per flatbuf_real's addressing rules — signed
soffset to vtable, u16 slot offsets, u32 forward refs measured from
their own location) carrying the schema and the record-batch BLOCK
index (24-byte structs: i64 offset, i32 metaDataLength + 4 pad, i64
bodyLength), then every block's encapsulated message: the 0xFFFFFFFF
continuation marker, i32 metadata size, a Message flatbuffer whose
header union must be RecordBatch, and the body where each column's
validity-bitmap POPCOUNT is re-verified against the declared
null_count and the int64 data buffer is bounds-checked and summed.

The writer is REAL pyarrow (`pa.ipc.new_file`) — the authoritative
implementation writes, this module only reads; every structural fact
the walker reports is cross-checked against what pyarrow declared it
wrote (schema names/types, batch count, row counts, nulls).

Gates: leading/trailing magic, footer length within file, block
message bounds, continuation marker, header-type union tag, node
count vs schema, buffer bounds within the declared body, popcount vs
null_count.

Failure contract: every malformed file yields an error ROW.

Reference parity: none — beyond-reference columnar-interchange
operator (parquet_footer/parquet_pages' sibling; flatbuf_real is the
addressing-mechanism precedent this generalizes).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

ARROW_MAGIC = b"ARROW1"

_TYPE_NAMES = {1: "null", 2: "int", 3: "float", 4: "binary",
               5: "utf8", 6: "bool", 7: "decimal", 8: "date",
               9: "time", 10: "timestamp"}


class _Fb:
    """Bounds-gated flatbuffer table reader (the flatbuf_real
    addressing rules, generalized)."""

    def __init__(self, data: bytes, table: int):
        self.d = data
        if table + 4 > len(data):
            raise ValueError("table out of buffer")
        (soff,) = struct.unpack_from("<i", data, table)
        vt = table - soff
        if vt < 0 or vt + 4 > len(data):
            raise ValueError("vtable out of buffer")
        vt_size, _ = struct.unpack_from("<HH", data, vt)
        if vt_size < 4 or vt_size % 2 or vt + vt_size > len(data):
            raise ValueError("bad vtable geometry")
        self.table = table
        self.vt = vt
        self.n_slots = (vt_size - 4) // 2

    @classmethod
    def root(cls, data: bytes, base: int = 0) -> "_Fb":
        if base + 4 > len(data):
            raise ValueError("root offset out of buffer")
        (u,) = struct.unpack_from("<I", data, base)
        return cls(data, base + u)

    def _field(self, slot: int) -> int | None:
        if slot >= self.n_slots:
            return None
        (off,) = struct.unpack_from("<H", self.d,
                                    self.vt + 4 + 2 * slot)
        if off == 0:
            return None
        at = self.table + off
        if at >= len(self.d):
            raise ValueError(f"field {slot} out of buffer")
        return at

    def scalar(self, slot: int, fmt: str, default):
        at = self._field(slot)
        if at is None:
            return default
        size = struct.calcsize(fmt)
        if at + size > len(self.d):
            raise ValueError(f"field {slot} scalar out of buffer")
        return struct.unpack_from(fmt, self.d, at)[0]

    def _ref(self, at: int) -> int:
        (u,) = struct.unpack_from("<I", self.d, at)
        tgt = at + u
        if tgt + 4 > len(self.d):
            raise ValueError("reference out of buffer")
        return tgt

    def string(self, slot: int) -> str | None:
        at = self._field(slot)
        if at is None:
            return None
        tgt = self._ref(at)
        (ln,) = struct.unpack_from("<I", self.d, tgt)
        if ln > 1 << 24 or tgt + 4 + ln > len(self.d):
            raise ValueError("string out of buffer")
        return self.d[tgt + 4:tgt + 4 + ln].decode("utf-8")

    def table_at(self, slot: int) -> "_Fb | None":
        at = self._field(slot)
        if at is None:
            return None
        return _Fb(self.d, self._ref(at))

    def vector(self, slot: int, elem_size: int
               ) -> tuple[int, int] | None:
        """(element-0 position, count) for struct/offset vectors."""
        at = self._field(slot)
        if at is None:
            return None
        tgt = self._ref(at)
        (count,) = struct.unpack_from("<I", self.d, tgt)
        if count > 1 << 24 \
                or tgt + 4 + count * elem_size > len(self.d):
            raise ValueError("vector out of buffer")
        return tgt + 4, count

    def tables(self, slot: int) -> list["_Fb"]:
        v = self.vector(slot, 4)
        if v is None:
            return []
        at, count = v
        return [_Fb(self.d, self._ref(at + 4 * k))
                for k in range(count)]


_ARROW_NONE = {
    "n_fields": None, "schema_names": None, "schema_types": None,
    "n_batches": None, "total_rows": None, "null_count": None,
    "val_sum": None,
}


def parse_arrow_file(data: bytes | None,
                     sum_field: str = "val") -> dict:
    if data is None or len(data) < 20:
        return {**_ARROW_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        if data[:6] != ARROW_MAGIC:
            raise ValueError("bad leading magic")
        if data[-6:] != ARROW_MAGIC:
            raise ValueError("bad trailing magic")
        (flen,) = struct.unpack_from("<i", data, len(data) - 10)
        fstart = len(data) - 10 - flen
        if flen <= 0 or fstart < 8:
            raise ValueError("footer length out of file")
        # absolute addressing: the footer flatbuffer's internal offsets
        # resolve against the WHOLE file so the block index positions
        # it yields are directly usable
        footer = _Fb.root(data, fstart)
        schema = footer.table_at(1)
        if schema is None:
            raise ValueError("footer missing schema")
        names: list[str] = []
        types: list[str] = []
        sum_idx = None
        for k, f in enumerate(schema.tables(1)):
            nm = f.string(0) or ""
            tt = f.scalar(2, "<B", 0)
            names.append(nm)
            types.append(_TYPE_NAMES.get(tt, f"type{tt}"))
            if nm == sum_field and tt == 2:
                sum_idx = k
        blocks = footer.vector(3, 24)
        n_batches = total_rows = nulls = 0
        vsum = 0
        if blocks is not None:
            at, count = blocks
            for k in range(count):
                # Block struct: i64 offset, i32 metaDataLength, then 4
                # PAD bytes (struct alignment), i64 bodyLength at +16
                off, mlen = struct.unpack_from(
                    "<qi", data, at + 24 * k)
                (blen,) = struct.unpack_from(
                    "<q", data, at + 24 * k + 16)
                if off < 8 or off + mlen > len(data):
                    raise ValueError("block out of file")
                if data[off:off + 4] != b"\xff\xff\xff\xff":
                    raise ValueError("missing continuation marker")
                (msize,) = struct.unpack_from("<i", data, off + 4)
                if msize <= 0 or off + 8 + msize > len(data):
                    raise ValueError("message overruns file")
                msg = _Fb.root(data, off + 8)  # absolute, as the footer
                htype = msg.scalar(1, "<B", 0)
                if htype != 3:
                    raise ValueError(
                        f"unexpected message header type {htype}")
                body_len = msg.scalar(3, "<q", 0)
                if body_len != blen:
                    raise ValueError("body length disagrees with block")
                body = off + mlen
                if body + blen > len(data):
                    raise ValueError("body overruns file")
                rb = msg.table_at(2)
                if rb is None:
                    raise ValueError("message missing record batch")
                nrows = rb.scalar(0, "<q", 0)
                nodes = rb.vector(1, 16)
                bufs = rb.vector(2, 16)
                if nodes is None or bufs is None:
                    raise ValueError("record batch missing vectors")
                nat, ncount = nodes
                bat, bcount = bufs
                if ncount != len(names):
                    raise ValueError("node count disagrees with schema")
                # per-field buffer walk: fixed-width fields use
                # (validity, data); utf8 uses (validity, offsets, data)
                bidx = 0
                for fidx in range(ncount):
                    flen_, fnull = struct.unpack_from(
                        "<qq", data, nat + 16 * fidx)
                    if flen_ != nrows:
                        raise ValueError(
                            "node length disagrees with batch")
                    nbuf = 3 if types[fidx] in ("utf8", "binary") else 2
                    if bidx + nbuf > bcount:
                        raise ValueError("buffer index out of batch")
                    voff, vlen = struct.unpack_from(
                        "<qq", data, bat + 16 * bidx)
                    doff, dlen = struct.unpack_from(
                        "<qq", data,
                        bat + 16 * (bidx + (nbuf - 1)))
                    for o, ln in ((voff, vlen), (doff, dlen)):
                        if o < 0 or ln < 0 or o + ln > blen:
                            raise ValueError("buffer out of body")
                    if vlen:
                        # LSB-numbered validity bits; padding bits past
                        # nrows are unspecified by the spec, so count
                        # only the addressed range
                        bits = data[body + voff:body + voff + vlen]
                        pop = sum((bits[r >> 3] >> (r & 7)) & 1
                                  for r in range(nrows))
                        if pop != nrows - fnull:
                            raise ValueError(
                                "validity popcount disagrees "
                                "with null count")
                    if fidx == sum_idx:
                        nulls += fnull
                        if dlen < 8 * nrows:
                            raise ValueError(
                                "int64 data buffer too short")
                        vals = struct.unpack_from(
                            f"<{nrows}q", data, body + doff)
                        if fnull and vlen:
                            bits = data[body + voff:
                                        body + voff + vlen]
                            for r in range(nrows):
                                if bits[r >> 3] >> (r & 7) & 1:
                                    vsum += vals[r]
                        else:
                            vsum += sum(vals)
                    bidx += nbuf
                n_batches += 1
                total_rows += nrows
    except (ValueError, UnicodeDecodeError, struct.error) as e:
        msg_ = str(e) if isinstance(e, ValueError) \
            else "malformed file structure"
        return {**_ARROW_NONE, "error": msg_}
    return {
        "n_fields": len(names),
        "schema_names": ",".join(names),
        "schema_types": ",".join(types),
        "n_batches": n_batches, "total_rows": total_rows,
        "null_count": nulls, "val_sum": vsum, "error": None,
    }


_ARROW_SCHEMA = (
    "doc_id long, n_fields int, schema_names string, "
    "schema_types string, n_batches int, total_rows bigint, "
    "null_count bigint, val_sum bigint, error string"
)


def extract_arrow_features(df: DataFrame, content_col: str = "content",
                           id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_arrow_file, _ARROW_SCHEMA, id_col, content_col)
