"""Parquet DATA PAGES decoded through the hand-written thrift reader
— one level deeper than parquet_footer.py: the footer's
data_page_offset leads to a PageHeader (ANOTHER thrift compact
struct, parsed by the same _Reader the footer walk built), then the
v1 data page body: definition levels as a 4-byte-length-prefixed RLE
run (pyarrow marks columns OPTIONAL, so a single bit-width-1 RLE run
of 1s precedes every page even with zero nulls — the levels nobody
expects), then PLAIN little-endian INT64 values, read back and
summed exactly.

Writer = pyarrow with use_dictionary=False (forcing PLAIN — the
default dictionary encoding is a different page kind, rejected here
by name), reader = ours end to end: footer thrift -> page thrift ->
RLE levels -> values.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed file yields an error ROW — never an exception.

Reference parity: none — beyond-reference columnar-storage operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.parquet_footer import (
    ParquetFooterError,
    _Reader,
    parse_parquet_footer,
)
from cies_ocr_java_spark.operators.walker import map_blobs


def build_parquet_plain(n_rows: int, val_step: int,
                        row_group_size: int = 2) -> bytes:
    """id/val int64 columns, PLAIN-encoded (no dictionary)."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "id": pa.array(range(1, n_rows + 1), pa.int64()),
        "val": pa.array([(r + 1) * val_step for r in range(n_rows)],
                        pa.int64()),
    })
    buf = io.BytesIO()
    pq.write_table(table, buf, row_group_size=row_group_size,
                   compression="none", use_dictionary=False,
                   write_statistics=False)
    return buf.getvalue()


_PP_NONE = {"n_row_groups": None, "n_pages": None,
            "total_values": None, "values_sum": None,
            "min_val": None, "max_val": None}


def parse_parquet_values(data: bytes | None, column: str = "val"
                         ) -> dict:
    if data is None or len(data) < 12:
        return {**_PP_NONE, "error": "file shorter than parquet "
                                     "envelope"}
    data = bytes(data)
    try:
        meta = parse_parquet_footer(data)
    except ParquetFooterError as e:
        return {**_PP_NONE, "error": str(e)}
    try:
        n_pages = 0
        total_values = 0
        vsum = 0
        vmin = vmax = None
        for rg in meta["row_groups"]:
            for col in rg["cols"]:
                if col["path"] != column:
                    continue
                if col["codec"] != "UNCOMPRESSED":
                    raise ValueError(
                        f"unsupported codec {col['codec']}")
                pos = col["data_page_offset"]
                remaining = col["num_values"]
                while remaining > 0:
                    r = _Reader(data[pos:])
                    hdr = r.struct()
                    header_len = r.pos
                    ptype = hdr.get(1)
                    if ptype != 0:
                        raise ValueError(
                            f"unsupported page type {ptype}")
                    comp_size = hdr.get(3)
                    dph = hdr.get(5) or {}
                    nvals = dph.get(1)
                    enc = dph.get(2)
                    if enc != 0:
                        raise ValueError(
                            f"unsupported encoding {enc}")
                    body_at = pos + header_len
                    if body_at + comp_size > len(data):
                        raise ValueError("page overruns file")
                    body = data[body_at:body_at + comp_size]
                    # v1 optional column: 4-byte-length-prefixed RLE
                    # definition levels (bit width 1)
                    (lvl_len,) = struct.unpack_from("<I", body, 0)
                    if 4 + lvl_len > len(body):
                        raise ValueError("levels overrun page")
                    q = 4 + lvl_len
                    # exact consumption: a stray 1..7 trailing bytes
                    # would otherwise vanish under the floor division
                    if (len(body) - q) % 8:
                        raise ValueError(
                            "trailing bytes after plain values")
                    n = (len(body) - q) // 8
                    if n != nvals:
                        raise ValueError(
                            "plain value count disagrees with header")
                    vals = struct.unpack_from(f"<{n}q", body, q)
                    vsum += sum(vals)
                    if vals:
                        lo, hi = min(vals), max(vals)
                        vmin = lo if vmin is None else min(vmin, lo)
                        vmax = hi if vmax is None else max(vmax, hi)
                    total_values += n
                    remaining -= n
                    n_pages += 1
                    pos = body_at + comp_size
    except (ValueError, ParquetFooterError, struct.error,
            TypeError, AttributeError) as e:
        msg = str(e) if isinstance(e, (ValueError,
                                       ParquetFooterError)) \
            else "malformed page structure"
        return {**_PP_NONE, "error": msg}
    return {
        "n_row_groups": len(meta["row_groups"]),
        "n_pages": n_pages,
        "total_values": total_values,
        "values_sum": vsum,
        "min_val": vmin, "max_val": vmax,
        "error": None,
    }


PP_SCHEMA = ("doc_id long, n_row_groups int, n_pages int, "
             "total_values bigint, values_sum bigint, "
             "min_val bigint, max_val bigint, error string")


def extract_parquet_values(df: DataFrame,
                           content_col: str = "content",
                           id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> decoded column facts via one
    Arrow-batched mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_parquet_values, PP_SCHEMA, id_col, content_col)


# ---------------------------------------------------------------------------
# Dictionary-encoded pages — the OTHER half of the v1 data-page story
# (parse_parquet_values rejects dictionary files by name; this decodes
# them): per-row-group DICTIONARY_PAGE of PLAIN int64 entries, then
# RLE_DICTIONARY data pages whose def levels AND indices both ride the
# RLE/BIT-PACKED HYBRID — LSB-first bit packing in groups of 8, RLE runs
# with ceil(bw/8)-byte little-endian values, a ULEB128 header whose low
# bit picks the form. pyarrow writes all of it by DEFAULT; this reader
# re-derives sums/min/max through the dictionary with bounds gates.


def _uleb(data: bytes, pos: int) -> tuple[int, int]:
    v = shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("uleb128 overruns page")
        b = data[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, pos
        shift += 7
        if shift > 35:
            raise ValueError("uleb128 too long")


def _hybrid(body: bytes, pos: int, bw: int, count: int,
            what: str) -> tuple[list[int], int]:
    """Decode exactly ``count`` values; a bit-packed group's padding
    slack past count is discarded (its bits are unspecified)."""
    out: list[int] = []
    mask = (1 << bw) - 1
    while len(out) < count:
        header, pos = _uleb(body, pos)
        if header & 1:
            groups = header >> 1
            nbytes = groups * bw
            if groups > (count + 7) // 8 + 1 \
                    or pos + nbytes > len(body):
                raise ValueError(f"{what} bit-packed run overruns page")
            acc = int.from_bytes(body[pos:pos + nbytes], "little")
            out.extend((acc >> (k * bw)) & mask
                       for k in range(groups * 8))
            pos += nbytes
        else:
            run = header >> 1
            vb = (bw + 7) // 8
            if run > count + 8 or pos + vb > len(body):
                raise ValueError(f"{what} rle run overruns page")
            v = int.from_bytes(body[pos:pos + vb], "little")
            out.extend([v] * run)
            pos += vb
    return out[:count], pos


_PD_NONE = {"n_row_groups": None, "n_pages": None,
            "dict_entries": None, "total_values": None,
            "n_nulls": None, "values_sum": None,
            "min_val": None, "max_val": None}


def parse_parquet_dict_values(data: bytes | None,
                              column: str = "val") -> dict:
    if data is None or len(data) < 12:
        return {**_PD_NONE, "error": "file shorter than parquet "
                                     "envelope"}
    data = bytes(data)
    try:
        meta = parse_parquet_footer(data)
    except ParquetFooterError as e:
        return {**_PD_NONE, "error": str(e)}
    try:
        n_pages = dict_entries = total = nulls = 0
        vsum = 0
        vmin = vmax = None
        for rg in meta["row_groups"]:
            for col in rg["cols"]:
                if col["path"] != column:
                    continue
                if col["codec"] != "UNCOMPRESSED":
                    raise ValueError(
                        f"unsupported codec {col['codec']}")
                pos = col.get("dictionary_page_offset")
                if pos is None:
                    raise ValueError(
                        "first page is not a dictionary page")
                r = _Reader(data[pos:])
                hdr = r.struct()
                if hdr.get(1) != 2:
                    raise ValueError(
                        "first page is not a dictionary page")
                dph = hdr.get(7) or {}
                n_dict = dph.get(1)
                if dph.get(2) not in (0, 2):
                    raise ValueError(
                        "unsupported dictionary encoding")
                comp = hdr.get(3)
                body_at = pos + r.pos
                if body_at + comp > len(data):
                    raise ValueError("dictionary page overruns file")
                if comp != 8 * n_dict:
                    raise ValueError(
                        "dictionary size disagrees with header")
                dictionary = struct.unpack_from(
                    f"<{n_dict}q", data, body_at)
                dict_entries += n_dict
                pos = body_at + comp
                remaining = col["num_values"]
                while remaining > 0:
                    r = _Reader(data[pos:])
                    hdr = r.struct()
                    if hdr.get(1) != 0:
                        raise ValueError(
                            f"unsupported page type {hdr.get(1)}")
                    dh = hdr.get(5) or {}
                    nvals = dh.get(1)
                    if dh.get(2) not in (2, 8):
                        raise ValueError(
                            "data page is not dictionary-encoded")
                    comp = hdr.get(3)
                    body_at = pos + r.pos
                    if body_at + comp > len(data):
                        raise ValueError("page overruns file")
                    body = data[body_at:body_at + comp]
                    (lvl_len,) = struct.unpack_from("<I", body, 0)
                    if 4 + lvl_len > len(body):
                        raise ValueError("levels overrun page")
                    levels, lp = _hybrid(body[4:4 + lvl_len], 0, 1,
                                         nvals, "definition levels")
                    if lp != lvl_len:
                        raise ValueError(
                            "trailing bytes after definition levels")
                    present = sum(levels)
                    q = 4 + lvl_len
                    if q >= len(body):
                        raise ValueError("missing index bit width")
                    bw = body[q]
                    if bw == 0 or bw > 32:
                        raise ValueError("bad index bit width")
                    idx, ip = _hybrid(body[q + 1:], 0, bw, present,
                                      "dictionary indices")
                    if q + 1 + ip != len(body):
                        raise ValueError(
                            "trailing bytes after dictionary indices")
                    for x in idx:
                        if x >= n_dict:
                            raise ValueError(
                                "dictionary index out of range")
                        v = dictionary[x]
                        vsum += v
                        vmin = v if vmin is None else min(vmin, v)
                        vmax = v if vmax is None else max(vmax, v)
                    nulls += nvals - present
                    total += nvals
                    remaining -= nvals
                    n_pages += 1
                    pos = body_at + comp
    except (ValueError, ParquetFooterError, struct.error,
            TypeError, AttributeError) as e:
        msg = str(e) if isinstance(e, (ValueError,
                                       ParquetFooterError)) \
            else "malformed page structure"
        return {**_PD_NONE, "error": msg}
    return {
        "n_row_groups": len(meta["row_groups"]),
        "n_pages": n_pages, "dict_entries": dict_entries,
        "total_values": total, "n_nulls": nulls,
        "values_sum": vsum, "min_val": vmin, "max_val": vmax,
        "error": None,
    }


_PD_SCHEMA = (
    "doc_id long, n_row_groups int, n_pages int, dict_entries int, "
    "total_values bigint, n_nulls bigint, values_sum bigint, "
    "min_val bigint, max_val bigint, error string"
)


def extract_parquet_dict_values(df: DataFrame,
                                content_col: str = "content",
                                id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_parquet_dict_values, _PD_SCHEMA,
                     id_col, content_col)


def build_parquet_delta(values: list[int],
                        row_group_size: int = 10) -> bytes:
    """One int64 'val' column, DELTA_BINARY_PACKED (encoding 5) —
    pyarrow is the writer, so the decoder below is checked against
    the canonical encoder (the stdlib-encoder rule)."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({"val": pa.array(values, pa.int64())})
    buf = io.BytesIO()
    pq.write_table(table, buf, row_group_size=row_group_size,
                   compression="none", use_dictionary=False,
                   column_encoding={"val": "DELTA_BINARY_PACKED"},
                   write_statistics=False)
    return buf.getvalue()


def _zigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _unpack_lsb(body: bytes, pos: int, bw: int, count: int
                ) -> tuple[list[int], int]:
    """LSB-first bit-packed unsigned values, `count` of them in
    exactly ceil(count*bw/8) bytes (count is a multiple of 8 by
    the miniblock-size rule, so it is count*bw/8)."""
    nbytes = count * bw // 8
    if pos + nbytes > len(body):
        raise ValueError("miniblock overruns page")
    if bw == 0:
        return [0] * count, pos
    big = int.from_bytes(body[pos:pos + nbytes], "little")
    mask = (1 << bw) - 1
    out = [(big >> (k * bw)) & mask for k in range(count)]
    return out, pos + nbytes


def decode_delta_binary_packed(body: bytes, pos: int,
                               expect: int) -> tuple[list[int], int]:
    """Decode one DELTA_BINARY_PACKED run of `expect` values
    starting at `pos`; returns (values, new_pos). The first value
    rides in the header (zigzag ULEB); each block carries a zigzag
    min-delta and one bitwidth PER miniblock, but only miniblocks
    that hold at least one remaining value are materialized — a
    STARTED miniblock is always written in full (padding decodes to
    min_delta offsets that must be DISCARDED, not appended)."""
    block_size, pos = _uleb(body, pos)
    n_mini, pos = _uleb(body, pos)
    total, pos = _uleb(body, pos)
    if n_mini == 0 or block_size % n_mini:
        raise ValueError("bad delta block geometry")
    mb = block_size // n_mini
    if mb % 8:
        raise ValueError("miniblock size not byte aligned")
    if total != expect:
        raise ValueError("delta count disagrees with header")
    first_z, pos = _uleb(body, pos)
    first = _zigzag(first_z)
    out = [first]
    remaining = total - 1
    prev = first
    while remaining > 0:
        mind_z, pos = _uleb(body, pos)
        mind = _zigzag(mind_z)
        if pos + n_mini > len(body):
            raise ValueError("miniblock widths overrun page")
        widths = list(body[pos:pos + n_mini])
        pos += n_mini
        for bw in widths:
            if remaining <= 0:
                break
            if bw > 64:
                raise ValueError("delta bit width out of range")
            packed, pos = _unpack_lsb(body, pos, bw, mb)
            take = min(remaining, mb)
            for v in packed[:take]:
                prev = prev + mind + v
                out.append(prev)
            remaining -= take
    return out, pos


_PDB_NONE = {"n_row_groups": None, "n_pages": None,
             "total_values": None, "values_sum": None,
             "min_val": None, "max_val": None}


def parse_parquet_delta_values(data: bytes | None,
                               column: str = "val") -> dict:
    """DELTA_BINARY_PACKED data pages end to end: footer thrift ->
    page thrift -> RLE definition levels -> delta-decoded int64s,
    with the exact-consumption gate at the page tail."""
    if data is None or len(data) < 12:
        return {**_PDB_NONE, "error": "file shorter than parquet "
                                      "envelope"}
    data = bytes(data)
    try:
        meta = parse_parquet_footer(data)
    except ParquetFooterError as e:
        return {**_PDB_NONE, "error": str(e)}
    try:
        n_rg = len(meta["row_groups"])
        n_pages = 0
        total = 0
        vsum = 0
        vmin = vmax = None
        for rg in meta["row_groups"]:
            for col in rg["cols"]:
                if col["path"] != column:
                    continue
                if col["codec"] != "UNCOMPRESSED":
                    raise ValueError(
                        f"unsupported codec {col['codec']}")
                pos = col["data_page_offset"]
                remaining = col["num_values"]
                while remaining > 0:
                    r = _Reader(data[pos:])
                    hdr = r.struct()
                    header_len = r.pos
                    if hdr.get(1) != 0:
                        raise ValueError(
                            f"unsupported page type {hdr.get(1)}")
                    comp_size = hdr.get(3)
                    dph = hdr.get(5) or {}
                    nvals = dph.get(1)
                    if dph.get(2) != 5:
                        raise ValueError(
                            "unsupported encoding "
                            f"{dph.get(2)} (want delta)")
                    body_at = pos + header_len
                    if (not isinstance(comp_size, int)
                            or comp_size < 4
                            or body_at + comp_size > len(data)):
                        raise ValueError("page overruns file")
                    body = data[body_at:body_at + comp_size]
                    (lvl_len,) = struct.unpack_from("<I", body, 0)
                    if 4 + lvl_len > len(body):
                        raise ValueError("levels overrun page")
                    vals, endq = decode_delta_binary_packed(
                        body, 4 + lvl_len, nvals)
                    if endq != len(body):
                        raise ValueError(
                            "trailing bytes after delta values")
                    n_pages += 1
                    total += len(vals)
                    vsum += sum(vals)
                    lo, hi = min(vals), max(vals)
                    vmin = lo if vmin is None else min(vmin, lo)
                    vmax = hi if vmax is None else max(vmax, hi)
                    remaining -= nvals
                    pos = body_at + comp_size
    except (ValueError, AttributeError, IndexError, KeyError,
            TypeError, struct.error, ParquetFooterError) as e:
        # ParquetFooterError: the page header rides the same thrift
        # reader as the footer, so header corruption surfaces as it
        msg = str(e) or type(e).__name__
        return {**_PDB_NONE, "error": msg}
    return {"n_row_groups": n_rg, "n_pages": n_pages,
            "total_values": total, "values_sum": vsum,
            "min_val": vmin, "max_val": vmax, "error": None}


def extract_parquet_delta_values(df: DataFrame,
                                 content_col: str = "content",
                                 id_col: str = "doc_id"
                                 ) -> DataFrame:
    schema = ("doc_id long, n_row_groups int, n_pages int, "
              "total_values bigint, values_sum bigint, "
              "min_val bigint, max_val bigint, error string")
    return map_blobs(df, parse_parquet_delta_values, schema,
                     id_col, content_col)
