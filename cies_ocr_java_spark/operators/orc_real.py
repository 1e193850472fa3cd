"""ORC file-metadata walk — the third columnar format beside
parquet_footer/parquet_pages and arrow_ipc_real, and a different
metadata philosophy: ORC's tail is PROTOBUF (proto_wire's varint/
length-delimited walk, one level up from the reference usage), read
back-to-front: the final byte is the postscript length, the
postscript carries the footer length + compression kind + its own
"ORC" magic (field 8000 — the high-field-number trick), and the
footer carries the stripe directory, the TYPE TREE (root struct's
subtypes arrive as a PACKED varint vector — wiretype 2, not repeated
scalars), and per-column statistics whose integer min/max/sum are
SINT64 ZIGZAG (a big-endian or unsigned habit silently corrupts
every negative and doubles every value).

The writer is REAL pyarrow.orc; this module only reads. Exactness
hook: ORC persists each column's sum/min/max in the file statistics —
the walker surfaces them and the oracle recomputes the same numbers
closed-form, so a single varint misread anywhere in the chain breaks
the compare.

Gates: leading "ORC" header magic, postscript bounds + magic,
compression NONE only (zlib files — real ones, pyarrow-written — are
rejected BY NAME), footer bounds, stripe row accounting vs the
footer's numberOfRows, root statistics count vs numberOfRows.

Failure contract: every malformed file yields an error ROW.

Reference parity: none — beyond-reference columnar-storage operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.proto_wire import _decode_varint
from cies_ocr_java_spark.operators.walker import map_blobs

_KINDS = {0: "boolean", 1: "byte", 2: "short", 3: "int", 4: "long",
          5: "float", 6: "double", 7: "string", 8: "binary",
          9: "timestamp", 10: "list", 11: "map", 12: "struct",
          13: "union", 14: "decimal", 15: "date", 16: "varchar",
          17: "char"}


def _zz(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _fields(data: bytes, what: str):
    pos = 0
    while pos < len(data):
        tag, pos = _decode_varint(data, pos)
        f, wt = tag >> 3, tag & 7
        if wt == 0:
            v, pos = _decode_varint(data, pos)
            yield f, v
        elif wt == 2:
            ln, pos = _decode_varint(data, pos)
            if ln < 0 or pos + ln > len(data):
                raise ValueError(f"field overruns {what}")
            yield f, data[pos:pos + ln]
            pos += ln
        elif wt == 5:
            if pos + 4 > len(data):
                raise ValueError(f"field overruns {what}")
            yield f, data[pos:pos + 4]
            pos += 4
        elif wt == 1:
            if pos + 8 > len(data):
                raise ValueError(f"field overruns {what}")
            yield f, data[pos:pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wt} in {what}")


def _packed_varints(data: bytes) -> list[int]:
    out, pos = [], 0
    while pos < len(data):
        v, pos = _decode_varint(data, pos)
        out.append(v)
    return out


_ORC_NONE = {
    "n_stripes": None, "n_rows": None, "n_cols": None,
    "col_kinds": None, "val_min": None, "val_max": None,
    "val_sum": None,
}


def parse_orc_meta(data: bytes | None, sum_col: str = "val") -> dict:
    if data is None or len(data) < 16:
        return {**_ORC_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        if data[:3] != b"ORC":
            raise ValueError("bad orc header magic")
        ps_len = data[-1]
        if ps_len == 0 or 1 + ps_len > len(data):
            raise ValueError("postscript overruns file")
        ps = dict(_fields(data[-1 - ps_len:-1], "postscript"))
        if ps.get(8000) != b"ORC":
            raise ValueError("bad postscript magic")
        if ps.get(2, 0) != 0:
            raise ValueError("compressed orc unsupported")
        flen = ps.get(1)
        if not isinstance(flen, int) or not flen \
                or 1 + ps_len + flen > len(data):
            raise ValueError("footer overruns file")

        def _sub(v, what):
            # a mutated wiretype can deliver a varint where a
            # length-delimited submessage belongs — gate, never index
            if not isinstance(v, bytes):
                raise ValueError(f"scalar where {what} expected")
            return v
        ftr = data[len(data) - 1 - ps_len - flen:
                   len(data) - 1 - ps_len]
        stripes = []
        types = []
        stats = []
        n_rows = None
        for f, v in _fields(ftr, "footer"):
            if f == 3:
                stripes.append(dict(_fields(_sub(v, "stripe"), "stripe")))
            elif f == 4:
                types.append(list(_fields(_sub(v, "type"), "type")))
            elif f == 6:
                n_rows = v
            elif f == 7:
                stats.append(dict(_fields(_sub(v, "statistics"), "statistics")))
        if not isinstance(n_rows, int) or not types:
            raise ValueError("footer missing row count or types")
        stripe_rows = 0
        for s in stripes:
            v5 = s.get(5, 0)
            if not isinstance(v5, int):
                raise ValueError("scalar where stripe rows expected")
            stripe_rows += v5
        if stripe_rows != n_rows:
            raise ValueError("stripe row accounting mismatch")
        root = types[0]
        subtypes: list[int] = []
        names: list[str] = []
        for f, v in root:
            if f == 2:
                subtypes.extend(_packed_varints(_sub(v, "subtypes")))
            elif f == 3:
                names.append(_sub(v, "field name").decode("utf-8"))
        if len(subtypes) != len(names):
            raise ValueError("field name/subtype count mismatch")
        kinds = []
        for tid in subtypes:
            if tid >= len(types):
                raise ValueError("subtype id out of type tree")
            kind = dict(types[tid]).get(1, -1)
            kinds.append(_KINDS.get(kind, f"kind{kind}"))
        if stats:
            root_n = stats[0].get(1, None)
            if root_n != n_rows:
                raise ValueError(
                    "root statistics count disagrees with rows")
        vmin = vmax = vsum = None
        if sum_col in names:
            sid = subtypes[names.index(sum_col)]
            if sid < len(stats):
                ist = stats[sid].get(2)
                if ist is not None:
                    d = dict(_fields(_sub(ist, "int statistics"),
                                     "int statistics"))
                    for key in (1, 2, 3):
                        if key in d and not isinstance(d[key], int):
                            raise ValueError(
                                "scalar where int statistic expected")
                    vmin = _zz(d[1]) if 1 in d else None
                    vmax = _zz(d[2]) if 2 in d else None
                    vsum = _zz(d[3]) if 3 in d else None
    except (ValueError, UnicodeDecodeError) as e:
        msg = str(e) if isinstance(e, ValueError) \
            else "invalid utf-8 field name"
        return {**_ORC_NONE, "error": msg}
    return {
        "n_stripes": len(stripes), "n_rows": n_rows,
        "n_cols": len(names), "col_kinds": ",".join(kinds),
        "val_min": vmin, "val_max": vmax, "val_sum": vsum,
        "error": None,
    }


_ORC_SCHEMA = (
    "doc_id long, n_stripes int, n_rows bigint, n_cols int, "
    "col_kinds string, val_min bigint, val_max bigint, "
    "val_sum bigint, error string"
)


def extract_orc_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_orc_meta, _ORC_SCHEMA, id_col, content_col)
