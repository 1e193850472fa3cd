"""CPython marshal walker — the serialization under every .pyc:
one-byte type codes whose HIGH BIT is the FLAG_REF: a flagged
object claims the next slot in the ref table AT ENCOUNTER (before
its children are read — containers reserve, then fill), and 'r'
records reference slots by index, so a walker that assigns slots
after reading children desynchronizes the table on the first
nested flagged container and every later ref resolves wrongly.
Identity, not equality, drives sharing: CPython's small-int cache
and interned strings mean two occurrences of the same small value
arrive as def + ref, while equal-but-distinct big ints arrive as
two defs — fixture design must keep values identity-distinct for
closed-form counting (the small-int-cache hazard is documented in
the query).

Codes handled: None/bool ('N','T','F'), 'i' int32 LE, 'l' PyLong
(i32 digit count, sign in the count, 15-bit digits in u16 LE),
'g' float64 LE, short-ascii 'z'/'Z', ascii 'a'/'A', unicode 'u',
interned 't', bytes 's', tuple '('/')' (u32 / u8 small), list '[',
dict '{' (pairs until a NULL '0' key), set '<'/frozenset '>',
ref 'r'. Exactly ONE top-level value; trailing bytes are a named
error (exact-consumption discipline).

Interop: fixtures are produced by the stdlib `marshal.dumps` —
the walker is checked against the canonical encoder, not our own
builder (tests/test_pymarshal_real.py).

Failure contract: every malformed stream yields an error ROW.

Reference parity: none — bytecode-adjacent artifact recovery is
beyond-reference.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_FLAG_REF = 0x80


class _Walk:
    def __init__(self, data: bytes) -> None:
        self.d = data
        self.p = 0
        self.refs: list[object] = []
        self.n_values = 0
        self.n_ints = 0
        self.int_sum = 0
        self.n_strings = 0
        self.str_chars = 0
        self.n_containers = 0
        self.n_refs = 0
        self.max_depth = 0

    def take(self, n: int) -> bytes:
        if self.p + n > len(self.d):
            raise ValueError("truncated value")
        b = self.d[self.p:self.p + n]
        self.p += n
        return b

    def u32(self) -> int:
        return int.from_bytes(self.take(4), "little")

    def value(self, depth: int) -> object:
        if depth > 100:
            raise ValueError("nesting too deep")
        self.max_depth = max(self.max_depth, depth)
        code = self.take(1)[0]
        flag = code & _FLAG_REF
        c = chr(code & 0x7F)
        idx = None
        if flag:
            idx = len(self.refs)
            self.refs.append(None)  # reserve at encounter

        def done(v: object) -> object:
            if idx is not None:
                self.refs[idx] = v
            return v

        if c == "r":
            j = self.u32()
            if j >= len(self.refs):
                raise ValueError("ref index out of range")
            self.n_refs += 1
            return self.refs[j]
        self.n_values += 1
        if c == "N":
            return done(None)
        if c == "T":
            return done(True)
        if c == "F":
            return done(False)
        if c == "i":
            v = struct.unpack("<i", self.take(4))[0]
            self.n_ints += 1
            self.int_sum += v
            return done(v)
        if c == "l":
            n = struct.unpack("<i", self.take(4))[0]
            sign = -1 if n < 0 else 1
            v = 0
            for k in range(abs(n)):
                d = int.from_bytes(self.take(2), "little")
                if d >= 1 << 15:
                    raise ValueError("long digit out of range")
                v |= d << (15 * k)
            v *= sign
            self.n_ints += 1
            self.int_sum += v
            return done(v)
        if c == "g":
            v = struct.unpack("<d", self.take(8))[0]
            return done(v)
        if c in ("z", "Z"):
            n = self.take(1)[0]
            s = self.take(n).decode("ascii", errors="strict")
            self.n_strings += 1
            self.str_chars += len(s)
            return done(s)
        if c in ("a", "A", "t"):
            n = self.u32()
            s = self.take(n).decode("ascii", errors="strict")
            self.n_strings += 1
            self.str_chars += len(s)
            return done(s)
        if c == "u":
            n = self.u32()
            s = self.take(n).decode("utf-8", errors="strict")
            self.n_strings += 1
            self.str_chars += len(s)
            return done(s)
        if c == "s":
            n = self.u32()
            return done(bytes(self.take(n)))
        if c in ("(", ")", "[", "<", ">"):
            n = self.take(1)[0] if c == ")" else self.u32()
            if n > len(self.d):
                raise ValueError("container count overruns stream")
            self.n_containers += 1
            items = []
            if idx is not None:
                self.refs[idx] = items  # visible to children
            for _ in range(n):
                items.append(self.value(depth + 1))
            return items if idx is None else self.refs[idx]
        if c == "{":
            self.n_containers += 1
            out: dict = {}
            if idx is not None:
                self.refs[idx] = out
            while True:
                if self.p >= len(self.d):
                    raise ValueError("truncated value")
                if self.d[self.p] == ord("0"):
                    self.p += 1
                    break
                k = self.value(depth + 1)
                v = self.value(depth + 1)
                out[id(k)] = v
            return out if idx is None else self.refs[idx]
        raise ValueError("unknown type code")


_PM_NONE = {
    "n_values": None, "n_ints": None, "int_sum": None,
    "n_strings": None, "str_chars": None, "n_containers": None,
    "n_refs": None, "max_depth": None,
}


def parse_marshal(data: bytes | None) -> dict:
    if data is None or len(data) < 1:
        return {**_PM_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        w = _Walk(data)
        w.value(1)
        if w.p != len(data):
            raise ValueError("trailing bytes after value")
    except ValueError as e:
        return {**_PM_NONE, "error": str(e)}
    except UnicodeDecodeError:
        return {**_PM_NONE, "error": "bad string encoding"}
    except RecursionError:
        return {**_PM_NONE, "error": "nesting too deep"}
    return {
        "n_values": w.n_values, "n_ints": w.n_ints,
        "int_sum": w.int_sum, "n_strings": w.n_strings,
        "str_chars": w.str_chars, "n_containers": w.n_containers,
        "n_refs": w.n_refs, "max_depth": w.max_depth, "error": None,
    }


_PM_SCHEMA = (
    "doc_id long, n_values int, n_ints int, int_sum bigint, "
    "n_strings int, str_chars bigint, n_containers int, "
    "n_refs int, max_depth int, error string"
)


def extract_marshal_features(df: DataFrame,
                             content_col: str = "content",
                             id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_marshal, _PM_SCHEMA, id_col, content_col)
