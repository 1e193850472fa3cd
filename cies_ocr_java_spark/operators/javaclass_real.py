"""REAL Java .class file walker on stdlib struct — the bytecode
artifact a crawl of JARs (which are ZIPs — archive.py's walk) bottoms
out in.  The format is one big INDIRECTION TABLE: a constant pool of
tag-typed entries where every name, type and string is a pool INDEX
into a CONSTANT_Utf8 entry, classes point at name entries, methods
point at class + name-and-type pairs — and the pool carries the
JVM spec's most famous wart, preserved since 1995: CONSTANT_Long and
CONSTANT_Double entries occupy TWO pool slots ("In retrospect, making
8-byte constants take two constant pool entries was a poor choice." —
JVMS §4.4.5, verbatim), so a naive 1-slot walk desynchronizes on the
first long constant and reads garbage tags forever after.

Also honored: pool indexes are 1-BASED (index 0 is reserved/invalid),
Utf8 entries use MODIFIED UTF-8 (embedded NUL as C0 80 — decoded
here), and access flags/method counts come after the pool.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed class yields an error ROW — never an exception.

Reference parity: none — beyond-reference binary-artifact operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

MAGIC = 0xCAFEBABE

C_UTF8, C_INT, C_FLOAT, C_LONG, C_DOUBLE = 1, 3, 4, 5, 6
C_CLASS, C_STRING, C_FIELDREF, C_METHODREF, C_IFACEREF = 7, 8, 9, 10, 11
C_NAMEANDTYPE = 12

_FIXED_SIZES = {C_INT: 4, C_FLOAT: 4, C_LONG: 8, C_DOUBLE: 8,
                C_CLASS: 2, C_STRING: 2, C_FIELDREF: 4,
                C_METHODREF: 4, C_IFACEREF: 4, C_NAMEANDTYPE: 4}


def _mutf8_encode(s: str) -> bytes:
    out = bytearray()
    for ch in s:
        c = ord(ch)
        if c == 0:
            out += b"\xc0\x80"  # modified UTF-8: embedded NUL
        elif c < 0x80:
            out.append(c)
        else:
            out += ch.encode("utf-8")
    return bytes(out)


def _mutf8_decode(raw: bytes) -> str:
    return raw.replace(b"\xc0\x80", b"\x00").decode("utf-8")


class _Pool:
    """Builder-side constant pool with slot-accurate indexing."""

    def __init__(self) -> None:
        self.entries: list[bytes] = []
        self.slots: list[int] = []  # slot index of each entry
        self._next = 1
        self._cache: dict = {}

    def add(self, tag: int, body: bytes, wide: bool = False,
            key=None) -> int:
        if key is not None and key in self._cache:
            return self._cache[key]
        idx = self._next
        self.entries.append(bytes([tag]) + body)
        self._next += 2 if wide else 1
        if key is not None:
            self._cache[key] = idx
        return idx

    def utf8(self, s: str) -> int:
        raw = _mutf8_encode(s)
        return self.add(C_UTF8, struct.pack(">H", len(raw)) + raw,
                        key=("u", s))

    def klass(self, name: str) -> int:
        return self.add(C_CLASS, struct.pack(">H", self.utf8(name)),
                        key=("c", name))

    def long_(self, v: int) -> int:
        return self.add(C_LONG, struct.pack(">q", v), wide=True,
                        key=("j", v))

    def nat(self, name: str, desc: str) -> int:
        return self.add(
            C_NAMEANDTYPE,
            struct.pack(">HH", self.utf8(name), self.utf8(desc)),
            key=("n", name, desc))

    def methodref(self, cls: str, name: str, desc: str) -> int:
        return self.add(
            C_METHODREF,
            struct.pack(">HH", self.klass(cls), self.nat(name, desc)),
            key=("m", cls, name, desc))

    def emit(self) -> bytes:
        return struct.pack(">H", self._next) + b"".join(self.entries)


def build_class(class_name: str, super_name: str,
                methods: list[tuple[str, str]],
                long_consts: list[int],
                major: int = 61, bad_tag: bool = False) -> bytes:
    """A structurally genuine .class: magic, version, slot-accurate
    pool (longs take two slots), this/super, empty interfaces/fields,
    method entries (flags, name, descriptor, 0 attributes)."""
    pool = _Pool()
    this_c = pool.klass(class_name)
    super_c = pool.klass(super_name)
    for v in long_consts:
        pool.long_(v)
    m_entries = []
    for name, desc in methods:
        m_entries.append(struct.pack(
            ">HHHH", 0x0001, pool.utf8(name), pool.utf8(desc), 0))
        pool.methodref(class_name, name, desc)
    out = bytearray(struct.pack(">IHH", MAGIC, 0, major))
    pool_bytes = pool.emit()
    if bad_tag:
        # overwrite the first entry's tag with tag 2 — unused since
        # the format's first release (19 would be CONSTANT_Module)
        pool_bytes = pool_bytes[:2] + b"\x02" + pool_bytes[3:]
    out += pool_bytes
    out += struct.pack(">HHH", 0x0021, this_c, super_c)
    out += struct.pack(">H", 0)  # interfaces
    out += struct.pack(">H", 0)  # fields
    out += struct.pack(">H", len(m_entries)) + b"".join(m_entries)
    out += struct.pack(">H", 0)  # attributes
    return bytes(out)


_JC_NONE = {"class_name": None, "super_name": None, "major": None,
            "n_pool": None, "n_wide": None, "n_methods": None,
            "method_names": None, "n_utf8": None}


def parse_class(data: bytes | None) -> dict:
    """Slot-accurate pool walk, 1-based index resolution, modified
    UTF-8 decode, method census."""
    if data is None or len(data) < 10:
        return {**_JC_NONE, "error": "short or missing payload"}
    data = bytes(data)
    magic, _minor, major = struct.unpack_from(">IHH", data, 0)
    if magic != MAGIC:
        return {**_JC_NONE, "error": "bad class magic"}
    try:
        (count,) = struct.unpack_from(">H", data, 8)
        pos = 10
        pool: dict[int, tuple] = {}
        idx = 1
        n_wide = 0
        while idx < count:
            if pos >= len(data):
                raise ValueError(f"pool entry {idx} overruns file")
            tag = data[pos]
            pos += 1
            if tag == C_UTF8:
                if pos + 2 > len(data):
                    raise ValueError(f"pool entry {idx} overruns file")
                (ln,) = struct.unpack_from(">H", data, pos)
                pos += 2
                if pos + ln > len(data):
                    raise ValueError(f"pool entry {idx} overruns file")
                pool[idx] = ("utf8",
                             _mutf8_decode(data[pos:pos + ln]))
                pos += ln
                idx += 1
            elif tag in _FIXED_SIZES:
                size = _FIXED_SIZES[tag]
                if pos + size > len(data):
                    raise ValueError(f"pool entry {idx} overruns file")
                pool[idx] = (tag, data[pos:pos + size])
                pos += size
                if tag in (C_LONG, C_DOUBLE):
                    # JVMS 4.4.5: 8-byte constants eat TWO slots
                    n_wide += 1
                    idx += 2
                else:
                    idx += 1
            else:
                raise ValueError(
                    f"undefined pool tag {tag} at entry {idx}")

        def utf8_at(i: int, what: str) -> str:
            e = pool.get(i)
            if e is None or e[0] != "utf8":
                raise ValueError(f"{what} is not a utf8 entry")
            return e[1]

        def class_name_at(i: int, what: str) -> str:
            e = pool.get(i)
            if e is None or e[0] != C_CLASS:
                raise ValueError(f"{what} is not a class entry")
            return utf8_at(struct.unpack(">H", e[1])[0], what)

        if pos + 6 > len(data):
            raise ValueError("truncated class body")
        _flags, this_i, super_i = struct.unpack_from(">HHH", data, pos)
        pos += 6
        cname = class_name_at(this_i, "this_class")
        sname = class_name_at(super_i, "super_class")
        (n_if,) = struct.unpack_from(">H", data, pos)
        pos += 2 + 2 * n_if
        (n_fields,) = struct.unpack_from(">H", data, pos)
        pos += 2
        for _ in range(n_fields):
            _f, _n, _d, natt = struct.unpack_from(">HHHH", data, pos)
            pos += 8
            for _ in range(natt):
                _ai, alen = struct.unpack_from(">HI", data, pos)
                pos += 6 + alen
        (n_methods,) = struct.unpack_from(">H", data, pos)
        pos += 2
        names = []
        for _ in range(n_methods):
            _f, ni, _di, natt = struct.unpack_from(">HHHH", data, pos)
            pos += 8
            names.append(utf8_at(ni, "method name"))
            for _ in range(natt):
                _ai, alen = struct.unpack_from(">HI", data, pos)
                pos += 6 + alen
        n_utf8 = sum(1 for e in pool.values() if e[0] == "utf8")
    except (ValueError, UnicodeDecodeError, struct.error) as e:
        msg = str(e) if isinstance(e, ValueError) else \
            "truncated class body"
        if isinstance(e, UnicodeDecodeError):
            msg = "invalid modified utf-8"
        return {**_JC_NONE, "error": msg}
    return {
        "class_name": cname,
        "super_name": sname,
        "major": major,
        "n_pool": count - 1,
        "n_wide": n_wide,
        "n_methods": n_methods,
        "method_names": ",".join(names),
        "n_utf8": n_utf8,
        "error": None,
    }


JAVACLASS_SCHEMA = (
    "doc_id long, class_name string, super_name string, major int, "
    "n_pool int, n_wide int, n_methods int, method_names string, "
    "n_utf8 int, error string"
)


def extract_class_features(df: DataFrame,
                           content_col: str = "content",
                           id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> class metadata via one Arrow-batched
    mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_class, JAVACLASS_SCHEMA, id_col, content_col)
