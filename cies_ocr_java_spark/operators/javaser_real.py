"""Java Object Serialization stream walker — the wire format of
java.io.ObjectOutputStream (the reference engine's own runtime
serializes this way): STREAM_MAGIC 0xACED / version 5, then a
content grammar where EVERY object-ish thing (class descriptor,
string, object) is assigned a wire handle counting up from
0x7E0000 IN WRITE ORDER — including the easily-forgotten
className1 descriptor string inside an 'L'-typed field descriptor,
which consumes a handle before the first object does; get the
handle accounting wrong by one and every later TC_REFERENCE
resolves to the wrong thing. Class descriptors carry the full
recursive shape (UTF name, serialVersionUID, flags, typed field
list, TC_ENDBLOCKDATA annotation terminator, then the SUPER class
descriptor), and class data is written SUPERCLASS-FIRST, so a
parser that reads the leaf class's fields first desynchronizes on
any hierarchy.

Subset: SC_SERIALIZABLE classes without writeObject, primitive
fields B/Z/S/I/J/D, and object fields of type java.lang.String
(TC_STRING / TC_REFERENCE / TC_NULL values). Repeat classes and
repeat strings are TC_REFERENCEs — counted, resolved, and
validated against the handle table (a reference to a handle not
yet allocated is the named error a forward-pointer corruption
produces).

Failure contract: every malformed stream yields an error ROW.

Reference parity: thematic — the reference
(DocumentExtractManager.java) is a Java service whose runtime
serializes exactly this format; the walker itself is
beyond-reference.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_MAGIC = b"\xac\xed\x00\x05"
_BASE_HANDLE = 0x7E0000
_TC_NULL = 0x70
_TC_REFERENCE = 0x71
_TC_CLASSDESC = 0x72
_TC_OBJECT = 0x73
_TC_STRING = 0x74
_TC_ENDBLOCKDATA = 0x78
_SC_SERIALIZABLE = 0x02

_PRIM_SIZE = {"B": 1, "Z": 1, "S": 2, "I": 4, "J": 8, "D": 8}


class _Writer:
    def __init__(self) -> None:
        self.out = bytearray(_MAGIC)
        self.handles: dict[object, int] = {}
        self.next = _BASE_HANDLE

    def _utf(self, s: str) -> None:
        raw = s.encode("utf-8")
        self.out += len(raw).to_bytes(2, "big") + raw

    def _alloc(self, key: object) -> None:
        self.handles[key] = self.next
        self.next += 1

    def string(self, s: str) -> None:
        key = ("str", s)
        if key in self.handles:
            self.out.append(_TC_REFERENCE)
            self.out += self.handles[key].to_bytes(4, "big")
            return
        self.out.append(_TC_STRING)
        self._utf(s)
        self._alloc(key)

    def classdesc(self, cls: dict | None) -> None:
        """cls = {name, uid, fields: [(code, name, cls1|None)],
        super: cls|None}"""
        if cls is None:
            self.out.append(_TC_NULL)
            return
        key = ("cls", cls["name"])
        if key in self.handles:
            self.out.append(_TC_REFERENCE)
            self.out += self.handles[key].to_bytes(4, "big")
            return
        self.out.append(_TC_CLASSDESC)
        self._utf(cls["name"])
        self.out += struct.pack(">q", cls["uid"])
        self._alloc(key)
        self.out.append(_SC_SERIALIZABLE)
        self.out += len(cls["fields"]).to_bytes(2, "big")
        for code, fname, cls1 in cls["fields"]:
            self.out += code.encode()
            self._utf(fname)
            if code in ("L", "["):
                self.string(cls1)
        self.out.append(_TC_ENDBLOCKDATA)
        self.classdesc(cls.get("super"))

    def object(self, cls: dict, values: dict) -> None:
        """values maps field name -> python value (int / str / None).
        Class data is emitted superclass-first."""
        self.out.append(_TC_OBJECT)
        self.classdesc(cls)
        self._alloc(("obj", self.next))
        chain = []
        c = cls
        while c is not None:
            chain.append(c)
            c = c.get("super")
        for c in reversed(chain):
            for code, fname, _ in c["fields"]:
                v = values[fname]
                if code == "I":
                    self.out += struct.pack(">i", v)
                elif code == "J":
                    self.out += struct.pack(">q", v)
                elif code == "Z":
                    self.out.append(1 if v else 0)
                elif code == "B":
                    self.out += struct.pack(">b", v)
                elif code == "S":
                    self.out += struct.pack(">h", v)
                elif code == "D":
                    self.out += struct.pack(">d", v)
                elif code == "L":
                    if v is None:
                        self.out.append(_TC_NULL)
                    else:
                        self.string(v)
                else:
                    raise ValueError(code)


def build_javaser(objects: list[tuple[dict, dict]], *,
                  bad_magic: bool = False,
                  forward_ref: bool = False,
                  chop: int = 0) -> bytes:
    w = _Writer()
    for cls, values in objects:
        w.object(cls, values)
    if forward_ref:
        w.out.append(_TC_REFERENCE)
        w.out += (w.next + 5).to_bytes(4, "big")
    out = bytearray(w.out)
    if bad_magic:
        out[0] = 0xAD
    if chop:
        del out[-chop:]
    return bytes(out)


_JS_NONE = {
    "n_objects": None, "n_classes": None, "n_strings": None,
    "n_refs": None, "int_sum": None, "max_fields": None,
}


class _Reader:
    def __init__(self, data: bytes) -> None:
        self.d = data
        self.p = 4
        self.handles: list = []
        self.n_refs = 0
        self.int_sum = 0
        self.n_objects = 0
        self.n_classes = 0
        self.n_strings = 0
        self.max_fields = 0

    def take(self, n: int) -> bytes:
        if self.p + n > len(self.d):
            raise ValueError("truncated stream")
        b = self.d[self.p:self.p + n]
        self.p += n
        return b

    def utf(self) -> str:
        n = int.from_bytes(self.take(2), "big")
        return self.take(n).decode("utf-8", errors="strict")

    def resolve(self) -> object:
        h = int.from_bytes(self.take(4), "big")
        idx = h - _BASE_HANDLE
        if idx < 0 or idx >= len(self.handles):
            raise ValueError("reference to unallocated handle")
        self.n_refs += 1
        return self.handles[idx]

    def string_obj(self) -> str | None:
        tc = self.take(1)[0]
        if tc == _TC_NULL:
            return None
        if tc == _TC_REFERENCE:
            v = self.resolve()
            if not isinstance(v, str):
                raise ValueError("reference is not a string")
            return v
        if tc == _TC_STRING:
            s = self.utf()
            self.handles.append(s)
            self.n_strings += 1
            return s
        raise ValueError("unexpected tag where string expected")

    def classdesc(self) -> dict | None:
        tc = self.take(1)[0]
        if tc == _TC_NULL:
            return None
        if tc == _TC_REFERENCE:
            v = self.resolve()
            if not isinstance(v, dict):
                raise ValueError("reference is not a class")
            return v
        if tc != _TC_CLASSDESC:
            raise ValueError("unexpected tag where class expected")
        name = self.utf()
        self.take(8)  # serialVersionUID
        cls: dict = {"name": name}
        self.handles.append(cls)
        self.n_classes += 1
        flags = self.take(1)[0]
        if not flags & _SC_SERIALIZABLE:
            raise ValueError("unsupported class flags")
        nf = int.from_bytes(self.take(2), "big")
        fields = []
        for _ in range(nf):
            code = self.take(1).decode()
            fname = self.utf()
            if code in ("L", "["):
                self.string_obj()  # className1 consumes a handle
            elif code not in _PRIM_SIZE:
                raise ValueError("unknown field type code")
            fields.append((code, fname))
        if self.take(1)[0] != _TC_ENDBLOCKDATA:
            raise ValueError("class annotation not supported")
        cls["fields"] = fields
        cls["super"] = self.classdesc()
        return cls

    def object(self) -> None:
        cls = self.classdesc()
        if cls is None:
            raise ValueError("object with null class")
        self.handles.append(("obj",))
        self.n_objects += 1
        chain = []
        c = cls
        total_fields = 0
        while c is not None:
            chain.append(c)
            total_fields += len(c["fields"])
            c = c.get("super")
        self.max_fields = max(self.max_fields, total_fields)
        for c in reversed(chain):
            for code, _fname in c["fields"]:
                if code in _PRIM_SIZE:
                    raw = self.take(_PRIM_SIZE[code])
                    if code == "I":
                        self.int_sum += struct.unpack(">i", raw)[0]
                    elif code == "J":
                        self.int_sum += struct.unpack(">q", raw)[0]
                    elif code == "S":
                        self.int_sum += struct.unpack(">h", raw)[0]
                    elif code == "B":
                        self.int_sum += struct.unpack(">b", raw)[0]
                    elif code == "Z":
                        if raw[0] > 1:
                            raise ValueError("boolean out of range")
                else:
                    self.string_obj()

    def run(self) -> None:
        while self.p < len(self.d):
            tc = self.d[self.p]
            if tc == _TC_OBJECT:
                self.p += 1
                self.object()
            elif tc == _TC_REFERENCE:
                self.p += 1
                self.resolve()
            else:
                raise ValueError("unknown top-level tag")


def parse_javaser(data: bytes | None) -> dict:
    if data is None or len(data) < 4:
        return {**_JS_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        if data[:4] != _MAGIC:
            raise ValueError("bad magic or version")
        r = _Reader(data)
        r.run()
    except ValueError as e:
        return {**_JS_NONE, "error": str(e)}
    except (UnicodeDecodeError, struct.error):
        return {**_JS_NONE, "error": "malformed primitive data"}
    return {
        "n_objects": r.n_objects, "n_classes": r.n_classes,
        "n_strings": r.n_strings, "n_refs": r.n_refs,
        "int_sum": r.int_sum, "max_fields": r.max_fields,
        "error": None,
    }


_JS_SCHEMA = (
    "doc_id long, n_objects int, n_classes int, n_strings int, "
    "n_refs int, int_sum bigint, max_fields int, error string"
)


def extract_javaser_features(df: DataFrame,
                             content_col: str = "content",
                             id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_javaser, _JS_SCHEMA, id_col, content_col)
