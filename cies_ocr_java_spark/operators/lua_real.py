"""Lua 5.4 binary chunk walker — the bytecode container with THE
inverted varint: dumpSize writes 7 bits per byte MSB-first and
marks the LAST byte with the high bit SET (every other varint in
this repo — protobuf, EBML, DWARF ULEB — marks continuation;
Lua marks termination, so a decoder that reuses its ULEB reader
consumes exactly one byte of every size and desyncs immediately).
The header is a battery of corruption canaries: the "\\x1bLua"
signature, the version/format bytes, the LUAC_DATA watermark
"\\x19\\x93\\r\\n\\x1a\\n" whose \\r\\n catches text-mode
transfer mangling BY DESIGN, then sizeof checks and two decoded
VALUES — LUAC_INT 0x5678 (byte order canary) and LUAC_NUM 370.5
(float format canary) — each a named error when wrong.

Function prototypes NEST (the protos array recurses), strings are
size+1-encoded (0 = NULL string, 1 = empty — the off-by-one is
load-bearing), constants carry 5.4's variant-tagged types
(VNUMINT raw 8-byte LE, VSHRSTR/VLNGSTR dumped strings), and
upvalues are (instack, idx, kind) byte triples.

Failure contract: every malformed chunk yields an error ROW.

Reference parity: none — bytecode recovery is beyond-reference.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_SIG = b"\x1bLua"
_LUAC_DATA = b"\x19\x93\r\n\x1a\n"
_LUAC_INT = 0x5678
_LUAC_NUM = 370.5


def dump_size(n: int) -> bytes:
    """7 bits per byte, MSB-first, HIGH BIT SET ON THE LAST BYTE."""
    out = bytearray()
    out.append((n & 0x7F) | 0x80)
    n >>= 7
    while n:
        out.append(n & 0x7F)
        n >>= 7
    return bytes(reversed(out))


def dump_string(s: bytes | None) -> bytes:
    if s is None:
        return dump_size(0)
    return dump_size(len(s) + 1) + s


def build_proto(source: bytes | None,
                instructions: list[int],
                constants: list,
                protos: list[bytes],
                n_upvals: int = 1) -> bytes:
    out = bytearray()
    out += dump_string(source)
    out += dump_size(10)   # linedefined
    out += dump_size(20)   # lastlinedefined
    out += bytes((0, 1, 4))  # numparams, is_vararg, maxstacksize
    out += dump_size(len(instructions))
    for ins in instructions:
        out += struct.pack("<I", ins)
    out += dump_size(len(constants))
    for c in constants:
        if c is None:
            out.append(0x00)
        elif c is False:
            out.append(0x01)
        elif c is True:
            out.append(0x11)
        elif isinstance(c, int):
            out.append(0x03)
            out += struct.pack("<q", c)
        elif isinstance(c, float):
            out.append(0x13)
            out += struct.pack("<d", c)
        else:
            out.append(0x04 if len(c) < 40 else 0x14)
            out += dump_string(c)
    out += dump_size(n_upvals)
    out += bytes((1, 0, 0)) * n_upvals
    out += dump_size(len(protos))
    for p in protos:
        out += p
    # debug info: empty lineinfo/abslineinfo/locals/upvalues
    out += dump_size(0) + dump_size(0) + dump_size(0) + dump_size(0)
    return bytes(out)


def build_chunk(main: bytes, *, bad_watermark: bool = False,
                byteswap_int: bool = False,
                bad_float: bool = False,
                chop: int = 0) -> bytes:
    out = bytearray()
    out += _SIG
    out += bytes((0x54, 0))
    wm = bytearray(_LUAC_DATA)
    if bad_watermark:
        wm[2:4] = b"\n\n"  # the text-mode CRLF mangling
    out += wm
    out += bytes((4, 8, 8))  # sizeof instr / integer / number
    out += struct.pack(">q" if byteswap_int else "<q", _LUAC_INT)
    out += struct.pack("<d", 370.25 if bad_float else _LUAC_NUM)
    out += bytes((1,))  # main upvalue count
    out += main
    if chop:
        del out[-chop:]
    return bytes(out)


_LUA_NONE = {
    "n_functions": None, "n_instructions": None,
    "n_constants": None, "int_const_sum": None,
    "str_const_bytes": None, "max_depth": None, "n_upvalues": None,
}


class _Rd:
    def __init__(self, d: bytes, p: int) -> None:
        self.d = d
        self.p = p

    def take(self, n: int) -> bytes:
        if self.p + n > len(self.d):
            raise ValueError("truncated chunk")
        b = self.d[self.p:self.p + n]
        self.p += n
        return b

    def size(self) -> int:
        n = 0
        for _ in range(10):
            b = self.take(1)[0]
            n = (n << 7) | (b & 0x7F)
            if b & 0x80:  # termination, not continuation
                return n
        raise ValueError("size varint too long")

    def string(self) -> bytes | None:
        n = self.size()
        if n == 0:
            return None
        return self.take(n - 1)


def parse_lua_chunk(data: bytes | None) -> dict:
    if data is None or len(data) < 33:
        return {**_LUA_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        if data[:4] != _SIG:
            raise ValueError("bad signature")
        if data[4] != 0x54:
            raise ValueError("unsupported lua version")
        if data[5] != 0:
            raise ValueError("unsupported format")
        if data[6:12] != _LUAC_DATA:
            raise ValueError("corrupt chunk watermark")
        if tuple(data[12:15]) != (4, 8, 8):
            raise ValueError("unsupported native sizes")
        if struct.unpack_from("<q", data, 15)[0] != _LUAC_INT:
            raise ValueError("integer format mismatch")
        if struct.unpack_from("<d", data, 23)[0] != _LUAC_NUM:
            raise ValueError("float format mismatch")
        r = _Rd(data, 31)
        r.take(1)  # main upvalue count
        st = {"fn": 0, "ins": 0, "k": 0, "isum": 0, "sbytes": 0,
              "maxd": 0, "upv": 0}

        def proto(depth: int) -> None:
            if depth > 16:
                raise ValueError("proto nesting too deep")
            st["fn"] += 1
            st["maxd"] = max(st["maxd"], depth)
            r.string()  # source
            r.size()
            r.size()
            r.take(3)
            ncode = r.size()
            if ncode > len(data):
                raise ValueError("code count overruns chunk")
            r.take(4 * ncode)
            st["ins"] += ncode
            nk = r.size()
            if nk > len(data):
                raise ValueError("constant count overruns chunk")
            for _ in range(nk):
                t = r.take(1)[0]
                if t == 0x00 or t == 0x01 or t == 0x11:
                    pass
                elif t == 0x03:
                    st["isum"] += struct.unpack("<q", r.take(8))[0]
                elif t == 0x13:
                    r.take(8)
                elif t in (0x04, 0x14):
                    s = r.string()
                    if s is None:
                        raise ValueError("null string constant")
                    st["sbytes"] += len(s)
                else:
                    raise ValueError("unknown constant tag")
            st["k"] += nk
            nup = r.size()
            if nup > len(data):
                raise ValueError("upvalue count overruns chunk")
            r.take(3 * nup)
            st["upv"] += nup
            nproto = r.size()
            if nproto > len(data):
                raise ValueError("proto count overruns chunk")
            for _ in range(nproto):
                proto(depth + 1)
            # debug sections (empty in our chunks, sized anyway)
            r.take(r.size())
            for _ in range(r.size()):
                r.size()
                r.size()
            for _ in range(r.size()):
                r.string()
                r.size()
                r.size()
            for _ in range(r.size()):
                r.string()

        proto(1)
        if r.p != len(data):
            raise ValueError("trailing bytes after chunk")
    except ValueError as e:
        return {**_LUA_NONE, "error": str(e)}
    except (struct.error, RecursionError):
        return {**_LUA_NONE, "error": "malformed structure"}
    return {
        "n_functions": st["fn"], "n_instructions": st["ins"],
        "n_constants": st["k"], "int_const_sum": st["isum"],
        "str_const_bytes": st["sbytes"], "max_depth": st["maxd"],
        "n_upvalues": st["upv"], "error": None,
    }


_LUA_SCHEMA = (
    "doc_id long, n_functions int, n_instructions int, "
    "n_constants int, int_const_sum bigint, "
    "str_const_bytes bigint, max_depth int, n_upvalues int, "
    "error string"
)


def extract_lua_features(df: DataFrame,
                         content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_lua_chunk, _LUA_SCHEMA, id_col, content_col)
