"""DWARF .debug_line walker — the line-number program is a bytecode
VM whose instructions are TUNED PER COMPILATION UNIT: the header
publishes line_base / line_range / opcode_base, and every opcode >=
opcode_base is a SPECIAL opcode encoding an (address, line) advance
pair arithmetically — adj = op - opcode_base; addr +=
(adj / line_range) * min_inst; line += line_base + (adj %
line_range) — so the same byte means different things under
different headers, and a parser with hardcoded constants decodes
garbage that still looks plausible. Standard opcodes are versioned
by the header's standard_opcode_lengths array (unknown ones are
skipped by their DECLARED uleb arity — forward compat like pcapng's
unknown blocks); extended opcodes ride an escape byte 0x00 + uleb
length. Rows are emitted by specials, DW_LNS_copy, and
DW_LNE_end_sequence (which also resets the state machine —
forgetting the reset corrupts every later sequence). const_add_pc
advances as special opcode 255 WITHOUT emitting — the
most-misimplemented opcode in the spec.

Version 4 headers: u32 unit length (exact-consumption gate), u16
version, u32 header length (cross-checked against the actual
table end), include_directories and file_names as NUL-terminated
lists with uleb attributes.

Interop: tests compile C with `gcc -gdwarf-4`, extract
.debug_line with objcopy, parse with THIS walker, and compare
row-for-row against readelf --debug-dump=decodedline.

Failure contract: every malformed section yields an error ROW.

Reference parity: none — debug-info recovery is beyond-reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs


def _uleb(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _sleb(v: int) -> bytes:
    out = bytearray()
    more = True
    while more:
        b = v & 0x7F
        v >>= 7
        if (v == 0 and not b & 0x40) or (v == -1 and b & 0x40):
            more = False
        else:
            b |= 0x80
        out.append(b)
    return bytes(out)


def _read_uleb(d: bytes, p: int) -> tuple[int, int]:
    v = s = 0
    while True:
        if p >= len(d):
            raise ValueError("truncated uleb")
        b = d[p]
        p += 1
        v |= (b & 0x7F) << s
        s += 7
        if not b & 0x80:
            return v, p
        if s > 63:
            raise ValueError("uleb too long")


def _read_sleb(d: bytes, p: int) -> tuple[int, int]:
    v = s = 0
    while True:
        if p >= len(d):
            raise ValueError("truncated sleb")
        b = d[p]
        p += 1
        v |= (b & 0x7F) << s
        s += 7
        if not b & 0x80:
            if s < 64 and b & 0x40:
                v -= 1 << s
            return v, p
        if s > 63:
            raise ValueError("sleb too long")


_STD_LENGTHS = [0, 1, 1, 1, 1, 0, 0, 0, 1, 0, 0, 1]


def build_line_program(files: list[str],
                       sequences: list[list[tuple]], *,
                       line_base: int = -3, line_range: int = 12,
                       opcode_base: int = 13,
                       lie_header_len: bool = False,
                       lie_unit_len: bool = False,
                       bad_version: bool = False,
                       chop: int = 0) -> bytes:
    """sequences: list of op lists; ops are tuples:
    ('addr', v) DW_LNE_set_address, ('special', adj),
    ('copy',), ('adv_pc', n), ('adv_line', n), ('file', n),
    ('col', n), ('neg_stmt',), ('const_pc',), ('fixed_pc', n),
    ('end',) — end_sequence is appended automatically if absent."""
    prog = bytearray()
    for seq in sequences:
        ops = list(seq)
        if not ops or ops[-1] != ("end",):
            ops.append(("end",))
        for op in ops:
            k = op[0]
            if k == "addr":
                prog += b"\x00" + _uleb(9) + b"\x02" \
                    + op[1].to_bytes(8, "little")
            elif k == "special":
                code = opcode_base + op[1]
                if not opcode_base <= code <= 255:
                    raise ValueError("special out of range")
                prog.append(code)
            elif k == "copy":
                prog.append(1)
            elif k == "adv_pc":
                prog += b"\x02" + _uleb(op[1])
            elif k == "adv_line":
                prog += b"\x03" + _sleb(op[1])
            elif k == "file":
                prog += b"\x04" + _uleb(op[1])
            elif k == "col":
                prog += b"\x05" + _uleb(op[1])
            elif k == "neg_stmt":
                prog.append(6)
            elif k == "const_pc":
                prog.append(8)
            elif k == "fixed_pc":
                prog += b"\x09" + op[1].to_bytes(2, "little")
            elif k == "end":
                prog += b"\x00\x01\x01"
            else:
                raise ValueError(k)

    hdr_tail = bytearray()
    hdr_tail.append(1)  # min_inst
    hdr_tail.append(1)  # max_ops
    hdr_tail.append(1)  # default_is_stmt
    hdr_tail.append(line_base & 0xFF)
    hdr_tail.append(line_range)
    hdr_tail.append(opcode_base)
    hdr_tail += bytes(_STD_LENGTHS[:opcode_base - 1])
    hdr_tail += b"src\x00" + b"\x00"  # one include dir, terminator
    for f in files:
        hdr_tail += f.encode() + b"\x00" + _uleb(1) + _uleb(0) \
            + _uleb(0)
    hdr_tail += b"\x00"

    header_len = len(hdr_tail)
    if lie_header_len:
        header_len += 2
    body = bytearray()
    body += (4).to_bytes(2, "little")  # version
    if bad_version:
        body[-2:] = (9).to_bytes(2, "little")
    body += header_len.to_bytes(4, "little")
    body += hdr_tail
    body += prog
    unit_len = len(body)
    if lie_unit_len:
        unit_len += 4
    out = unit_len.to_bytes(4, "little") + bytes(body)
    if chop:
        out = out[:-chop]
    return out


_DW_NONE = {
    "n_units": None, "n_files": None, "n_sequences": None,
    "n_rows": None, "addr_sum": None, "line_sum": None,
    "end_addr_sum": None,
}


def parse_line_programs(data: bytes | None) -> dict:
    """Walk every line-program unit in a .debug_line section."""
    if data is None or len(data) < 10:
        return {**_DW_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        pos = 0
        n_units = n_files = n_seq = n_rows = 0
        addr_sum = line_sum = end_addr_sum = 0
        while pos < len(data):
            if pos + 4 > len(data):
                raise ValueError("truncated unit length")
            ulen = int.from_bytes(data[pos:pos + 4], "little")
            if ulen >= 0xFFFFFFF0:
                raise ValueError("64-bit dwarf unsupported")
            unit = data[pos + 4:pos + 4 + ulen]
            if len(unit) != ulen:
                raise ValueError("unit overruns section")
            pos += 4 + ulen
            n_units += 1

            p = 0
            if p + 6 > len(unit):
                raise ValueError("truncated unit header")
            ver = int.from_bytes(unit[p:p + 2], "little")
            if ver != 4:
                raise ValueError(f"unsupported dwarf version {ver}")
            p += 2
            hlen = int.from_bytes(unit[p:p + 4], "little")
            p += 4
            prog_at = p + hlen
            if prog_at > len(unit):
                raise ValueError("header overruns unit")
            if p + 6 > len(unit):
                raise ValueError("truncated unit header")
            min_inst = unit[p]
            max_ops = unit[p + 1]
            unit[p + 2]  # default_is_stmt
            line_base = unit[p + 3] - (256 if unit[p + 3] >= 128
                                       else 0)
            line_range = unit[p + 4]
            opcode_base = unit[p + 5]
            p += 6
            if (min_inst == 0 or max_ops == 0 or line_range == 0
                    or opcode_base == 0):
                raise ValueError("bad header parameters")
            std_len = list(unit[p:p + opcode_base - 1])
            if len(std_len) != opcode_base - 1:
                raise ValueError("truncated opcode lengths")
            p += opcode_base - 1
            # include directories
            while True:
                e = unit.index(b"\x00", p) if b"\x00" in unit[p:] \
                    else -1
                if e < 0:
                    raise ValueError("unterminated directory list")
                if e == p:
                    p = e + 1
                    break
                p = e + 1
            # file names
            while True:
                if p >= len(unit):
                    raise ValueError("unterminated file list")
                e = unit.find(b"\x00", p)
                if e < 0:
                    raise ValueError("unterminated file list")
                if e == p:
                    p = e + 1
                    break
                p = e + 1
                _, p = _read_uleb(unit, p)   # dir index
                _, p = _read_uleb(unit, p)   # mtime
                _, p = _read_uleb(unit, p)   # length
                n_files += 1
            if p != prog_at:
                raise ValueError(
                    "header length disagrees with tables")

            # the VM
            addr = 0
            line = 1
            in_seq = False
            while p < len(unit):
                op = unit[p]
                p += 1
                if op >= opcode_base:
                    adj = op - opcode_base
                    addr += (adj // line_range) * min_inst
                    line += line_base + (adj % line_range)
                    n_rows += 1
                    addr_sum += addr
                    line_sum += line
                    in_seq = True
                elif op == 0:
                    elen, p = _read_uleb(unit, p)
                    if p + elen > len(unit):
                        raise ValueError(
                            "extended op overruns unit")
                    sub = unit[p] if elen else None
                    if sub == 1:
                        n_rows += 1
                        addr_sum += addr
                        line_sum += line
                        end_addr_sum += addr
                        n_seq += 1
                        addr, line = 0, 1
                        in_seq = False
                    elif sub == 2:
                        if elen != 9:
                            raise ValueError(
                                "bad set_address length")
                        addr = int.from_bytes(
                            unit[p + 1:p + 9], "little")
                    # other extended ops skipped by length
                    p += elen
                elif op == 1:
                    n_rows += 1
                    addr_sum += addr
                    line_sum += line
                    in_seq = True
                elif op == 2:
                    n, p = _read_uleb(unit, p)
                    addr += n * min_inst
                elif op == 3:
                    n, p = _read_sleb(unit, p)
                    line += n
                elif op == 8:
                    adj = 255 - opcode_base
                    addr += (adj // line_range) * min_inst
                elif op == 9:
                    if p + 2 > len(unit):
                        raise ValueError("truncated fixed advance")
                    addr += int.from_bytes(unit[p:p + 2], "little")
                    p += 2
                elif op < len(std_len) + 1:
                    # skip by declared arity (4,5,6,7,...)
                    for _ in range(std_len[op - 1]):
                        _, p = _read_uleb(unit, p)
                else:
                    raise ValueError("opcode past table")
            if in_seq:
                raise ValueError("unit ends inside a sequence")
    except ValueError as e:
        return {**_DW_NONE, "error": str(e)}
    return {
        "n_units": n_units, "n_files": n_files,
        "n_sequences": n_seq, "n_rows": n_rows,
        "addr_sum": addr_sum, "line_sum": line_sum,
        "end_addr_sum": end_addr_sum, "error": None,
    }


_DW_SCHEMA = (
    "doc_id long, n_units int, n_files int, n_sequences int, "
    "n_rows int, addr_sum bigint, line_sum bigint, "
    "end_addr_sum bigint, error string"
)


def extract_dwarf_features(df: DataFrame,
                           content_col: str = "content",
                           id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_line_programs, _DW_SCHEMA, id_col, content_col)
