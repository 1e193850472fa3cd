"""REAL bzip2 decoder from first principles on pure Python — the last
classic compressor missing from the suite (DEFLATE in inflate.py, LZW
in multimodal.py's GIF, LZ4 in lz4_real.py): a bzip2 block is FIVE
stacked transforms, decoded here in reverse —

  bits -> (Huffman groups, switched every 50 symbols by MTF'd
  selectors) -> RLE2 (RUNA/RUNB zero-run symbols in bijective base 2)
  -> MTF over the used-byte alphabet -> inverse BWT (the origPtr walk
  over the counting-sorted T vector) -> RLE1 (4 equal bytes + count)

plus the format's bookkeeping: blocks are BIT-aligned (a 48-bit block
magic can start mid-byte), the symbol map is a two-level 16+16
bitmap, Huffman code lengths are delta-coded from a 5-bit start, and
TWO CRCs gate the result — a per-block CRC32 (MSB-first, unreflected,
init/xor 0xFFFFFFFF — OGG's polynomial discipline with DEFLATE's
pre/post conditioning) over the fully decoded block, and a stream CRC
combined by rotate-left-1-then-xor.

Interop: fixtures are produced by stdlib ``bz2.compress`` (the real
bzip2 bitstream), so every decode is checked against the canonical
implementation — the zipfile/tar interop precedent.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed stream yields an error ROW — never an exception.

Reference parity: none — beyond-reference codec operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_BLOCK_MAGIC = 0x314159265359
_END_MAGIC = 0x177245385090
_MAX_CODE_LEN = 23


class _Bits:
    """MSB-first bit reader (bzip2 is big-endian at the bit level)."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.nbits = len(data) * 8

    def take(self, n: int) -> int:
        pos = self.pos
        end = pos + n
        if end > self.nbits:
            raise ValueError("unexpected end of stream")
        b0, b1 = pos >> 3, (end + 7) >> 3
        chunk = int.from_bytes(self.data[b0:b1], "big")
        self.pos = end
        return (chunk >> (b1 * 8 - end)) & ((1 << n) - 1)


def _bz_crc(data: bytes) -> int:
    """bzip2's CRC32: poly 0x04C11DB7 fed MSB-first (unreflected, the
    OGG discipline) with init and final-xor 0xFFFFFFFF."""
    crc = 0xFFFFFFFF
    for b in data:
        crc ^= b << 24
        for _ in range(8):
            if crc & 0x80000000:
                crc = ((crc << 1) ^ 0x04C11DB7) & 0xFFFFFFFF
            else:
                crc = (crc << 1) & 0xFFFFFFFF
    return crc ^ 0xFFFFFFFF


def _canon_table(lengths: list[int]) -> tuple[dict, int]:
    """MSB-first canonical codes: shorter codes first, ties by symbol
    index (the bzip2 assignment)."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    maxlen = max(lengths)
    for ln in range(min(lengths), maxlen + 1):
        for sym, l in enumerate(lengths):
            if l == ln:
                table[(ln, code)] = sym
                code += 1
        code <<= 1
    return table, maxlen


def _decode_sym(bits: _Bits, table: dict, maxlen: int) -> int:
    code = 0
    for ln in range(1, maxlen + 1):
        code = (code << 1) | bits.take(1)
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid huffman code")


def _decode_block(bits: _Bits, block_size: int) -> bytes:
    crc_expect = bits.take(32)
    if bits.take(1):
        raise ValueError("deprecated randomized block")
    orig_ptr = bits.take(24)
    # two-level used-byte bitmap
    used: list[int] = []
    groups16 = bits.take(16)
    for i in range(16):
        if groups16 & (0x8000 >> i):
            bm = bits.take(16)
            for j in range(16):
                if bm & (0x8000 >> j):
                    used.append(16 * i + j)
    if not used:
        raise ValueError("empty symbol map")
    alpha = len(used) + 2
    n_groups = bits.take(3)
    if not 2 <= n_groups <= 6:
        raise ValueError("bad huffman group count")
    n_sel = bits.take(15)
    if n_sel == 0:
        raise ValueError("no selectors")
    # selectors, MTF-coded over group indices
    mtf_g = list(range(n_groups))
    selectors = []
    for _ in range(n_sel):
        j = 0
        while bits.take(1):
            j += 1
            if j >= n_groups:
                raise ValueError("selector out of range")
        g = mtf_g.pop(j)
        mtf_g.insert(0, g)
        selectors.append(g)
    # delta-coded code lengths per group
    tables = []
    for _ in range(n_groups):
        ln = bits.take(5)
        lengths = []
        for _ in range(alpha):
            while True:
                if not 1 <= ln <= _MAX_CODE_LEN:
                    raise ValueError("code length out of range")
                if not bits.take(1):
                    break
                ln += -1 if bits.take(1) else 1
            lengths.append(ln)
        tables.append(_canon_table(lengths))
    # symbol stream: RLE2 + MTF
    mtf = list(used)
    bwt = bytearray()
    run = 0
    runbit = 0
    sel_idx = 0
    cnt = 0
    table = maxlen = None
    while True:
        if cnt == 0:
            if sel_idx >= len(selectors):
                raise ValueError("selector list exhausted")
            table, maxlen = tables[selectors[sel_idx]]
            sel_idx += 1
            cnt = 50
        cnt -= 1
        s = _decode_sym(bits, table, maxlen)
        if s <= 1:  # RUNA / RUNB
            run += (s + 1) << runbit
            runbit += 1
            continue
        if run:
            if len(bwt) + run > block_size:
                raise ValueError("block overruns declared size")
            bwt += bytes([mtf[0]]) * run
            run = runbit = 0
        if s == alpha - 1:  # EOB
            break
        b = mtf.pop(s - 1)
        mtf.insert(0, b)
        if len(bwt) >= block_size:
            raise ValueError("block overruns declared size")
        bwt.append(b)
    if run:
        if len(bwt) + run > block_size:
            raise ValueError("block overruns declared size")
        bwt += bytes([mtf[0]]) * run
    n = len(bwt)
    if orig_ptr >= n:
        raise ValueError("origPtr out of range")
    # inverse BWT: counting sort -> T vector -> origPtr walk
    base = [0] * 256
    for b in bwt:
        base[b] += 1
    tot = 0
    for v in range(256):
        base[v], tot = tot, tot + base[v]
    seen = [0] * 256
    tt = [0] * n
    for idx, b in enumerate(bwt):
        tt[base[b] + seen[b]] = idx
        seen[b] += 1
    res = bytearray(n)
    p = tt[orig_ptr]
    for k in range(n):
        res[k] = bwt[p]
        p = tt[p]
    # RLE1: 4 equal bytes + count byte
    out = bytearray()
    i = 0
    while i < n:
        b = res[i]
        runlen = 1
        while runlen < 4 and i + runlen < n and res[i + runlen] == b:
            runlen += 1
        if runlen == 4:
            if i + 4 >= n:
                raise ValueError("truncated rle1 run")
            out += bytes([b]) * (4 + res[i + 4])
            i += 5
        else:
            out += bytes([b]) * runlen
            i += runlen
    if _bz_crc(bytes(out)) != crc_expect:
        raise ValueError("block crc mismatch")
    return bytes(out)


def bunzip2(data: bytes) -> bytes:
    """Decode a complete bzip2 stream; both CRC levels verified."""
    if len(data) < 10 or data[:3] != b"BZh":
        raise ValueError("not a bzip2 stream")
    level = data[3] - 0x30
    if not 1 <= level <= 9:
        raise ValueError("bad bzip2 level")
    bits = _Bits(data)
    bits.pos = 32
    out = bytearray()
    stream_crc = 0
    while True:
        magic = bits.take(48)
        if magic == _END_MAGIC:
            expect = bits.take(32)
            if expect != stream_crc:
                raise ValueError("stream crc mismatch")
            return bytes(out)
        if magic != _BLOCK_MAGIC:
            raise ValueError("bad block magic")
        block = _decode_block(bits, level * 100000)
        out += block
        stream_crc = (((stream_crc << 1) & 0xFFFFFFFF)
                      | (stream_crc >> 31)) ^ _bz_crc(block)


_BZ_NONE = {"n_bytes": None, "n_lines": None, "text_md5": None,
            "level": None}


def parse_bzip2_doc(data: bytes | None) -> dict:
    """Decode and surface text stats; every malformed stream yields an
    error row."""
    import hashlib

    if data is None or len(data) < 4:
        return {**_BZ_NONE, "error": "short or missing payload"}
    try:
        out = bunzip2(bytes(data))
    except ValueError as e:
        return {**_BZ_NONE, "error": str(e)}
    return {
        "n_bytes": len(out),
        "n_lines": out.count(b"\n"),
        "text_md5": hashlib.md5(out).hexdigest(),
        "level": data[3] - 0x30,
        "error": None,
    }


BZIP2_SCHEMA = ("doc_id long, n_bytes bigint, n_lines int, "
                "text_md5 string, level int, error string")


def extract_bzip2_docs(df: DataFrame, content_col: str = "content",
                       id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> decoded-stream stats via one
    Arrow-batched mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_bzip2_doc, BZIP2_SCHEMA, id_col, content_col)
