"""REAL LZMA decoder from first principles — the probability-model
end of the compressor spectrum: where DEFLATE/bzip2 ship explicit
code TABLES, LZMA ships almost nothing; both sides regrow ~14k
adaptive probabilities in lockstep and the bitstream is a RANGE CODER
(arithmetic coding's integer form): one 32-bit window narrowed by
`bound = (range >> 11) * prob` per bit, probabilities nudged by
+(2048-p)>>5 / -p>>5, renormalized by shifting in a byte when the
range drops below 2^24.

Model structure decoded here (the complete LZMA1 spec):
- literals: 0x300 probs per context, context = (lc high bits of the
  previous byte, lp low bits of position); after a match the literal
  is decoded AGAINST the byte at the last match distance (matched-
  literal mode) until the paths diverge;
- matches: state machine over 12 states choosing match vs rep vs
  shortrep; lengths via choice/choice2 + 3/3/8-bit trees; distances
  via a 6-bit slot tree (per length class) + fixed-prob middle bits +
  the 4-bit reversed ALIGN tree; 4 rotating rep distances;
- the container is .lzma FORMAT_ALONE: props byte (pb*5+lp)*9+lc,
  u32le dict size, u64le uncompressed size (0xFFFF.. = unknown, ended
  by the dist-0xFFFFFFFF end marker).

Fixtures come from STDLIB lzma at FORMAT_ALONE (the real bitstream) —
every decode is checked against the canonical encoder, the bz2/zip/tar
interop precedent.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed stream yields an error ROW — never an exception.

Reference parity: none — beyond-reference codec operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_K_TOP = 1 << 24
_PROB_INIT = 1024  # 2048 / 2


class _RangeDecoder:
    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        if pos + 5 > len(data):
            raise ValueError("unexpected end of stream")
        if data[pos] != 0:
            raise ValueError("nonzero first range-coder byte")
        self.code = int.from_bytes(data[pos + 1:pos + 5], "big")
        self.range = 0xFFFFFFFF
        self.pos = pos + 5

    def _next(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("unexpected end of stream")
        b = self.data[self.pos]
        self.pos += 1
        return b

    def decode_bit(self, probs: list[int], i: int) -> int:
        prob = probs[i]
        bound = (self.range >> 11) * prob
        if self.code < bound:
            self.range = bound
            probs[i] = prob + ((2048 - prob) >> 5)
            bit = 0
        else:
            self.range -= bound
            self.code -= bound
            probs[i] = prob - (prob >> 5)
            bit = 1
        if self.range < _K_TOP:
            self.range <<= 8
            self.code = ((self.code << 8) | self._next()) & 0xFFFFFFFF
        return bit

    def decode_direct(self, n: int) -> int:
        res = 0
        for _ in range(n):
            self.range >>= 1
            if self.code < self.range:
                bit = 0
            else:
                self.code -= self.range
                bit = 1
            res = (res << 1) | bit
            if self.range < _K_TOP:
                self.range <<= 8
                self.code = ((self.code << 8)
                             | self._next()) & 0xFFFFFFFF
        return res

    def decode_tree(self, probs: list[int], nbits: int) -> int:
        m = 1
        for _ in range(nbits):
            m = (m << 1) | self.decode_bit(probs, m)
        return m - (1 << nbits)

    def decode_tree_rev(self, probs: list[int], nbits: int,
                        base: int = 0) -> int:
        # base indexes into a SHARED prob array (spec_pos) so the
        # adaptive updates persist — a slice would copy them away
        m = 1
        sym = 0
        for k in range(nbits):
            b = self.decode_bit(probs, base + m)
            m = (m << 1) | b
            sym |= b << k
        return sym

    def finished(self) -> bool:
        return self.code == 0


class _LenDecoder:
    def __init__(self, n_pos_states: int) -> None:
        self.choice = [_PROB_INIT] * 2
        self.low = [[_PROB_INIT] * 8 for _ in range(n_pos_states)]
        self.mid = [[_PROB_INIT] * 8 for _ in range(n_pos_states)]
        self.high = [_PROB_INIT] * 256

    def decode(self, rc: _RangeDecoder, pos_state: int) -> int:
        if not rc.decode_bit(self.choice, 0):
            return rc.decode_tree(self.low[pos_state], 3)
        if not rc.decode_bit(self.choice, 1):
            return 8 + rc.decode_tree(self.mid[pos_state], 3)
        return 16 + rc.decode_tree(self.high, 8)


class _Lzma1Decoder:
    """The LZMA1 probability model + state machine, factored out so a
    container (lzma_decode_alone's FORMAT_ALONE, xz_real's LZMA2
    chunks) can drive it with its own reset/limit policy."""

    def __init__(self, lc: int, lp: int, pb: int) -> None:
        self.lc, self.lp, self.pb = lc, lp, pb
        self.pos_mask = (1 << pb) - 1
        self.lit_pos_mask = (1 << lp) - 1
        self.reset_state()

    def reset_state(self) -> None:
        n_pos_states = 1 << self.pb
        self.is_match = [_PROB_INIT] * (12 << 4)
        self.is_rep = [_PROB_INIT] * 12
        self.is_rep_g0 = [_PROB_INIT] * 12
        self.is_rep_g1 = [_PROB_INIT] * 12
        self.is_rep_g2 = [_PROB_INIT] * 12
        self.is_rep0_long = [_PROB_INIT] * (12 << 4)
        self.lit = [[_PROB_INIT] * 0x300
                    for _ in range(1 << (self.lc + self.lp))]
        self.len_dec = _LenDecoder(n_pos_states)
        self.rep_len_dec = _LenDecoder(n_pos_states)
        self.pos_slot = [[_PROB_INIT] * 64 for _ in range(4)]
        self.spec_pos = [_PROB_INIT] * 115
        self.align = [_PROB_INIT] * 16
        self.state = 0
        self.rep0 = self.rep1 = self.rep2 = self.rep3 = 0

    def run(self, rc: _RangeDecoder, out: bytearray,
            limit: int | None, max_out: int,
            allow_end_marker: bool, win_base: int = 0) -> None:
        """Append decoded bytes to ``out`` until len(out) == limit
        (exact), or until the end marker when ``limit`` is None.
        ``out`` doubles as the dictionary window, so container formats
        share history across chunks by passing the same buffer.
        ``win_base`` fences the window after a MID-BLOCK dictionary
        reset (LZMA2 ctrl 0x01 / reset==3): bytes below it stay in the
        accumulated output but are invisible to distances, positions,
        and the previous-byte literal context — clearing the buffer
        instead would lose the block's earlier payload (round-3 advice
        item, xz_real.py)."""
        lc = self.lc
        state = self.state
        rep0, rep1 = self.rep0, self.rep1
        rep2, rep3 = self.rep2, self.rep3
        while True:
            if limit is not None and len(out) >= limit:
                break
            dict_pos = len(out) - win_base
            pos_state = dict_pos & self.pos_mask
            if not rc.decode_bit(self.is_match,
                                 (state << 4) | pos_state):
                # literal
                prev = out[-1] if dict_pos else 0
                ctx = (((dict_pos & self.lit_pos_mask) << lc)
                       | (prev >> (8 - lc)))
                probs = self.lit[ctx]
                if state >= 7:
                    # matched literal: decode against the byte at rep0
                    if rep0 + 1 > dict_pos:
                        raise ValueError("match byte out of window")
                    match_byte = out[len(out) - rep0 - 1]
                    sym = 1
                    while sym < 0x100:
                        match_bit = (match_byte >> 7) & 1
                        match_byte = (match_byte << 1) & 0xFF
                        bit = rc.decode_bit(
                            probs, ((1 + match_bit) << 8) + sym)
                        sym = (sym << 1) | bit
                        if match_bit != bit:
                            while sym < 0x100:
                                sym = ((sym << 1)
                                       | rc.decode_bit(probs, sym))
                            break
                else:
                    sym = 1
                    while sym < 0x100:
                        sym = (sym << 1) | rc.decode_bit(probs, sym)
                out.append(sym & 0xFF)
                if len(out) > max_out:
                    raise ValueError("output size cap exceeded")
                state = (0 if state < 4 else
                         state - 3 if state < 10 else state - 6)
                continue
            # match path
            if rc.decode_bit(self.is_rep, state):
                # rep match
                if not dict_pos:
                    raise ValueError("rep match with empty window")
                if not rc.decode_bit(self.is_rep_g0, state):
                    if not rc.decode_bit(self.is_rep0_long,
                                         (state << 4) | pos_state):
                        # short rep: one byte at rep0
                        if rep0 + 1 > dict_pos:
                            raise ValueError("distance out of window")
                        out.append(out[len(out) - rep0 - 1])
                        state = 9 if state < 7 else 11
                        if len(out) > max_out:
                            raise ValueError("output size cap exceeded")
                        continue
                else:
                    if not rc.decode_bit(self.is_rep_g1, state):
                        dist = rep1
                        rep1 = rep0
                        rep0 = dist
                    else:
                        if not rc.decode_bit(self.is_rep_g2, state):
                            dist = rep2
                        else:
                            dist = rep3
                            rep3 = rep2
                        rep2 = rep1
                        rep1 = rep0
                        rep0 = dist
                length = 2 + self.rep_len_dec.decode(rc, pos_state)
                state = 8 if state < 7 else 11
            else:
                # new match
                rep3, rep2, rep1 = rep2, rep1, rep0
                length = 2 + self.len_dec.decode(rc, pos_state)
                len_class = min(length - 2, 3)
                slot = rc.decode_tree(self.pos_slot[len_class], 6)
                if slot < 4:
                    rep0 = slot
                else:
                    nbits = (slot >> 1) - 1
                    rep0 = (2 | (slot & 1)) << nbits
                    if slot < 14:
                        rep0 += rc.decode_tree_rev(
                            self.spec_pos, nbits, base=rep0 - slot)
                    else:
                        rep0 += rc.decode_direct(nbits - 4) << 4
                        rep0 += rc.decode_tree_rev(self.align, 4)
                if rep0 == 0xFFFFFFFF:
                    if not allow_end_marker:
                        raise ValueError("unexpected end marker")
                    if limit is not None and len(out) != limit:
                        raise ValueError("size mismatch at end marker")
                    rep0 = rep1  # restore (unused)
                    break
                state = 7 if state < 7 else 10
            if rep0 + 1 > dict_pos:
                raise ValueError("distance out of window")
            if len(out) + length > max_out:
                raise ValueError("output size cap exceeded")
            if limit is not None and len(out) + length > limit:
                raise ValueError("match overruns declared size")
            start = len(out) - rep0 - 1
            for k in range(length):
                out.append(out[start + k])
        self.state = state
        self.rep0, self.rep1 = rep0, rep1
        self.rep2, self.rep3 = rep2, rep3


def split_props(props: int) -> tuple[int, int, int]:
    if props >= 9 * 5 * 5:
        raise ValueError("bad lzma properties byte")
    return props % 9, (props // 9) % 5, props // 45


def lzma_decode_alone(data: bytes, max_out: int = 1 << 26) -> bytes:
    """Decode a .lzma (FORMAT_ALONE) stream: 13-byte header + LZMA1."""
    if len(data) < 13:
        raise ValueError("short lzma header")
    lc, lp, pb = split_props(data[0])
    # dict size (data[1:5], unused for decode) + uncompressed size
    usize = int.from_bytes(data[5:13], "little")
    unknown_size = usize == 0xFFFFFFFFFFFFFFFF
    if not unknown_size and usize > max_out:
        raise ValueError("declared size exceeds cap")
    rc = _RangeDecoder(data, 13)
    dec = _Lzma1Decoder(lc, lp, pb)
    out = bytearray()
    dec.run(rc, out, None if unknown_size else usize, max_out,
            allow_end_marker=True)
    return bytes(out)


_LZMA_NONE = {"n_bytes": None, "n_lines": None, "text_md5": None,
              "lc": None, "lp": None, "pb": None}


def parse_lzma_doc(data: bytes | None) -> dict:
    import hashlib

    if data is None or len(data) < 13:
        return {**_LZMA_NONE, "error": "short or missing payload"}
    try:
        # 4 MiB cap: bounds how long a corrupted unknown-size stream
        # can emit garbage before a gate fires (fixture docs are KBs)
        out = lzma_decode_alone(bytes(data), max_out=1 << 22)
    except ValueError as e:
        return {**_LZMA_NONE, "error": str(e)}
    props = data[0]
    return {
        "n_bytes": len(out),
        "n_lines": out.count(b"\n"),
        "text_md5": hashlib.md5(out).hexdigest(),
        "lc": props % 9,
        "lp": (props // 9) % 5,
        "pb": props // 45,
        "error": None,
    }


LZMA_SCHEMA = ("doc_id long, n_bytes bigint, n_lines int, "
               "text_md5 string, lc int, lp int, pb int, error string")


def extract_lzma_docs(df: DataFrame, content_col: str = "content",
                      id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> decoded-stream stats via one
    Arrow-batched mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_lzma_doc, LZMA_SCHEMA, id_col, content_col)
