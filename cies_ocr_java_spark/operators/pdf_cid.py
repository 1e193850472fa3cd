"""Composite-font (Type0/CID) text extraction via embedded ToUnicode CMaps.

Real-world PDFs almost never show text as readable literals: producers
SUBSET-EMBED fonts, show text as 2-byte glyph-code strings (``<0102> Tj``
under ``/Encoding /Identity-H``), and ship a ``/ToUnicode`` CMap stream
that maps codes back to Unicode — without walking that CMap an extractor
recovers garbage bytes, which is exactly what PDFBox's text stripper does
for the reference (DocumentExtractManager.java:446-461 loads arbitrary
PDFs whose fonts are overwhelmingly subset CID fonts). This module closes
that gap for the real-PDF subset:

Writer (``build_pdf_cid``) performs REAL font subsetting: distinct
characters get codes in order of first appearance (the order a subsetting
producer assigns them), the page shows the text as hex/literal code
strings (Tj and kerned [..] TJ forms), and each font object carries a
FlateDecoded ToUnicode CMap with a proper CIDInit preamble, a
``codespacerange``, and ``bfchar``/``bfrange`` sections — contiguous
code->Unicode runs compress to bfranges (capped at 100 entries per block
per the CMap spec), everything else is bfchar, including multi-UTF-16-unit
destinations for non-BMP characters.

Reader (``parse_pdf_cid``) does the structural walk every other parser
shares (pdf_real._leaf_pages: header -> xref -> page tree), resolves each
page's ``/Resources /Font`` map, loads each Type0 font's ToUnicode stream,
parses the CMap with canonical-form gates (declared block counts must
match, ranges must be ordered, the codespacerange must be present), then
re-tokenizes the content stream tracking ``Tf`` font selection
(pdf_real._content_tokens_pos(fonts=True)) and maps every 2-byte code
through the active font's CMap. Codes a CMap does not cover decode to
U+FFFD and are COUNTED (n_unmapped) — a missing mapping is a per-glyph
degradation, not a document failure — while structural damage (dangling
ToUnicode ref, inverted bfrange, odd-length code string) fails the
document with a fixed error string, the degradation contract all parsers
here share.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.pdf_real import (
    _content_tokens_pos,
    _contents_of,
    _HexLit,
    _leaf_pages,
    _load_object,
    _PdfError,
    _ref,
    _stream_bytes,
    _unescape_literal,
)
from cies_ocr_java_spark.operators.walker import map_blobs

__all__ = ["build_pdf_cid", "parse_pdf_cid", "extract_pdf_cid",
           "PDF_CID_SCHEMA"]

_CMAP_HEAD = b"""/CIDInit /ProcSet findresource begin
12 dict begin
begincmap
/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) /Supplement 0 >> def
/CMapName /Adobe-Identity-UCS def
/CMapType 2 def
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
"""
_CMAP_TAIL = b"""endcmap
CMapName currentdict /CMap defineresource pop
end
end
"""


def _subset_codes(chars: list[str], base: int) -> dict[str, int]:
    """First-appearance code assignment — the order a subsetting
    producer emits glyphs."""
    codes: dict[str, int] = {}
    for ch in chars:
        if ch not in codes:
            codes[ch] = base + len(codes)
    return codes


def _tounicode_cmap(codes: dict[str, int], *,
                    skip: set[str] = frozenset(),
                    bad_range: bool = False) -> bytes:
    """Emit a real ToUnicode CMap for a code assignment. Contiguous
    (code, BMP-codepoint) runs become bfranges — the spec increments only
    the LAST BYTE of the range destination, so runs break at a 0x100
    boundary of the destination low byte; everything else (and every
    non-BMP char, whose destination is two UTF-16 units) is a bfchar."""
    items = sorted(
        ((c, ch) for ch, c in codes.items() if ch not in skip)
    )
    ranges: list[tuple[int, int, int]] = []   # (lo, hi, dst0) over BMP
    chars: list[tuple[int, str]] = []
    for code, ch in items:
        cp = ord(ch)
        if cp <= 0xFFFF:
            if (ranges and ranges[-1][1] == code - 1
                    and ranges[-1][2] + (code - ranges[-1][0]) == cp
                    and (ranges[-1][2] & 0xFF) + (code - ranges[-1][0])
                    <= 0xFF):
                lo, _, dst0 = ranges[-1]
                ranges[-1] = (lo, code, dst0)
            else:
                ranges.append((code, code, cp))
        else:
            chars.append((code, ch))
    # singleton "ranges" read better as bfchars, as real producers emit
    for lo, hi, dst0 in [r for r in ranges if r[0] == r[1]]:
        chars.append((lo, chr(dst0)))
    ranges = [r for r in ranges if r[0] != r[1]]
    chars.sort()
    out = bytearray(_CMAP_HEAD)
    for at in range(0, len(chars), 100):
        blk = chars[at:at + 100]
        out += b"%d beginbfchar\n" % len(blk)
        for code, ch in blk:
            dst = ch.encode("utf-16-be").hex().upper()
            out += b"<%04X> <%s>\n" % (code, dst.encode())
        out += b"endbfchar\n"
    for at in range(0, len(ranges), 100):
        blk = ranges[at:at + 100]
        out += b"%d beginbfrange\n" % len(blk)
        for lo, hi, dst0 in blk:
            if bad_range:
                lo, hi = hi + 1, lo  # inverted bounds: the poison tier
            out += b"<%04X> <%04X> <%04X>\n" % (lo, hi, dst0)
        out += b"endbfrange\n"
    out += _CMAP_TAIL
    return bytes(out)


def _codes_hex(segment: str, codes: dict[str, int]) -> bytes:
    return b"<" + b"".join(
        b"%04X" % codes[ch] for ch in segment
    ) + b">"


def _codes_literal(segment: str, codes: dict[str, int]) -> bytes:
    raw = b"".join(
        codes[ch].to_bytes(2, "big") for ch in segment
    )
    esc = raw.replace(b"\\", b"\\\\").replace(b"(", b"\\(")
    esc = esc.replace(b")", b"\\)")
    return b"(" + esc + b")"


def build_pdf_cid(text: str, *, two_fonts: bool = False,
                  poison: str | None = None) -> bytes:
    """Emit a real classic-xref PDF whose text is shown ONLY as CID code
    strings under subset Type0 fonts with FlateDecoded ToUnicode CMaps.

    ``two_fonts`` splits the text across /F1 and /F2 (second subset's
    codes start at 0x0100) with a mid-stream Tf switch. ``poison``:
    ``dangling_tounicode`` (ref to an absent object), ``bad_bfrange``
    (inverted range bounds), ``odd_hex`` (a code string with an odd byte
    count), ``unmapped_tail`` (the final character's mapping is omitted
    from the CMap — decodes to U+FFFD, a degradation not a failure)."""
    chars = list(text)
    cut = len(chars) // 2 if two_fonts else len(chars)
    seg1, seg2 = chars[:cut], chars[cut:]
    codes1 = _subset_codes(seg1, 1)
    codes2 = _subset_codes(seg2, 0x0100)
    skip1: set[str] = set()
    skip2: set[str] = set()
    if poison == "unmapped_tail":
        (skip2 if seg2 else skip1).add(chars[-1])
    cmap1 = zlib.compress(_tounicode_cmap(
        codes1, skip=skip1, bad_range=(poison == "bad_bfrange")))
    cmap2 = zlib.compress(_tounicode_cmap(codes2, skip=skip2))

    # content: first third as a kerned TJ array, middle as a literal
    # string, rest as a plain hex Tj — the three show forms a real
    # producer mixes
    def _shows(seg: str, codes: dict[str, int]) -> list[bytes]:
        if not seg:
            return []
        a, b = max(1, len(seg) // 3), max(2, 2 * len(seg) // 3)
        if len(seg) < 3:
            return [_codes_hex(seg, codes) + b" Tj"]
        return [
            b"[" + _codes_hex(seg[:a], codes) + b" -120 "
            + _codes_hex(seg[a:b], codes) + b"] TJ",
            _codes_literal(seg[b:], codes) + b" Tj",
        ]

    ops = [b"BT", b"/F1 12 Tf", b"72 720 Td"] + _shows("".join(seg1), codes1)
    if two_fonts:
        ops += [b"/F2 12 Tf"] + _shows("".join(seg2), codes2)
    if poison == "odd_hex":
        ops.append(b"<01> Tj")  # one byte: cannot split into 2-byte codes
    ops.append(b"ET")
    content = b"\n".join(ops)

    tou1 = b"9" if poison == "dangling_tounicode" else b"6"
    font_res = b"/F1 5 0 R" + (b" /F2 7 0 R" if two_fonts else b"")
    objs: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Resources << /Font << "
            + font_res + b" >> >> /Contents 4 0 R >>"),
        4: b"<< /Length %d >>\nstream\n%s\nendstream" % (
            len(content), content),
        5: (b"<< /Type /Font /Subtype /Type0 /BaseFont /AAAAAA+Fake "
            b"/Encoding /Identity-H /ToUnicode " + tou1 + b" 0 R >>"),
        6: (b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
            % (len(cmap1), cmap1)),
    }
    if two_fonts:
        objs[7] = (b"<< /Type /Font /Subtype /Type0 /BaseFont /BBBBBB+Fake "
                   b"/Encoding /Identity-H /ToUnicode 8 0 R >>")
        objs[8] = (b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\n"
                   b"endstream" % (len(cmap2), cmap2))
    buf = bytearray(b"%PDF-1.4\n")
    offsets: dict[int, int] = {}
    for num in sorted(objs):
        offsets[num] = len(buf)
        buf += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_at = len(buf)
    n = max(objs) + 1
    buf += b"xref\n0 %d\n" % n
    buf += b"0000000000 65535 f \n"
    for num in range(1, n):
        buf += b"%010d 00000 n \n" % offsets[num]
    buf += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (n, xref_at))
    return bytes(buf)


_HEXPAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_BFCHAR_RE = re.compile(rb"(\d+)\s+beginbfchar(.*?)endbfchar", re.DOTALL)
_BFRANGE_RE = re.compile(rb"(\d+)\s+beginbfrange(.*?)endbfrange", re.DOTALL)


def _parse_cmap(raw: bytes) -> dict[int, str]:
    """ToUnicode CMap -> {code: text}, with canonical-form gates: the
    cmap envelope and a 2-byte codespacerange must be present, declared
    bfchar/bfrange block counts must match their entries, and range
    bounds must be ordered. Destinations are UTF-16BE (possibly multiple
    code units — non-BMP); range destinations increment as integers over
    a single code unit, the only form the writer emits (the spec's
    last-byte rule keeps every emitted range inside that form)."""
    if b"begincmap" not in raw or b"endcmap" not in raw:
        raise _PdfError("ToUnicode stream is not a cmap")
    if not re.search(
        rb"begincodespacerange\s*<0000>\s*<FFFF>\s*endcodespacerange",
        raw, re.IGNORECASE,
    ):
        raise _PdfError("missing 2-byte codespacerange")
    mapping: dict[int, str] = {}
    for m in _BFCHAR_RE.finditer(raw):
        declared = int(m.group(1))
        pairs = _HEXPAIR_RE.findall(m.group(2))
        if len(pairs) != 2 * declared:
            raise _PdfError("bfchar count mismatch")
        for k in range(declared):
            src, dst = pairs[2 * k], pairs[2 * k + 1]
            if len(src) != 4 or len(dst) % 4:
                raise _PdfError("bad bfchar hex width")
            mapping[int(src, 16)] = bytes.fromhex(
                dst.decode()).decode("utf-16-be")
    for m in _BFRANGE_RE.finditer(raw):
        declared = int(m.group(1))
        trips = _HEXPAIR_RE.findall(m.group(2))
        if len(trips) != 3 * declared:
            raise _PdfError("bfrange count mismatch")
        for k in range(declared):
            lo, hi, dst = (int(trips[3 * k], 16), int(trips[3 * k + 1], 16),
                           int(trips[3 * k + 2], 16))
            if lo > hi:
                raise _PdfError("bad bfrange")
            for c in range(lo, hi + 1):
                mapping[c] = chr(dst + (c - lo))
    return mapping


def parse_pdf_cid(data: bytes | None) -> dict:
    """Structural parse of the CID/ToUnicode subset.

    Returns {text, n_fonts, n_codes, n_unmapped, page_count, error}:
    text is the code strings decoded through each show op's ACTIVE font
    (Tf tracking), n_codes the 2-byte codes consumed, n_unmapped those a
    CMap did not cover (each contributes U+FFFD). Structural damage ->
    error row, never an exception."""
    none = {"text": None, "n_fonts": None, "n_codes": None,
            "n_unmapped": None, "page_count": None}
    if data is None:
        return {**none, "error": "missing %PDF header"}
    try:
        leaves, offsets, data, _n, crypt = _leaf_pages(data)
        texts: list[str] = []
        n_fonts = n_codes = n_unmapped = 0
        for page in leaves:
            fonts: dict[str, dict[int, str] | None] = {}
            fm = re.search(rb"/Font\s*<<(.*?)>>", page, re.DOTALL)
            if fm:
                for nm, num in re.findall(
                    rb"/([^\s/<>\[\]()%]+)\s+(\d+)\s+0\s+R", fm.group(1)
                ):
                    fd, fend = _load_object(data, offsets, int(num),
                                            crypt=crypt)
                    if re.search(rb"/Subtype\s*/Type0\b", fd):
                        tnum = _ref(fd, b"ToUnicode")
                        td, tend = _load_object(
                            data, offsets, tnum, crypt=crypt)
                        fonts[nm.decode("latin1")] = _parse_cmap(
                            _stream_bytes(data, td, tend, crypt, tnum))
                        n_fonts += 1
                    else:
                        fonts[nm.decode("latin1")] = None
            raw = _contents_of(data, offsets, page, crypt)
            cmap: dict[int, str] | None = None
            for tok in _content_tokens_pos(raw, fonts=True):
                if tok[0] == "font":
                    if tok[1] not in fonts:
                        raise _PdfError(
                            f"font /{tok[1]} not in /Resources")
                    cmap = fonts[tok[1]]
                elif tok[0] == "lit":
                    payload = tok[1]
                    b = (bytes(payload) if isinstance(payload, _HexLit)
                         else _unescape_literal(payload))
                    if cmap is None:
                        texts.append(b.decode("utf-8", "strict"))
                        continue
                    if len(b) % 2:
                        raise _PdfError("odd-length CID string")
                    for k in range(0, len(b), 2):
                        code = int.from_bytes(b[k:k + 2], "big")
                        n_codes += 1
                        s = cmap.get(code)
                        if s is None:
                            s = "�"
                            n_unmapped += 1
                        texts.append(s)
        return {"text": "".join(texts), "n_fonts": n_fonts,
                "n_codes": n_codes, "n_unmapped": n_unmapped,
                "page_count": len(leaves), "error": None}
    except (_PdfError, UnicodeDecodeError) as e:
        if isinstance(e, UnicodeDecodeError):
            return {**none, "error": "non-utf8 text in content stream"}
        return {**none, "error": str(e)}


PDF_CID_SCHEMA = (
    "doc_id long, text string, n_fonts int, n_codes int, n_unmapped int, "
    "page_count int, error string"
)


def extract_pdf_cid(df: DataFrame, payload_col: str = "payload",
                    id_col: str = "doc_id") -> DataFrame:
    """(id, payload:binary) -> decoded CID rows, one Arrow-batched pass."""
    return map_blobs(df, parse_pdf_cid, PDF_CID_SCHEMA, id_col, payload_col)
