"""PDF link annotations: /Annots walk + rect-anchored text recovery.

PDFs carry their outbound hyperlinks in per-page ``/Annots`` arrays —
``/Subtype /Link`` annotations whose ``/Rect`` bounds the clickable
region and whose action is either a ``/A << /S /URI >>`` external URI
or a ``/Dest [page /Fit]`` internal jump. For a crawl pipeline this is
the PDF side of the link graph (anchor_text_signal's HTML side), and
the interesting part is that a link has NO textual content of its own:
the ANCHOR TEXT must be recovered geometrically, by intersecting the
link's Rect with the positioned show-ops of the page's content stream
(pdf_real._content_tokens_pos's Td/Tm state machine — the same
positions the reading-order queries consume).

Writer (``build_pdf_links``) emits a real two-page classic-xref PDF:
per-page content streams with positioned text spans, link annotations
whose rects each cover exactly one span, non-link annotations (/Text
notes) that a correct reader must SKIP, and internal dest links that
reference the OTHER page's object. Reader (``parse_pdf_links``) reuses
the shared structural machinery (xref -> page tree, cycle-guarded)
but keeps the page OBJECT NUMBERS so /Dest references resolve to page
indexes; per annot it gates /Rect arity, resolves URI literals through
the real string unescape, and anchors each link by rect-containment
over the positioned tokens. Failure contract: structural damage yields
one error row per document, never an exception.

Reference parity: PDFBox exposes the same structure via
PDPage.getAnnotations()/PDAnnotationLink (the reference's PDF stack,
DocumentExtractManager.java:446-461 — its text stripper ignores links;
link recovery is beyond-reference)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.pdf_real import (
    _content_tokens_pos,
    _contents_of,
    _HexLit,
    _load_object,
    _make_decryptor,
    _parse_xref,
    _PdfError,
    _ref,
    _unescape_literal,
)
from cies_ocr_java_spark.operators.walker import map_blobs

__all__ = ["build_pdf_links", "parse_pdf_links", "extract_pdf_links",
           "PDF_LINKS_SCHEMA"]


def _esc(s: str) -> bytes:
    b = s.encode("latin-1")
    return b.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(
        b")", b"\\)")


def build_pdf_links(doc: int, *, poison: str | None = None) -> bytes:
    """Two-page PDF with per-page link + note annotations. Page ``p``
    carries ``1 + (doc+p) % 3`` links; link ``j`` is an external URI
    when ``(doc+p+j) % 3 > 0``, else an internal /Dest to the OTHER
    page. Each link's rect covers exactly its own positioned text span
    ``L{doc}_{p}_{j}``. ``poison``: ``bad_rect`` (3-element /Rect on
    the first link), ``dangling_annot`` (ref to object 99),
    ``dest_not_page`` (first dest link points at the catalog)."""
    pages = [3, 4]
    contents = [5, 6]
    objs: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>",
    }
    next_obj = 7
    for p in (0, 1):
        nl = 1 + (doc + p) % 3
        ops = [b"BT", b"/F1 12 Tf"]
        annot_refs: list[int] = []
        annots: list[bytes] = []
        first_dest_done = False
        for j in range(nl):
            y = 700 - 30 * j
            ops.append(b"1 0 0 1 72 %d Tm" % y)
            ops.append(b"(" + _esc(f"L{doc}_{p}_{j}") + b") Tj")
            rect = b"[70 %d 200 %d]" % (y - 2, y + 12)
            if poison == "bad_rect" and p == 0 and j == 0:
                rect = b"[70 %d 200]" % (y - 2)
            if (doc + p + j) % 3 > 0:
                action = (b"/A << /S /URI /URI ("
                          + _esc(f"https://ex.org/{doc}/{p}/{j}")
                          + b") >>")
            else:
                target = pages[1 - p]
                if poison == "dest_not_page" and not first_dest_done:
                    target = 1  # the catalog: not a leaf page
                    first_dest_done = True
                action = b"/Dest [%d 0 R /Fit]" % target
            annots.append(
                b"<< /Type /Annot /Subtype /Link /Rect " + rect
                + b" " + action + b" >>")
            annot_refs.append(next_obj)
            next_obj += 1
        # a non-link annotation a correct reader must skip
        annots.append(b"<< /Type /Annot /Subtype /Text /Rect [0 0 5 5] "
                      b"/Contents (note) >>")
        annot_refs.append(next_obj)
        next_obj += 1
        if poison == "dangling_annot" and p == 0:
            annot_refs.append(99)
        # the dangling-annot poison appends ref 99 with no object behind
        # it, so only the refs that have bodies are materialized
        for num, body in zip(annot_refs[:len(annots)], annots):
            objs[num] = body
        ops.append(b"ET")
        content = b"\n".join(ops)
        objs[contents[p]] = (b"<< /Length %d >>\nstream\n%s\nendstream"
                             % (len(content), content))
        objs[pages[p]] = (
            b"<< /Type /Page /Parent 2 0 R /Contents %d 0 R /Annots ["
            % contents[p]
            + b" ".join(b"%d 0 R" % n for n in annot_refs)
            + b"] >>")
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
        if num in offsets:
            buf += b"%010d 00000 n \n" % offsets[num]
        else:
            buf += b"0000000000 65535 f \n"
    buf += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (n, xref_at))
    return bytes(buf)


def _leaf_page_nums(data: bytes) -> tuple[list[int], dict, bytes, object]:
    """The shared page-tree walk, but keeping OBJECT NUMBERS (pdf_real.
    _leaf_pages returns dict bytes only) — /Dest targets resolve by
    number. Same guards: depth cap, cycle check by object number.
    Returns the document decryptor as the 4th element (None when
    unencrypted) so link targets/anchors decrypt correctly."""
    if not data or not bytes(data).startswith(b"%PDF-"):
        raise _PdfError("missing %PDF header")
    data = bytes(data)
    offsets, trailer = _parse_xref(data)
    crypt = _make_decryptor(data, offsets, trailer)
    catalog, _ = _load_object(data, offsets, _ref(trailer, b"Root"),
                              crypt=crypt)
    root = _ref(catalog, b"Pages")
    nums: list[int] = []
    seen: set[int] = set()

    def walk(num: int, depth: int) -> None:
        if depth > 32:
            raise _PdfError("page tree too deep")
        if num in seen:
            raise _PdfError("cyclic page tree")
        seen.add(num)
        node, _ = _load_object(data, offsets, num, crypt=crypt)
        km = re.search(rb"/Kids\s*\[([^\]]*)\]", node)
        if km is not None:
            kids = [int(x) for x in re.findall(rb"(\d+)\s+0\s+R",
                                               km.group(1))]
            if not kids:
                raise _PdfError("empty /Kids")
            for k in kids:
                walk(k, depth + 1)
        else:
            nums.append(num)

    walk(root, 0)
    return nums, offsets, data, crypt


def parse_pdf_links(data: bytes | None) -> dict:
    """-> {"links": [(page_idx, link_idx, kind, target, anchor)...],
    "error"}. kind is 'uri' or 'dest'; target the URI string or
    'page:N'; anchor the concatenated positioned text inside the rect
    (stream order). Non-link annotations are skipped; malformed docs
    yield (None, reason)."""
    if data is None:
        return {"links": None, "error": "missing %PDF header"}
    try:
        nums, offsets, data, crypt = _leaf_page_nums(data)
        page_index = {num: i for i, num in enumerate(nums)}
        links: list[tuple] = []
        for pidx, num in enumerate(nums):
            page, _ = _load_object(data, offsets, num, crypt=crypt)
            am = re.search(rb"/Annots\s*\[([^\]]*)\]", page)
            if am is None:
                continue
            # positioned text of this page, for rect anchoring
            raw = _contents_of(data, offsets, page, crypt)
            spans = [
                (tok[2], tok[3],
                 (bytes(tok[1]) if isinstance(tok[1], _HexLit)
                  else _unescape_literal(tok[1])).decode("utf-8"))
                for tok in _content_tokens_pos(raw) if tok[0] == "lit"
            ]
            link_idx = 0
            for aref in re.findall(rb"(\d+)\s+0\s+R", am.group(1)):
                adict, _end = _load_object(data, offsets, int(aref),
                                           crypt=crypt)
                if not re.search(rb"/Subtype\s*/Link\b", adict):
                    continue
                rm = re.search(rb"/Rect\s*\[([^\]]*)\]", adict)
                if rm is None:
                    raise _PdfError("missing rect")
                coords = [float(x) for x in re.findall(
                    rb"[+-]?(?:\d+\.?\d*|\.\d+)", rm.group(1))]
                if len(coords) != 4:
                    raise _PdfError("bad rect")
                x0, y0, x1, y1 = coords
                x0, x1 = min(x0, x1), max(x0, x1)
                y0, y1 = min(y0, y1), max(y0, y1)
                um = re.search(
                    rb"/A\s*<<[^>]*?/URI\s*\(((?:[^()\\]|\\.)*)\)", adict)
                if um is not None:
                    kind = "uri"
                    tb = _unescape_literal(um.group(1))
                    if crypt is not None:
                        # dict-borne strings are individually encrypted
                        # under the annot object's key (spec §7.6.2)
                        try:
                            tb = crypt.decrypt(int(aref), 0, tb)
                        except ValueError as e:
                            raise _PdfError(str(e)) from None
                    target = tb.decode("utf-8")
                else:
                    dm = re.search(rb"/Dest\s*\[\s*(\d+)\s+0\s+R", adict)
                    if dm is None:
                        raise _PdfError("link has neither uri nor dest")
                    tnum = int(dm.group(1))
                    if tnum not in page_index:
                        raise _PdfError("dest is not a page")
                    kind = "dest"
                    target = f"page:{page_index[tnum]}"
                anchor = "".join(
                    t for x, y, t in spans if x0 <= x <= x1 and y0 <= y <= y1
                )
                links.append((pidx, link_idx, kind, target, anchor))
                link_idx += 1
        return {"links": links, "error": None}
    except (_PdfError, UnicodeDecodeError) as e:
        if isinstance(e, UnicodeDecodeError):
            return {"links": None, "error": "non-utf8 text in content stream"}
        return {"links": None, "error": str(e)}


def _link_rows(b: bytes | None) -> dict | list[dict]:
    """parse_pdf_links' links as PDF_LINKS_SCHEMA rows."""
    r = parse_pdf_links(b)
    if r["error"] is not None:
        return {"error": r["error"]}
    return [dict(zip(("page_idx", "link_idx", "kind", "target", "anchor"),
                     link)) for link in r["links"]]


PDF_LINKS_SCHEMA = (
    "doc_id long, page_idx int, link_idx int, kind string, target string, "
    "anchor string, error string"
)


def extract_pdf_links(df: DataFrame, payload_col: str = "payload",
                      id_col: str = "doc_id") -> DataFrame:
    """(id, payload:binary) -> one row per link (or one error row per
    failed doc), one Arrow-batched pass."""
    return map_blobs(df, _link_rows, PDF_LINKS_SCHEMA, id_col, payload_col)
