"""REAL EPUB extraction — the container format where READING ORDER is
metadata, not layout: an .epub is a PKZIP (OCF, with a magic first
member) whose OPF package document declares a manifest (id -> href) and a
SPINE (the reading order as a list of idrefs).  Chapter files appear in
the archive in arbitrary order; a consumer that concatenates members in
zip order produces a permuted book.  That is exactly the
reading-order-from-structure problem the PDF column XY-cut solves from
geometry (pdf_real.py) — here it is solved from package metadata.

OCF constraints made first-class (EPUB OCF 3.x §4.2):

* the FIRST member must be named ``mimetype``, STORED (method 0), with
  the exact payload ``application/epub+zip`` — readers sniff bytes
  30..58 of the file for it; a deflated or misplaced mimetype is a
  malformed container;
* ``META-INF/container.xml`` points at the OPF package document (the
  OPF path is NOT fixed);
* the OPF ``<manifest>`` maps ids to hrefs (relative to the OPF
  directory) and ``<spine>`` lists idrefs in reading order.

Stack: writer/reader sit on archive.build_zip / archive.walk_zip_members
(real CRCs and central directory; stdlib ``zipfile`` interops).  Chapter
XHTML is the closed grammar: one ``<title>`` and ``<p>`` body paragraphs.

Failure contract: every malformed container/package yields error ROWS,
never an exception.

Reference parity: none — the reference never opens EPUB; the spine walk
is the DocumentExtractManager reading-order obligation transplanted to
the container layer. Beyond-reference operator."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.archive import build_zip, walk_zip_members
from cies_ocr_java_spark.operators.walker import map_blobs

EPUB_MIMETYPE = "application/epub+zip"

_CONTAINER_XML = (
    '<?xml version="1.0" encoding="UTF-8"?>'
    '<container version="1.0" xmlns="urn:oasis:names:tc:opendocument:'
    'xmlns:container"><rootfiles><rootfile full-path="OEBPS/content.opf" '
    'media-type="application/oebps-package+xml"/></rootfiles></container>'
)

_ROOTFILE_RE = re.compile(r'<rootfile [^>]*full-path="([^"]*)"')
_ITEM_RE = re.compile(r'<item\s+id="([^"]*)"\s+href="([^"]*)"[^>]*/>')
_IDREF_RE = re.compile(r'<itemref\s+idref="([^"]*)"\s*/>')
_TITLE_RE = re.compile(r"<title>(.*?)</title>", re.DOTALL)
_P_RE = re.compile(r"<p>(.*?)</p>", re.DOTALL)


def _chapter_xhtml(title: str, body: str) -> str:
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<html xmlns="http://www.w3.org/1999/xhtml"><head><title>'
        f"{title}</title></head><body>{body}</body></html>"
    )


def build_epub(chapters: list[tuple[str, str]],
               spine_order: list[int]) -> bytes:
    """Emit a real EPUB: stored-first mimetype member, container.xml,
    OPF whose spine lists the chapters in ``spine_order`` (indices into
    ``chapters``), chapter files stored in archive order 0..n-1 — so a
    zip-order reader and a spine-order reader disagree whenever
    spine_order is not the identity."""
    return _build_epub(
        [(t, f"<p>{x}</p>") for t, x in chapters], spine_order
    )


def build_epub_interleaved(
    chapters: list[tuple[str, list[tuple[str, str]]]],
    spine_order: list[int],
    media_members: list[tuple[str, bytes]] | None = None,
) -> bytes:
    """Interleaved variant: each chapter is (title, spans) with spans
    ('text', s) -> <p>s</p> and ('media', src) -> <img src=.../> in
    document order — the north-rule span shape inside a book.
    ``media_members`` packs (href, raw_bytes) binary image members
    under the OPF directory so the refs RESOLVE inside the archive."""
    html = []
    for title, spans in chapters:
        body = "".join(
            f"<p>{v}</p>" if k == "text" else f'<img src="{v}"/>'
            for k, v in spans
        )
        html.append((title, body))
    return _build_epub(html, spine_order, media_members)


def _build_epub(chapters: list[tuple[str, str]],
                spine_order: list[int],
                media_members: list[tuple[str, bytes]] | None = None,
                ) -> bytes:
    n = len(chapters)
    if sorted(spine_order) != list(range(n)):
        raise ValueError("spine_order must be a permutation of chapters")
    items = "".join(
        f'<item id="ch{k}" href="chap{k}.xhtml" '
        'media-type="application/xhtml+xml"/>'
        for k in range(n)
    )
    refs = "".join(f'<itemref idref="ch{k}"/>' for k in spine_order)
    opf = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<package xmlns="http://www.idpf.org/2007/opf" version="3.0" '
        'unique-identifier="uid"><metadata/>'
        f"<manifest>{items}</manifest><spine>{refs}</spine></package>"
    )
    members = [("mimetype", EPUB_MIMETYPE, 0),
               ("META-INF/container.xml", _CONTAINER_XML, 8),
               ("OEBPS/content.opf", opf, 8)]
    for k, (title, body) in enumerate(chapters):
        members.append(
            (f"OEBPS/chap{k}.xhtml", _chapter_xhtml(title, body), 8)
        )
    for href, raw in (media_members or []):
        members.append((f"OEBPS/{href}", raw, 0))
    return build_zip(members)


def parse_epub(data: bytes | None) -> list[dict]:
    """OCF walk -> container.xml -> OPF manifest+spine -> chapters in
    READING order: (spine_idx, href, title, text).  Any malformation
    yields a single error row."""

    def fail(msg: str) -> list[dict]:
        return [{"spine_idx": None, "href": None, "title": None,
                 "text": None, "error": msg}]

    members, err = walk_zip_members(data)
    if err is not None:
        return fail(err)
    if not members:
        return fail("empty container")
    name0, raw0, method0 = members[0]
    if (name0 != "mimetype" or method0 != 0
            or raw0 != EPUB_MIMETYPE.encode()):
        return fail("bad epub mimetype member")
    files = {name: raw for name, raw, _ in members}
    cxml = files.get("META-INF/container.xml")
    if cxml is None:
        return fail("missing META-INF/container.xml")
    m = _ROOTFILE_RE.search(cxml.decode("utf-8", "replace"))
    if not m:
        return fail("container.xml has no rootfile")
    opf_path = m.group(1)
    opf_raw = files.get(opf_path)
    if opf_raw is None:
        return fail(f"missing opf {opf_path!r}")
    opf = opf_raw.decode("utf-8", "replace")
    opf_dir = opf_path.rsplit("/", 1)[0] + "/" if "/" in opf_path else ""
    manifest = dict(_ITEM_RE.findall(opf))
    spine = _IDREF_RE.findall(opf)
    if not spine:
        return fail("empty spine")
    rows = []
    for s_idx, idref in enumerate(spine):
        href = manifest.get(idref)
        if href is None:
            return fail(f"spine idref {idref!r} not in manifest")
        chap_raw = files.get(opf_dir + href)
        if chap_raw is None:
            return fail(f"missing chapter {href!r}")
        chap = chap_raw.decode("utf-8", "replace")
        tm = _TITLE_RE.search(chap)
        rows.append({
            "spine_idx": s_idx,
            "href": href,
            "title": tm.group(1) if tm else None,
            "text": " ".join(_P_RE.findall(chap)),
            "error": None,
        })
    return rows


EPUB_SPINE_SCHEMA = (
    "doc_id long, spine_idx int, href string, title string, text string, "
    "error string"
)


def extract_epub_spine(df: DataFrame, content_col: str = "content",
                       id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> one row per spine entry in reading order
    via one Arrow-batched mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_epub, EPUB_SPINE_SCHEMA, id_col, content_col)


_SPAN_TOKEN_RE = re.compile(
    r"<p>(.*?)</p>|<img\s+src=\"([^\"]*)\"\s*/>", re.DOTALL
)

EPUB_SPANS_SCHEMA = (
    "doc_id long, span_order int, kind string, text string, "
    "media_ref string, error string"
)


def parse_epub_spans(data: bytes | None) -> list[dict]:
    """The north-rule span schema (kind, text, media_ref, order) from a
    BOOK container: chapters resolved in SPINE order, then within each
    chapter <p> text and <img> media tokens in document order — the
    global ordinal is spine-major.  Malformed containers yield a single
    error row (the parse_epub contract)."""
    chapters = parse_epub(data)
    if chapters and chapters[0]["error"] is not None:
        return [{"span_order": None, "kind": None, "text": None,
                 "media_ref": None, "error": chapters[0]["error"]}]
    # re-walk the chapter files for token order (parse_epub flattened
    # paragraphs into one text field; spans need the interleave)
    members, _ = walk_zip_members(data)
    files = {name: raw for name, raw, _ in members}
    m = _ROOTFILE_RE.search(
        files["META-INF/container.xml"].decode("utf-8", "replace"))
    opf_path = m.group(1)
    opf = files[opf_path].decode("utf-8", "replace")
    opf_dir = opf_path.rsplit("/", 1)[0] + "/" if "/" in opf_path else ""
    manifest = dict(_ITEM_RE.findall(opf))
    rows = []
    order = 0
    for idref in _IDREF_RE.findall(opf):
        chap = files[opf_dir + manifest[idref]].decode("utf-8", "replace")
        for mt in _SPAN_TOKEN_RE.finditer(chap):
            text, src = mt.group(1), mt.group(2)
            if src is not None:
                rows.append({"span_order": order, "kind": "media",
                             "text": None, "media_ref": src,
                             "error": None})
            else:
                rows.append({"span_order": order, "kind": "text",
                             "text": text, "media_ref": None,
                             "error": None})
            order += 1
    return rows


def extract_epub_spans(df: DataFrame, content_col: str = "content",
                       id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> interleaved (kind, text, media_ref,
    order) spans in spine-major reading order; one Arrow-batched
    mapInPandas pass."""
    return map_blobs(df, parse_epub_spans, EPUB_SPANS_SCHEMA, id_col,
                     content_col)


EPUB_MEDIA_SPANS_SCHEMA = (
    "doc_id long, span_order int, kind string, text string, "
    "media_ref string, width int, height int, ink_sum bigint, "
    "error string"
)


def parse_epub_media_spans(data: bytes | None) -> list[dict]:
    """The interleave with the media REAL: every <img> span's src is
    resolved against the archive manifest directory and the member
    bytes are DECODED through the registered PNG codec (width/height/
    ink) — the both-modalities-real story (extract_pdf_media_spans) at
    the book layer.  A dangling src degrades to a per-SPAN error row
    (finer than the doc-level contract: the text spans around it still
    extract)."""
    from cies_ocr_java_spark.operators.multimodal import decode_png

    base = parse_epub_spans(data)
    if base and base[0]["error"] is not None:
        return [{**base[0], "width": None, "height": None,
                 "ink_sum": None}]
    members, _ = walk_zip_members(data)
    files = {name: raw for name, raw, _ in members}
    m = _ROOTFILE_RE.search(
        files["META-INF/container.xml"].decode("utf-8", "replace"))
    opf_path = m.group(1)
    opf_dir = opf_path.rsplit("/", 1)[0] + "/" if "/" in opf_path else ""
    rows = []
    for r in base:
        if r["kind"] != "media":
            rows.append({**r, "width": None, "height": None,
                         "ink_sum": None})
            continue
        raw = files.get(opf_dir + r["media_ref"])
        if raw is None:
            rows.append({**r, "width": None, "height": None,
                         "ink_sum": None,
                         "error": f"missing member {r['media_ref']!r}"})
            continue
        dec = decode_png(raw)
        rows.append({
            **r,
            "width": dec["width"], "height": dec["height"],
            "ink_sum": dec["ink_sum"], "error": dec["error"],
        })
    return rows


def extract_epub_media_spans(df: DataFrame, content_col: str = "content",
                             id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> spine-major interleaved spans with media
    decoded from the archive's own PNG members; one mapInPandas pass."""
    return map_blobs(df, parse_epub_media_spans, EPUB_MEDIA_SPANS_SCHEMA,
                     id_col, content_col)
