"""REAL DOCX (OOXML WordprocessingML) text extraction — the
container-of-markup format: a .docx is a genuine PKZIP archive (ECMA-376
Part 2, OPC) whose ``word/document.xml`` member carries the text as
``<w:p>`` paragraphs of ``<w:r>`` runs of ``<w:t>`` text nodes.

The two real-world hazards this module makes first-class:

* RUN FRAGMENTATION — Word splits a visually-continuous sentence across
  many ``<w:r>`` runs at arbitrary character positions (spell-check
  state, formatting churn).  Paragraph text is the ORDERED CONCATENATION
  of its ``<w:t>`` contents with NO separator; inserting one corrupts
  words.  The writer deliberately splits every paragraph into runs at
  computed offsets so a separator bug cannot pass the oracle.
* ``xml:space="preserve"`` — without it consumers may trim w:t content;
  the writer stamps it and the reader never trims.

Stack: ``build_docx`` packs Content-Types + rels + document.xml through
archive.build_zip (real local headers / central directory / CRCs —
stdlib ``zipfile`` opens the output); ``parse_docx`` re-enters through
archive.walk_zip_members (EOCD walk, verified offsets, inflate, CRC) and
then runs the closed WordprocessingML grammar: paragraph split, run
scan, entity decode (amp/lt/gt/quot/apos, LAST for amp).

Failure contract: every malformed payload (bad zip, missing
document.xml, non-XML member) yields error ROWS, never an exception.

Reference parity: the reference extracts DOCX via Textract's
DOCUMENT_TEXT path (it never opens the container itself); here the
container and the markup are both walked natively. Beyond-reference
depth on S10 (file-format parse)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.archive import build_zip, walk_zip_members
from cies_ocr_java_spark.operators.walker import map_blobs

_CT_XML = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.wordprocessingml.document.'
    'main+xml"/></Types>'
)
_RELS_XML = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
    '2006/relationships"><Relationship Id="rId1" Type="http://schemas.'
    'openxmlformats.org/officeDocument/2006/relationships/'
    'officeDocument" Target="word/document.xml"/></Relationships>'
)

_W_NS = (
    "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
)

_P_SPLIT = re.compile(r"<w:p(?: [^>]*)?>(.*?)</w:p>", re.DOTALL)
_T_SCAN = re.compile(r"<w:t(?: [^>]*)?>(.*?)</w:t>", re.DOTALL)


def _xml_escape(t: str) -> str:
    return (t.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;"))


def _xml_unescape(t: str) -> str:
    # amp LAST: '&amp;lt;' must decode to '&lt;' the string, not '<'
    return (t.replace("&lt;", "<").replace("&gt;", ">")
            .replace("&quot;", '"').replace("&apos;", "'")
            .replace("&amp;", "&"))


def build_docx(paragraphs: list[tuple[str, int]]) -> bytes:
    """Emit a genuine minimal .docx: (text, n_runs) per paragraph, the
    text split into n_runs `<w:t xml:space="preserve">` runs at
    len*j//n offsets (run fragmentation on purpose)."""
    body = []
    for text, n_runs in paragraphs:
        if n_runs <= 0:
            raise ValueError("n_runs must be positive")
        ln = len(text)
        runs = []
        for j in range(n_runs):
            seg = text[ln * j // n_runs:ln * (j + 1) // n_runs]
            runs.append(
                f'<w:r><w:t xml:space="preserve">{_xml_escape(seg)}'
                "</w:t></w:r>"
            )
        body.append(f'<w:p w:rsidR="00AB{len(runs):02X}">'
                    + "".join(runs) + "</w:p>")
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{_W_NS}"><w:body>'
        + "".join(body)
        + "<w:sectPr/></w:body></w:document>"
    )
    return build_zip([
        ("[Content_Types].xml", _CT_XML, 0),
        ("_rels/.rels", _RELS_XML, 8),
        ("word/document.xml", doc, 8),
    ])


def parse_docx(data: bytes | None) -> list[dict]:
    """Walk the OPC container, locate word/document.xml, and recover
    (para_idx, text, n_runs) per paragraph — text is the no-separator
    run concatenation, entity-decoded once at the end.  Any failure
    yields a single error row."""

    def fail(msg: str) -> list[dict]:
        return [{"para_idx": None, "text": None, "n_runs": None,
                 "error": msg}]

    members, err = walk_zip_members(data)
    if err is not None:
        return fail(err)
    doc_raw = None
    for name, raw, _method in members:
        if name == "word/document.xml":
            doc_raw = raw
            break
    if doc_raw is None:
        return fail("missing word/document.xml")
    try:
        doc = doc_raw.decode("utf-8")
    except UnicodeDecodeError:
        return fail("non-utf8 document.xml")
    if "<w:document" not in doc or "<w:body>" not in doc:
        return fail("not a wordprocessingml document")
    rows = []
    for p_idx, p_body in enumerate(_P_SPLIT.findall(doc)):
        runs = _T_SCAN.findall(p_body)
        rows.append({
            "para_idx": p_idx,
            "text": _xml_unescape("".join(runs)),
            "n_runs": len(runs),
            "error": None,
        })
    if not rows:
        return fail("document has no paragraphs")
    return rows


DOCX_PARAS_SCHEMA = (
    "doc_id long, para_idx int, text string, n_runs int, error string"
)


def extract_docx_paragraphs(df: DataFrame, content_col: str = "content",
                            id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> one row per paragraph via one
    Arrow-batched mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_docx, DOCX_PARAS_SCHEMA, id_col, content_col)
