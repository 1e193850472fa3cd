"""REAL-PDF-subset writer/reader (operators/pdf_real.py): round-trip
identity, spec-structure pins, the failure contract, and the Spark
operators. The reader must do a real xref walk — corrupting one offset
digit must fail the document, never fall back to scanning."""

from __future__ import annotations

import random
import re
import zlib

import pytest
from hypothesis import given, settings, strategies as st

from cies_ocr_java_spark.operators.pdf_real import (
    PAGE_CHUNK_CHARS,
    build_real_pdf,
    extract_real_pdf,
    parse_real_pdf,
    real_pdf_bytes,
)


def _pages(text: str) -> int:
    return max(1, -(-len(text) // PAGE_CHUNK_CHARS))


# ---------------------------------------------------------------------------
# pure round trip
# ---------------------------------------------------------------------------

HOSTILE_TEXTS = [
    "",
    "hello world",
    "a" * 1000,
    "line1\nline2\r\nline3",
    "parens (nested (deep)) and \\backslash\\",
    "unicode: naïve café 中文 🙂",
    "trailing backslash \\",
    "]" + "[" * 5 + "mixed) (x",
    "Tj ET BT (fake) Tj inside content",  # operators inside literal content
    "] TJ [ trick",
    "stream endstream endobj xref startxref trailer",  # keywords as text
    "\x00null\x01bytes?",
]


@pytest.mark.parametrize("text", HOSTILE_TEXTS)
@pytest.mark.parametrize("tj", [False, True])
def test_round_trip_identity(text, tj):
    r = parse_real_pdf(build_real_pdf(text, use_tj_array=tj))
    assert r["error"] is None
    assert r["text"] == text
    assert r["page_count"] == _pages(text)
    assert r["n_objects"] == 2 + 2 * _pages(text)


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=600), st.booleans())
def test_round_trip_property(text, tj):
    """ANY unicode string survives write->parse unchanged (hypothesis)."""
    r = parse_real_pdf(build_real_pdf(text, use_tj_array=tj))
    assert r["error"] is None and r["text"] == text


def test_emitted_file_is_structurally_real_pdf():
    """The writer's output is spec-shaped: header, xref keyword at the
    startxref offset, one 20-byte xref entry per object + free head,
    trailer /Root, and FlateDecode streams that zlib can inflate."""
    pdf = build_real_pdf("x" * 450)  # 3 pages
    assert pdf.startswith(b"%PDF-1.4\n")
    assert pdf.rstrip().endswith(b"%%EOF")
    import re

    m = re.search(rb"startxref\s+(\d+)\s+%%EOF\s*$", pdf)
    off = int(m.group(1))
    assert pdf[off:off + 4] == b"xref"
    assert b"/Root 1 0 R" in pdf
    # every declared offset points at its object header
    entries = re.findall(rb"(\d{10}) 00000 n", pdf)
    for i, e in enumerate(entries, start=1):
        assert pdf[int(e):int(e) + 16].startswith(b"%d 0 obj" % i)
    # streams are genuinely zlib-compressed
    sm = re.search(rb"/Length (\d+) /Filter /FlateDecode >>\nstream\n", pdf)
    raw = pdf[sm.end():sm.end() + int(sm.group(1))]
    assert b"BT" in zlib.decompress(raw)


# ---------------------------------------------------------------------------
# failure contract
# ---------------------------------------------------------------------------

def test_corrupt_stream_fails_loudly():
    r = parse_real_pdf(build_real_pdf("x" * 500, corrupt_stream=True))
    assert r["error"] is not None and r["error"].startswith("flate decode failed")
    assert r["text"] is None and r["page_count"] is None


def test_corrupted_xref_offset_fails_never_scans():
    """One wrong digit in an xref offset must fail the doc — the walk
    verifies 'N 0 obj' at the declared offset and never degrades to a
    whole-file object scan."""
    pdf = bytearray(build_real_pdf("hello"))
    i = pdf.index(b"0000000009")
    pdf[i:i + 10] = b"0000000042"
    r = parse_real_pdf(bytes(pdf))
    assert r["error"] is not None and "wrong" in r["error"]


@pytest.mark.parametrize(
    "data,reason",
    [
        (b"", "missing %PDF header"),
        (b"garbage", "missing %PDF header"),
        (b"%PDF-1.4\nno xref here", "missing startxref"),
        (b"%PDF-1.4\nstartxref\n999999\n%%EOF", "startxref beyond EOF"),
        (b"%PDF-1.4\nstartxref\n0\n%%EOF", "does not point at an xref"),
    ],
)
def test_malformed_inputs_fail_with_reason(data, reason):
    r = parse_real_pdf(data)
    assert r["error"] is not None and reason in r["error"]


def test_fuzz_never_raises():
    rng = random.Random(42)
    for _ in range(300):
        blob = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 300)))
        for data in (blob, b"%PDF-1.4\n" + blob):
            r = parse_real_pdf(data)
            assert (r["text"] is None) == (r["error"] is not None)


def test_length_lies_fail():
    """/Length pointing past endstream (or EOF) must fail, not read
    neighboring objects' bytes as stream data."""
    pdf = build_real_pdf("hello")
    import re

    m = re.search(rb"/Length (\d+)", pdf)
    bloated = pdf[: m.start(1)] + b"999999" + pdf[m.end(1):]
    r = parse_real_pdf(bloated)
    assert r["error"] is not None


# ---------------------------------------------------------------------------
# PDF-1.5: xref streams + object streams
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("text", HOSTILE_TEXTS)
@pytest.mark.parametrize("tj", [False, True])
def test_pdf15_round_trip_identity(text, tj):
    r = parse_real_pdf(build_real_pdf(text, use_tj_array=tj, xref_stream=True))
    assert r["error"] is None and r["text"] == text
    assert r["page_count"] == _pages(text)
    # 2+p dicts in the ObjStm + p content streams + ObjStm + XRef stream
    assert r["n_objects"] == 4 + 2 * _pages(text)


@settings(max_examples=75, deadline=None)
@given(st.text(max_size=600), st.booleans())
def test_pdf15_round_trip_property(text, tj):
    r = parse_real_pdf(build_real_pdf(text, use_tj_array=tj, xref_stream=True))
    assert r["error"] is None and r["text"] == text


def test_pdf15_uses_xref_stream_not_table():
    """The 1.5 file genuinely has NO classic xref table — the reader must
    be resolving through the XRef stream and the ObjStm."""
    pdf = build_real_pdf("modern layout", xref_stream=True)
    assert b"\nxref\n" not in pdf and b"trailer" not in pdf
    assert b"/Type /XRef" in pdf and b"/Type /ObjStm" in pdf
    assert parse_real_pdf(pdf)["text"] == "modern layout"


def test_pdf15_corrupt_objstm_fails_whole_doc():
    r = parse_real_pdf(
        build_real_pdf("x" * 500, xref_stream=True, corrupt_stream=True)
    )
    assert r["error"] is not None and "flate" in r["error"]
    assert r["text"] is None


def test_pdf15_objstm_header_mismatch_fails():
    """Corrupting an object number in the ObjStm header must fail the
    trust-then-verify check, never silently return the wrong object."""
    pdf = build_real_pdf("verify me", xref_stream=True)
    # rebuild with a poisoned ObjStm: inflate, break the first header
    # pair's object number, re-deflate at the same spot
    import re

    m = re.search(
        rb"/Type /ObjStm /N (\d+) /First (\d+) /Length (\d+) "
        rb"/Filter /FlateDecode >>\nstream\n", pdf)
    start = m.end()
    comp = pdf[start:start + int(m.group(3))]
    raw = bytearray(zlib.decompress(comp))
    assert raw.startswith(b"1 ")
    raw[0:1] = b"9"  # first packed object now claims to be 9
    comp2 = zlib.compress(bytes(raw), 6)
    hacked = (
        pdf[:m.start()]
        + re.sub(rb"/Length \d+", b"/Length %d" % len(comp2),
                 pdf[m.start():m.end()])
        + comp2 + pdf[start + int(m.group(3)):]
    )
    r = parse_real_pdf(hacked)
    assert r["error"] is not None and "mismatch" in r["error"]


def test_pdf15_fuzz_never_raises():
    rng = random.Random(11)
    for _ in range(200):
        blob = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 300)))
        r = parse_real_pdf(b"%PDF-1.5\n" + blob)
        assert (r["text"] is None) == (r["error"] is not None)


# ---------------------------------------------------------------------------
# hex strings + filter chains
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("text", HOSTILE_TEXTS)
def test_hex_string_round_trip(text):
    """<hex> Tj show ops (spec 7.3.4.3) round-trip any text; the writer
    injects interior whitespace the reader must ignore."""
    r = parse_real_pdf(build_real_pdf(text, use_hex_strings=True))
    assert r["error"] is None and r["text"] == text


@pytest.mark.parametrize("text", HOSTILE_TEXTS)
def test_ascii_hex_filter_chain_round_trip(text):
    """/Filter [/ASCIIHexDecode /FlateDecode]: decode applies the array
    in order — hex first, then inflate."""
    r = parse_real_pdf(build_real_pdf(text, filter_chain=True))
    assert r["error"] is None and r["text"] == text


def test_unsupported_filter_fails_loudly():
    pdf = build_real_pdf("hello").replace(b"/FlateDecode", b"/LZWDecodexx", 1)
    # /Length unchanged and name same length, so the structure still parses
    r = parse_real_pdf(pdf)
    assert r["error"] is not None and "unsupported filter" in r["error"]


def test_malformed_hex_string_skipped_not_shown():
    """A hex string containing non-hex bytes contributes nothing; the
    document keeps the rest of its text."""
    import zlib as _zlib

    content = b"BT\n<48656C6C6F> Tj\n<ZZZZ> Tj\n(!) Tj\nET\n"
    comp = _zlib.compress(content, 6)
    pdf = build_real_pdf("placeholder")
    # splice our content in place of the original single stream
    import re as _re

    m = _re.search(rb"/Length (\d+) /Filter /FlateDecode >>\nstream\n", pdf)
    start = m.end()
    old_len = int(m.group(1))
    pdf2 = (
        pdf[: m.start()]
        + b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(comp)
        + comp
        + pdf[start + old_len:]
    )
    # xref offsets after the replaced stream shift; rather than re-point
    # them, assert via the content tokenizer directly
    from cies_ocr_java_spark.operators.pdf_real import _HexLit, _literals

    lits = list(_literals(content))
    assert lits == [_HexLit(b"Hello"), b"!"]


# ---------------------------------------------------------------------------
# /Contents arrays + incremental updates (/Prev chains)
# ---------------------------------------------------------------------------

from cies_ocr_java_spark.operators.pdf_real import append_incremental_update


@pytest.mark.parametrize("text", HOSTILE_TEXTS)
def test_split_contents_round_trip(text):
    """/Contents [a 0 R b 0 R]: the page's decoded streams concatenate
    in array order — round trip stays the identity."""
    r = parse_real_pdf(build_real_pdf(text, split_contents=True))
    assert r["error"] is None and r["text"] == text
    assert r["n_objects"] == 2 + 3 * _pages(text)


def test_incremental_update_newest_wins():
    """An appended update must shadow the original content stream via
    the /Prev chain — original bytes untouched, newest xref entry wins."""
    base = build_real_pdf("x" * 450)  # 3 pages
    upd = append_incremental_update(base, 0, "NEW PAGE ONE")
    assert upd[: len(base)] == base  # true incremental save
    r = parse_real_pdf(upd)
    assert r["error"] is None
    assert r["text"] == "NEW PAGE ONE" + "x" * 250
    assert r["page_count"] == 3 and r["n_objects"] == 8  # replaced, not grown


def test_incremental_update_chain_of_two():
    base = build_real_pdf("x" * 450)
    upd = append_incremental_update(base, 0, "ONE")
    upd = append_incremental_update(upd, 1, "TWO")
    r = parse_real_pdf(upd)
    assert r["error"] is None
    assert r["text"] == "ONE" + "TWO" + "x" * 50


def test_incremental_update_on_split_contents_page():
    base = build_real_pdf("A" * 100 + "B" * 100, split_contents=True)
    r = parse_real_pdf(append_incremental_update(base, 0, "replaced"))
    assert r["error"] is None and r["text"] == "replaced"


def test_broken_prev_chain_fails():
    base = build_real_pdf("hello")
    bad = append_incremental_update(base, 0, "zzz", corrupt_prev=True)
    r = parse_real_pdf(bad)
    assert r["error"] is not None and r["error"].startswith("broken /Prev chain")


def test_cyclic_prev_chain_fails():
    import re as _re

    base = build_real_pdf("hello")
    upd = append_incremental_update(base, 0, "new")
    own = int(list(_re.finditer(rb"startxref\s+(\d+)", upd[-2048:]))[-1].group(1))
    old_prev = int(list(_re.finditer(rb"/Prev (\d+)", upd))[-1].group(1))
    cyc = upd.replace(b"/Prev %d" % old_prev, b"/Prev %d" % own)
    r = parse_real_pdf(cyc)
    assert r["error"] is not None and "cycl" in r["error"]


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

def test_spark_real_pdf_round_trip(spark):
    rows = [
        (1, "short doc"),
        (3, "tj-array doc with (parens) and \\slashes\\"),  # id%3==0 -> TJ
        (37, "x" * 300),  # id%37==0 -> corrupted last stream
        (4, "y" * 450),  # 3 pages
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in extract_real_pdf(real_pdf_bytes(df)).collect()
    }
    assert out[1]["text"] == "short doc" and out[1]["error"] is None
    assert out[3]["text"] == rows[1][1]
    assert out[4]["page_count"] == 3 and out[4]["n_objects"] == 8
    assert out[37]["text"] is None
    assert out[37]["error"].startswith("flate decode failed")


# ---------------------------------------------------------------------------
# interleaved text + embedded-media PDFs
# ---------------------------------------------------------------------------

class TestPdfInterleaved:
    def test_spans_in_content_stream_order(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            build_pdf_interleaved,
            parse_pdf_interleaved,
        )

        t = "alpha bravo charlie delta echo foxtrot golf hotel"
        r = parse_pdf_interleaved(
            build_pdf_interleaved(t, [(6, 4, 100, "jpeg"), (3, 5, 7, "gray")])
        )
        assert r["error"] is None
        kinds = [s["kind"] for s in r["spans"]]
        assert kinds == ["text", "media", "text", "media", "text"]
        # text slices reassemble to the original exactly
        assert "".join(
            s["text"] for s in r["spans"] if s["kind"] == "text"
        ) == t
        media = [s for s in r["spans"] if s["kind"] == "media"]
        assert media[0]["codec"] == "jpeg"
        assert media[0]["ink_sum"] == 6 * 4 * 100
        assert media[0]["media_ref"] == "pdf://im/5"
        assert media[1]["codec"] == "gray"
        assert media[1]["ink_sum"] == 3 * 5 * 7

    def test_embedded_dct_stream_is_a_complete_jpeg_file(self):
        """The /DCTDecode stream must be a standalone-decodable JPEG —
        that is what real PDF writers embed (spec 7.4.8)."""
        from cies_ocr_java_spark.operators.jpeg_real import decode_jpeg
        from cies_ocr_java_spark.operators.pdf_real import (
            build_pdf_interleaved,
        )

        pdf = build_pdf_interleaved("xx", [(9, 6, 30, "jpeg")])
        i = pdf.index(b"\xff\xd8\xff")
        j = pdf.index(b"\xff\xd9", i) + 2
        assert decode_jpeg(pdf[i:j]) == {
            "width": 9, "height": 6, "ink_sum": 9 * 6 * 30, "error": None
        }

    def test_failure_tiers(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            build_pdf_interleaved,
            parse_pdf_interleaved,
        )

        t = "some text here"
        bad = build_pdf_interleaved(
            t, [(5, 4, 9, "gray")], corrupt_image=True
        )
        assert parse_pdf_interleaved(bad)["error"] == (
            "raw image size mismatch"
        )
        good = build_pdf_interleaved(t, [(5, 4, 9, "gray")])
        # unknown resource name: /Im0 renamed in the resource dict only
        poisoned = good.replace(b"/XObject << /Im0", b"/XObject << /Au0")
        assert "unknown xobject name" in parse_pdf_interleaved(poisoned)[
            "error"
        ]
        # '/Name Do' INSIDE a literal is text, never an image paint
        r = parse_pdf_interleaved(
            build_pdf_interleaved("see /Im0 Do inside literal", [])
        )
        assert r["error"] is None
        assert [s["kind"] for s in r["spans"]] == ["text"]
        assert r["spans"][0]["text"] == "see /Im0 Do inside literal"

    def test_empty_text_yields_media_only(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            build_pdf_interleaved,
            parse_pdf_interleaved,
        )

        r = parse_pdf_interleaved(
            build_pdf_interleaved("", [(4, 4, 50, "jpeg")])
        )
        assert r["error"] is None
        assert [s["kind"] for s in r["spans"]] == ["media"]

    def test_spark_extractor_rows(self, spark):
        from cies_ocr_java_spark.operators.pdf_real import (
            build_pdf_interleaved,
            extract_pdf_media_spans,
        )

        rows = [
            (1, build_pdf_interleaved("hello world text", [(4, 3, 20, "jpeg")])),
            (2, build_pdf_interleaved("x", [(5, 4, 9, "gray")],
                                      corrupt_image=True)),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        got = extract_pdf_media_spans(df).collect()
        by_doc = {}
        for r in got:
            by_doc.setdefault(r.doc_id, []).append(r)
        d1 = sorted(by_doc[1], key=lambda r: r.span_order)
        assert [r.kind for r in d1] == ["text", "media", "text"]
        assert d1[1].media_ink == 4 * 3 * 20 and d1[1].codec == "jpeg"
        assert "".join(r.text for r in d1 if r.kind == "text") == (
            "hello world text"
        )
        assert by_doc[2][0].error == "raw image size mismatch"
        assert by_doc[2][0].kind is None


# ---------------------------------------------------------------------------
# positioned text + reading order (session-3: _content_tokens_pos,
# build_positioned_pdf, parse_pdf_positioned, extract_pdf_positioned)
# ---------------------------------------------------------------------------

class TestPdfPositioned:
    def test_round_trip_positions_exact(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            build_positioned_pdf,
            parse_pdf_positioned,
        )

        blocks = [
            ("b0", 72, 720), ("b1", 306, 720), ("b2", 72, 702),
            ("b3", 306, 702), ("b4", 72, 684),
        ]
        r = parse_pdf_positioned(build_positioned_pdf(blocks))
        assert r["error"] is None and r["page_count"] == 1
        assert r["spans"] == [
            (1, i, float(x), float(y), t)
            for i, (t, x, y) in enumerate(blocks)
        ]

    def test_round_trip_positions_property(self):
        # random coordinates through the alternating Tm/Td writer: the
        # parser's relative-move accumulation must recover every block's
        # absolute position exactly (integer coordinates -> exact floats)
        from cies_ocr_java_spark.operators.pdf_real import (
            build_positioned_pdf,
            parse_pdf_positioned,
        )

        rng = random.Random(42)
        for _ in range(25):
            n = rng.randint(1, 12)
            blocks = [
                (f"t{k}", rng.randint(-500, 700), rng.randint(-500, 760))
                for k in range(n)
            ]
            r = parse_pdf_positioned(build_positioned_pdf(blocks))
            assert r["error"] is None
            assert [(s[2], s[3], s[4]) for s in r["spans"]] == [
                (float(x), float(y), t) for t, x, y in blocks
            ]

    def test_state_machine_tl_tstar_quote(self):
        # TL sets leading; T* moves down by it; ' moves THEN shows;
        # TD both moves and sets leading = -ty
        from cies_ocr_java_spark.operators.pdf_real import (
            _content_tokens_pos,
        )

        content = (
            b"BT /F1 12 Tf 14 TL 1 0 0 1 100 700 Tm (l1) Tj "
            b"T* (l2) Tj (l3) ' 10 -3 TD (l4) Tj T* (l5) Tj ET"
        )
        toks = list(_content_tokens_pos(content))
        assert [(t[1], t[2], t[3]) for t in toks] == [
            (b"l1", 100.0, 700.0),
            (b"l2", 100.0, 686.0),
            (b"l3", 100.0, 672.0),
            (b"l4", 110.0, 669.0),
            (b"l5", 110.0, 666.0),
        ]

    def test_bt_resets_matrix_not_leading(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            _content_tokens_pos,
        )

        content = (
            b"BT 14 TL 50 600 Td (a) Tj ET "
            b"BT T* (b) Tj ET"
        )
        toks = list(_content_tokens_pos(content))
        # second BT: line start back to (0,0); TL survives (text STATE),
        # so T* lands at (0, -14)
        assert [(t[2], t[3]) for t in toks] == [(50.0, 600.0), (0.0, -14.0)]

    def test_tj_array_numbers_are_not_operands(self):
        # kerning numbers inside [..] TJ must not leak into the operand
        # list: the Td AFTER the array still uses its own two operands
        from cies_ocr_java_spark.operators.pdf_real import (
            _content_tokens_pos,
        )

        content = b"BT 5 5 Td [(a) -120 (b)] TJ 1 2 Td (c) Tj ET"
        toks = list(_content_tokens_pos(content))
        assert [(t[1], t[2], t[3]) for t in toks] == [
            (b"a", 5.0, 5.0), (b"b", 5.0, 5.0), (b"c", 6.0, 7.0),
        ]

    def test_corrupt_stream_fails_whole_doc(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            build_positioned_pdf,
            parse_pdf_positioned,
        )

        r = parse_pdf_positioned(
            build_positioned_pdf([("x", 72, 720)], corrupt_stream=True)
        )
        assert r["spans"] is None
        assert r["error"].startswith("flate decode failed")

    def test_positioned_fuzz_never_raises(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            build_positioned_pdf,
            parse_pdf_positioned,
        )

        rng = random.Random(7)
        base = bytearray(build_positioned_pdf([("hello", 72, 720)]))
        for _ in range(200):
            mutated = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                mutated[rng.randrange(len(mutated))] = rng.randrange(256)
            r = parse_pdf_positioned(bytes(mutated))
            assert (r["spans"] is None) == (r["error"] is not None)

    def test_spark_positioned_operator(self, spark):
        from pyspark.sql import functions as F
        from cies_ocr_java_spark.operators.pdf_real import (
            extract_pdf_positioned,
        )

        src = spark.createDataFrame(
            [(1, [("a", 72.0, 720.0), ("b", 306.0, 720.0)], False),
             (2, [("c", 72.0, 720.0)], True)],
            "doc_id long, blocks array<struct<text:string,x:double,y:double>>,"
            " corrupt boolean",
        )
        rows = {
            (r["doc_id"], r["seq"]): r
            for r in extract_pdf_positioned(
                src, corrupt_col="corrupt"
            ).collect()
        }
        assert rows[(1, 0)]["x"] == 72.0 and rows[(1, 0)]["text"] == "a"
        assert rows[(1, 1)]["x"] == 306.0 and rows[(1, 1)]["text"] == "b"
        assert rows[(2, None)]["error"].startswith("flate decode failed")


class TestPdfAnchored:
    def test_cm_tracking_and_q_restore(self):
        # image anchors come from the CTM translation; Q restores the
        # baseline so a later Do without cm paints at (0,0)
        from cies_ocr_java_spark.operators.pdf_real import (
            _content_tokens_pos,
        )

        content = (
            b"BT 10 700 Td (t) Tj ET "
            b"q 8 0 0 8 100 50 cm /Im0 Do Q "
            b"/Im1 Do"
        )
        toks = list(_content_tokens_pos(content))
        assert toks == [
            ("lit", b"t", 10.0, 700.0),
            ("img", "Im0", 100.0, 50.0),
            ("img", "Im1", 0.0, 0.0),
        ]

    def test_interleaved_round_trip(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            build_positioned_interleaved,
            parse_pdf_anchored,
        )

        blocks = [
            ("img", 55, 306, 80), ("text", "t0", 72, 720),
            ("text", "t1", 306, 720), ("img", 99, 72, 80),
        ]
        r = parse_pdf_anchored(build_positioned_interleaved(blocks))
        assert r["error"] is None
        assert r["spans"] == [
            ("media", "Im0", 306.0, 80.0),
            ("text", "t0", 72.0, 720.0),
            ("text", "t1", 306.0, 720.0),
            ("media", "Im1", 72.0, 80.0),
        ]

    def test_corrupt_fails_whole_doc(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            build_positioned_interleaved,
            parse_pdf_anchored,
        )

        r = parse_pdf_anchored(
            build_positioned_interleaved(
                [("text", "x", 72, 720)], corrupt_stream=True
            )
        )
        assert r["spans"] is None
        assert r["error"].startswith("flate decode failed")

    def test_anchored_fuzz_never_raises(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            build_positioned_interleaved,
            parse_pdf_anchored,
        )

        rng = random.Random(13)
        base = bytearray(build_positioned_interleaved(
            [("text", "hello", 72, 720), ("img", 42, 306, 80)]
        ))
        for _ in range(200):
            mutated = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                mutated[rng.randrange(len(mutated))] = rng.randrange(256)
            r = parse_pdf_anchored(bytes(mutated))
            assert (r["spans"] is None) == (r["error"] is not None)


class TestPdfPageTree:
    @pytest.mark.parametrize("n", [0, 150, 450, 950, 1300])
    def test_tree_round_trip_identity(self, n):
        t = ("ab cd " * 400)[:n]
        r = parse_real_pdf(build_real_pdf(t, page_tree=True))
        p = _pages(t)
        assert r["error"] is None and r["text"] == t
        assert r["page_count"] == p
        assert r["n_objects"] == 2 + (p + 1) // 2 + 2 * p

    def test_positioned_parsers_inherit_tree_walk(self):
        # the tree walk lives in the shared _page_contents, so the
        # positioned parser sees tree-layout pages too
        from cies_ocr_java_spark.operators.pdf_real import (
            parse_pdf_positioned,
        )

        t = "x" * 450  # 3 pages -> 2 intermediate nodes
        r = parse_pdf_positioned(build_real_pdf(t, page_tree=True))
        assert r["error"] is None and r["page_count"] == 3
        assert [s[0] for s in r["spans"]] == [1, 2, 3]

    def test_cyclic_tree_fails_never_loops(self):
        # point an intermediate node's /Kids back at the root
        pdf = bytearray(build_real_pdf("y" * 450, page_tree=True))
        # object 3 is the first intermediate node; rewrite its Kids to 2
        start = pdf.index(b"3 0 obj")
        end = pdf.index(b"endobj", start)
        body = bytes(pdf[start:end])
        patched = re.sub(
            rb"/Kids \[[^\]]*\]", b"/Kids [2 0 R]", body
        )
        # same-length padding keeps the xref offsets valid
        patched = patched + b" " * (len(body) - len(patched))
        pdf[start:end] = patched
        r = parse_real_pdf(bytes(pdf))
        assert r["text"] is None and r["error"] == "cyclic page tree"

    def test_tree_corrupt_last_stream_fails_whole(self):
        r = parse_real_pdf(
            build_real_pdf("z" * 500, page_tree=True, corrupt_stream=True)
        )
        assert r["text"] is None
        assert r["error"].startswith("flate decode failed")


class TestPdfOutline:
    def test_outline_round_trip_depth_first(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            build_pdf_outlined,
            parse_pdf_outline,
        )

        items = [
            (1, "Alpha"), (2, "Beta (sub)"), (3, "Gam\\ma"),
            (2, "Delta\nline"), (1, "Omega"),
        ]
        pdf = build_pdf_outlined("hello", items)
        r = parse_pdf_outline(pdf)
        assert r["error"] is None
        assert r["items"] == [(i, d, t) for i, (d, t) in enumerate(items)]
        # the text layer coexists with the outline objects
        assert parse_real_pdf(pdf)["text"] == "hello"

    def test_no_outline_is_empty_toc(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            parse_pdf_outline,
        )

        assert parse_pdf_outline(build_real_pdf("x")) == {
            "items": [], "error": None,
        }

    def test_cyclic_outline_fails_never_loops(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            build_pdf_outlined,
            parse_pdf_outline,
        )

        pdf = bytearray(build_pdf_outlined("x", [(1, "A"), (1, "B")]))
        # item A is object 6, B is 7; rewrite A's /Next back to itself
        start = pdf.index(b"6 0 obj")
        end = pdf.index(b"endobj", start)
        body = bytes(pdf[start:end])
        patched = re.sub(rb"/Next 7 0 R", b"/Next 6 0 R", body)
        patched += b" " * (len(body) - len(patched))
        pdf[start:end] = patched
        r = parse_pdf_outline(bytes(pdf))
        assert r["items"] is None and r["error"] == "cyclic outline chain"

    def test_outline_fuzz_never_raises(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            build_pdf_outlined,
            parse_pdf_outline,
        )

        rng = random.Random(11)
        base = build_pdf_outlined("t", [(1, "A"), (2, "B"), (1, "C")])
        for _ in range(200):
            m = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                m[rng.randrange(len(m))] = rng.randrange(256)
            r = parse_pdf_outline(bytes(m))
            assert (r["items"] is None) == (r["error"] is not None)


class TestPdfAnchoredOcr:
    def test_whole_loop_text_and_pixels(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            build_positioned_interleaved,
            parse_pdf_anchored_ocr,
        )

        blocks = [
            ("img", "HELLO 42", 306, 80), ("text", "t0", 72, 720),
            ("text", "t1", 306, 720), ("img", 99, 72, 80),
        ]
        r = parse_pdf_anchored_ocr(build_positioned_interleaved(blocks))
        assert r["error"] is None
        assert r["spans"] == [
            ("media", "HELLO 42", 306.0, 80.0),   # pixels read back
            ("text", "t0", 72.0, 720.0),
            ("text", "t1", 306.0, 720.0),
            ("media", None, 72.0, 80.0),          # 8x8 tile: not text
        ]

    def test_rendered_image_is_genuine_devicegray(self):
        # the figure's stream is w*h raw samples whose OCR equals the
        # rendered string — the pixels, not a label, carry the content
        from cies_ocr_java_spark.operators.ocr_glyph import (
            GLYPH_H,
            render_text_pixels,
        )
        from cies_ocr_java_spark.operators.pdf_real import (
            build_positioned_interleaved,
        )

        pdf = build_positioned_interleaved([("img", "AB", 72, 80)])
        px = render_text_pixels("AB")
        assert px.tobytes() in pdf
        assert b"/Height %d" % GLYPH_H in pdf

    def test_sample_count_mismatch_fails(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            build_positioned_interleaved,
            parse_pdf_anchored_ocr,
        )

        pdf = bytearray(build_positioned_interleaved(
            [("img", "XY", 72, 80)]
        ))
        i = pdf.index(b"/Width ")
        pdf[i:i + 8] = b"/Width 9"  # lie about the width
        r = parse_pdf_anchored_ocr(bytes(pdf))
        assert r["spans"] is None
        assert "mismatch" in r["error"] or "dimension" in r["error"]

    def test_anchored_ocr_fuzz_never_raises(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            build_positioned_interleaved,
            parse_pdf_anchored_ocr,
        )

        rng = random.Random(17)
        base = build_positioned_interleaved(
            [("text", "hello", 72, 720), ("img", "OCR ME", 306, 80)]
        )
        for _ in range(150):
            m = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                m[rng.randrange(len(m))] = rng.randrange(256)
            r = parse_pdf_anchored_ocr(bytes(m))
            assert (r["spans"] is None) == (r["error"] is not None)


# ---------------------------------------------------------------------------
# standard-filter cascade (spec 7.4): ASCII85 / LZW / RunLength encoders +
# decoders, chain application order, and per-decoder poison attribution
# ---------------------------------------------------------------------------

class TestFilterCascade:
    @settings(max_examples=120, deadline=None)
    @given(st.binary(max_size=1500))
    def test_ascii85_round_trip(self, data):
        from cies_ocr_java_spark.operators.pdf_real import (
            _ascii85_decode, _ascii85_encode,
        )

        enc = _ascii85_encode(data)
        assert enc.endswith(b"~>")
        body = enc[:-2]
        assert not re.search(rb"[^!-uz]", body)
        assert _ascii85_decode(enc) == data

    def test_ascii85_z_collapse(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            _ascii85_decode, _ascii85_encode,
        )

        enc = _ascii85_encode(b"\x00" * 8 + b"Q")
        assert enc.startswith(b"zz")
        assert _ascii85_decode(enc) == b"\x00" * 8 + b"Q"

    @settings(max_examples=120, deadline=None)
    @given(st.binary(max_size=1500))
    def test_rle_round_trip(self, data):
        from cies_ocr_java_spark.operators.pdf_real import (
            _rle_decode, _rle_encode,
        )

        assert _rle_decode(_rle_encode(data)) == data

    def test_rle_long_run_compresses(self):
        from cies_ocr_java_spark.operators.pdf_real import _rle_encode

        # 256-byte run -> two (257-128, byte) pairs + EOD = 5 bytes
        assert len(_rle_encode(b"\x55" * 256)) == 5

    @settings(max_examples=80, deadline=None)
    @given(st.binary(max_size=3000))
    def test_lzw_round_trip(self, data):
        from cies_ocr_java_spark.operators.pdf_real import (
            _lzw_decode, _lzw_encode,
        )

        assert _lzw_decode(_lzw_encode(data)) == data

    def test_lzw_width_growth_and_reset(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            _lzw_decode, _lzw_encode,
        )

        rng = random.Random(7)
        # > 4096 table entries forces 9->12-bit growth AND a mid-stream
        # Clear/reset; random bytes maximize fresh table entries
        data = bytes(rng.randrange(256) for _ in range(20000))
        assert _lzw_decode(_lzw_encode(data)) == data

    @pytest.mark.parametrize("fid", range(5))
    def test_chain_round_trip_and_poison(self, fid):
        from cies_ocr_java_spark.operators.pdf_real import (
            FILTER_POISON_ERRORS,
        )

        text = "cascade " * 60  # 3 pages
        r = parse_real_pdf(build_real_pdf(text, filter_id=fid))
        assert r["error"] is None
        assert r["text"] == text
        assert r["n_objects"] == 2 + 2 * _pages(text)
        rp = parse_real_pdf(
            build_real_pdf(text, filter_id=fid, corrupt_stream=True)
        )
        assert rp["text"] is None and rp["page_count"] is None
        assert rp["error"].split(":")[0] == FILTER_POISON_ERRORS[fid]

    @pytest.mark.parametrize("fid", range(5))
    def test_filtered_pdf_fuzz_never_raises(self, fid):
        base = build_real_pdf("fuzz target text " * 10, filter_id=fid)
        rng = random.Random(100 + fid)
        for _ in range(80):
            m = bytearray(base)
            for _ in range(rng.randint(1, 6)):
                m[rng.randrange(len(m))] = rng.randrange(256)
            r = parse_real_pdf(bytes(m))
            assert (r["text"] is None) == (r["error"] is not None)


class TestXrefPredictor:
    """/DecodeParms predictors on xref streams (spec 7.4.4.4) — the
    /Predictor 12 'Up' layout most real producers emit."""

    def test_round_trip(self):
        t = "Predictor xref. " * 60
        r = parse_real_pdf(build_real_pdf(t, xref_stream=True,
                                          predictor=True))
        plain = parse_real_pdf(build_real_pdf(t, xref_stream=True))
        assert r["error"] is None
        assert r["text"] == plain["text"] == t
        assert r["n_objects"] == plain["n_objects"]

    def test_poison_filter_byte_fails_document(self):
        r = parse_real_pdf(build_real_pdf(
            "x" * 300, xref_stream=True, predictor=True,
            poison_predictor=True))
        assert r["error"] == "unknown filter type 9"
        assert r["text"] is None

    def test_tiff_predictor_2(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            _apply_predictor,
        )
        # horizontal differencing over 4-byte rows
        rows = [bytes([10, 20, 30, 40]), bytes([5, 5, 5, 5])]
        diffed = b"".join(
            bytes([row[0]]) + bytes((row[k] - row[k - 1]) & 0xFF
                                    for k in range(1, 4))
            for row in rows)
        d = b"<< /DecodeParms << /Predictor 2 /Columns 4 >> >>"
        assert _apply_predictor(d, diffed) == b"".join(rows)

    def test_png_all_five_filters_decode(self):
        from cies_ocr_java_spark.operators.pdf_real import (
            _apply_predictor,
        )
        from cies_ocr_java_spark.operators.png_adam7 import (
            _filter_rows,
        )
        rows = [bytes((7 * i + k) % 256 for k in range(9))
                for i in range(10)]  # 10 rows cycle all 5 filters
        d = b"<< /DecodeParms << /Predictor 15 /Columns 9 >> >>"
        assert _apply_predictor(d, _filter_rows(rows)) == b"".join(rows)

    def test_gates(self):
        import pytest

        from cies_ocr_java_spark.operators.pdf_real import (
            _apply_predictor,
            _PdfError,
        )
        d12 = b"<< /DecodeParms << /Predictor 12 /Columns 4 >> >>"
        with pytest.raises(_PdfError, match="size mismatch"):
            _apply_predictor(d12, b"\x00" * 7)  # not a multiple of 5
        with pytest.raises(_PdfError, match="unsupported predictor param"):
            _apply_predictor(
                b"<< /DecodeParms << /Predictor 12 /Columns 4 "
                b"/Colors 3 >> >>", b"\x00" * 5)
        with pytest.raises(_PdfError, match="unsupported predictor 7"):
            _apply_predictor(
                b"<< /DecodeParms << /Predictor 7 /Columns 4 >> >>",
                b"\x00" * 4)
        # predictor 1 and absent /Predictor are identity
        assert _apply_predictor(
            b"<< /DecodeParms << /Predictor 1 >> >>", b"abc") == b"abc"
        assert _apply_predictor(b"<< /DecodeParms << >> >>",
                                b"abc") == b"abc"


@pytest.mark.parametrize("method", ["rc4-40", "rc4-128", "aes-128"])
def test_interleaved_walk_decrypts_pages_in_encrypted_objstm(method):
    """An encrypted PDF-1.5 keeps its Pages node and page dicts inside an
    encrypted /ObjStm; the interleaved walk must decrypt them the way
    parse_real_pdf does, not fail on the ciphertext."""
    from cies_ocr_java_spark.operators.pdf_crypt import build_encrypted_pdf15
    from cies_ocr_java_spark.operators.pdf_real import (
        parse_pdf_interleaved,
        parse_real_pdf,
    )

    data = build_encrypted_pdf15("hello encrypted world", method)
    assert parse_real_pdf(data)["text"] == "hello encrypted world"
    assert parse_pdf_interleaved(data) == {
        "spans": [{"kind": "text", "text": "hello encrypted world"}],
        "error": None,
    }
