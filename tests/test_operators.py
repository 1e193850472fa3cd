"""Per-operator unit tests: PDF (both execution paths), OCR decode, HTML
extraction, classification — pinned against the reference's semantics
including its quirks (SURVEY.md §7.4: we implement intended semantics;
the 528 constant wins over its 5280 comment; strict '>' at
DocumentExtractManager.java:417)."""

import pandas as pd
from pyspark.sql import functions as F

from cies_ocr_java_spark.formats import make_pdf
from cies_ocr_java_spark.operators.html_extract import extract_main_text_batch
from cies_ocr_java_spark.operators.ocr_mock import _decode_ocr_batch, ocr_text_col
from cies_ocr_java_spark.operators.pdf_extract import (
    _extract_pdf_batch,
    pdf_layer_cols,
    text_sufficient,
)
from tools import oracle


def _pdf_cols(spark, payloads):
    df = spark.createDataFrame([(p,) for p in payloads], "payload string")
    cols = pdf_layer_cols(F.col("payload"))
    return df.select(
        cols["pdf_text"].alias("t"),
        cols["page_count"].alias("p"),
        cols["pdf_malformed"].alias("m"),
    ).collect()


def test_pdf_jvm_and_pandas_paths_agree(spark):
    payloads = [
        make_pdf(["hello world", "second page"]),
        make_pdf(["with (parens) and back\\slash escapes"]),
        make_pdf([""], ocr_pages=["scanned text"]),
        make_pdf(["x"], truncated=True),
        make_pdf(["x"], headerless=True),
        "not a pdf at all",
        make_pdf(["\n"]),  # two EMPTY '() Tj' literals (hypothesis-found edge)
        make_pdf(["a\n\nb"]),
    ]
    jvm = _pdf_cols(spark, payloads)
    pdf = _extract_pdf_batch(pd.Series(payloads))
    for row, (_, prow) in zip(jvm, pdf.iterrows()):
        assert row["t"] == prow["pdf_text"]
        assert row["p"] == prow["page_count"]
        assert bool(row["m"]) == bool(prow["pdf_malformed"])


def test_pdf_escape_roundtrip(spark):
    src = "text with (nested (parens)) and \\ backslash"
    [row] = _pdf_cols(spark, [make_pdf([src])])
    assert row["t"] == src
    assert not row["m"]


def test_sufficiency_strict_greater(spark):
    # exactly 264 chars on 1 page == 0.5 * 528 * 1 -> NOT sufficient
    exact = "x" * 264
    over = "x" * 265
    df = spark.createDataFrame([(exact, 1), (over, 1)], "t string, p int")
    got = df.select(text_sufficient("t", "p").alias("s")).collect()
    assert [r["s"] for r in got] == [False, True]


def test_ocr_page_filter_and_order(spark):
    pdf = make_pdf([""], ocr_pages=["alpha beta", "gamma delta"])
    df = spark.createDataFrame([(pdf,)], "payload string")
    [row] = df.select(ocr_text_col("payload").alias("t")).collect()
    # WORD noise blocks filtered; PAGE blocks concatenated in order
    assert row["t"] == "alpha beta gamma delta"
    assert _decode_ocr_batch(pd.Series([pdf])).iloc[0] == "alpha beta gamma delta"


def test_html_boilerplate_dropped():
    html = (
        "<html><head><title>T</title><style>p{}</style></head><body>"
        "<nav><a href='/'>Home</a> <a href='/a'>About</a></nav>"
        "<p>This paragraph carries the real main content of the page.</p>"
        "<p><a>link</a> <a>farm</a> <a>only</a> <a>here</a></p>"
        "<p>short</p>"
        "<footer>copyright boilerplate</footer></body></html>"
    )
    got = extract_main_text_batch(pd.Series([html])).iloc[0]
    assert got == "This paragraph carries the real main content of the page."
    assert got == oracle.extract_html(html)


def test_html_entities_and_inline_tags():
    html = "<html><body><p>a &amp; b &lt;c&gt; with <b>bold</b> and <i>italic</i> words</p></body></html>"
    got = extract_main_text_batch(pd.Series([html])).iloc[0]
    assert got == oracle.extract_html(html)
    assert "&amp;" not in got and "a & b <c>" in got


def test_html_link_density_threshold():
    # text long enough but >35% of chars inside anchors -> dropped
    linky = "<html><body><p><a>aaaaaaaaaaaaaaaaaaaa</a> bbbb cccc</p></body></html>"
    ok = "<html><body><p><a>aaaa</a> bbbbbbbbbbbbbbbbbbbbbbbb cccc</p></body></html>"
    got = extract_main_text_batch(pd.Series([linky, ok]))
    assert got.iloc[0] == ""
    assert got.iloc[1] != ""
    assert got.iloc[0] == oracle.extract_html(linky)
    assert got.iloc[1] == oracle.extract_html(ok)


def test_giant_ocr_doc_crosses_batch_boundary(spark):
    # >1000 PAGE blocks (the reference's maxResults(1000) pagination analog)
    pages = [f"block{i:04d}" for i in range(1500)]
    pdf = make_pdf([""], ocr_pages=pages)
    df = spark.createDataFrame([(pdf,)], "payload string")
    [row] = df.select(ocr_text_col("payload").alias("t")).collect()
    assert row["t"] == " ".join(pages)


def test_html_jvm_and_udf_paths_agree_on_corpus(spark, corpus_dir):
    """html_main_text_col (codegen) and extract_main_text_batch (pandas)
    must produce IDENTICAL output over every HTML span in the fixture
    corpus — the JVM path is the pipeline default, the batch fn is the
    independent parity reference."""
    import pandas as pd

    from cies_ocr_java_spark.operators.html_extract import (
        extract_main_text_batch,
        html_main_text_col,
    )

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    html = (
        docs.select(F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "html")
        .select(F.col("s.text").alias("h"))
    )
    got = [
        r["out"]
        for r in html.select(html_main_text_col(F.col("h")).alias("out"))
        .collect()
    ]
    raw = [r["h"] for r in html.collect()]
    want = list(extract_main_text_batch(pd.Series(raw, dtype=object)))
    assert len(got) > 20
    assert got == want


def test_pdf_jvm_and_udf_paths_agree_on_corpus(spark, corpus_dir):
    """pdf_layer_cols (codegen, the pipeline's path) and pdf_layer_udf
    (Arrow/pandas, the parity reference) must produce IDENTICAL pdf_text,
    page_count and pdf_malformed over every PDF span in the fixture
    corpus, malformed ones included."""
    from cies_ocr_java_spark.operators.pdf_extract import pdf_layer_udf

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    pdf = (
        docs.select(F.explode("spans").alias("s"))
        .where((F.col("s.kind") == "pdf") & F.col("s.text").isNotNull())
        .select(F.col("s.text").alias("p"))
    )
    cols = pdf_layer_cols(F.col("p"))
    rows = pdf.select(
        F.struct(
            cols["pdf_text"].alias("pdf_text"),
            cols["page_count"].alias("page_count"),
            cols["pdf_malformed"].alias("pdf_malformed"),
        ).alias("jvm"),
        pdf_layer_udf(F.col("p")).alias("udf"),
    ).collect()
    assert len(rows) > 20
    assert any(r["jvm"]["pdf_malformed"] for r in rows)
    assert not all(r["jvm"]["pdf_malformed"] for r in rows)
    for r in rows:
        assert r["jvm"].asDict() == r["udf"].asDict()


def test_adversarial_three_way_parity_on_spark(spark):
    """Degradation contract, end to end on the JVM: for a deterministic
    sample of hostile payloads (the fixture generator's adversarial tier),
    the codegen column paths, the Arrow batch paths, and the char-walk
    oracle must produce IDENTICAL results — Java-vs-Python regex semantics
    (\\s, \\b, '.', quote-aware tags, canonical base64, UTF-8 gates) are
    exactly where they silently diverge if unpinned."""
    import random

    from pyspark.sql import functions as F

    from cies_ocr_java_spark.operators.html_extract import (
        extract_main_text_batch,
        html_main_text_col,
    )
    from cies_ocr_java_spark.operators.ocr_mock import (
        _decode_ocr_batch,
        ocr_text_col,
    )
    from cies_ocr_java_spark.operators.pdf_extract import pdf_layer_cols
    from tools import oracle
    from tools.make_fixtures import (
        build_html_adversarial,
        build_mixed_encoding,
        build_pdf_adversarial,
        build_truncated,
    )

    rng = random.Random(20240817)
    pdfs, htmls = [], []
    for _ in range(60):
        pdfs.append(build_pdf_adversarial(rng, "x")[0]["text"])
        pdfs.append(build_truncated(rng, "x")[0]["text"])
        htmls.append(build_html_adversarial(rng, "x")[0]["text"])
        s = build_mixed_encoding(rng, "x")[0]
        (htmls if s["kind"] == "html" else pdfs).append(s["text"])

    pdf_df = spark.createDataFrame(list(enumerate(pdfs)), "i int, p string")
    cols = pdf_layer_cols(F.col("p"))
    for r in pdf_df.select(
        "i", cols["pdf_text"].alias("t"), cols["page_count"].alias("pc"),
        cols["pdf_malformed"].alias("m"), ocr_text_col(F.col("p")).alias("o"),
    ).collect():
        want = oracle.parse_pdf(pdfs[r["i"]])
        assert r["t"] == want["text"], pdfs[r["i"]][:200]
        assert r["pc"] == want["page_count"]
        assert bool(r["m"]) == want["malformed"]
        assert r["o"] == want["ocr_text"], pdfs[r["i"]][:200]
    batch = _extract_pdf_batch(pd.Series(pdfs))
    ocr_batch = _decode_ocr_batch(pd.Series(pdfs))
    for i, p in enumerate(pdfs):
        want = oracle.parse_pdf(p)
        assert batch.iloc[i]["pdf_text"] == want["text"]
        assert ocr_batch.iloc[i] == want["ocr_text"]

    html_df = spark.createDataFrame(list(enumerate(htmls)), "i int, p string")
    for r in html_df.select(
        "i", html_main_text_col(F.col("p")).alias("t")
    ).collect():
        assert r["t"] == oracle.extract_html(htmls[r["i"]]), htmls[r["i"]][:250]
    hb = extract_main_text_batch(pd.Series(htmls))
    for i, h in enumerate(htmls):
        assert hb.iloc[i] == oracle.extract_html(h)


def test_stack_bomb_payloads_no_crash_and_parity(spark):
    """Round-2 verdict #1 regression pin: the OLD branch-in-loop TAG_BODY /
    TJ_PATTERN compiled to a recursive java.util.regex Pattern$Loop — one
    stack frame-set per character — and StackOverflowed executor threads on
    long unquoted runs (BENCH_r02 rc=1). The Friedl-unrolled patterns recurse
    per quoted/escaped SEGMENT only. This pins, on the actual JVM:
      * >=80 KB quote-free tag body extracts (old: guaranteed crash),
      * >=80 KB unclosed-quote tag degrades to character data,
      * >=80 KB Tj literal extracts; unterminated '(' + 80 KB tail degrades,
      * ~2000 quoted attributes / escape sequences in ONE tag/literal stay
        within the -Xss8m headroom (segment-depth contract),
    and that JVM, Arrow-batch, and oracle outputs stay byte-identical."""
    import random

    from pyspark.sql import functions as F

    from cies_ocr_java_spark.operators.html_extract import (
        extract_main_text_batch,
        html_main_text_col,
    )
    from cies_ocr_java_spark.operators.pdf_extract import pdf_layer_cols
    from tools import oracle
    from tools.make_fixtures import build_stack_bomb, make_pdf

    rng = random.Random(3)
    filler = "".join(rng.choice("abcdefgh -=") for _ in range(80000))
    quoted_bomb = " ".join(f'a{i}="v{i}"' for i in range(2000))
    escapes = "".join("\\(" if i % 2 else "\\\\" for i in range(2000))

    htmls = [
        f"<html><body><p data-x={filler}>visible main sentence body one</p></body></html>",
        f'<p a="{filler}>tail after unclosed quote stays as text data',
        f"<p {quoted_bomb}>quoted attribute bomb survives as a block</p>",
        f"<div {quoted_bomb} data-y={filler}>mixed quoted and unquoted</div>",
    ]
    pdfs = [
        make_pdf([filler + " end of giant literal"]),
        f"%PDF-1.4\n%%Page: 1\nBT\n(good one) Tj\n({filler}\nET\n%%EOF\n",
        make_pdf(["escape bomb " + escapes + " tail"]),
    ]
    # the fixture generator's own stack_bomb tier, all four modes
    gen_rng = random.Random(11)
    for _ in range(8):
        s = build_stack_bomb(gen_rng, "x")[0]
        (htmls if s["kind"] == "html" else pdfs).append(s["text"])

    html_df = spark.createDataFrame(list(enumerate(htmls)), "i int, p string")
    for r in html_df.select(
        "i", html_main_text_col(F.col("p")).alias("t")
    ).collect():
        assert r["t"] == oracle.extract_html(htmls[r["i"]])
    hb = extract_main_text_batch(pd.Series(htmls))
    for i, h in enumerate(htmls):
        assert hb.iloc[i] == oracle.extract_html(h)

    pdf_df = spark.createDataFrame(list(enumerate(pdfs)), "i int, p string")
    cols = pdf_layer_cols(F.col("p"))
    for r in pdf_df.select(
        "i", cols["pdf_text"].alias("t"), cols["pdf_malformed"].alias("m")
    ).collect():
        want = oracle.parse_pdf(pdfs[r["i"]])
        assert r["t"] == want["text"]
        assert bool(r["m"]) == want["malformed"]
    pb = _extract_pdf_batch(pd.Series(pdfs))
    for i, p in enumerate(pdfs):
        assert pb.iloc[i]["pdf_text"] == oracle.parse_pdf(p)["text"]


def test_interleaved_pack_windows_are_exact_and_reassemblable(spark):
    """pack_interleaved_spans invariants: every context window except the
    last holds exactly seq_len tokens with no overlap (fragment starts
    partition [0, seq_len)); per-span fragments are contiguous and cover
    the span exactly; media spans cost exactly the placeholder budget."""
    from cies_ocr_java_spark.operators.packing import pack_interleaved_spans
    from cies_ocr_java_spark.plans.queries import QUERIES

    out = QUERIES["pipeline_end_to_end"](spark, "/root/testdata/sf0.001")
    m = pack_interleaved_spans(out, 128, media_tokens=16)
    rows = m.collect()
    assert rows

    by_seq = {}
    for r in rows:
        by_seq.setdefault(r["seq_id"], []).append(r)
    last = max(by_seq)
    for sid, frs in by_seq.items():
        tot = sum(f["n_tokens"] for f in frs)
        if sid != last:
            assert tot == 128, sid
        # fragments tile the window: sorted starts are cumulative sums
        frs.sort(key=lambda f: f["seq_tok_start"])
        pos = 0
        for f in frs:
            assert f["seq_tok_start"] == pos
            pos += f["n_tokens"]

    by_span = {}
    for r in rows:
        by_span.setdefault((r["doc_id"], r["span_order"]), []).append(r)
    for (did, so), frs in by_span.items():
        frs.sort(key=lambda f: f["span_tok_start"])
        assert frs[0]["span_tok_start"] == 1
        for a, b in zip(frs, frs[1:]):
            assert b["span_tok_start"] == a["span_tok_end"] + 1
        if frs[0]["kind"] == "media":
            assert sum(f["n_tokens"] for f in frs) == 16


# ---------------------------------------------------------------------------
# charset sniff + transcode (session-3: classify.sniff_charset_cols)
# ---------------------------------------------------------------------------

def test_charset_sniff_all_variants(spark):
    from pyspark.sql import functions as F
    from cies_ocr_java_spark.operators.classify import sniff_charset_cols

    rows = [
        (0, b"\xef\xbb\xbfhello"),
        (1, "hi".encode("utf-16-le")),                      # BOM-less LE
        (2, b"\xff\xfe" + "hi".encode("utf-16-le")),
        (3, b"\xfe\xff" + "hi".encode("utf-16-be")),
        (4, "hi".encode("utf-16-be")),                      # BOM-less BE
        (5, b"plain ascii"),
        (6, "caf\xe9".encode("latin-1")),                   # invalid UTF-8
        (7, b""),                                           # no evidence
        (8, "naïve ☃".encode("utf-8")),                     # real UTF-8
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    c = sniff_charset_cols(F.col("payload"))
    got = {
        r["doc_id"]: (r["cs"], r["t"], r["b"])
        for r in df.select(
            "doc_id", c["charset"].alias("cs"), c["text"].alias("t"),
            c["had_bom"].alias("b"),
        ).collect()
    }
    assert got == {
        0: ("utf-8-bom", "hello", True),
        1: ("utf-16le", "hi", False),
        2: ("utf-16le", "hi", True),
        3: ("utf-16be", "hi", True),
        4: ("utf-16be", "hi", False),
        5: ("utf-8", "plain ascii", False),
        6: ("latin-1", "caf\xe9", False),
        7: ("utf-8", "", False),
        8: ("utf-8", "naïve ☃", False),
    }


def test_charset_sniff_zero_python_no_shuffle(spark):
    from cies_ocr_java_spark.plans.queries import QUERIES

    plan = (
        QUERIES["charset_sniff_decode"](spark, "/root/testdata/sf0.01")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "Arrow" not in plan
    assert "Exchange" not in plan  # one map-side projection, no shuffle
