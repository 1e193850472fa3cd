"""PDF text-layer extraction + the text-sufficiency shortcut predicate.

Reference parity: PDFBox parse + PDFTextStripper.getText + getNumberOfPages
(DocumentExtractManager.java:438-461) and the sufficiency predicate P3
(DocumentExtractManager.java:410-429, strict '>' at 417-418).

Two implementations with identical semantics over the closed grammar
(cies_ocr_java_spark/formats.py):

1. ``pdf_layer_cols`` — pure Column expressions (regexp_extract_all +
   transform + array_join). This is the DEFAULT: it stays inside whole-stage
   codegen on the JVM, costs zero Python/Arrow transfer, and scales linearly
   with executor cores. At 100 TB this is the plan you want — a scan whose
   extraction is fused into the same codegen stage as the filters around it.
2. ``pdf_layer_udf`` — vectorized pandas UDF (Arrow batches). Kept as the
   parity reference and the extension point for grammar features regexes
   can't express (e.g. real xref/stream parsing); the pipeline does not use
   it, and tests pin that both paths agree on the corpus.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, functions as F, types as T

from cies_ocr_java_spark.formats import (
    ASSUMED_MAX_CHAR_PER_PAGE,
    MIN_TEXT_PCT,
    PAGE_MARKER,
    PDF_HEADER,
    PDF_EOF,
    TJ_PATTERN,
    WS_RUN,
)

# (escaped-literal) Tj — the show-text operator (degradation-contract
# semantics: see formats.py; the escape tail excludes line terminators so
# Java and Python regex agree). Only \\ \( \) unescape; any other escape
# survives verbatim.
_TJ_PATTERN = TJ_PATTERN
_UNESCAPE_PATTERN = r"\\([\\()])"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _norm(c: Column) -> Column:
    # WS_RUN, not \s: Java \s is ASCII-only and the Python-side
    # implementations must match it exactly (degradation contract rule 5)
    return F.trim(F.regexp_replace(c, WS_RUN, " "))


def pdf_layer_cols(payload: Column | str) -> dict[str, Column]:
    """JVM-side extraction: returns columns
    ``pdf_text`` (normalized text layer), ``page_count``, ``pdf_malformed``.
    """
    p = _col(payload)
    tj = F.regexp_extract_all(p, F.lit(_TJ_PATTERN), 1)
    unescaped = F.transform(tj, lambda x: F.regexp_replace(x, _UNESCAPE_PATTERN, "$1"))
    text = _norm(F.array_join(unescaped, " "))
    pages = F.size(F.regexp_extract_all(p, F.lit(re.escape(PAGE_MARKER)), 0))
    malformed = (
        (~p.startswith(PDF_HEADER))
        | (~p.contains(PDF_EOF))
        | (pages == 0)
    )
    return {"pdf_text": text, "page_count": pages, "pdf_malformed": malformed}


def text_sufficient(pdf_text: Column | str, page_count: Column | str) -> Column:
    """P3, the core heuristic: strict '>' against
    (MIN_TEXT_PCT/100) * page_count * 528."""
    return F.length(_col(pdf_text)) > (
        F.lit(MIN_TEXT_PCT / 100.0)
        * _col(page_count)
        * F.lit(ASSUMED_MAX_CHAR_PER_PAGE)
    )


# --- pandas-UDF path (Arrow-vectorized; semantics identical) --------------

_PDF_STRUCT = T.StructType(
    [
        T.StructField("pdf_text", T.StringType()),
        T.StructField("page_count", T.IntegerType()),
        T.StructField("pdf_malformed", T.BooleanType()),
    ]
)

_TJ_RE = re.compile(_TJ_PATTERN)
_UNESC_RE = re.compile(_UNESCAPE_PATTERN)
_WS_RE = re.compile(WS_RUN)


def _extract_pdf_batch(payload: pd.Series) -> pd.DataFrame:
    s = payload.fillna("")
    rid = pd.RangeIndex(len(s))
    s.index = rid

    # text layer: all Tj literals, unescaped, joined with ' ' per row
    # MultiIndex (row, match); pandas returns NaN for EMPTY captured groups
    # (an empty '() Tj' literal), which must join as ''
    matches = s.str.extractall(_TJ_PATTERN)[0].fillna("")
    if len(matches):
        matches = matches.str.replace(_UNESC_RE, r"\1", regex=True)
        joined = matches.groupby(level=0).agg(" ".join)
    else:
        joined = pd.Series(dtype="object")
    text = joined.reindex(rid).fillna("")
    # strip(" "): Spark's trim removes SPACES only; .strip() would also eat
    # non-ASCII whitespace (e.g. \xa0) and diverge from the JVM path
    text = text.str.replace(_WS_RE, " ", regex=True).str.strip(" ")

    pages = s.str.count(re.escape(PAGE_MARKER)).astype("int32")
    malformed = (
        ~s.str.startswith(PDF_HEADER)
        | ~s.str.contains(PDF_EOF, regex=False)
        | (pages == 0)
    )
    return pd.DataFrame(
        {"pdf_text": text, "page_count": pages, "pdf_malformed": malformed}
    )


@F.pandas_udf(_PDF_STRUCT)
def pdf_layer_udf(payload: pd.Series) -> pd.DataFrame:
    return _extract_pdf_batch(payload)
