"""operators/walker.map_blobs: the one Arrow-batched harness every binary
format walker runs through, plus a guard against hand-rolled copies of
its batch loop growing back in operators/."""
from __future__ import annotations

import ast
import importlib
import inspect
import random
from pathlib import Path

import pytest
from pyspark.sql.types import _parse_datatype_string

from cies_ocr_java_spark.operators.walker import (
    blob_columns,
    blob_frame,
    map_blobs,
    rows_or_error,
)

OPS = (Path(__file__).resolve().parent.parent / "cies_ocr_java_spark"
       / "operators")


def _blob_df(spark, blobs, col="content"):
    return spark.createDataFrame(
        [(i, None if b is None else bytearray(b))
         for i, b in enumerate(blobs)],
        f"doc_id long, {col} binary")


# ---------------------------------------------------------------------------
# the harness itself
# ---------------------------------------------------------------------------

def test_ddl_types_map_to_pandas_dtypes(spark):
    ddl = ("doc_id long, a int, b bigint, c long, d double, e array<string>, "
           "f map<string,int>, g string, h struct<x:int>")
    assert blob_columns(_parse_datatype_string(ddl)) == ("doc_id", [
        ("a", "Int32"), ("b", "Int64"), ("c", "Int64"), ("d", None),
        ("e", None), ("f", None), ("g", None), ("h", None),
    ])


def test_blob_frame_keeps_ddl_order_and_fills_missing_keys():
    cols = [("n", "Int32"), ("tags", None), ("x", None), ("error", None)]
    rows = [{"error": None, "x": 1.5, "tags": ["a"], "n": 3, "extra": 9},
            {"error": "bad"}]
    out = blob_frame([7, 8], rows, "doc_id", cols)
    assert list(out.columns) == ["doc_id", "n", "tags", "x", "error"]
    assert str(out["doc_id"].dtype) == "int64"
    assert str(out["n"].dtype) == "Int32"
    assert out["n"].isna().tolist() == [False, True]
    assert out["tags"].tolist() == [["a"], None]
    assert out["error"].tolist() == [None, "bad"]


def test_blob_frame_with_no_rows_still_has_every_column():
    out = blob_frame([], [], "doc_id", [("n", "Int64"), ("error", None)])
    assert list(out.columns) == ["doc_id", "n", "error"] and len(out) == 0


def test_none_and_empty_blobs_reach_parse_as_none_and_bytes(spark):
    def parse(b):
        return {"kind": type(b).__name__, "n": None if b is None else len(b)}

    df = map_blobs(_blob_df(spark, [None, b"", b"abc"]), parse,
                   "doc_id long, kind string, n int, error string")
    got = sorted(tuple(r) for r in df.collect())
    assert got == [(0, "NoneType", None, None), (1, "bytes", 0, None),
                   (2, "bytes", 3, None)]


def test_dict_is_one_row_and_list_is_zero_or_more(spark):
    def parse(b):
        if b is None:
            return {"error": "missing"}
        return [{"k": k, "byte": b[k]} for k in range(len(b))]

    df = map_blobs(_blob_df(spark, [None, b"", b"\x05\x06"]), parse,
                   "doc_id long, k int, byte int, error string")
    assert sorted(tuple(r) for r in df.collect()) == [
        (0, None, None, "missing"), (2, 0, 5, None), (2, 1, 6, None)]


def test_output_columns_follow_ddl_order(spark):
    ddl = "id long, z string, a bigint, m array<int>, error string"
    df = map_blobs(
        _blob_df(spark, [b"xy"], col="payload").withColumnRenamed(
            "doc_id", "id"),
        lambda b: {"m": [1, 2], "error": None, "a": 2**40, "z": "zz"},
        ddl, id_col="id", content_col="payload")
    assert df.schema == _parse_datatype_string(ddl)
    assert [tuple(r) for r in df.collect()] == [(0, "zz", 2**40, [1, 2],
                                                 None)]


def test_rows_or_error_adapter():
    ok = rows_or_error(lambda b: ([{"i": 0}, {"i": 1}], None))
    bad = rows_or_error(lambda b: (None, "truncated"))
    assert ok(b"") == [{"i": 0, "error": None}, {"i": 1, "error": None}]
    assert bad(b"") == {"error": "truncated"}


# ---------------------------------------------------------------------------
# every walker routed through map_blobs
# ---------------------------------------------------------------------------

def _map_blobs_walkers():
    """(module, function, DDL) for every operators/ function whose body
    calls map_blobs; the DDL is the call's schema argument, a module
    constant or a string assigned inside the function."""
    out = []
    for path in sorted(OPS.glob("*.py")):
        if path.name == "walker.py":
            continue
        tree = ast.parse(path.read_text())
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            calls = [n for n in ast.walk(fn) if isinstance(n, ast.Call)
                     and getattr(n.func, "id", None) == "map_blobs"]
            if not calls:
                continue
            arg = calls[0].args[2]
            local = {t.id: n.value for n in ast.walk(fn)
                     if isinstance(n, ast.Assign) for t in n.targets
                     if isinstance(t, ast.Name)}
            out.append((path.stem, fn.name, arg.id if arg.id not in local
                        else ast.literal_eval(local[arg.id])))
    return out


WALKERS = _map_blobs_walkers()

# formats whose empty byte string is a well-formed, empty document
EMPTY_IS_VALID = {
    "hpack_real.extract_hpack_features":
        "an empty header block is a valid HPACK block",
    "utf7_real.extract_utf7_docs": "the empty string is valid UTF-7",
}


def test_walker_census():
    # every binary walker in operators/ except the allow-listed closures
    assert len(WALKERS) >= 100


@pytest.mark.parametrize("mod,fn,schema", WALKERS,
                         ids=[f"{m}.{f}" for m, f, _ in WALKERS])
def test_walker_degrades_every_bad_blob_to_an_error_row(spark, mod, fn,
                                                        schema):
    m = importlib.import_module(f"cies_ocr_java_spark.operators.{mod}")
    ddl = getattr(m, schema, schema)
    walker = getattr(m, fn)
    col = ("payload" if "payload_col" in inspect.signature(walker).parameters
           else "content")
    noise = random.Random(20240).randbytes(64)
    df = walker(_blob_df(spark, [None, b"", noise], col=col))
    assert df.schema == _parse_datatype_string(ddl)
    rows = df.collect()
    assert {r["doc_id"] for r in rows} == {0, 1, 2}
    ok = {1} if f"{mod}.{fn}" in EMPTY_IS_VALID else set()
    assert {r["doc_id"] for r in rows if r["error"] is None} == ok, rows


# ---------------------------------------------------------------------------
# regrowth guard
# ---------------------------------------------------------------------------

# mapInPandas closures kept on purpose: none of them walks one binary
# column row by row.
KEPT = {
    "git_objects.extract_git_features":
        "parse takes a second per-row column (the expected object id)",
    "sfnt_real.extract_sfnt_features":
        "parse takes a second per-row column (the query chars)",
    "woff_real.extract_woff_features":
        "parse takes a second per-row column (the query chars)",
    "pgp_real.extract_pgp_features":
        "ASCII-armored input: the content column is a string, not binary",
    "multimodal.extract_media_dispatch":
        "sniffs each row and projects nine codecs onto one shared schema",
    "multimodal.extract_media_features":
        "a MediaCodec decodes whole batches keyed by media_ref",
    "multimodal.plan_resize": "vectorized numpy over decoded feature rows",
    "multimodal.sample_frames": "vectorized numpy over decoded feature rows",
    "multimodal.plan_audio_chunks":
        "vectorized numpy over decoded feature rows",
    "pdf_real.real_pdf_bytes": "mints PDFs from text; walks no blob",
    "pdf_real.extract_pdf_positioned":
        "builds each PDF from x/y float block arrays, then walks it",
    "pdf_real.extract_pdf_anchored":
        "builds each PDF from x/y float block arrays, then walks it",
    "sketches.heavy_hitters": "per-partition Misra-Gries sketch of tokens",
}

IDIOMS = ("zip(pdf[id_col], pdf[content_col])", "for b in pdf[content_col]")


def test_no_hand_rolled_blob_loops_outside_the_harness():
    kept, idioms = set(), []
    for path in sorted(OPS.glob("*.py")):
        if path.name == "walker.py":
            continue
        src = path.read_text()
        lines = src.splitlines()
        for fn in ast.parse(src).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            body = "\n".join(lines[fn.lineno - 1:fn.end_lineno])
            name = f"{path.stem}.{fn.name}"
            if ".mapInPandas(" in body:
                kept.add(name)
            if name not in KEPT:
                idioms += [(name, i) for i in IDIOMS if i in body]
    assert not idioms, f"route these through walker.map_blobs: {idioms}"
    assert kept == set(KEPT), (
        f"new mapInPandas closures {sorted(kept - set(KEPT))} go through "
        f"walker.map_blobs or into KEPT with a reason; stale KEPT entries "
        f"{sorted(set(KEPT) - kept)}")

