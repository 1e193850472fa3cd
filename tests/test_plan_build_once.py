"""The extraction plan's Column trees are built once per SparkContext
(session.per_context) and applied to every run's input: rebuilding the
plan makes few gateway round trips, and the cache key keeps the two OCR
modes apart."""

from cies_ocr_java_spark.plans.pipeline import extract_spans
from cies_ocr_java_spark.session import per_context
from tools import oracle
from tools.make_fixtures import generate


def test_per_context_rebuilds_only_for_a_new_context_or_key():
    get = per_context(lambda key: [key])
    sc1, sc2 = object(), object()
    first = get(sc1, "a")
    assert get(sc1, "a") is first
    assert get(sc1, "b") is not first
    # a new context (e.g. after stop + get_spark) never sees the old trees
    assert get(sc2, "a") is not first and get(sc2, "a") == first


def test_rebuilt_plan_makes_few_gateway_calls(spark, corpus_dir, monkeypatch):
    """Building every tree afresh took ~3,450 py4j round trips per
    extract_spans; with the trees cached a build is a few hundred."""
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    extract_spans(docs)  # the session's first build may fill the cache
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = 0

    def counting(*args, **kwargs):
        nonlocal calls
        calls += 1
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    extract_spans(docs)
    monkeypatch.undo()
    assert 0 < calls <= 600, calls


def test_cache_key_separates_ocr_modes(spark, corpus_dir):
    """DETECTION, ANALYSIS, then DETECTION again: each call matches the
    oracle in its own mode, so no mode is served the other's trees."""
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    corpus = generate(160, seed=42)
    want = {
        mode: {
            d["doc_id"]: oracle.extract_document(d["doc_id"], d["spans"], ocr_mode=mode)
            for d in corpus
        }
        for mode in ("DETECTION", "ANALYSIS")
    }
    assert any(
        want["DETECTION"][d]["text"] != w["text"] for d, w in want["ANALYSIS"].items()
    ), "the corpus must tell the modes apart"
    for mode in ("DETECTION", "ANALYSIS", "DETECTION"):
        got = {r["doc_id"]: r for r in extract_spans(docs, ocr_mode=mode).collect()}
        assert set(got) == set(want[mode])
        for doc_id, w in want[mode].items():
            r = got[doc_id]
            assert r["failed"] == (w["status"] == "FAILED"), (mode, doc_id)
            if r["failed"]:
                continue
            spans = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
            exp = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in w["spans"]]
            assert spans == exp, (mode, doc_id)
            assert r["text"] == w["text"], (mode, doc_id)
