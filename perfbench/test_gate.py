"""Tests of the benchmark's correctness gate, including the negative
control: a corrupted golden span or walker result hash must fail it.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus, gate  # noqa: E402
from tools import oracle  # noqa: E402


@pytest.fixture(scope="module")
def docs():
    return corpus.mix_docs(120, rng_seed=7, prefix="t")


@pytest.fixture(scope="module")
def golden(docs):
    return {d["doc_id"]: corpus._golden_row(d) for d in docs}


def _engine_like_output(docs):
    """What a correct pipeline commits, derived from the oracle: span rows
    (hash, used_ocr) for SUCCEEDED docs and one state row per doc."""
    spans, state = {}, {}
    for d in docs:
        g = oracle.extract_document(d["doc_id"], d["spans"])
        state[d["doc_id"]] = [(g["status"], g["error"])]
        if g["status"] == "SUCCEEDED":
            spans[d["doc_id"]] = [(gate.md5(gate.canon_spans(g["spans"])),
                                   g["used_ocr"])]
    return spans, state


def test_mix_has_every_class_and_failures(docs, golden):
    assert len(docs) == 120 and len(golden) == 120
    statuses = {g[0] for g in golden.values()}
    assert statuses == {"SUCCEEDED", "FAILED"}
    assert any(g[2] for g in golden.values()), "no OCR-routed doc"


def test_giants_are_stratified():
    """Every seed gets half its giant documents as one huge OCR PDF and
    half as many text spans, so seeds do not move the payload volume."""
    for seed in (1, 2, 3):
        docs = corpus.mix_docs(400, rng_seed=seed, prefix="g")
        pdf = sum(len(d["spans"]) == 1 and d["spans"][0]["kind"] == "pdf"
                  and len(d["spans"][0]["text"] or "") > 100_000 for d in docs)
        text = sum(len(d["spans"]) >= 120 for d in docs)
        assert (pdf, text) == (4, 4)
    assert corpus.mix_docs(400, 5, "g") == corpus.mix_docs(400, 5, "g")


def test_gate_accepts_correct_output(docs, golden):
    spans, state = _engine_like_output(docs)
    assert gate.check_output(spans, state, golden, golden) == []


def test_gate_fails_on_corrupted_golden_span(docs, golden):
    """Negative control: change one span text of one golden document."""
    spans, state = _engine_like_output(docs)
    victim = next(d for d in docs if golden[d["doc_id"]][0] == "SUCCEEDED"
                  and golden[d["doc_id"]][3] is not None)
    g = oracle.extract_document(victim["doc_id"], victim["spans"])
    g["spans"][0] = {**g["spans"][0], "text": (g["spans"][0]["text"] or "") + "x"}
    bad_golden = dict(golden)
    bad_golden[victim["doc_id"]] = [
        *golden[victim["doc_id"]][:3], gate.md5(gate.canon_spans(g["spans"])),
        golden[victim["doc_id"]][4]]
    bad = gate.check_output(spans, state, bad_golden, bad_golden)
    assert len(bad) == 1 and bad[0].startswith(victim["doc_id"] + ":")


def test_gate_fails_on_duplicate_spans_missing_state_and_extra_doc(docs, golden):
    spans, state = _engine_like_output(docs)
    ok = next(d for d in spans)
    spans[ok] = spans[ok] * 2
    gone = next(d for d in state if d != ok)
    del state[gone]
    state["stray"] = [("SUCCEEDED", None)]
    bad = gate.check_output(spans, state, golden, golden)
    assert {b.split(":")[0] for b in bad} == {ok, gone, "stray"}


def test_lookup_gate(docs, golden):
    d = next(d for d in docs if golden[d["doc_id"]][0] == "SUCCEEDED")
    text = oracle.extract_document(d["doc_id"], d["spans"])["text"]
    assert gate.check_lookup(d["doc_id"], "SUCCEEDED", [text], golden) == []
    assert gate.check_lookup(d["doc_id"], "SUCCEEDED", [text + " "], golden)
    assert gate.check_lookup(d["doc_id"], "New", [text], golden)
    assert gate.check_lookup(d["doc_id"], "SUCCEEDED", [text, text], golden)


def test_walker_gate_fails_on_corrupted_hash():
    """Negative control: one walker's verified hash is corrupted."""
    a = pd.DataFrame({"doc_id": [3, 1, 2], "width": [4, None, 6]})
    shuffled = a.iloc[[2, 0, 1]][["width", "doc_id"]]
    h = gate.result_hash(a)
    assert gate.result_hash(shuffled) == h  # row and column order do not count
    verified = {"q1": h, "q2": gate.result_hash(a.head(2))}
    got = {"q1": h, "q2": gate.result_hash(a.head(2))}
    assert gate.check_hashes(got, verified) == []
    corrupt = {**verified, "q2": verified["q2"][:-1] + "0"}
    bad = gate.check_hashes(got, corrupt)
    assert len(bad) == 1 and bad[0].startswith("q2:")
    assert gate.check_hashes({"q1": h}, verified)  # a query that raised


def test_benchmark_json_matches_emitted_metrics():
    from perfbench.workloads import E2E, PER_LAYER, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert any(m["name"] == "setup_s" and m["better"] == "lower"
               for m in spec["end_to_end"])
