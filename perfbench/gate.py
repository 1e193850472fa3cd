"""Correctness gate: compares what the program produced with oracle goldens.

The comparison functions are pure (dicts in, mismatch strings out) so the
benchmark's own tests can corrupt a golden and watch the gate fail. The
Spark side only collects ``(doc_id, md5)`` pairs, never span payloads: the
canonical span string joins raw fields with \\x01/\\x02/\\x03 sentinels the
grammar never emits (the form ``tools/scaling_worker.py`` uses), because
JSON renderings differ between Jackson and Python on unicode escapes.
"""

from __future__ import annotations

import hashlib

_NULL = "\x02"


def md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def canon_spans(spans: list[dict]) -> str:
    """Canonical string of an output span sequence on (kind, text,
    media_ref, order)."""
    return "\x03".join(
        "\x01".join([
            _NULL if s["kind"] is None else s["kind"],
            _NULL if s["text"] is None else s["text"],
            _NULL if s["media_ref"] is None else s["media_ref"],
            str(int(s["order"])),
        ])
        for s in spans
    )


def spans_hash_col():
    """The Spark twin of ``md5(canon_spans(spans))`` over a ``spans`` column."""
    from pyspark.sql import functions as F

    null = F.lit(_NULL)
    return F.md5(F.array_join(
        F.transform(
            "spans",
            lambda s: F.concat_ws(
                "\x01",
                F.coalesce(s["kind"], null),
                F.coalesce(s["text"], null),
                F.coalesce(s["media_ref"], null),
                s["order"].cast("string"),
            ),
        ),
        "\x03",
    ))


def collect_output(spark, root: str) -> tuple[dict, dict]:
    """Read a pipeline output root through ``SnapshotTable``. Returns
    ``spans``: doc_id -> list of (spans_hash, used_ocr), one entry per
    committed row, and ``state``: doc_id -> list of (status, error), one
    entry per doc_state row."""
    import os

    from cies_ocr_java_spark.sources.snapshots import SnapshotTable

    spans: dict = {}
    tbl = SnapshotTable(os.path.join(root, "extracted_spans"))
    for r in tbl.read(spark).select(
            "doc_id", spans_hash_col().alias("h"), "used_ocr").collect():
        spans.setdefault(r["doc_id"], []).append((r["h"], bool(r["used_ocr"])))
    state: dict = {}
    tbl = SnapshotTable(os.path.join(root, "doc_state"))
    for r in tbl.read(spark).select("doc_id", "status", "error").collect():
        state.setdefault(r["doc_id"], []).append((r["status"], r["error"]))
    return spans, state


def check_output(spans: dict, state: dict, golden: dict, doc_ids) -> list[str]:
    """Mismatches between a committed output and the goldens of exactly
    ``doc_ids``: one state row per doc with the golden (status, error); a
    SUCCEEDED doc has exactly one span row with the golden span hash and
    used_ocr; a FAILED doc has no span row; no other doc appears. Each
    message starts with ``<doc_id>:``."""
    wanted = set(doc_ids)
    bad = [f"{d}: unexpected doc" for d in sorted((set(spans) | set(state)) - wanted)]
    for d in sorted(wanted):
        status, error, used_ocr, spans_h, _ = golden[d]
        rows = state.get(d, [])
        if rows != [(status, error)]:
            bad.append(f"{d}: state rows {rows} != [{(status, error)}]")
        got = spans.get(d, [])
        if status == "SUCCEEDED":
            if got != [(spans_h, used_ocr)]:
                bad.append(f"{d}: span rows {got} != [{(spans_h, used_ocr)}]")
        elif got:
            bad.append(f"{d}: FAILED doc has span rows {got}")
    return bad


def check_lookup(doc_id: str, status: str, texts: list, golden: dict) -> list[str]:
    """One poll_status + get_text answer against the golden: the polled
    status, and for a SUCCEEDED doc exactly one text with the golden hash
    (a FAILED doc has no text row)."""
    g_status, _, _, _, text_h = golden[doc_id]
    bad = []
    if status != g_status:
        bad.append(f"{doc_id}: polled {status} != {g_status}")
    want = [text_h] if g_status == "SUCCEEDED" else []
    got = [None if t is None else md5(t) for t in texts]
    if got != want:
        bad.append(f"{doc_id}: text hashes {got} != {want}")
    return bad


def result_hash(pdf) -> str:
    """Order-insensitive hash of a query result: columns sorted by name,
    rows sorted by their string form (``tools/check_queries.py`` order)."""
    from tools.check_queries import _canon

    cols = sorted(pdf.columns)
    rows = _canon([tuple(r) for r in pdf[cols].itertuples(index=False)])
    return md5(repr((cols, rows)))


def check_hashes(got: dict, verified: dict) -> list[str]:
    """Walker result hashes against the hashes verified by the oracle."""
    return [
        f"{name}: result hash {got.get(name)} != verified {h}"
        for name, h in sorted(verified.items()) if got.get(name) != h
    ]
