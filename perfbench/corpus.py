"""Seeded benchmark inputs and their oracle goldens.

Every input is a pure function of (workload, seed): document corpora come
from the ``tools.make_fixtures`` class builders in the default class mix
(``CLASS_MIX``) and goldens from the single-threaded ``tools.oracle``.
Unlike ``make_fixtures.generate``, which draws each document's class at
random, a corpus here holds exactly ``floor(share * n)`` documents of each
class (duplicate pairs fill the rest), and the giant documents, which carry
most of the payload, are stratified by branch and size, so seeds change
contents but not the class mix or the payload volume, and run time varies
less from seed to seed. Both are slow in pure Python, so
the parts of a corpus are built by ``nproc`` subprocesses and cached under
``.perfbench/cache`` keyed by everything they depend on. Nothing here is
timed: corpus and golden generation are excluded from every metric.

A golden maps ``doc_id -> [status, error, used_ocr, spans_hash, text_hash]``
with the hashes of ``gate.canon_spans`` / ``gate.md5``.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

# Bump when a generator below changes, so stale caches are never reused.
CORPUS_VERSION = "4"

BATCH_DOCS = 2000
INCR_BASE_DOCS = 500
INCR_DELTA_DOCS = 200
INCR_DELTAS = 20
WALKER_DOCS = 3000


def _part_spec(out: str, name: str, rng_seed: int, n: int) -> dict:
    return {
        "rng_seed": rng_seed, "n": n, "prefix": name,
        "parquet": os.path.join(out, "documents", f"{name}.parquet"),
        "golden": os.path.join(out, "golden", f"{name}.json"),
    }


def _golden_row(doc: dict) -> list:
    from perfbench.gate import canon_spans, md5
    from tools import oracle

    g = oracle.extract_document(doc["doc_id"], doc["spans"])
    spans_hash = None if g["spans"] is None else md5(canon_spans(g["spans"]))
    text_hash = None if g["text"] is None else md5(g["text"])
    return [g["status"], g["error"], bool(g["used_ocr"]), spans_hash, text_hash]


def _giant_strata(rng: random.Random, n: int) -> list[tuple[bool, float, float]]:
    """(is_pdf, low, high) for ``n`` giant documents: half of them one huge
    OCR PDF, half many text spans, each half spread evenly over its size
    range in strata of equal width, in a seeded order."""
    strata = []
    for pdf, m in ((True, (n + 1) // 2), (False, n // 2)):
        strata += [(pdf, j / m, (j + 1) / m) for j in range(m)]
    rng.shuffle(strata)
    return strata


def _stratified_giant(rng: random.Random, doc_id: str,
                      stratum: tuple[bool, float, float]) -> list[dict]:
    """``make_fixtures.build_giant`` with its branch and size drawn from
    ``stratum`` instead of at random. ``build_giant`` is a coin flip between
    a 1200-2500-block OCR PDF and 120-300 text spans, and the giants carry
    over half of a corpus's payload bytes, so free draws make the work per
    document vary by some 10% from seed to seed. Its first two draws are
    replayed on a copy of the generator until they land in the stratum, and
    the document is built from that state."""
    from tools.make_fixtures import build_giant

    want_pdf, low, high = stratum
    while True:
        state = rng.getstate()
        pdf = rng.random() >= 0.5
        lo, hi = (1200, 2500) if pdf else (120, 300)
        size = (rng.randint(lo, hi) - lo) / (hi - lo + 1)
        if pdf == want_pdf and low <= size < high:
            rng.setstate(state)
            return build_giant(rng, doc_id)


def mix_docs(n: int, rng_seed: int, prefix: str) -> list[dict]:
    """``n`` documents in the default class mix with exact class counts,
    in a seeded random order; the giant documents are stratified."""
    from tools.make_fixtures import CLASS_MIX, build_giant, build_pdf_rich, build_text

    rng = random.Random(rng_seed)
    plan = [fn for _, share, fn in CLASS_MIX for _ in range(int(share * n))]
    rest = n - len(plan)
    plan += [None] * (rest // 2) + [build_text] * (rest % 2)  # None: dup pair
    rng.shuffle(plan)
    giants = iter(_giant_strata(rng, plan.count(build_giant)))
    docs = []
    for i, fn in enumerate(plan):
        doc_id = f"{prefix}-{i:05d}"
        if fn is None:  # duplicate-content pair, as make_fixtures.generate
            spans = build_pdf_rich(rng, doc_id)
            docs.append({"doc_id": doc_id, "spans": spans})
            docs.append({"doc_id": f"{doc_id}b", "spans": [dict(x) for x in spans]})
        elif fn is build_giant:
            docs.append({"doc_id": doc_id,
                         "spans": _stratified_giant(rng, doc_id, next(giants))})
        else:
            docs.append({"doc_id": doc_id, "spans": fn(rng, doc_id)})
    return docs


def _write_part(spec: dict) -> None:
    """Generate one corpus part; write its parquet file and its goldens."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.make_fixtures import SPAN_T

    docs = mix_docs(spec["n"], spec["rng_seed"], spec["prefix"])
    for key in ("parquet", "golden"):
        os.makedirs(os.path.dirname(spec[key]), exist_ok=True)
    tbl = pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.string()),
        "spans": pa.array(
            [[(s["kind"], s["text"], s["media_ref"], s["offset"])
              for s in d["spans"]] for d in docs],
            pa.list_(SPAN_T),
        ),
    })
    # bounded row groups keep the scan splittable across cores
    pq.write_table(tbl, spec["parquet"], row_group_size=1024)
    with open(spec["golden"], "w") as f:
        json.dump({d["doc_id"]: _golden_row(d) for d in docs}, f)


def _build(specs: list[dict], root: str, done: str) -> None:
    """Build every part in ``nproc`` subprocesses and wait for all of them;
    a failed part fails the benchmark. ``done`` marks a complete build."""
    if os.path.exists(done):
        return
    width = max(1, min(os.cpu_count() or 1, len(specs)))
    env = {**os.environ, "PYTHONPATH": root}
    procs = [
        subprocess.Popen(
            [sys.executable, "-m", "perfbench.corpus", json.dumps(specs[i::width])],
            cwd=root, env=env)
        for i in range(width)
    ]
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"corpus build failed: exit codes {codes}")
    open(done, "w").close()


def _load_goldens(specs: list[dict]) -> dict:
    out: dict = {}
    for s in specs:
        with open(s["golden"]) as f:
            out.update(json.load(f))
    return out


def _split(n: int, parts: int) -> list[int]:
    return [n // parts + (1 if i < n % parts else 0) for i in range(parts)]


def _mix_specs(out: str, tag: str, rng_seed: int, n_docs: int) -> list[dict]:
    parts = max(1, min(os.cpu_count() or 1, 8))
    return [
        _part_spec(out, f"{tag}p{i}", rng_seed + i, n)
        for i, n in enumerate(_split(n_docs, parts)) if n
    ]


def batch_corpus(root: str, cache: str, seed: int) -> tuple[str, dict]:
    """``BATCH_DOCS`` default-mix documents as one parquet directory, plus
    goldens."""
    out = os.path.join(cache, f"batch-v{CORPUS_VERSION}-s{seed}-n{BATCH_DOCS}")
    specs = _mix_specs(out, "b", seed * 1009, BATCH_DOCS)
    _build(specs, root, os.path.join(out, "_DONE"))
    return os.path.join(out, "documents"), _load_goldens(specs)


def incremental_corpus(root: str, cache: str, seed: int) -> tuple[list[str], list[str], dict]:
    """A base corpus of ``INCR_BASE_DOCS`` documents and ``INCR_DELTAS``
    delta corpora of ``INCR_DELTA_DOCS``, as parquet file lists, plus the
    goldens of all of them."""
    out = os.path.join(
        cache, f"incr-v{CORPUS_VERSION}-s{seed}-b{INCR_BASE_DOCS}"
        f"-d{INCR_DELTA_DOCS}x{INCR_DELTAS}")
    base = _mix_specs(out, "base", seed * 1009 + 100, INCR_BASE_DOCS)
    deltas = [
        _part_spec(out, f"delta{j:02d}", seed * 1009 + 500 + j, INCR_DELTA_DOCS)
        for j in range(INCR_DELTAS)
    ]
    _build(base + deltas, root, os.path.join(out, "_DONE"))
    return ([s["parquet"] for s in base], [s["parquet"] for s in deltas],
            _load_goldens(base + deltas))


WALKER_WORDS = (
    "batch part spark line column order small sort fast value scan query "
    "agg table hash filter customer stream key group"
).split()


def walker_tables(cache: str, seed: int) -> str:
    """An sf-style directory holding ``documents.parquet`` in the testdata
    schema (doc_id, text, lang, source, n_chars). The walkers derive their
    binary payloads from doc_id, so the seed picks which ``WALKER_DOCS``
    ids (out of four times as many) appear, and their text."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(cache, f"walker-v{CORPUS_VERSION}-s{seed}-n{WALKER_DOCS}")
    path = os.path.join(out, "documents.parquet")
    if os.path.exists(path):
        return out
    rng = random.Random(seed)
    ids = sorted(rng.sample(range(4 * WALKER_DOCS), WALKER_DOCS))
    texts = [" ".join(rng.choice(WALKER_WORDS) for _ in range(rng.randint(5, 60)))
             for _ in ids]
    os.makedirs(out, exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(["en", "de", "zh"]) for _ in ids], pa.string()),
        "source": pa.array([f"src{i % 7}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), tmp)
    os.replace(tmp, path)
    return out


def corpus_counts(paths: list[str]) -> dict:
    """Input doc / span / payload-byte counts of parquet files or dirs."""
    import pyarrow.dataset as ds
    import pyarrow.compute as pc

    files = []
    for p in paths:
        files.extend(sorted(os.path.join(p, n) for n in os.listdir(p)
                            if n.endswith(".parquet")) if os.path.isdir(p) else [p])
    tbl = ds.dataset(files, format="parquet").to_table(columns=["spans"])
    spans = pc.list_flatten(tbl.column("spans"))
    texts = pc.struct_field(spans, "text")
    return {
        "docs": tbl.num_rows,
        "spans": len(spans),
        "payload_bytes": int(pc.sum(pc.binary_length(texts)).as_py() or 0),
    }


if __name__ == "__main__":
    for spec in json.loads(sys.argv[1]):
        _write_part(spec)
