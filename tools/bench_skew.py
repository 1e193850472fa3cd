"""Skew experiment: measure what the salt shuffle actually buys.

Corpus = N ordinary fixture docs + ONE mega-document with ``--mega-spans``
text spans (the 10^6-span tail case from SURVEY.md §7.4). Without the salt
shuffle, every span of the mega-doc stays in the partition its source row
landed in, so one task runs the whole document's extraction; with
``repartition(P, doc_id, offset)`` the spans spread across all cores and
the tail is bounded by the heaviest SINGLE span (irreducible).

Runs extraction (noop sink — no output I/O) both ways at the same
parallelism, prints one JSON line, appends a block to BENCH_SCALING.md.

Usage: python tools/bench_skew.py [--docs 20000] [--mega-spans 30000]
       [--threads 8] [--runs 3]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=20000)
    ap.add_argument("--mega-spans", type=int, default=1000)
    ap.add_argument("--blocks", type=int, default=500)
    ap.add_argument("--threads", type=int, default=8)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--report", default=os.path.join(REPO, "BENCH_SCALING.md"))
    args = ap.parse_args()

    # local-JVM heap must hold the mega-doc row during planning/stats
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS", "--driver-memory 12g pyspark-shell")

    import random

    from pyspark.sql import DataFrame

    from cies_ocr_java_spark.formats import make_pdf
    from cies_ocr_java_spark.session import get_spark
    import cies_ocr_java_spark.plans.pipeline as pl
    from tools.make_fixtures import generate, words, write_corpus

    workdir = tempfile.mkdtemp(
        prefix="cies-skew-", dir="/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    docs = generate(args.docs, seed=42)
    rng = random.Random(7)
    # per-span HEAVY work (OCR-fallback PDFs, ~50 blocks each): this is the
    # case the salt exists for — a tail doc whose spans each cost real CPU.
    # (A mega-doc of cheap text spans is the opposite regime: there the
    # salt's full-corpus shuffle costs more than it saves; both results
    # are recorded.)
    docs.append(
        {
            "doc_id": "doc-mega",
            "spans": [
                {
                    "kind": "pdf",
                    "text": make_pdf(
                        [""], ocr_pages=[words(rng, 8) for _ in range(args.blocks)]
                    ),
                    "media_ref": None,
                    "offset": i,
                }
                for i in range(args.mega_spans)
            ],
        }
    )
    corpus = os.path.join(workdir, "corpus")
    write_corpus(docs, corpus)

    spark = get_spark(
        app_name="bench_skew",
        master=f"local[{args.threads}]",
        shuffle_partitions=args.threads,
        extra_conf={"spark.local.dir": os.path.join(workdir, "tmp")},
    )
    src = spark.read.parquet(f"{corpus}/documents.parquet")
    src.count()

    def run_extraction() -> float:
        t0 = time.time()
        pl.extract_spans(src).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    results = {}
    orig_rep = DataFrame.repartition
    for label, salted in (("salted", True), ("unsalted", False)):
        DataFrame.repartition = orig_rep if salted else (lambda self, *a, **k: self)
        try:
            run_extraction()  # warm-up, discarded
            walls = [run_extraction() for _ in range(args.runs)]
        finally:
            DataFrame.repartition = orig_rep
        results[label] = round(statistics.median(walls), 2)

    summary = {
        "metric": "skew_salt_speedup",
        "docs": args.docs,
        "mega_spans": args.mega_spans,
        "threads": args.threads,
        "salted_wall_s": results["salted"],
        "unsalted_wall_s": results["unsalted"],
        "speedup": round(results["unsalted"] / results["salted"], 2),
    }
    print(json.dumps(summary))

    stamp = time.strftime("%Y-%m-%d %H:%M:%S")
    with open(args.report, "a") as f:
        f.write(
            f"\n## Skew experiment {stamp} — {args.docs} docs + one "
            f"{args.mega_spans}-span mega-doc, local[{args.threads}], "
            f"median of {args.runs}\n\n"
            f"| variant | wall (s) |\n|---|---|\n"
            f"| salted repartition (default) | {results['salted']} |\n"
            f"| salt removed | {results['unsalted']} |\n\n"
            f"Salt speedup on the skewed corpus: "
            f"**{summary['speedup']}×** — without the salt the mega-doc's "
            f"spans extract inside one task.\n"
        )
    spark.stop()
    import shutil

    shutil.rmtree(workdir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
