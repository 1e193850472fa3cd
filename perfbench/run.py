"""Benchmark entry point.

    python3 perfbench/run.py --workload mixed_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the seeded inputs (cached under
``.perfbench/cache``), starts Spark at ``local[nproc]`` in this process,
measures the workload for ``--seconds`` of wall time, checks every
output against the oracle goldens, and prints one line per metric
followed, as the last line, by one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``E2E``); with
``--trace 1`` the run is traced, its spans are written to
``.perfbench/traces`` and the metrics are the per-layer ones
(``PER_LAYER``). Every result is also written, with the host and git
fingerprint, to ``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import E2E, PER_LAYER, WORKLOADS, Bench  # noqa: E402

def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    bind to loopback, and make the package importable on Python workers
    (launched from elsewhere, walker UDFs fail with PythonException).
    The JVM keeps its JIT compiler threads for its whole life: a compiler
    thread that exits folds its CPU into the process total, where
    ``host.program_cpu_s`` can no longer subtract it. And it keeps the heap
    it has grown: the full GC the benchmark runs between operations would
    otherwise shrink it, and every operation would pay for regrowing it
    with extra collections a long-lived driver never makes."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "CIES_FIXTURE_CACHE_DIR": os.path.join(work, "fixture-cache"),
        "CIES_NEARDUP_CACHE_DIR": os.path.join(work, "neardup-cache"),
        "CIES_SHINGLE_CACHE_DIR": os.path.join(work, "shingle-cache"),
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "-XX:MaxHeapFreeRatio=100"))),
    })
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    # the package default heap is 16g; the benchmark shares its host, so it
    # pins a smaller one (recorded in the fingerprint)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    missing = [d for d in ("cies_ocr_java_spark", "tools")
               if not os.path.isdir(os.path.join(ROOT, d))]
    if missing:
        print(f"perfbench: {ROOT} is not a checkout of the program "
              f"(missing {', '.join(missing)})", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)

    from perfbench import host

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), ROOT,
              work, os.path.join(state, "cache"))
    t_start = time.time()
    try:
        WORKLOADS[args.workload](b)
        fp = host.fingerprint(ROOT, b.spark, args.seed, b.counts)
    finally:
        b.rss.stop()
        if b.spark is not None:
            host.stop_spark(b.spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        names = PER_LAYER
        values = {k: float(b.layers.get(k, 0.0)) for k in PER_LAYER}
    else:
        names = E2E
        values = b.e2e
    metrics = {k: {"value": values[k], "unit": u} for k, u in names.items()}
    result = {"correct": b.failed == 0, "attempted": b.attempted,
              "failed": b.failed, "metrics": metrics}

    for name, value, unit, note in b.report:
        print(f"metric {args.workload} {name} = {value:.6g} {unit}"
              + (f"  ({note})" if note else ""))
    error_rate = b.failed / max(b.attempted, 1)
    print(f"metric {args.workload} error_rate = {error_rate:.6g} fraction "
          f"({b.failed} of {b.attempted} ops)")
    if not args.trace:
        print(f"metric {args.workload} peak_rss_mb = {b.rss.peak_mb:.6g} MB "
              "(driver + JVM + Python workers)")
    for err in b.errors[:20]:
        print(f"error {err}")
    print("fingerprint " + json.dumps(fp, sort_keys=True))

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{int(t_start)}"
    os.makedirs(os.path.join(state, "results"), exist_ok=True)
    with open(os.path.join(state, "results", f"{tag}.json"), "w") as f:
        json.dump({"workload": args.workload, "seconds": args.seconds,
                   "trace": args.trace, "fingerprint": fp, "result": result,
                   "report": b.report, "walls": b.walls, "cpus": b.cpus,
                   "lookups": b.lookups,
                   "errors": b.errors},
                  f, indent=1)
    if args.trace:
        os.makedirs(os.path.join(state, "traces"), exist_ok=True)
        b.tracer.write(os.path.join(state, "traces", f"{tag}.json"),
                       {"fingerprint": fp, **b.trace_extra})
        print(f"trace written to .perfbench/traces/{tag}.json")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
