"""The two workloads. Each drives the program only through its public
entry points and times the calls from outside.

mixed_batch       closed loop of whole ``pipeline.run(resume=False)`` calls
                  over a default-mix corpus (batch backfill users: docs/s).
incremental_tick  one closed-loop client: commit a delta snapshot, call
                  ``run_incremental``, then poll and fetch one of the
                  delta's docs (incremental users: time until text).

Both report ``docs_per_cpu_s`` over their operation (a run or a tick: docs
per CPU second of the program, see ``host.program_cpu_s``) and ``setup_s``
(CPU seconds of the set-up), and print the wall-clock figures. A traced
run alternates untraced and traced operations (their
median difference is the tracing overhead; alternating keeps JIT warm-up
drift out of it), then probes the plan-prefix and per-kind layers. The
traced mixed_batch run also sweeps a fixed list of registry walkers, the
only Python-worker layer (the pipeline runs none).
"""

from __future__ import annotations

import gc
import json
import os
import random
import shutil
import statistics
import time
import traceback
from contextlib import nullcontext

from perfbench import corpus, gate
from perfbench.host import RssSampler, cpu_snapshot, program_cpu_s, tree_cpu_s
from perfbench.trace import Tracer, median_over_ops, stage_metrics, task_skew

WARMUP_RUNS = 5          # discarded pipeline.run calls before measuring
WARMUP_TICKS = 3         # discarded ticks, each with its lookup, after the base run
PROBE_REPEATS = 2        # each prefix / kernel probe: median of this many
WALKER_SWEEPS = 1        # traced walker sweeps after one discarded sweep

# Registry queries with a MapInPandas / ArrowEvalPython node in their
# executed plan, each reading only the documents table: decoders of four
# binary formats (zlib PDF streams, QOI images, zip archives, sqlite pages)
# and the pandas-UDF HTML extractor. None of them touches the
# cies_neardup_pairs / cies_shingle_table build-once caches, so there is
# nothing to clear between sweeps.
WALKERS = [
    "extract_pdf_flate",
    "media_qoi_decode",
    "archive_zip_extract",
    "sqlite_file_walk",
    "extract_html_maincontent",
]
PY_EVAL_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "FlatMapGroupsInPandas", "AggregateInPandas",
                 "WindowInPandas", "MapInArrow")
KINDS = ("pdf", "html", "text", "media")
PREFIX_LAYERS = ("scan.s", "classify.s", "shuffle.salt.s", "extract.s", "assemble.s")
SNAPSHOT_CALLS = ("adopt_dir", "commit", "commit_rows", "read_changes", "read")


# metric name -> unit. --trace 0 prints E2E, --trace 1 prints PER_LAYER, on
# every workload (a layer a workload does not exercise reads 0).
E2E = {"docs_per_cpu_s": "docs/cpu_s", "setup_s": "s"}

PER_LAYER = {
    "session.get_spark_s": "s",
    **{f"snapshots.{c}_s": "s" for c in SNAPSHOT_CALLS},
    "snapshots.commits": "count",
    "snapshots.files_written": "count",
    "snapshots.log_bytes": "bytes",
    "pipeline.run_s": "s",
    "pipeline.staged_write_s": "s",
    "pipeline.run_incremental_s": "s",
    "pipeline.resume_scans": "count",
    "pipeline.unaccounted_s": "s",
    **{k: "s" for k in PREFIX_LAYERS},
    **{f"extract.{k}.s": "s" for k in KINDS},
    **{f"classify.spans.{k}": "count" for k in (*KINDS, "invalid")},
    "extract.ocr_routed_spans": "count",
    "extract.failed_spans": "count",
    "pdf_extract.text_layer_kept_ratio": "ratio",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes.salt": "bytes",
    "spark.shuffle_write_bytes.assemble": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.tasks": "count",
    "spark.task_skew.extract": "ratio",
    "api.poll_status_s": "s",
    "api.get_text_s": "s",
    "api.files_scanned": "count",
    **{f"queries.{n}.{m}": "s" for n in WALKERS for m in ("s", "planning_s")},
    "queries.python_eval_nodes": "count",
    "trace.overhead_s": "s",
}


def clock() -> tuple:
    """Start of a timed region: (CPU snapshot, wall)."""
    cpu = cpu_snapshot()
    return cpu, time.perf_counter()


class Bench:
    """State of one benchmark process: session, op counters, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 root: str, work: str, cache: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced, self.root, self.work, self.cache = traced, root, work, cache
        self.spark = None
        self.tracer: Tracer | None = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.counts: dict = {}
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.report: list[tuple[str, float, str, str]] = []
        self.trace_extra: dict = {}
        self.rss = RssSampler()
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.lookups: list[float] = []
        self.cpu0 = 0.0

    def start_spark(self) -> float:
        """``get_spark`` wall. A traced run turns the UI REST store on.
        RSS sampling and the set-up CPU count start here: corpus building
        is not the program's."""
        from cies_ocr_java_spark.session import get_spark

        self.rss.start()
        self.cpu0 = tree_cpu_s()
        extra = {"spark.ui.enabled": "true",
                 "spark.ui.showConsoleProgress": "false"} if self.traced else None
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               extra_conf=extra)
        return time.perf_counter() - t0

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.enabled

    def attempt(self, fn, *args):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # a failed op is a result, not a crash
            self.fail(f"{type(e).__name__}: {str(e).splitlines()[0][:300]}")
            traceback.print_exc()
            return None

    def fail(self, msg: str, n: int = 1) -> None:
        self.failed += n
        self.errors.append(msg)

    def say(self, name: str, value: float, unit: str, note: str = "") -> None:
        self.report.append((name, value, unit, note))

    def op_span(self, op: str):
        return self.tracer.span("op", op=op) if self.tracing else nullcontext()

    def attribute(self, op: str) -> None:
        """Charge the following untimed work (ingest, lookups, checks) to
        ``op`` so it stays out of the measured ops' layer times."""
        if self.tracing:
            self.tracer.op = op

    def start_tracing(self) -> Tracer:
        """Install the wrappers around the public layer entry points."""
        from cies_ocr_java_spark.plans import pipeline
        from cies_ocr_java_spark.sources.snapshots import SnapshotTable

        tr = self.tracer = Tracer(self.spark.sparkContext)

        def count_resume_scan(spark, docs, output_root, *args, **kwargs):
            resume = kwargs.get("resume", args[1] if len(args) > 1 else True)
            if resume and any(
                    SnapshotTable(os.path.join(output_root, t)).exists()
                    for t in ("doc_state", "extracted_spans")):
                tr.count("pipeline.resume_scans")

        def count_commit(*args, **kwargs):
            tr.count("snapshots.commits")

        tr.wrap(pipeline, "run", "pipeline.run", before=count_resume_scan)
        tr.wrap(pipeline, "run_incremental", "pipeline.run_incremental")
        for call in SNAPSHOT_CALLS:
            tr.wrap(SnapshotTable, call, f"snapshots.{call}",
                    before=count_commit
                    if call in ("adopt_dir", "commit", "commit_rows") else None)
        return tr

    def measure(self, step, prefix: str, more=lambda: True
                ) -> dict[str, tuple[float, float] | None]:
        """Call ``step(op)`` (returns the op's wall and CPU seconds,
        or None if the op raised) until ``--seconds`` of wall time have
        passed; ``more()`` is false only when the inputs run out. Per-op
        checks and lookups count against the wall time. Returns op id ->
        (wall, cpu), in order."""
        ops: dict[str, tuple[float, float] | None] = {}
        deadline = time.perf_counter() + self.seconds
        while more() and time.perf_counter() < deadline:
            op = f"{prefix}{len(ops)}"
            self.collect_garbage()  # the garbage of the checks and lookups
            ops[op] = step(op)
        done = [t for t in ops.values() if t is not None]
        if not done:
            raise RuntimeError(f"every measured op failed: {self.errors[:3]}")
        self.walls = [w for w, _ in done]
        self.cpus = [c for _, c in done]
        return ops

    def finish_e2e(self, docs_per_op: int, op: str,
                   setup: tuple[float, float], setup_what: str) -> float:
        """Set the end-to-end metrics from the measured ops and report them.
        Returns the median op wall."""
        p50, cpu50 = statistics.median(self.walls), statistics.median(self.cpus)
        n = len(self.walls)
        self.e2e = {"docs_per_cpu_s": docs_per_op / cpu50, "setup_s": setup[1]}
        self.say("docs_per_cpu_s", docs_per_op / cpu50, "docs/cpu_s",
                 f"{docs_per_op} docs per {op} / median program CPU seconds "
                 f"of {n} ops")
        self.say("docs_per_s", docs_per_op / p50, "docs/s",
                 f"wall clock, median of {n} ops")
        self.say("setup_s", setup[1], "s", f"process-tree CPU seconds of {setup_what}")
        self.say("setup_wall_s", setup[0], "s", f"wall clock of {setup_what}")
        return p50

    def lookup(self, store, doc_id: str, golden: dict) -> None:
        """One client round for ``doc_id``: ``poll_status`` (the HEAD poll),
        then ``get_text`` and its collect (the GET). Checks the answer; a
        correct round's wall goes into ``lookups``."""
        tr = self.tracer if self.tracing else None
        t0 = time.perf_counter()
        with tr.span("api.poll_status") if tr else nullcontext():
            status = store.poll_status(doc_id)
        with tr.span("api.get_text") if tr else nullcontext():
            texts = [r["text"] for r in store.get_text(doc_id).collect()]
        wall = time.perf_counter() - t0
        bad = gate.check_lookup(doc_id, status, texts, golden)
        if bad:
            self.fail(f"lookup mismatch: {bad}")
            return
        self.lookups.append(wall)
        if tr:
            files = set(store.get_text(doc_id).inputFiles()) | set(
                store.get_document_metadata(doc_id).inputFiles())
            tr.count("api.files_scanned", len(files))
            tr.count("api.lookups")

    def since(self, t0: tuple) -> tuple[float, float]:
        """End of a timed operation started at ``clock()`` = ``t0``: its
        wall, then its program CPU seconds including a full collection of
        the garbage it left. Young collections land in whichever operation
        fills the young generation, a burst of a CPU second or more on a
        three-second tick; collecting at the end charges each operation for
        what it allocated instead."""
        wall = time.perf_counter() - t0[1]
        self.collect_garbage()
        return wall, program_cpu_s(t0[0], cpu_snapshot())

    def collect_garbage(self) -> None:
        """Full GC of the driver JVM and of Python."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def traced_phase(self, step, more=lambda: True
                     ) -> tuple[list[float], list[float], list[str]]:
        """Measure with tracing on for even and off for odd ops. Returns
        the untraced walls, the traced walls and the traced op ids."""
        tr = self.start_tracing()

        def alternating(op: str) -> float | None:
            tr.enabled = int(op[1:]) % 2 == 0
            return step(op)

        timings = self.measure(alternating, "m", more)
        tr.enabled = True
        tr.unwrap()
        ops = [op for op in timings if int(op[1:]) % 2 == 0]
        untraced = [t[0] for op, t in timings.items()
                    if op not in ops and t is not None]
        return untraced, [t[0] for op in ops if (t := timings[op]) is not None], ops


def output_files(root: str) -> tuple[int, int]:
    """(parquet data files, summed snapshot-log bytes) under an output root."""
    files = log_bytes = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n == "snapshot-log.json":
                log_bytes += os.path.getsize(os.path.join(dirpath, n))
            elif n.endswith(".parquet"):
                files += 1
    return files, log_bytes


# ============================================================================
# mixed_batch
# ============================================================================

def mixed_batch(b: Bench) -> None:
    from cies_ocr_java_spark.plans import pipeline

    docs_dir, golden = corpus.batch_corpus(b.root, b.cache, b.seed)
    b.counts = corpus.corpus_counts([docs_dir])
    n_docs = b.counts["docs"]
    t_spark = b.start_spark()
    spark = b.spark
    out_base = os.path.join(b.work, "batch")
    os.makedirs(out_base, exist_ok=True)

    def one_run(op: str) -> tuple[float, float]:
        root = os.path.join(out_base, op)
        with b.op_span(op):
            t0 = clock()
            m = pipeline.run(spark, spark.read.parquet(docs_dir), root,
                             run_id=op, resume=False)
        timing = b.since(t0)
        if m["docs_processed"] != n_docs:
            raise RuntimeError(f"{op} processed {m['docs_processed']} of {n_docs} docs")
        return timing

    def step(op: str) -> tuple[float, float] | None:
        root = os.path.join(out_base, op)
        timing = b.attempt(one_run, op)
        if timing is not None:
            if b.tracing:
                files, log_bytes = output_files(root)
                b.tracer.count("snapshots.files_written", files)
                b.tracer.count("snapshots.log_bytes", log_bytes)
            b.attribute(f"check-{op}")
            spans, state = gate.collect_output(spark, root)
            bad = gate.check_output(spans, state, golden, golden)
            if bad:
                b.fail(f"{op} output mismatch ({len(bad)} docs): {bad[:3]}")
        shutil.rmtree(root, ignore_errors=True)
        return timing

    t0 = time.perf_counter()
    for i in range(WARMUP_RUNS):
        one_run(f"warm{i}")
        shutil.rmtree(os.path.join(out_base, f"warm{i}"), ignore_errors=True)
    setup = (t_spark + time.perf_counter() - t0, tree_cpu_s() - b.cpu0)

    if not b.traced:
        b.measure(step, "r")
        p50 = b.finish_e2e(n_docs, "pipeline.run", setup,
                           f"get_spark + {WARMUP_RUNS} discarded runs")
        b.say("pipeline_run_p50_s", p50, "s", f"n={len(b.walls)}")
        return

    untraced, walls, ops = b.traced_phase(step)
    pipeline_layers(b, ops, t_spark)
    probe_layers(b, [docs_dir])
    walker_layers(b)
    overhead(b, walls, untraced)
    accounting(b, ops)


# ============================================================================
# incremental_tick
# ============================================================================

def incremental_tick(b: Bench) -> None:
    from cies_ocr_java_spark.api import DocumentStore
    from cies_ocr_java_spark.plans import pipeline
    from cies_ocr_java_spark.sources.snapshots import SnapshotTable

    base_files, delta_files, golden = corpus.incremental_corpus(
        b.root, b.cache, b.seed)
    b.counts = corpus.corpus_counts(base_files + delta_files)
    t_spark = b.start_spark()
    spark = b.spark
    root = os.path.join(b.work, "incr")
    input_root = os.path.join(root, "documents")
    documents = SnapshotTable(input_root)
    store = DocumentStore(spark, root)
    rng = random.Random(b.seed)
    ingested = [d for d in golden if d.startswith("base")]
    used: list[str] = []

    def more() -> bool:
        return len(used) < len(delta_files)

    def tick(op: str) -> tuple[float, float]:
        j = len(used)
        path = delta_files[j]
        used.append(path)
        ids = [d for d in golden if d.startswith(f"delta{j:02d}-")]
        b.attribute(f"ingest-{op}")
        documents.commit(spark.read.parquet(path), mode="append")
        ingested.extend(ids)
        with b.op_span(op):
            t0 = clock()
            m = pipeline.run_incremental(spark, input_root, root, run_id=op)
        timing = b.since(t0)
        if m["docs_processed"] != len(ids):
            raise RuntimeError(f"{op} processed {m['docs_processed']} of "
                               f"{len(ids)} delta docs")
        b.attribute(f"lookup-{op}")
        b.attempt(b.lookup, store, rng.choice(ids), golden)
        return timing

    def step(op: str) -> tuple[float, float] | None:
        before = output_files(root) if b.tracing else None
        timing = b.attempt(tick, op)
        if before is not None:
            after = output_files(root)
            b.tracer.op = op
            b.tracer.count("snapshots.files_written", after[0] - before[0])
            b.tracer.count("snapshots.log_bytes", after[1])
        return timing

    t0 = time.perf_counter()
    documents.commit(spark.read.parquet(*base_files), mode="append")
    m = pipeline.run_incremental(spark, input_root, root, run_id="base")
    if m["docs_processed"] != len(ingested):
        raise RuntimeError(f"base run processed {m['docs_processed']} docs")
    for i in range(WARMUP_TICKS):
        tick(f"warm{i}")
    setup = (t_spark + time.perf_counter() - t0, tree_cpu_s() - b.cpu0)
    b.lookups.clear()

    def verify() -> None:
        b.attribute("check")
        spans, state = gate.collect_output(spark, root)
        bad = gate.check_output(spans, state, golden, ingested)
        if bad:
            # one failed op per tick (or the base run) holding a bad doc
            ops = {msg.split(":")[0].split("-")[0] for msg in bad}
            b.fail(f"incremental output mismatch ({len(bad)} docs): {bad[:3]}",
                   n=len(ops))

    if not b.traced:
        b.measure(step, "t", more)
        verify()
        p50 = b.finish_e2e(corpus.INCR_DELTA_DOCS, "tick", setup,
                           f"get_spark + base commit and run + {WARMUP_TICKS} "
                           "discarded ticks")
        b.say("tick_latency_p50_s", p50, "s",
              f"n={len(b.walls)} ticks; p90 dropped: fewer than 100 ticks")
        if b.lookups:
            b.say("lookup_latency_p50_s", statistics.median(b.lookups), "s",
                  f"n={len(b.lookups)} poll_status + get_text rounds; p90 "
                  "dropped: fewer than 100")
        return

    untraced, walls, ops = b.traced_phase(step, more)
    verify()
    tr = b.tracer
    pipeline_layers(b, ops, t_spark)
    b.layers["pipeline.run_incremental_s"] = median_over_ops(
        tr.totals(), ops, "pipeline.run_incremental")
    api_layers(b, ops)
    probe_layers(b, used[-1:])
    overhead(b, walls, untraced)
    accounting(b, ops)


# ============================================================================
# registry walkers (traced mixed_batch only)
# ============================================================================

def walker_layers(b: Bench) -> None:
    """One discarded sweep of WALKERS through the noop sink, the result
    check, then WALKER_SWEEPS traced sweeps: per-query wall, planning time
    from the QueryExecution tracker, and the Python-eval node count."""
    from cies_ocr_java_spark.plans.queries import ORACLES, QUERIES

    sf = corpus.walker_tables(b.cache, b.seed)
    spark, tr, L = b.spark, b.tracer, b.layers

    def noop(name: str) -> None:
        QUERIES[name](spark, sf).write.format("noop").mode("overwrite").save()

    def sweep(op: str) -> None:
        for name in WALKERS:
            with tr.span(f"queries.{name}", op=op):
                b.attempt(noop, name)
            spark.catalog.clearCache()

    sweep("walkers-warm")
    b.attribute("walkers-check")
    verify_walkers(b, sf, QUERIES, ORACLES)
    ops = [f"walkers{i}" for i in range(WALKER_SWEEPS)]
    for op in ops:
        sweep(op)
    tot = tr.totals()
    nodes = 0
    for name in WALKERS:
        L[f"queries.{name}.s"] = median_over_ops(tot, ops, f"queries.{name}")
        qe = QUERIES[name](spark, sf)._jdf.queryExecution()
        nodes += sum(qe.executedPlan().toString().count(k) for k in PY_EVAL_NODES)
        phases = qe.tracker().phases()
        L[f"queries.{name}.planning_s"] = sum(
            phases.get(p).get().durationMs()
            for p in ("analysis", "optimization", "planning")
            if phases.get(p).isDefined()) / 1000.0
    L["queries.python_eval_nodes"] = nodes
    b.say("query_sweep_s", sum(L[f"queries.{n}.s"] for n in WALKERS), "s",
          f"sum of per-query median noop walls over {WALKER_SWEEPS} sweeps of "
          f"{len(WALKERS)} walkers x {corpus.WALKER_DOCS} documents rows")


def verify_walkers(b: Bench, sf: str, queries, oracles) -> None:
    """Hash each walker's collected result and compare it with the hash
    verified against the DuckDB oracle (``tools/check_queries.compare``)
    the first time this corpus was seen; the verified hashes are cached
    next to the corpus."""
    path = os.path.join(sf, "verified_hashes.json")
    verified = {}
    if os.path.exists(path):
        with open(path) as f:
            verified = json.load(f)
    got = {}
    for name in WALKERS:
        pdf = b.attempt(lambda: queries[name](b.spark, sf).toPandas())
        if pdf is None:
            continue
        got[name] = gate.result_hash(pdf)
        if name not in verified:
            ok, msg = oracle_check(b.spark, sf, name, queries, oracles)
            verified[name] = got[name] if ok else f"oracle mismatch: {msg}"
    with open(path, "w") as f:
        json.dump(verified, f, indent=1)
    for msg in gate.check_hashes(got, {n: verified.get(n) for n in WALKERS}):
        b.fail(msg)


def oracle_check(spark, sf, name, queries, oracles) -> tuple[bool, str]:
    import duckdb

    from tools.check_queries import compare

    con = duckdb.connect()
    try:
        con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(sf, 'documents.parquet')}')")
        return compare(name, queries[name](spark, sf), con, oracles.get(name))
    finally:
        con.close()


# ============================================================================
# per-layer metrics of a traced run
# ============================================================================

def pipeline_layers(b: Bench, ops: list[str], t_spark: float) -> None:
    tr, L = b.tracer, b.layers
    st, tot = tr.self_times(), tr.totals()
    L["session.get_spark_s"] = t_spark
    for call in SNAPSHOT_CALLS:
        L[f"snapshots.{call}_s"] = median_over_ops(st, ops, f"snapshots.{call}")
    for c in ("snapshots.commits", "snapshots.files_written",
              "snapshots.log_bytes", "pipeline.resume_scans"):
        L[c] = statistics.median(tr.counts.get(op, {}).get(c, 0.0) for op in ops)
    L["pipeline.run_s"] = median_over_ops(tot, ops, "pipeline.run")
    staged = []
    for op in ops:
        run0 = tr.first_start(op, "pipeline.run")
        adopt0 = tr.first_start(op, "snapshots.adopt_dir")
        if run0 is not None and adopt0 is not None:
            staged.append(adopt0 - run0)
    L["pipeline.staged_write_s"] = statistics.median(staged) if staged else 0.0
    stage_layers(b, ops)


def api_layers(b: Bench, ops: list[str]) -> None:
    """Median ``poll_status`` and ``get_text`` (with its collect) span over
    the lookups that follow the traced ops, and files scanned per lookup."""
    tr, L = b.tracer, b.layers
    lookup_ops = {f"lookup-{op}" for op in ops}
    for call in ("poll_status", "get_text"):
        d = [s["end"] - s["start"] for s in tr.spans
             if s["name"] == f"api.{call}" and s["op"] in lookup_ops]
        L[f"api.{call}_s"] = statistics.median(d) if d else 0.0
    counts = [tr.counts.get(op, {}) for op in lookup_ops]
    n_lookups = sum(c.get("api.lookups", 0) for c in counts)
    L["api.files_scanned"] = sum(
        c.get("api.files_scanned", 0) for c in counts) / max(n_lookups, 1)


def overhead(b: Bench, walls: list[float], untraced: list[float]) -> None:
    if walls and untraced:
        b.layers["trace.overhead_s"] = (statistics.median(walls)
                                        - statistics.median(untraced))


def stage_layers(b: Bench, ops: list[str]) -> None:
    """Spark stage metrics of the traced ops, as a mean per op."""
    sc = b.spark.sparkContext
    wanted = set(ops)
    stages = [s for s in stage_metrics(sc) if s["op"] in wanted]
    n, L = max(len(ops), 1), b.layers
    L["spark.executor_run_s"] = sum(s["executorRunTime"] for s in stages) / 1e3 / n
    L["spark.executor_cpu_s"] = sum(s["executorCpuTime"] for s in stages) / 1e9 / n
    L["spark.gc_s"] = sum(s["jvmGcTime"] for s in stages) / 1e3 / n
    L["spark.spill_bytes"] = sum(
        s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / n
    L["spark.tasks"] = sum(s["numTasks"] for s in stages) / n
    # inside pipeline.run, the salt shuffle is the map stage that writes a
    # shuffle without reading one; the extraction stage reads the salt
    # shuffle and writes the assembly shuffle
    run = [s for s in stages if s["layer"] == "pipeline.run"]
    salt = [s for s in run if s["shuffleWriteBytes"] and not s["shuffleReadBytes"]]
    extract = [s for s in run if s["shuffleWriteBytes"] and s["shuffleReadBytes"]]
    L["spark.shuffle_write_bytes.salt"] = sum(s["shuffleWriteBytes"] for s in salt) / n
    L["spark.shuffle_write_bytes.assemble"] = sum(
        s["shuffleWriteBytes"] for s in extract) / n
    skews = [task_skew(sc, s) for s in extract]
    L["spark.task_skew.extract"] = statistics.median(skews) if skews else 0.0


def probe_layers(b: Bench, paths: list[str]) -> None:
    """Plan-prefix increments, the kernel by kind, and span counts over the
    workload's input (the batch corpus, or the last tick's delta). Each
    prefix plan runs to the noop sink; a layer's value is its prefix wall
    minus the previous prefix wall."""
    from pyspark.sql import functions as F

    from cies_ocr_java_spark.operators.classify import sniff_kind, span_invalid
    from cies_ocr_java_spark.plans.pipeline import (
        extract_spans, flatten_spans, span_level_extract)

    spark, L = b.spark, b.layers
    tr = b.tracer
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def src():
        return spark.read.parquet(*paths)

    def classified():
        return flatten_spans(src()).withColumn(
            "ekind", sniff_kind(F.col("kind"), F.col("text"), F.col("media_ref")))

    def only(kind: str):
        return src().select("doc_id", F.filter(
            "spans", lambda s: sniff_kind(s["kind"], s["text"], s["media_ref"]) == kind
        ).alias("spans")).where(F.size("spans") > 0)

    def timed(name: str, make) -> float:
        walls = []
        for i in range(PROBE_REPEATS):
            with tr.span(name, op=f"probe{i}"):
                t0 = time.perf_counter()
                make().write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
        return statistics.median(walls)

    prefixes = [
        src,
        classified,
        lambda: classified().repartition(n, F.col("doc_id"), F.col("offset")),
        lambda: span_level_extract(src()),
        lambda: extract_spans(src()),
    ]
    prev = 0.0
    for name, make in zip(PREFIX_LAYERS, prefixes):
        cum = timed(name, make)
        L[name] = cum - prev
        prev = cum

    b.attribute("probe-counts")
    c = classified()
    invalid = (F.col("kind").isNull() & F.col("text").isNull()
               & F.col("media_ref").isNull()) | span_invalid(
        F.col("ekind"), F.col("text"), F.col("media_ref"))
    by_kind = {r["k"]: r["n"] for r in c.groupBy(
        F.when(invalid, F.lit("invalid")).otherwise(F.col("ekind")).alias("k")
    ).count().withColumnRenamed("count", "n").collect()}
    for k in (*KINDS, "invalid"):
        L[f"classify.spans.{k}"] = float(by_kind.get(k, 0))
    agg = span_level_extract(src()).agg(
        F.sum(F.col("used_ocr").cast("long")).alias("ocr"),
        F.sum(F.col("failed").cast("long")).alias("failed")).collect()[0]
    L["extract.ocr_routed_spans"] = float(agg["ocr"] or 0)
    L["extract.failed_spans"] = float(agg["failed"] or 0)
    pdf = span_level_extract(only("pdf")).agg(
        F.sum((~F.col("failed")).cast("long")).alias("parsed"),
        F.sum((~F.col("failed") & F.col("used_ocr")).cast("long")).alias("ocr"),
    ).collect()[0]
    parsed = pdf["parsed"] or 0
    L["pdf_extract.text_layer_kept_ratio"] = (
        (parsed - (pdf["ocr"] or 0)) / parsed if parsed else 0.0)

    for kind in KINDS:
        L[f"extract.{kind}.s"] = (
            timed(f"extract.{kind}.s", lambda: span_level_extract(only(kind)))
            if by_kind.get(kind) else 0.0)


def accounting(b: Bench, ops: list[str]) -> None:
    """Report where the traced op time went: per-layer self time (median
    over ops), the op wall that no layer covers, and on the pipeline
    workloads the prefix increments plus snapshot self times against
    ``pipeline.run_s``."""
    st = b.tracer.self_times()
    for name in sorted({n for op in ops for n in st.get(op, {})}):
        note = "op wall not covered by any layer" if name == "op" else ""
        b.say(f"self.{name}", median_over_ops(st, ops, name), "s", note)
    L = b.layers
    if "pipeline.run_s" in L:
        prefix = sum(L[k] for k in PREFIX_LAYERS)
        snaps = sum(L[f"snapshots.{c}_s"] for c in SNAPSHOT_CALLS)
        L["pipeline.unaccounted_s"] = L["pipeline.run_s"] - prefix - snaps
        b.say("pipeline.run_s", L["pipeline.run_s"], "s")
        b.say("prefix_increments_s", prefix, "s", "scan .. assemble noop prefixes")
        b.say("snapshots_self_s", snaps, "s")
        b.say("pipeline.unaccounted_s", L["pipeline.unaccounted_s"], "s",
              "run_s - prefix increments - snapshot self times")
    if "trace.overhead_s" in L:
        b.say("trace.overhead_s", L["trace.overhead_s"], "s",
              "traced op median - untraced op median")
    b.trace_extra["layers"] = dict(L)


WORKLOADS = {
    "mixed_batch": mixed_batch,
    "incremental_tick": incremental_tick,
}
