"""run() integration: snapshot commits, doc_state lineage, metrics,
resume-from-checkpoint (the reference's New->Submitted->SUCCEEDED/FAILED
state machine as batch stage boundaries, SURVEY.md §2.7)."""

from contextlib import contextmanager

import duckdb
import pytest
from pyspark.sql import functions as F

from cies_ocr_java_spark.plans import pipeline
from cies_ocr_java_spark.schema import DOC_STATE, STATUS_FAILED, STATUS_SUCCEEDED
from cies_ocr_java_spark.sources.snapshots import SnapshotTable


@contextmanager
def crash_on_commit_rows(monkeypatch, table: str):
    """Make the driver-side commit (SnapshotTable.commit_rows) of the
    output table ``table`` raise, as a crash at that point of run() would,
    and expect run() to raise it."""
    real = SnapshotTable.commit_rows

    def exploding(self, rows, schema, *args, **kwargs):
        if self.root.endswith(table):
            raise RuntimeError(f"simulated crash before {table} commit")
        return real(self, rows, schema, *args, **kwargs)

    monkeypatch.setattr(SnapshotTable, "commit_rows", exploding)
    with pytest.raises(RuntimeError, match="simulated crash"):
        yield
    monkeypatch.setattr(SnapshotTable, "commit_rows", real)


def test_run_commits_and_resume(spark, corpus_dir, tmp_path):
    out_root = str(tmp_path / "out")
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    n_docs = docs.count()

    m1 = pipeline.run(spark, docs, out_root, run_id="r1")
    assert m1["docs_processed"] == n_docs
    assert m1["failures"] > 0  # malformed classes present

    state = SnapshotTable(f"{out_root}/doc_state").read(spark)
    counts = {r["status"]: r["n"] for r in state.groupBy("status").agg(F.count("*").alias("n")).collect()}
    assert counts[STATUS_SUCCEEDED] + counts[STATUS_FAILED] == n_docs

    # every row, FAILED included: DOC_STATE's columns and types, the run's
    # spans snapshot, a job handle exactly for OCR-path docs (from the
    # extracted row; FAILED docs have none, so from the golden), and the
    # extracted row's partition
    assert [(f.name, f.dataType) for f in state.schema] == [
        (f.name, f.dataType) for f in DOC_STATE
    ]
    extracted_rows = {
        r["doc_id"]: r
        for r in SnapshotTable(f"{out_root}/extracted_spans")
        .read(spark)
        .select("doc_id", "partition_id", "used_ocr")
        .collect()
    }
    golden_ocr = dict(
        duckdb.sql(
            f"select doc_id, used_ocr from read_parquet('{corpus_dir}/expected_state.parquet')"
        ).fetchall()
    )
    for row in state.collect():
        assert row["snapshot_id"] == m1["snapshot_id"]
        ext = extracted_rows.get(row["doc_id"])
        assert (ext is not None) == (row["status"] == STATUS_SUCCEEDED)
        used_ocr = ext["used_ocr"] if ext is not None else golden_ocr[row["doc_id"]]
        assert row["job_id"] == ("r1/" + row["doc_id"] if used_ocr else None)
        if ext is not None:
            assert row["partition_id"] is not None
            assert row["partition_id"] == ext["partition_id"]

    # OCR-path docs carry a job handle (jobTag analog, DocumentExtractManager.java:487)
    exp_state = duckdb.sql(
        f"select count(*) from read_parquet('{corpus_dir}/expected_state.parquet') where used_ocr"
    ).fetchone()[0]
    got_jobs = state.where(F.col("job_id").isNotNull()).count()
    assert got_jobs == exp_state

    extracted = SnapshotTable(f"{out_root}/extracted_spans").read(spark)
    assert extracted.count() == counts[STATUS_SUCCEEDED]

    # resume: everything SUCCEEDED is anti-joined away; only FAILED re-runs
    m2 = pipeline.run(spark, docs, out_root, run_id="r2", resume=True)
    assert m2["docs_processed"] == counts[STATUS_FAILED]

    metrics = SnapshotTable(f"{out_root}/metrics").read(spark)
    assert metrics.count() == 2
    mrow = metrics.where(F.col("run_id") == "r1").first()
    assert mrow["docs_processed"] == n_docs and mrow["parallelism"] > 0


def test_resume_after_partial_failure_skips_done(spark, corpus_dir, tmp_path):
    """Kill/restart semantics: process half the corpus, then resume with the
    full corpus — only the unprocessed half runs."""
    out_root = str(tmp_path / "out2")
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    first_half = docs.where(F.col("doc_id") < "doc-000080")
    m1 = pipeline.run(spark, first_half, out_root, run_id="h1")
    m2 = pipeline.run(spark, docs, out_root, run_id="h2", resume=True)
    succeeded_first = (
        SnapshotTable(f"{out_root}/doc_state")
        .read(spark, snapshot_id=1)
        .where(F.col("status") == STATUS_SUCCEEDED)
        .count()
    )
    assert m2["docs_processed"] == docs.count() - succeeded_first
    assert m1["docs_processed"] == first_half.count()


def test_run_on_fully_resumed_input_is_safe(spark, corpus_dir, tmp_path):
    """Third run when everything already SUCCEEDED/FAILED: the anti-join may
    leave zero SUCCEEDED-able docs; empty commits must not corrupt the
    table or the metrics."""
    out_root = str(tmp_path / "out3")
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet").where(
        F.col("doc_id") < "doc-000020"
    )
    pipeline.run(spark, docs, out_root, run_id="e1")
    m2 = pipeline.run(spark, docs, out_root, run_id="e2")  # only FAILED re-run
    m3 = pipeline.run(spark, docs, out_root, run_id="e3")
    assert m3["docs_processed"] == m2["failures"]
    extracted = SnapshotTable(f"{out_root}/extracted_spans").read(spark)
    # appended empty/failed-only snapshots never duplicate successes
    assert extracted.groupBy("doc_id").count().where("count > 1").count() == 0
    metrics = SnapshotTable(f"{out_root}/metrics").read(spark)
    assert metrics.count() == 3


def test_run_leaves_no_persisted_blocks(spark, corpus_dir, tmp_path):
    """run() must unpersist its intermediate: a leaked persist is a memory
    leak AND a correctness hazard for measurements — Spark's plan-based
    cache matching silently serves an identical later plan from the leaked
    blocks (this falsified a scaling benchmark once).

    The session is shared across the whole suite and other operators
    (dedup.py) legitimately hand back plans over internally-persisted or
    localCheckpoint'ed tables (clearCache only drops CacheManager plans,
    NOT checkpoint RDD blocks), so reset both first — the assertion is
    about what pipeline.run() itself leaves behind, order-independently."""
    spark.catalog.clearCache()
    jsc0 = spark.sparkContext._jsc.sc()
    it = jsc0.getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(True)
    out_root = str(tmp_path / "outp")
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet").limit(30)
    pipeline.run(spark, docs, out_root, run_id="p1", resume=False)
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() == 0


def test_crash_between_spans_and_state_commits_is_repaired(
    spark, corpus_dir, tmp_path, monkeypatch
):
    """Kill the run after the spans snapshot is adopted but before the
    state commit (the classic two-table crash window). The resumed run
    must NOT re-extract those docs (no duplicate spans) and must append
    their missing SUCCEEDED state rows (repair invariant:
    extracted doc_ids ⊆ doc_state SUCCEEDED doc_ids). doc_state commits
    on the driver (SnapshotTable.commit_rows), so the crash is injected
    there."""
    out_root = str(tmp_path / "outc")
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet").where(
        F.col("doc_id") < "doc-000030"
    )

    with crash_on_commit_rows(monkeypatch, "doc_state"):
        pipeline.run(spark, docs, out_root, run_id="c1", resume=False)

    extracted = SnapshotTable(f"{out_root}/extracted_spans")
    n_committed = extracted.read(spark).count()
    assert n_committed > 0  # spans landed, state did not
    assert not SnapshotTable(f"{out_root}/doc_state").exists()

    m = pipeline.run(spark, docs, out_root, run_id="c2", resume=True)
    got = extracted.read(spark)
    # no doc extracted twice
    assert got.groupBy("doc_id").count().where("count > 1").count() == 0
    state = SnapshotTable(f"{out_root}/doc_state").read(spark)
    # every committed doc has a SUCCEEDED state row (repaired or fresh)
    succeeded = state.where(F.col("status") == "SUCCEEDED").select("doc_id")
    assert got.select("doc_id").subtract(succeeded).count() == 0
    # second resume run: nothing ok left to do
    m3 = pipeline.run(spark, docs, out_root, run_id="c3", resume=True)
    assert m3["docs_processed"] == m3["failures"]
    # the crashed staging dir is an orphan and GC-able
    assert all(d.startswith("snap-") or d.startswith("_tmp")
               for d in __import__("os").listdir(extracted.data_root))
    extracted.gc_orphans(tmp_grace_seconds=0)
    assert all(d.startswith("snap-")
               for d in __import__("os").listdir(extracted.data_root))


def test_crash_between_state_and_metrics_commits_resumes_cleanly(
    spark, corpus_dir, tmp_path, monkeypatch
):
    """Kill the run after the doc_state commit but before the metrics row.
    Spans and state both landed, so the resumed run extracts nothing
    again, and every doc keeps exactly one span row and one state row."""
    out_root = str(tmp_path / "outm")
    ok_ids = [
        d for (d,) in duckdb.sql(
            f"select doc_id from read_parquet('{corpus_dir}/expected_state.parquet') "
            f"where status = '{STATUS_SUCCEEDED}' and doc_id < 'doc-000040'"
        ).fetchall()
    ]
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet").where(
        F.col("doc_id").isin(ok_ids)
    )

    with crash_on_commit_rows(monkeypatch, "metrics"):
        pipeline.run(spark, docs, out_root, run_id="m1", resume=False)
    assert not SnapshotTable(f"{out_root}/metrics").exists()

    m = pipeline.run(spark, docs, out_root, run_id="m2", resume=True)
    assert m["docs_processed"] == 0
    spans = SnapshotTable(f"{out_root}/extracted_spans").read(spark)
    state = SnapshotTable(f"{out_root}/doc_state").read(spark)
    for tbl in (spans, state):
        per_doc = {r["doc_id"]: r["count"] for r in tbl.groupBy("doc_id").count().collect()}
        assert per_doc == {d: 1 for d in ok_ids}
    assert {r["status"] for r in state.collect()} == {STATUS_SUCCEEDED}


def test_tick_runs_four_tagged_jobs_and_reuses_codegen(spark, corpus_dir, tmp_path):
    """After one warm tick, a run_incremental tick over a new delta launches
    at most 4 Spark jobs (the delta's footer read and the staged write),
    each labelled with its phase, and compiles no codegen class: doc_state
    commits on the driver, and no per-run literal is inlined into
    generated code."""
    sc = spark.sparkContext
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    src_root, out_root = str(tmp_path / "src"), str(tmp_path / "out")
    src = SnapshotTable(src_root)

    def tick(run_id: str, lo: str, hi: str) -> tuple[list, int]:
        src.commit(docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)))
        c0 = compiles.getCount()
        sc.setJobGroup(run_id, None)  # count the tick's jobs; no description
        try:
            m = pipeline.run_incremental(spark, src_root, out_root, run_id=run_id)
        finally:
            sc._jsc.clearJobGroup()
        assert m["docs_processed"] > m["failures"] > 0
        n_compiled = compiles.getCount() - c0
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        descriptions = [
            store.job(j).description()
            for j in sc.statusTracker().getJobIdsForGroup(run_id)
        ]
        return [d.get() if d.isDefined() else None for d in descriptions], n_compiled

    tick("warm", "doc-000000", "doc-000080")
    descriptions, n_compiled = tick("t2", "doc-000080", "doc-000160")
    assert 0 < len(descriptions) <= 4, descriptions
    assert all(descriptions), descriptions
    assert set(descriptions) <= {"read-changes", "extract+stage"}
    assert n_compiled == 0


def test_run_incremental_consumes_only_appended_snapshots(spark, corpus_dir, tmp_path):
    """Incremental consumer (read_changes cursor): batch 2 processes ONLY
    the delta (no re-extraction of batch 1's docs), a rerun with no new
    input is a zero-doc no-op, and outputs equal a from-scratch full run."""
    from cies_ocr_java_spark.plans.pipeline import run, run_incremental
    from cies_ocr_java_spark.sources.snapshots import SnapshotTable

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    b1 = docs.where(F.col("doc_id") < "doc-000080")
    b2 = docs.where(
        (F.col("doc_id") >= "doc-000080") & (F.col("doc_id") < "doc-000140")
    )

    src_root = str(tmp_path / "src")
    out_root = str(tmp_path / "out")
    src = SnapshotTable(src_root)
    src.commit(b1, mode="append")

    m1 = run_incremental(spark, src_root, out_root, run_id="i1")
    assert m1["input_snapshot_from"] == 0 and m1["input_snapshot_to"] == 1
    assert m1["docs_processed"] == b1.count()

    src.commit(b2, mode="append")
    m2 = run_incremental(spark, src_root, out_root, run_id="i2")
    assert m2["input_snapshot_from"] == 1 and m2["input_snapshot_to"] == 2
    assert m2["docs_processed"] == b2.count()  # the delta only

    # no new input: metadata-only no-op
    m3 = run_incremental(spark, src_root, out_root, run_id="i3")
    assert m3["docs_processed"] == 0
    assert SnapshotTable(f"{out_root}/extracted_spans").current_snapshot_id() == 2

    # equivalence with a from-scratch full run over the union
    full_root = str(tmp_path / "full")
    run(spark, b1.unionByName(b2), full_root, run_id="f", resume=False)
    inc = SnapshotTable(f"{out_root}/extracted_spans").read(spark)
    full = SnapshotTable(f"{full_root}/extracted_spans").read(spark)
    cols = ["doc_id", "text"]
    assert (
        inc.select(*cols).exceptAll(full.select(*cols)).isEmpty()
        and full.select(*cols).exceptAll(inc.select(*cols)).isEmpty()
    )

    # input-table maintenance must not brick the consumer: a compaction
    # snapshot in range triggers ONE full-read tick (resume dedup keeps
    # outputs duplicate-free), the cursor advances past it, and the next
    # appended batch is consumed incrementally again
    src.compact(spark)  # snapshot 3, op='compact'
    b3 = docs.where(
        (F.col("doc_id") >= "doc-000140") & (F.col("doc_id") < "doc-000150")
    )
    src.commit(b3, mode="append")  # snapshot 4
    m4 = run_incremental(spark, src_root, out_root, run_id="i4")
    assert m4["input_snapshot_to"] == 4
    got = SnapshotTable(f"{out_root}/extracted_spans").read(spark)
    assert got.groupBy("doc_id").count().where("count > 1").count() == 0
    n_b3_ok = m4["docs_processed"] - m4["failures"]  # only the new batch ran ok
    src.commit(
        docs.where(F.col("doc_id") >= "doc-000150").limit(5), mode="append"
    )  # snapshot 5
    m5 = run_incremental(spark, src_root, out_root, run_id="i5")
    assert m5["input_snapshot_from"] == 4 and m5["docs_processed"] == 5
    assert n_b3_ok >= 0  # (compaction tick completed without error)
