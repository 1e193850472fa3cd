"""The extraction DAG — the reference's three event-driven entry points
(ingest EP1, extraction decision EP2, assembly EP3 — SURVEY.md §3) collapsed
into one Catalyst-optimized logical plan:

    read documents -> explode spans -> classify -> route by kind ->
      pdf:  text-layer parse -> sufficiency predicate P3 -> OCR fallback
      html: density-based boilerplate strip (codegen'd expression tree)
      text: normalize           media: pass-through
    -> union -> per-doc ordered assembly -> commit snapshots
       (extracted_spans, doc_state, metrics)

Scale notes (the part that matters at 100 TB / 10^12 docs):
  * ONE shuffle before extraction: ``repartition(P, doc_id, offset)`` — the
    span is the unit of work, so hashing on (doc_id, offset) spreads a giant
    document's spans across P tasks; this is the skew salt (a single
    mega-span is irreducible, matching the reference's per-doc envelope).
  * The four kind-branches filter the SAME repartitioned child, so Catalyst
    reuses one exchange — the input is shuffled once, scanned once per branch
    from shuffle files, never recomputed from source.
  * ALL branches — pdf/ocr/text/html — are pure column expressions
    (whole-stage codegen, zero Python; the Arrow/pandas implementations
    stay in the operator modules as parity references).
  * The plan's Column expression trees are built ONCE per SparkContext
    (session.per_context) and applied to each run's input. Building them
    costs a py4j round trip per node, some 3,400 calls per plan, while they
    depend only on column names and ``ocr_mode``; on a 200-doc incremental
    tick that build (~0.6 s) outweighed the tick's whole executor CPU
    (~0.45 s). A plan now pays a few hundred calls.
  * ONE more shuffle for assembly (groupBy doc_id). Nothing else shuffles.
  * ONE Spark action per run: the staged write. doc_state is control-plane
    data (the reference's S3 object tags), so the driver derives its rows
    from the staged files' lineage columns with pyarrow and commits them
    like the metrics row. A second Spark query for it cost a 200-doc tick
    3 of its 7 jobs and 4 codegen compiles (its snapshot-id literal was
    inlined into generated code); pyarrow takes 0.1-0.2 CPU-s at 150k docs.
  * Resume = left_anti join against SUCCEEDED doc_state (the one genuine
    join; AQE broadcasts it when small).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from cies_ocr_java_spark import schema as S
from cies_ocr_java_spark.operators.assemble import assemble_documents
from cies_ocr_java_spark.operators.classify import sniff_kind, span_invalid
from cies_ocr_java_spark.operators.html_extract import html_main_text_col
from cies_ocr_java_spark.operators.ocr_mock import (
    ocr_analysis_text_col,
    ocr_text_col,
)
from cies_ocr_java_spark.operators.pdf_extract import (
    pdf_layer_cols,
    text_sufficient,
)
from cies_ocr_java_spark.functions.text import normalize_ws
from cies_ocr_java_spark.session import job_phase, per_context
from cies_ocr_java_spark.sources.snapshots import SnapshotTable


def flatten_spans(docs: DataFrame) -> DataFrame:
    """documents(doc_id, spans[]) -> one row per span; empty docs keep one
    null row so the validation failure (P7: body required,
    CanonicalRequest.java:64-71) is attributable."""
    return docs.select(
        "doc_id", F.explode_outer("spans").alias("span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def span_level_extract(
    docs: DataFrame,
    repartition_to: int | None = None,
    ocr_mode: str = "DETECTION",
) -> DataFrame:
    """The extraction kernel BEFORE per-doc assembly: documents -> one row
    per span with its extracted output (doc_id, offset, out_kind, out_text,
    media_ref, failed, error, used_ocr). Stateless, so it runs
    unchanged under Structured Streaming (streaming inputs skip the salt
    repartition — microbatches are the parallelism unit there); the batch
    pipeline is span_level_extract |> assemble_documents.

    SINGLE-PASS design: one scan, one salt shuffle, one projection. All JVM
    routes (text/pdf/ocr/media/invalid) fold into CASE expressions — whole-
    stage codegen short-circuits per row, so a text span never pays for PDF
    parsing. An earlier union-of-filtered-branches design planned 5 source
    scans (Catalyst pushed each branch filter below the repartition and broke
    exchange reuse) — at 100 TB that is 5 reads of the corpus; this is one.
    ZERO Python: the HTML path too is a codegen'd expression
    tree (html_main_text_col), so the whole kernel runs JVM-side — no
    Arrow transfer at all.

    ``ocr_mode`` mirrors the reference's TextractMode switch
    (application.properties:3, DocumentExtractManager.java:304-308):
    DETECTION concatenates PAGE blocks; ANALYSIS extracts via the
    FeatureType.LAYOUT analog — CONTENT-typed layout blocks in order,
    furniture dropped (operators/ocr_mock.py). Both are codegen'd."""
    if ocr_mode not in ("DETECTION", "ANALYSIS"):
        raise ValueError(f"unknown ocr_mode {ocr_mode!r}")
    spark = docs.sparkSession
    ekind, invalid, parsed, out = _span_kernel(spark.sparkContext, ocr_mode)
    flat = flatten_spans(docs).withColumn("ekind", ekind).withColumn(
        "invalid", invalid
    )
    if not docs.isStreaming:
        # the salt shuffle: spans of one giant doc spread across n tasks
        n = repartition_to or int(spark.conf.get("spark.sql.shuffle.partitions"))
        flat = flat.repartition(n, F.col("doc_id"), F.col("offset"))
    return flat.select(*parsed).select(*out)


@per_context
def _span_kernel(ocr_mode: str) -> tuple[Column, Column, list[Column], list[Column]]:
    """span_level_extract's Column trees: the two classify columns (ekind,
    invalid), the PDF text-layer select and the output projection. They
    depend only on column names and ``ocr_mode``, so they are built once
    per SparkContext (session.per_context) and applied to every run's
    input."""
    kind, text, media_ref = F.col("kind"), F.col("text"), F.col("media_ref")
    ekind, invalid = F.col("ekind"), F.col("invalid")
    pdf_text, page_count = F.col("pdf_text"), F.col("page_count")
    pdf_malformed = F.col("pdf_malformed")

    is_pdf = (ekind == "pdf") & ~invalid
    pdf = pdf_layer_cols(text)
    parsed = [
        F.col("*"),
        F.when(is_pdf, pdf["pdf_text"]).alias("pdf_text"),
        F.when(is_pdf, pdf["page_count"]).alias("page_count"),
        F.when(is_pdf, pdf["pdf_malformed"]).alias("pdf_malformed"),
    ]

    sufficient = text_sufficient(pdf_text, page_count)
    is_html = (ekind == "html") & ~invalid
    no_text = F.lit(None).cast("string")
    out_text = (
        F.when(invalid, no_text)
        .when(ekind == "media", no_text)
        .when(ekind == "text", normalize_ws(text))
        .when(is_html, html_main_text_col(F.when(is_html, text)))
        .when(pdf_malformed, no_text)
        .when(sufficient, pdf_text)
        .otherwise(
            ocr_analysis_text_col(text)
            if ocr_mode == "ANALYSIS"
            else ocr_text_col(text)
        )
    )
    malformed = F.coalesce(pdf_malformed, F.lit(False))
    error = (
        F.when(invalid, F.lit("invalid span: missing required payload"))
        .when(malformed, F.lit("malformed pdf payload"))
        .cast("string")
    )
    used_ocr = is_pdf & ~F.coalesce(pdf_malformed, F.lit(True)) & ~sufficient
    out = [
        F.col("doc_id"),
        F.col("offset"),
        F.when(ekind == "media", F.lit("media"))
        .otherwise(F.lit("text"))
        .alias("out_kind"),
        out_text.alias("out_text"),
        F.when(ekind == "media", media_ref).cast("string").alias("media_ref"),
        (invalid | malformed).alias("failed"),
        error.alias("error"),
        F.coalesce(used_ocr, F.lit(False)).alias("used_ocr"),
    ]
    return (
        sniff_kind(kind, text, media_ref),
        kind.isNull() & text.isNull() & media_ref.isNull()
        | span_invalid(ekind, text, media_ref),
        parsed,
        out,
    )


def extract_spans(
    docs: DataFrame,
    repartition_to: int | None = None,
    ocr_mode: str = "DETECTION",
) -> DataFrame:
    """Full extraction transform: documents -> assembled per-doc output
    (doc_id, spans, text, failed, error, partition_id, used_ocr).
    Pure transformation — no I/O, reusable from tests/bench/queries."""
    return assemble_documents(
        span_level_extract(docs, repartition_to=repartition_to, ocr_mode=ocr_mode)
    )


def run_incremental(
    spark: SparkSession,
    input_table_root: str,
    output_root: str,
    run_id: str | None = None,
    repartition_to: int | None = None,
    ocr_mode: str = "DETECTION",
) -> dict:
    """Incremental extraction: consume ONLY the snapshots appended to the
    input documents table since the last processed one, then run the
    normal pipeline over that delta.

    This is the 100 TB consumer story: ``run(resume=True)`` is correct
    but still SCANS the full input to anti-join away finished docs — at
    10^12 docs the scan itself is the cost. Here the input is a
    SnapshotTable and the cursor is metadata: the last processed input
    snapshot id is recorded in the output's ``ingest_cursor`` table, and
    ``read_changes`` opens only the data files appended after it (zero
    I/O for already-processed snapshots — Iceberg incremental-scan
    semantics). The inner run keeps resume=True, so a crash mid-delta
    self-heals exactly like the batch path, and a re-run of an
    already-processed delta is a no-op.

    Returns the run metrics plus ``input_snapshot_from``/``_to``.

    Maintenance snapshots: if the input history in range contains an
    overwrite/compact (its row delta is not a union of files), the run
    FALLS BACK to the full current table with resume=True — the anti-join
    dedupes already-processed docs, so output stays correct at full-scan
    cost for that one tick — and the cursor advances past the maintenance
    window, so the next tick is incremental again (never permanently
    wedged on a compaction).

    Cost discipline: the cursor is read from the cursor table's MANIFEST
    meta (pure JSON, no Spark job — the symmetric read of commit_rows'
    no-job write), and the inner run skips the resume history scan
    entirely on the clean path: resume=True only when the recorded output
    snapshot id no longer matches (a crash window between the output
    commit and the cursor commit, or between spans and state — exactly
    when the repair scan pays for itself)."""
    src = SnapshotTable(input_table_root)
    out_tbl = SnapshotTable(os.path.join(output_root, "extracted_spans"))
    cursor_tbl = SnapshotTable(os.path.join(output_root, "ingest_cursor"))
    last, last_out_sid = 0, 0
    for s in reversed(cursor_tbl.history()):
        if s.meta and "input_snapshot_id" in s.meta:
            last = int(s.meta["input_snapshot_id"])
            last_out_sid = int(s.meta.get("out_snapshot_id", 0))
            break
    current = src.current_snapshot_id()
    if current <= last:
        return {
            "run_id": run_id or "noop",
            "input_snapshot_from": last,
            "input_snapshot_to": current,
            "docs_processed": 0,
            "spans_emitted": 0,
            "bytes_processed": 0,
            "failures": 0,
        }
    with job_phase(spark.sparkContext, "read-changes"):
        try:
            delta = src.read_changes(spark, from_snapshot=last, to_snapshot=current)
            clean = out_tbl.current_snapshot_id() == last_out_sid
            resume = not clean  # crash window -> repair; clean -> no history scan
        except ValueError:
            # overwrite/compact in range: full read + resume dedup this tick
            delta = src.read(spark)
            resume = True
    m = run(
        spark,
        delta,
        output_root,
        run_id=run_id,
        resume=resume,
        repartition_to=repartition_to,
        ocr_mode=ocr_mode,
    )
    cursor_tbl.commit_rows(
        [(int(current), str(m["run_id"]))],
        S.INGEST_CURSOR,
        mode="append",
        meta={
            "input_snapshot_id": int(current),
            "out_snapshot_id": int(m["snapshot_id"]),
        },
    )
    return {**m, "input_snapshot_from": last, "input_snapshot_to": current}


def _write_empty_staged(path: str) -> None:
    """Write a zero-row parquet file with the staged-output schema so an
    empty snapshot still carries its schema (dynamic partitioning writes
    nothing at all for an empty frame)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(S.EXTRACTED_SPANS_STAGED)
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        arrow_schema.empty_table(), os.path.join(path, "part-00000.parquet")
    )


def run(
    spark: SparkSession,
    docs: DataFrame,
    output_root: str,
    run_id: str | None = None,
    resume: bool = True,
    repartition_to: int | None = None,
    record_submitted: bool = False,
    ocr_mode: str = "DETECTION",
) -> dict:
    """Execute the pipeline and commit snapshots. Returns run metrics.

    Resume semantics (the reference's status state machine, §2.7, as batch):
    docs already SUCCEEDED in doc_state are anti-joined away; a restart after
    a crash re-processes only unfinished documents from the last committed
    snapshot — checkpoint/restart replaces the reference's async retry."""
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()
    sc = spark.sparkContext
    extracted_tbl = SnapshotTable(os.path.join(output_root, "extracted_spans"))
    state_tbl = SnapshotTable(os.path.join(output_root, "doc_state"))
    metrics_tbl = SnapshotTable(os.path.join(output_root, "metrics"))

    if resume and (state_tbl.exists() or extracted_tbl.exists()):
        # Crash-window repair: a crash between the spans commit and the
        # state commit leaves docs with committed spans but no state row.
        # Re-extracting them would append DUPLICATE spans, so the resume
        # truth is "state says SUCCEEDED, OR spans already committed" —
        # and the orphans get their missing SUCCEEDED row appended here
        # (derivable because the adopted data files carry the lineage
        # columns, schema.EXTRACTED_SPANS_STAGED). Invariant after any
        # run: extracted doc_ids ⊆ doc_state SUCCEEDED doc_ids.
        done = repair = None
        with job_phase(sc, "resume-scan"):
            if state_tbl.exists():
                done = (
                    state_tbl.read(spark)
                    .where(F.col("status") == S.STATUS_SUCCEEDED)
                    .select("doc_id")
                    .distinct()
                )
            if extracted_tbl.exists():
                committed = extracted_tbl.read(spark)
                orphans = (
                    committed.join(done, "doc_id", "left_anti")
                    if done is not None
                    else committed
                )
                repair = orphans.select(
                    "doc_id",
                    F.lit(S.STATUS_SUCCEEDED).alias("status"),
                    F.when(
                        F.col("used_ocr"),
                        F.concat(F.lit("repair/"), F.col("doc_id")),
                    ).alias("job_id"),
                    F.col("partition_id"),
                    F.lit(extracted_tbl.current_snapshot_id())
                    .cast("long")
                    .alias("snapshot_id"),
                    F.col("error"),
                )
                spans_done = committed.select("doc_id").distinct()
                done = spans_done if done is None else done.union(spans_done).distinct()
        if repair is not None:
            with job_phase(sc, "repair"):
                if not repair.isEmpty():
                    state_tbl.commit(repair, mode="append")
        docs = docs.join(done, "doc_id", "left_anti")

    # Single-pass staged commit: the one Spark action writes the output
    # parquet directly, partitioned by the failed flag:
    #   * metrics ride that action via Observation (no extra pass);
    #   * the ok partition dir is ADOPTED into extracted_spans by rename
    #     (SnapshotTable.adopt_dir — zero rewrite);
    #   * doc_state rows derive on the driver from the four lineage columns
    #     of the files just written (_doc_state_rows: pyarrow, no Spark
    #     job) and commit through commit_rows like the metrics row.
    # Net: one full-output write, no persist, flat heap, and no job after it.
    obs = Observation(f"extraction-metrics-{run_id}")
    observed, staged = _run_columns(sc)
    result = extract_spans(
        docs, repartition_to=repartition_to, ocr_mode=ocr_mode
    ).observe(obs, *observed)
    os.makedirs(extracted_tbl.data_root, exist_ok=True)
    staging = os.path.join(
        extracted_tbl.data_root, f"_tmp-stage-{uuid.uuid4().hex}"
    )
    with job_phase(sc, "extract+stage"):
        result.select(*staged).write.mode("overwrite").partitionBy(
            "failed_part"
        ).parquet(staging)
    agg = obs.get  # complete: the staged write was the (only) full action

    ok_dir = os.path.join(staging, "failed_part=0")
    failed_dir = os.path.join(staging, "failed_part=1")
    if not os.path.isdir(ok_dir):
        # empty run (everything resumed away / everything failed): dynamic
        # partitioning wrote no dir — adopt an empty but schema-bearing
        # snapshot so multi-snapshot reads keep a schema source
        _write_empty_staged(ok_dir)
    out_sid = extracted_tbl.adopt_dir(ok_dir, mode="append")

    snap_dir = os.path.join(extracted_tbl.data_root, f"snap-{out_sid:06d}")
    state, submitted = _doc_state_rows(snap_dir, failed_dir, run_id, out_sid)
    if record_submitted:
        # optional fidelity to the New->Submitted transition for OCR-path
        # docs (DocumentExtractManager.java:310)
        state_tbl.commit_rows(submitted, S.DOC_STATE)
    state_sid = state_tbl.commit_rows(state, S.DOC_STATE)
    # release staging remnants (failed partition + write markers); a crash
    # before this line leaves a GC-able _tmp orphan, nothing dangling
    shutil.rmtree(staging, ignore_errors=True)
    m = {
        "docs_processed": int(agg["docs"] or 0),
        "spans_emitted": int(agg["spans"] or 0),
        "bytes_processed": int(agg["bytes"] or 0),
        "failures": int(agg["failures"] or 0),
    }
    wall = time.time() - t0
    parallelism = sc.defaultParallelism
    # driver-side fast commit: one metrics row must not pay a Spark job
    metrics_tbl.commit_rows(
        [
            (
                run_id, out_sid, m["docs_processed"], m["spans_emitted"],
                m["bytes_processed"], m["failures"], wall, parallelism,
            )
        ],
        S.METRICS,
    )
    return {
        "run_id": run_id,
        "snapshot_id": out_sid,
        "state_snapshot_id": state_sid,
        "wall_seconds": wall,
        "parallelism": parallelism,
        **m,
    }


@per_context
def _run_columns() -> tuple[list[Column], list[Column]]:
    """run()'s Observation aggregates and staged-write projection, built
    once per SparkContext like the kernel's trees."""
    observed = [
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.size("spans")).alias("spans"),
        F.sum(F.length("text")).alias("bytes"),
        F.sum(F.col("failed").cast("long")).alias("failures"),
    ]
    staged = [
        *map(F.col, ("doc_id", "spans", "text", "error", "partition_id", "used_ocr")),
        # int, not bool: hive-style partition path values only
        # type-infer back cleanly for ints
        F.col("failed").cast("int").alias("failed_part"),
    ]
    return observed, staged


def _doc_state_rows(ok_dir: str, failed_dir: str, run_id: str, out_sid: int):
    """doc_state rows for the docs a run staged, derived on the driver from
    the four lineage columns of the staged files (pyarrow, no Spark job;
    parquet is columnar, so the spans/text bytes are never read). Returns
    (final rows, Submitted rows): SUCCEEDED for the adopted ``ok_dir``,
    FAILED for ``failed_dir`` (absent when nothing failed), each in
    snapshot ``out_sid``; the Submitted rows are the OCR-path docs, with no
    snapshot yet. An OCR-path doc carries job handle ``<run_id>/<doc_id>``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    parts = []
    for d, status in ((ok_dir, S.STATUS_SUCCEEDED), (failed_dir, S.STATUS_FAILED)):
        if os.path.isdir(d):
            t = pq.read_table(d, columns=["doc_id", "partition_id", "used_ocr", "error"])
            parts.append(t.append_column("status", pa.repeat(status, t.num_rows)))
    # an empty ok dir (_write_empty_staged) has a non-null doc_id field
    src = pa.concat_tables(parts, promote_options="default")
    job_id = pc.binary_join_element_wise(f"{run_id}/", src["doc_id"], "")
    state = pa.table({
        "doc_id": src["doc_id"],
        "status": src["status"],
        "job_id": pc.if_else(src["used_ocr"], job_id, pa.scalar(None, pa.string())),
        "partition_id": src["partition_id"],
        "snapshot_id": pa.repeat(pa.scalar(out_sid, pa.int64()), src.num_rows),
        "error": src["error"],
    })
    ocr = state.filter(src["used_ocr"])
    n = ocr.num_rows
    submitted = (
        ocr.set_column(1, "status", pa.repeat(S.STATUS_SUBMITTED, n))
        .set_column(4, "snapshot_id", pa.nulls(n, pa.int64()))
        .set_column(5, "error", pa.nulls(n, pa.string()))
    )
    return state, submitted
