"""Scale-path and state-machine coverage: the New->Submitted transition
and the salt shuffle's distribution of giant-document spans."""

import duckdb
from pyspark.sql import functions as F

from cies_ocr_java_spark.plans import pipeline
from cies_ocr_java_spark.schema import STATUS_SUBMITTED, STATUS_SUCCEEDED
from cies_ocr_java_spark.sources.snapshots import SnapshotTable


def test_record_submitted_state_transition(spark, corpus_dir, tmp_path):
    """OCR-path docs pass through Submitted before SUCCEEDED
    (DocumentExtractManager.java:310 -> 341), recorded as doc_state history."""
    out_root = str(tmp_path / "out")
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet").where(
        F.col("doc_id") < "doc-000060"
    )
    pipeline.run(spark, docs, out_root, run_id="sub1", record_submitted=True)
    state = SnapshotTable(f"{out_root}/doc_state")
    # snapshot 1 = Submitted rows (OCR-path only), snapshot 2 appends finals
    submitted = state.read(spark, snapshot_id=1)
    assert submitted.count() > 0
    assert {r["status"] for r in submitted.collect()} == {STATUS_SUBMITTED}
    final = state.read(spark)  # history: submitted rows + final rows
    ocr_docs = {r["doc_id"] for r in submitted.collect()}
    finals = {
        r["doc_id"]: r["status"]
        for r in final.where(F.col("snapshot_id").isNotNull()).collect()
    }
    exp = dict(
        duckdb.sql(
            f"select doc_id, used_ocr from read_parquet('{corpus_dir}/expected_state.parquet')"
        ).fetchall()
    )
    for d in ocr_docs:
        assert exp[d], f"{d} recorded Submitted but oracle says no OCR"
        assert finals[d] == STATUS_SUCCEEDED
    # job handle assigned at submission (jobTag analog); no snapshot yet
    for r in submitted.collect():
        assert r["job_id"] == "sub1/" + r["doc_id"]
        assert r["snapshot_id"] is None


def test_salt_shuffle_spreads_giant_docs(spark):
    """A 400-span giant doc must not land on one task: after the salt
    repartition its spans occupy many partitions."""
    from cies_ocr_java_spark.plans.pipeline import flatten_spans

    giant = [("giant-1", [("text", f"span {i} content", None, i) for i in range(400)])]
    docs = spark.createDataFrame(
        giant,
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    flat = flatten_spans(docs).repartition(16, F.col("doc_id"), F.col("offset"))
    parts = (
        flat.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .collect()
    )
    assert len(parts) >= 12              # spans spread across most partitions
    assert max(r["count"] for r in parts) <= 400 / 16 * 3  # no hot partition
