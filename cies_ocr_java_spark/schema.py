"""Engine schemas (StructTypes) — the Spark equivalent of the reference's
CanonicalDocument model (model/CanonicalDocument.java:16-25) and its
three-store S3 layout (SURVEY.md §1.2), re-expressed as columnar tables.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- input: interleaved text+media documents (BASELINE.json input_hint) ----
INPUT_SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType()),        # 'html'|'pdf'|'text'|'media'
        T.StructField("text", T.StringType()),        # raw payload; null for media
        T.StructField("media_ref", T.StringType()),   # 'media://<doc>/<n>'; null otherwise
        T.StructField("offset", T.IntegerType()),     # 0-based reading-order position
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(INPUT_SPAN)),
    ]
)

# --- output: extracted spans (the reference's '<id>.txt' destination store,
# Utility.java:108-112, as a table) --------------------------------------
OUTPUT_SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType()),        # 'text'|'media'
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("order", T.IntegerType()),      # 0-based dense output position
    ]
)

EXTRACTED_SPANS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(OUTPUT_SPAN)),
        T.StructField("text", T.StringType()),        # flat concat — the '.txt' analog
    ]
)

# Physical layout of the pipeline's staged single-pass write: the logical
# EXTRACTED_SPANS columns plus the lineage columns doc_state derives from.
# The staged ok-partition directory is adopted into the extracted_spans
# table by rename, so its data files carry these extra (small) columns;
# readers project the logical schema (`.select("doc_id","spans","text")`).
EXTRACTED_SPANS_STAGED = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(OUTPUT_SPAN)),
        T.StructField("text", T.StringType()),
        T.StructField("error", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("used_ocr", T.BooleanType()),
    ]
)

# --- lineage/state: replaces the reference's mutable S3 tags ocr-status /
# job-id (HeaderTags.java:10-11, DocumentExtractManager.java:680-697) -----
DOC_STATE = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("status", T.StringType()),      # New|Submitted|SUCCEEDED|FAILED
        T.StructField("job_id", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("error", T.StringType()),
    ]
)

METRICS = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("docs_processed", T.LongType()),
        T.StructField("spans_emitted", T.LongType()),
        T.StructField("bytes_processed", T.LongType()),
        T.StructField("failures", T.LongType()),
        T.StructField("wall_seconds", T.DoubleType()),
        T.StructField("parallelism", T.IntegerType()),
    ]
)

# run_incremental's cursor: the last input snapshot consumed, per run
INGEST_CURSOR = T.StructType(
    [
        T.StructField("input_snapshot_id", T.LongType(), False),
        T.StructField("run_id", T.StringType()),
    ]
)

# Lifecycle states — DocumentExtractStatus.java:6-10. The inconsistent
# capitalization is deliberate in the reference (SUCCEEDED/FAILED arrive
# verbatim from the OCR service's notification payload).
STATUS_NEW = "New"
STATUS_SUBMITTED = "Submitted"
STATUS_SUCCEEDED = "SUCCEEDED"
STATUS_FAILED = "FAILED"
VALID_STATUSES = (STATUS_NEW, STATUS_SUBMITTED, STATUS_SUCCEEDED, STATUS_FAILED)
