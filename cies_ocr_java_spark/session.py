"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a 1000-executor cluster deployment would set
per-executor: AQE on (runtime re-plan + skew-join splitting), shuffle
partitions ~ cores (not the 200 default), Arrow batches bounded so a giant
document cannot blow an executor's heap (the analog of the reference's
maxResults(1000) pagination, DocumentExtractManager.java:544).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Callable, Iterator, TypeVar

from pyspark import SparkContext
from pyspark.sql import SparkSession

_T = TypeVar("_T")

# Bound Arrow transfer batches: one batch holds at most this many spans, so a
# skew tail of multi-MB payload spans stays within a bounded memory envelope.
ARROW_MAX_RECORDS_PER_BATCH = 512


def get_spark(
    app_name: str = "cies_ocr_java_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    On a real cluster, pass ``master=None`` after setting spark.master via
    spark-submit — the builder only sets master when explicitly given one.
    """
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # Under spark-submit the JVM gateway already exists and --master wins;
        # only default the master when running as a plain python process.
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        effective = master or ""
        n = (
            effective[effective.find("[") + 1 : effective.find("]")]
            if "[" in effective
            else ""
        )
        shuffle_partitions = 32 if n in ("", "*") else max(int(n), 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # 16 MB scan splits: the bench corpus is a few hundred MB on a
        # 2-32-thread box, and the 128 MB default yields fewer splits than
        # cores — the scan serializes and caps measured scaling at ~2.2x
        # (a single-row-group file is even worse: 1 split total). On a real
        # cluster the input is TBs across many files and either value gives
        # thousands of splits; this only matters when input_size/cores is
        # small, which is exactly local mode.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # Defense-in-depth behind the Friedl-unrolled grammar regexes
        # (formats.py TAG_BODY/TJ_PATTERN): Java regex still recurses once
        # per quoted-attribute/escape SEGMENT, so a pathological document
        # with ~10^5 quoted attributes in one tag could approach the 1 MB
        # default thread stack. 8 MB gives ~8x headroom; in local mode the
        # driver JVM hosts the executor threads, so set it on the driver
        # too (driver JVM options only apply if set before launch — under
        # spark-submit pass --driver-java-options; here the executor side
        # is what matters and local threads inherit -Xss via defaultOptions
        # when the gateway launches).
        .config("spark.executor.extraJavaOptions", "-Xss8m")
        .config("spark.driver.extraJavaOptions", "-Xss8m")
    )
    if master:
        builder = builder.master(master)
        # Local mode only (we own the JVM launch): the 1g driver-heap
        # default hosts ALL executor threads in local[], and the round-5
        # 10x scale-step sweep OOM'd dedup_ngram_jaccard's shuffle there
        # — the exact spill-sensitive finding the scale step exists to
        # surface. 16g on a 128 GiB box mirrors a real executor's
        # multi-GB heap; under spark-submit the deployment's
        # --driver-memory wins (master is None, this branch is skipped).
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        builder = builder.config("spark.driver.memory", mem)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def per_context(build: Callable[..., _T]) -> Callable[..., _T]:
    """Memoise ``build(*key)`` per live SparkContext: the wrapper is called
    as ``get(sc, *key)`` and rebuilds only when ``sc`` is not the context
    the cached value was built on.

    For Column expression trees that depend on nothing but column names
    and ``key``: building one costs a py4j round trip per node, so building
    it once per context instead of once per plan saves thousands of
    gateway calls per run. The context is compared by identity and held,
    never its ``id()``, so Columns of a stopped JVM are never handed back
    to its successor. Two threads racing on a cold key both build; the
    trees are equal, so whichever lands is correct."""
    built: dict[tuple, tuple[SparkContext, _T]] = {}

    def get(sc: SparkContext, *key) -> _T:
        hit = built.get(key)
        if hit is None or hit[0] is not sc:
            hit = built[key] = (sc, build(*key))
        return hit[1]

    return get


@contextmanager
def job_phase(sc: SparkContext, name: str) -> Iterator[None]:
    """Label the Spark jobs launched inside the block with the job
    description ``name``, so the UI / REST store attributes their stages
    to a phase. A description the caller already set wins (it is the
    caller's attribution, e.g. a benchmark's tracer); on exit the caller's
    description, or none, is back in place."""
    prev = sc.getLocalProperty("spark.job.description")
    if prev is None:
        sc.setJobDescription(name)
    try:
        yield
    finally:
        sc.setJobDescription(prev)
