"""Codegen-fallback audit (round-4): execute every registered query at
sf0.001 with spark.sql.codegen.fallback=false, so a generated method past
the JVM 64 KB limit THROWS instead of silently interpreting (the
intel_hex_parse lesson — interpreted fallback 10x'd the per-task cost and
was invisible in every green correctness run).

Each query is built and executed twice. The second execution should find
every generated class in the codegen cache; a class it compiles again
means a per-run literal (a path, an id, a timestamp) is inlined into the
generated Java, so every run of that plan pays the compile. Usage:

    python tools/codegen_audit.py [--sf /root/testdata/sf0.001] [name ...]

Prints one line per query: OK with the classes the first and the second
execution compiled, COMPILE-FAIL or ERROR(<type>).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from cies_ocr_java_spark.plans.queries import QUERIES
    from cies_ocr_java_spark.session import get_spark

    spark = get_spark(app_name="codegen_audit")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    names = args.names or list(QUERIES)
    n_fail = n_recompiling = 0
    for name in names:
        try:
            counts = []
            for _ in range(2):
                c0 = compiles.getCount()
                QUERIES[name](spark, args.sf).write.format("noop") \
                    .mode("overwrite").save()
                counts.append(compiles.getCount() - c0)
            n_recompiling += counts[1] > 0
            print(f"OK    {name} compiled={counts[0]} recompiled={counts[1]}",
                  flush=True)
        except Exception as e:  # noqa: BLE001
            msg = str(e)
            if "InternalCompilerException" in msg or "grows beyond" in msg \
                    or "Failed to compile" in msg:
                n_fail += 1
                print(f"COMPILE-FAIL {name}", flush=True)
            else:
                n_fail += 1
                print(f"ERROR {name}: {type(e).__name__}", flush=True)
    print(f"DONE {len(names) - n_fail}/{len(names)} ok, {n_recompiling} "
          "recompiling on a second execution", flush=True)
    spark.stop()
    return 0 if not n_fail else 1


if __name__ == "__main__":
    sys.exit(main())
