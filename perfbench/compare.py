"""Compare two sets of benchmark results, refusing mismatched hosts.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds result files written by ``run.py`` (by default into
``.perfbench/results``). Per workload and metric, the gated ones and those
only printed (wall clock, latencies), it prints the median and quartiles of
each side and the change of the median. Results whose host
fingerprints (cores, RAM, ``SPARK_GRAFT_CPUS``, driver heap, Spark /
pyarrow / pandas versions) differ are never compared, and a side mixing
several hosts is refused.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys


def load(directory: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            out.append(json.load(f))
    return out


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    args = ap.parse_args(argv)

    sides = {"base": load(args.base), "new": load(args.new)}
    hosts = {k: {r["fingerprint"]["host_id"] for r in v} for k, v in sides.items()}
    for k, ids in hosts.items():
        if len(ids) > 1:
            print(f"refusing: {k} mixes results from hosts {sorted(ids)}")
            return 2
        if not ids:
            print(f"refusing: no results in {getattr(args, k)}")
            return 2
    if hosts["base"] != hosts["new"]:
        print(f"refusing: host fingerprints differ ({hosts['base']} vs "
              f"{hosts['new']}); rerun both sides on one host")
        return 2

    rows: dict[tuple, dict[str, list[float]]] = {}
    for side, results in sides.items():
        for r in results:
            printed = {name: (value, unit) for name, value, unit, _ in r["report"]}
            gated = {n: (m["value"], m["unit"]) for n, m in r["result"]["metrics"].items()}
            for name, (value, unit) in {**printed, **gated}.items():
                key = (r["workload"], r["trace"], name, unit)
                rows.setdefault(key, {"base": [], "new": []})[side].append(value)
    for (workload, trace, name, unit), v in sorted(rows.items()):
        if not v["base"] or not v["new"]:
            continue
        b1, b2, b3 = _quartiles(v["base"])
        n1, n2, n3 = _quartiles(v["new"])
        change = (n2 - b2) / b2 if b2 else float("nan")
        print(f"{workload:17s} t{trace} {name:40s} base {b2:.4g} [{b1:.4g}, {b3:.4g}] "
              f"new {n2:.4g} [{n1:.4g}, {n3:.4g}] {unit}  {change:+.1%}  "
              f"(n={len(v['base'])}/{len(v['new'])})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
