"""Spans recorded by the benchmark's own wrappers around public calls.

A span records name, start, end, parent and the operation (run / tick /
sweep) it belongs to. Spans live in memory and are written once, when the
traced run ends. While a span is open, Spark jobs carry the job
description ``<op>|<span name>``, so stage metrics read back from the UI
REST store are attributable to an operation and a layer.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.counts: dict[str, dict[str, float]] = {}
        self.op: str | None = None
        # while False the wrappers call straight through and record nothing
        self.enabled = True
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if op is not None:
            self.op = op
        rec = {"name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        prev = self.sc.getLocalProperty("spark.job.description") if self.sc else None
        if self.sc:
            self.sc.setJobDescription(f"{self.op}|{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc:
                self.sc.setJobDescription(prev)

    def count(self, name: str, value: float = 1.0) -> None:
        per_op = self.counts.setdefault(self.op or "", {})
        per_op[name] = per_op.get(name, 0.0) + value

    def wrap(self, owner, attr: str, name: str, before=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span around
        each call; ``before(*args, **kwargs)`` runs first, inside the span.
        Module functions and class methods both work, because callers
        look the attribute up at call time."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name):
                if before is not None:
                    before(*args, **kwargs)
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # --- analysis ----------------------------------------------------------
    def self_times(self) -> dict[str, dict[str, float]]:
        """op -> span name -> summed self time (duration minus the part
        covered by child spans; children of one parent never overlap,
        because the driver is single-threaded)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            per_op = out.setdefault(s["op"] or "", {})
            per_op[s["name"]] = per_op.get(s["name"], 0.0) + (
                s["end"] - s["start"] - child[i])
        return out

    def totals(self) -> dict[str, dict[str, float]]:
        """op -> span name -> summed duration."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            per_op = out.setdefault(s["op"] or "", {})
            per_op[s["name"]] = per_op.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def first_start(self, op: str, name: str) -> float | None:
        for s in self.spans:
            if s["op"] == op and s["name"] == name:
                return s["start"]
        return None

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                 for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "counts": self.counts, **extra}, f, indent=1)


def median_over_ops(per_op: dict[str, dict[str, float]], ops: list[str],
                    name: str) -> float:
    """Median over ``ops`` of one per-op value (0 for an op without it)."""
    if not ops:
        return 0.0
    return statistics.median(per_op.get(op, {}).get(name, 0.0) for op in ops)


# --- Spark stage metrics (UI REST store) -----------------------------------

def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def stage_metrics(sc) -> list[dict]:
    """Every completed stage with its job description split into
    (op, layer). Waits for the listener bus first, so the store holds
    every task of every finished job."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # private API: fall back to a grace period
        time.sleep(1.0)
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    out = []
    for st in _get(f"{base}/stages?status=complete"):
        desc = st.get("description") or ""
        op, _, layer = desc.partition("|")
        out.append({**st, "op": op, "layer": layer})
    return out


def task_skew(sc, stage: dict) -> float:
    """max / median executorRunTime over the tasks of one stage."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    ts = _get(f"{base}/stages/{stage['stageId']}/{stage['attemptId']}"
              "/taskSummary?quantiles=0.5,1.0")
    p50, mx = ts["executorRunTime"]
    return mx / max(p50, 1.0)
