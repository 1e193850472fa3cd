"""Host and git fingerprint, process-tree RSS sampling, and shutdown.

The fingerprint goes with every result so that numbers from different
hosts, core counts, heap sizes or commits are never compared silently
(``perfbench/compare.py`` refuses such pairs).
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading
import time


def _meminfo_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def _git(root: str, *args: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", *args], cwd=root, capture_output=True,
                             text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def fingerprint(root: str, spark, seed: int, counts: dict) -> dict:
    import pandas
    import pyarrow
    import pyspark

    sha = _git(root, "rev-parse", "HEAD")
    status = _git(root, "status", "--porcelain", "--untracked-files=no")
    host = {
        "nproc": os.cpu_count(),
        "mem_total_mb": _meminfo_mb(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_driver_memory": spark.conf.get("spark.driver.memory", None),
        "spark_master": spark.sparkContext.master,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
    }
    return {
        "host": host,
        "host_id": hashlib.md5(repr(sorted(host.items())).encode()).hexdigest()[:12],
        "git_sha": sha,
        "git_dirty": None if status is None else bool(status),
        "seed": seed,
        "input": counts,
    }


def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return kids


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _cpu_ticks(stat_path: str) -> int:
    """utime + stime of a /proc stat file (0 once the task has exited)."""
    try:
        with open(stat_path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return int(fields[11]) + int(fields[12])


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its live descendants
    (the JVM and any Python workers)."""
    ticks = sum(_cpu_ticks(f"/proc/{pid}/stat")
                for pid in [os.getpid(), *descendants(os.getpid())])
    return ticks / os.sysconf("SC_CLK_TCK")


# The JVM's JIT compiler threads, as /proc names them (cut to 15 characters).
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def cpu_snapshot() -> tuple[float, dict[str, float]]:
    """Process-tree CPU seconds, and CPU seconds per live JIT compiler
    thread, keyed ``pid/tid``."""
    tck = os.sysconf("SC_CLK_TCK")
    jit = {}
    for pid in descendants(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    name = f.read().strip()
            except OSError:
                continue
            if name.startswith(JIT_THREADS):
                jit[f"{pid}/{tid}"] = _cpu_ticks(f"/proc/{pid}/task/{tid}/stat") / tck
    return tree_cpu_s(), jit


def program_cpu_s(start: tuple[float, dict[str, float]],
                  end: tuple[float, dict[str, float]]) -> float:
    """CPU seconds of the process tree between two snapshots (Python
    driver, JVM with its garbage collector, Python workers) minus those of
    the JIT compiler threads. Compiling is how the JVM warms up, not work
    the operation asks for: it lands in bursts on whichever operation runs
    when a method gets hot, long after the discarded warm-up."""
    jit = sum(c - start[1].get(k, 0.0) for k, c in end[1].items())
    return end[0] - start[0] - jit


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants (the
    JVM and its Python workers) on a daemon thread; ``peak_mb`` is the
    largest sum seen."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kb(p) for p in [me, *descendants(me)])
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread.start()

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join(timeout=5)
            self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, shut the JVM gateway down, and wait until every
    descendant process (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
