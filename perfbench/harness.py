"""Measurement helpers shared by the workloads: clocks, quantiles, peak RSS
of the Spark process tree, and the span recorder used by traced runs."""

from __future__ import annotations

import glob
import json
import math
import os
import threading
import time
from contextlib import contextmanager

#: wall clock used for every cross-process timestamp (source reads, sink
#: commits, manifest mtimes); durations inside one process use perf_counter
now = time.time


def quantile(values, q: float) -> float:
    """Nearest-rank quantile of ``values`` (q in [0, 1])."""
    if not values:
        raise ValueError("quantile of an empty sample")
    s = sorted(values)
    rank = max(1, math.ceil(q * len(s)))
    return float(s[rank - 1])


def median(values) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of an empty sample")
    mid = n // 2
    return float(s[mid]) if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def top_percentile(values, wanted: float = 0.99, tail: int = 10) -> float:
    """The highest quantile up to ``wanted`` that still has ``tail`` samples
    beyond it, so a p99 of a small sample degrades towards the median
    instead of reporting the maximum; never below the median."""
    n = len(values)
    q = min(wanted, max(0.5, 1.0 - tail / n)) if n else wanted
    return max(median(values), quantile(values, q))


# -- peak RSS of the Spark JVM and its Python workers ----------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended between glob and open
        pid = int(stat.split("/")[2])
        kids.setdefault(int(fields[1]), []).append(pid)
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_mb(root: int | None = None) -> float:
    """RSS of every descendant of ``root`` (the benchmark process): the
    spark-submit JVM and the Python workers it forks.  The benchmark's own
    interpreter is excluded."""
    return sum(_rss_kb(p) for p in descendants(root or os.getpid())) / 1024.0


class RssSampler:
    """Samples :func:`tree_rss_mb` on a daemon thread and keeps the peak."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# -- spans ------------------------------------------------------------------


class Spans:
    """In-memory span list of the benchmark process, written at the end.

    A span is {name, start, end, parent, trace}: ``trace`` is the micro-batch
    id or the query pass it belongs to, ``parent`` the name of the enclosing
    span.  Spans recorded inside Spark's Python workers are appended to
    per-process files by :mod:`perfbench.kinesis` and merged by
    :meth:`merge_dir`."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.items: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, trace=None):
        start = now()
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        try:
            yield
        finally:
            self._stack.pop()
            if self.enabled:
                self.items.append(
                    {"name": name, "start": start, "end": now(), "parent": parent, "trace": trace}
                )

    def merge_dir(self, span_dir: str) -> None:
        for path in sorted(glob.glob(os.path.join(span_dir, "*.jsonl"))):
            with open(path) as f:
                self.items.extend(json.loads(line) for line in f if line.strip())

    def named(self, name: str) -> list[dict]:
        return [s for s in self.items if s["name"] == name]

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.items, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, end the spark-submit JVM PySpark launched and wait
    until every process of this run (the JVM and its Python workers) has
    exited.  ``spark.stop()`` alone leaves the JVM running until this
    interpreter exits."""
    import signal
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout_s)
    deadline = time.time() + timeout_s
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
