"""Benchmark-owned ``kinesis_sim`` data sources.

They subclass the engine's :class:`KinesisSimDataSource` and delegate every
record to the engine's own reader and writer; they only decide *when* a
record becomes readable and record what happened:

- **gate**: while the gate is closed each shard exposes only its first
  ``bench_warm`` records.  The warm-up micro-batch therefore pays
  Python-worker start, codegen and state-store creation on a few records.
  The orders reader opens the gate on its next read and writes the opening
  wall time ``t_open`` to the ``bench_gate`` file, which the other reader
  and the benchmark read.
- **pacing**: after the gate opens, record ``k`` of every shard is due at
  ``t_open + (k - warm) * interval_ms / 1000``; the source is an open loop at
  ``1000 / interval_ms`` records per second per shard.  The reader publishes
  exactly the due records by setting the engine reader's
  ``records_per_shard``, the option that stands for the stream's published
  tip, and then calls the engine's own ``read``.
- **read log**: every ``read`` appends one JSON line (wall start and end,
  start and end offsets, due counts) to ``bench_log``.  It is the pacing
  check's evidence and the source span of traced runs.
- **tracing** (``bench_spans`` set, sink side): the stream writer appends a
  span per task ``write`` and per driver ``commit`` to a per-process file.

Spark pickles these classes by reference, so its Python workers import this
module; the benchmark puts the checkout root on their ``PYTHONPATH``.
"""

from __future__ import annotations

import json
import math
import os
import time

from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import (
    KinesisSimDataSource,
    KinesisSimStreamReader,
    KinesisSimStreamWriter,
)
from pyspark.sql.datasource import SimpleDataSourceStreamReader

FORMAT = "kinesis_bench"


def due_count(now_s: float, t_open: float, warm: int, interval_ms: int, total: int) -> int:
    """Records per shard whose due time is at or before ``now_s``."""
    if now_s < t_open:
        return min(warm, total)
    return min(warm + math.floor((now_s - t_open) * 1000.0 / interval_ms) + 1, total)


def due_time(seq: int, t_open: float, warm: int, interval_ms: int) -> float:
    """Wall time at which record ``seq`` of a shard is due (inverse of
    :func:`due_count`)."""
    return t_open + (seq - warm) * interval_ms / 1000.0


def _append(path: str, record: dict) -> None:
    with open(path, "a") as f:
        f.write(json.dumps(record) + "\n")


class GatedReader(SimpleDataSourceStreamReader):
    """Gate, pacing and read log around :class:`KinesisSimStreamReader`."""

    def __init__(self, options: dict):
        self.inner = KinesisSimStreamReader(options)
        self.total = self.inner.opts.records_per_shard
        self.gate = options["bench_gate"]
        self.warm = int(options.get("bench_warm", 0))
        self.log = options["bench_log"]
        self.opener = options.get("bench_opener", "0") == "1"
        self.t_open: float | None = None

    def initialOffset(self) -> dict:
        return self.inner.initialOffset()

    def _gate_time(self, start: dict, now_s: float) -> float | None:
        """The gate's opening time, or None while it is closed.

        The opener (the orders source) opens it on its first read after the
        warm-up slice was returned.  Spark asks for the next offsets only
        after the previous micro-batch finished, so that read comes right
        after the warm-up batch has committed."""
        if self.t_open is None:
            if os.path.exists(self.gate):
                with open(self.gate) as f:
                    self.t_open = float(f.read())
            elif self.opener and all(
                int(c) >= min(self.warm, self.total) for c in start.values()
            ):
                tmp = f"{self.gate}.{os.getpid()}"
                with open(tmp, "w") as f:
                    f.write(repr(now_s))
                os.replace(tmp, self.gate)
                self.t_open = now_s
        return self.t_open

    def read(self, start: dict):
        t0 = time.time()
        o = self.inner.opts
        t_open = self._gate_time(start, t0)
        if t_open is None:
            o.records_per_shard = min(self.warm, self.total)
        else:
            o.records_per_shard = due_count(t0, t_open, self.warm, o.interval_ms, self.total)
        records, end = self.inner.read(start)
        t1 = time.time()
        _append(
            self.log,
            {
                "template": o.template,
                "start_t": t0,
                "end_t": t1,
                "t_open": t_open,
                "due": o.records_per_shard,
                "start": start,
                "end": end,
                "n": sum(int(end[s]) - int(c) for s, c in start.items()),
            },
        )
        return records, end

    def readBetweenOffsets(self, start: dict, end: dict):
        return self.inner.readBetweenOffsets(start, end)

    def commit(self, end: dict) -> None:
        self.inner.commit(end)


class TracedStreamWriter(KinesisSimStreamWriter):
    """The engine's stream writer with a span per task write and per
    driver-side commit."""

    def __init__(self, options: dict):
        super().__init__(options)
        self.span_dir = options["bench_spans"]

    def _span(self, name: str, start: float, trace, **extra) -> None:
        rec = {"name": name, "start": start, "end": time.time(), "trace": trace}
        rec.update(extra)
        _append(os.path.join(self.span_dir, f"{os.getpid()}.jsonl"), rec)

    def write(self, iterator):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        batch = ctx.getLocalProperty("streaming.sql.batchId") if ctx else None
        counted, waited = [0], [0.0]

        def rows():
            # time blocked on the upstream operators is not the sink's
            source = iter(iterator)
            while True:
                t = time.perf_counter()
                row = next(source, None)
                waited[0] += time.perf_counter() - t
                if row is None:
                    return
                counted[0] += 1
                yield row

        start = time.time()
        message = super().write(rows())
        self._span(
            "sinks.write",
            start,
            int(batch) if batch is not None else None,
            parent="streaming.addBatch",
            rows=counted[0],
            upstream_wait_s=waited[0],
        )
        return message

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 (Spark's name)
        start = time.time()
        super().commit(messages, batchId)
        self._span("sinks.commit", start, batchId, parent="streaming.batch")


class BenchKinesisSource(KinesisSimDataSource):
    """``format("kinesis_bench")``: the engine's connector behind the gate
    (reads) and with tracing (writes)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT

    def simpleStreamReader(self, schema) -> GatedReader:
        return GatedReader(self.options)

    def streamWriter(self, schema, overwrite: bool) -> TracedStreamWriter:
        return TracedStreamWriter(self.options)
