"""The ``stream_open`` workload: the reference topology as an open loop.

It runs through the engine's public entry points with ``build_spark()``
defaults: 4 order shards and 1 rates shard from the ``kinesis_sim``
generator (behind the benchmark's gate and pacing, see
:mod:`perfbench.kinesis`), ``parse_json_stream``, ``build_reference_query``
and the ``kinesis_sim`` sink with the fixed partition key "0".

The first micro-batch reads only the warm-up slice (``WARM`` orders per
shard, one rate): it pays Python-worker start, codegen and state-store
creation.  The gate opens on the next read; that instant is ``t_open``, the
end of set-up and the zero of every timed figure.  From then on each record
becomes readable at its due time, 100 orders/s per order shard and 1 rate/s,
for ``--seconds`` seconds.  The run ends once a micro-batch has committed
under a watermark at or past the last order's event time: by then every
order before the last one has all its output rows, the NULL-extended ones
included, so the compared set of orders is the same on every run of a seed.
"""

from __future__ import annotations

import ast
import json
import os
import shutil
import time
from datetime import datetime, timezone

from perfbench import harness, kinesis, layers, oracle

ORDER_SHARDS = 4
ORDER_INTERVAL_MS = 10  # 100 orders/s per shard, the reference generator's rate
RATE_INTERVAL_MS = 1000  # 1 rate/s
#: warm-up slice: 1 s of event time, so orders and rates stay aligned
WARM = 1000 // ORDER_INTERVAL_MS
WARM_RATES = 1
OPEN_BATCH = 10_000  # cap per read; the pacing is what limits the reads
DEADLINE_S = 150.0
#: orders within this much event time of the last order are left out of the
#: compare, whatever the watermark semantics at the boundary
CLOSE_MARGIN_MS = 1000
POLL_S = 0.2


def _epoch_ms(iso: str) -> float:
    t = datetime.fromisoformat(iso.replace("Z", "+00:00"))
    if t.tzinfo is None:  # the generator's event times are naive UTC
        t = t.replace(tzinfo=timezone.utc)
    return (t - datetime(2024, 1, 1, tzinfo=timezone.utc)).total_seconds() * 1000.0


def _offsets(raw) -> dict:
    # the Python data source reports offsets as the repr of a dict
    if raw is None:
        return {}
    return ast.literal_eval(raw) if isinstance(raw, str) else dict(raw)


def plan(seed: int, seconds: int) -> dict:
    """Generator options of one run (a pure function of its arguments)."""
    orders_per_shard = WARM + seconds * 1000 // ORDER_INTERVAL_MS
    # one more rate than the orders span, so the rates' event time ends past
    # the last order's and the watermark is set by the orders
    rates = WARM_RATES + seconds * 1000 // RATE_INTERVAL_MS + 1
    common = {"seed": str(seed), "batch_records": str(OPEN_BATCH)}
    return {
        "orders": {
            **common,
            "template": "orders",
            "shards": str(ORDER_SHARDS),
            "interval_ms": str(ORDER_INTERVAL_MS),
            "records_per_shard": str(orders_per_shard),
            "bench_warm": str(WARM),
            "bench_opener": "1",
        },
        "rates": {
            **common,
            "template": "rates",
            "shards": "1",
            "interval_ms": str(RATE_INTERVAL_MS),
            "records_per_shard": str(rates),
            "bench_warm": str(WARM_RATES),
        },
    }


def last_order_ms(opts: dict) -> float:
    """Event time (ms after 2024-01-01) of the last scheduled order: the
    last record of the last shard (shard ``s`` is ``s`` ms behind shard 0)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import (
        KinesisSimStreamReader,
    )

    shard, n = f"shardId-{ORDER_SHARDS - 1:012d}", int(opts["records_per_shard"])
    (rec,) = KinesisSimStreamReader(opts).readBetweenOffsets({shard: n - 1}, {shard: n})
    return _epoch_ms(json.loads(rec[3])["orderTime"])


def _read_sink(path: str) -> list[tuple[int, float, list[tuple], int]]:
    """(batch id, commit wall time, rows, n_empty) per committed batch."""
    out = []
    for d in sorted(os.listdir(path)):
        manifest = os.path.join(path, d, "_manifest.json")
        if not d.startswith("batch=") or not os.path.exists(manifest):
            continue
        with open(manifest) as f:
            entries = json.load(f)
        rows = []
        for e in entries:
            with open(e["file"]) as f:
                for line in f:
                    if line.strip():
                        r = json.loads(line)
                        rows.append(
                            (r.get("id"), r.get("orderTime"), r.get("originalAmount"), r.get("convertedAmount"))
                        )
        out.append(
            (int(d.split("=")[1]), os.stat(manifest).st_mtime, rows, sum(e["n_empty"] for e in entries))
        )
    return out


def _read_log(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def run(workload: str, seed: int, seconds: int, trace: bool, root: str, t_start: float) -> dict:
    from amazon_kinesis_data_analytics_flinktableapi_spark.engine import build_spark
    from amazon_kinesis_data_analytics_flinktableapi_spark.schemas import (
        EXCHANGE_RATE_SCHEMA,
        ORDER_SCHEMA,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources import kinesis_sim
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.streaming import (
        parse_json_stream,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.streaming.pipeline import (
        build_reference_query,
    )

    params = plan(seed, seconds)
    work = os.path.join(root, ".perfbench", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "spans"))
    gate = os.path.join(work, "gate")
    for name in ("orders", "rates"):
        params[name].update(bench_gate=gate, bench_log=os.path.join(work, f"reads-{name}.jsonl"))
    out = os.path.join(work, "sink")
    spans = harness.Spans(trace)
    t_end_ms = last_order_ms(params["orders"])

    with harness.RssSampler() as rss:
        with spans.span("engine.build_spark", trace="setup"):
            spark = build_spark()
        kinesis_sim.register(spark)
        spark.dataSource.register(kinesis.BenchKinesisSource)

        def source(name, schema):
            raw = spark.readStream.format(kinesis.FORMAT).options(**params[name]).load()
            return parse_json_stream(raw, schema, value_col="data")

        with spans.span("engine.plan", trace="setup"):
            joined = build_reference_query(
                spark, source("orders", ORDER_SCHEMA), source("rates", EXCHANGE_RATE_SCHEMA)
            )
        writer = joined.writeStream.format(kinesis.FORMAT if trace else "kinesis_sim")
        if trace:
            writer = writer.option("bench_spans", os.path.join(work, "spans"))
        query = (
            writer.option("path", out)
            .option("partition_key", "0")
            .option("checkpointLocation", os.path.join(work, "checkpoint"))
            .start()
        )
        try:
            deadline = t_start + DEADLINE_S
            while not os.path.exists(gate):
                _check(query, deadline, "warm-up")
                time.sleep(0.02)
            with open(gate) as f:
                t_open = float(f.read())
            first_timed = layers.last_execution_id(spark) + 1
            while _closing_batch(_progress(query), t_end_ms) is None:
                _check(query, deadline, "run")
                time.sleep(POLL_S)
        finally:
            _stop(spark, query)
        progress = _progress(query)
        plan_metrics = layers.plan_layers(spark, layers.plan_nodes(spark, first_timed)) if trace else {}
    harness.stop_spark(spark)

    batches = _read_sink(out)
    reads = {n: _read_log(params[n]["bench_log"]) for n in ("orders", "rates")}
    # the checkpoint (thousands of state-store files) and the sink output
    # are read; drop them so repeated runs do not fill the checkout
    for d in ("checkpoint", "sink"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    return _evaluate(
        params,
        t_start,
        t_open,
        t_end_ms,
        progress,
        batches,
        reads,
        rss.peak_mb,
        spans,
        work,
        plan_metrics if trace else None,
    )


def _progress(query) -> dict[int, dict]:
    """The query's recent progress reports by batch id, as plain dicts."""
    out = {}
    for p in query.recentProgress:
        d = json.loads(p.json)
        out[d["batchId"]] = d
    return out


def _closing_batch(progress: dict, t_end_ms: float) -> int | None:
    """Id of the first micro-batch that ran under a watermark at or past
    ``t_end_ms``: it emitted the NULL-extended rows of every earlier order."""
    for b in sorted(progress):
        wm = progress[b]["eventTime"].get("watermark")
        if wm and _epoch_ms(wm) >= t_end_ms:
            return b
    return None


def _stop(spark, query) -> None:
    """Stop the query without finishing a micro-batch Spark started after
    the closing one: stop() waits for a running job, so cancel jobs until it
    returns (a job submitted after one cancel meets the next)."""
    import threading

    stopper = threading.Thread(target=query.stop, name="query-stop")
    stopper.start()
    while stopper.is_alive():
        spark.sparkContext.cancelAllJobs()
        stopper.join(0.05)


def _check(query, deadline: float, phase: str) -> None:
    if query.exception() is not None:
        raise RuntimeError(f"streaming query failed during {phase}: {query.exception()}")
    if not query.isActive:
        raise RuntimeError(f"streaming query stopped during {phase}")
    if time.time() > deadline:
        raise RuntimeError(f"{phase} did not finish within {DEADLINE_S:.0f} s of process start")


def _pacing_violations(log: list[dict], opts: dict) -> int:
    """Reads that returned a record before its due time."""
    warm, interval = int(opts["bench_warm"]), int(opts["interval_ms"])
    total = int(opts["records_per_shard"])
    bad = 0
    for rec in log:
        if rec["t_open"] is None:
            limit = min(warm, total)
        else:
            limit = kinesis.due_count(rec["start_t"], rec["t_open"], warm, interval, total)
        bad += sum(int(end) > limit for end in rec["end"].values())
    return bad


def _evaluate(params, t_start, t_open, t_end_ms, progress, batches, reads, peak_mb, spans, work, plan_metrics):
    o_opts, r_opts = params["orders"], params["rates"]
    o_end = {s: int(o_opts["records_per_shard"]) for s in (f"shardId-{i:012d}" for i in range(ORDER_SHARDS))}
    r_read = max((int(v) for rec in reads["rates"] for v in rec["end"].values()), default=0)
    orders = oracle.decode(o_opts, o_end)
    rates = oracle.decode(r_opts, {"shardId-000000000000": r_read})
    order_of = {
        oracle.java_ts(d["orderTime"]): (int(sh.rsplit("-", 1)[1]), seq) for sh, seq, d in orders
    }

    final = _closing_batch(progress, t_end_ms)
    progress = {b: p for b, p in progress.items() if b <= final}
    batches = [b for b in batches if b[0] <= final]
    # drop the read that fed the cancelled batch after the final one
    last_end = {
        tuple(sorted(_offsets(src["endOffset"]).items())) for src in progress[final]["sources"]
    }
    for name, log in reads.items():
        cut = next(
            (i for i, rec in enumerate(log) if tuple(sorted(rec["end"].items())) in last_end),
            len(log) - 1,
        )
        reads[name] = log[: cut + 1]
    data_batches = sorted(b for b in progress if b >= 1 and progress[b]["numInputRows"] > 0)
    # a fixed cut: the compared rows are a function of the seed alone
    cutoff_ms = t_end_ms - CLOSE_MARGIN_MS

    def closed(row) -> bool:
        key = order_of.get(row[1])
        return key is None or key[1] * ORDER_INTERVAL_MS + key[0] < cutoff_ms

    expected = [r for r in oracle.expected_rows(orders, rates) if closed(r)]
    actual_all = [(b, t, r) for b, t, rows, _ in batches for r in rows]
    check = oracle.compare(expected, [r for _, _, r in actual_all if closed(r)])
    violations = _pacing_violations(reads["orders"], o_opts) + _pacing_violations(reads["rates"], r_opts)

    warm = int(o_opts["bench_warm"])
    matched, outer = [], []
    early = 0  # rows committed before their order was due: a pacing breach
    for _b, commit_t, row in actual_all:
        key = order_of.get(row[1])
        if key is None or key[1] < warm:
            continue
        due = kinesis.due_time(key[1], t_open, warm, ORDER_INTERVAL_MS)
        early += commit_t < due
        (matched if row[3] is not None else outer).append(commit_t - due)
    if not matched or not outer:
        raise RuntimeError(
            "no matched or no NULL-extended rows were emitted after the warm-up: "
            "--seconds is too short for the watermark to pass any order"
        )
    trigger_s = [progress[b]["durationMs"]["triggerExecution"] / 1000.0 for b in data_batches]

    metrics = {
        "setup_s": t_open - t_start,
        "emit_latency_p50_s": harness.median(matched),
        "emit_latency_p99_s": harness.top_percentile(matched),
        "outer_emit_latency_p50_s": harness.median(outer),
        "batch_pass_s": harness.median(trigger_s),
    }
    samples = {
        "emit_latency_p50_s": len(matched),
        "emit_latency_p99_s": len(matched),
        "outer_emit_latency_p50_s": len(outer),
        "batch_pass_s": len(trigger_s),
    }
    result = {
        "metrics": metrics,
        "peak_rss_mb": peak_mb,
        "samples": samples,
        "attempted": check["expected"],
        "failed": check["failed"],
        "known_failed": check["null_id_rows"],
        "checks": {"pacing_violations": violations, "early_rows": early, **check},
        "ok": violations == 0 and early == 0,
        "notes": [
            f"batch {b}: {p['numInputRows']} rows, trigger {p['durationMs']['triggerExecution']} ms,"
            f" addBatch {p['durationMs'].get('addBatch', 0)} ms,"
            f" state commit {sum(op.get('commitTimeMs', 0) for op in p['stateOperators'])} ms"
            for b, p in sorted(progress.items())
        ],
    }
    if plan_metrics is not None:
        result["layers"] = _layers(progress, data_batches, batches, reads, spans, work, check, plan_metrics)
    return result


def _layers(progress, data_batches, batches, reads, spans, work, check, plan_metrics) -> dict:
    spans.merge_dir(os.path.join(work, "spans"))
    # a read belongs to the micro-batch whose end offset it returned
    batch_of = {
        json.dumps(_offsets(src["endOffset"]), sort_keys=True): b
        for b, p in progress.items()
        for src in p["sources"]
    }
    for name, log in reads.items():
        for rec in log:
            spans.items.append(
                {
                    "name": "sources.read",
                    "start": rec["start_t"],
                    "end": rec["end_t"],
                    "parent": "streaming.latestOffset",
                    "trace": batch_of.get(json.dumps(rec["end"], sort_keys=True)),
                    "template": name,
                    "records": rec["n"],
                }
            )
    for b, p in progress.items():
        begin = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        spans.items.append(
            {
                "name": "streaming.batch",
                "start": begin,
                "end": begin + p["durationMs"]["triggerExecution"] / 1000.0,
                "parent": None,
                "trace": b,
            }
        )
    spans.write(os.path.join(work, "spans.jsonl"))

    data = [progress[b] for b in data_batches]

    def dur(phase):
        return [p["durationMs"].get(phase, 0) for p in data]

    ops = [op for p in data for op in p["stateOperators"]]
    lags = []
    for rec in reads["orders"]:
        if rec["t_open"] is None:
            continue
        # records due when the read was issued and not read before it
        lags.append(sum(max(0, rec["due"] - int(c)) for c in rec["start"].values()))
    read_s = sum(r["end_t"] - r["start_t"] for log in reads.values() for r in log)
    n_read = sum(r["n"] for log in reads.values() for r in log)
    write_spans = spans.named("sinks.write")
    rows_written = sum(s.get("rows", 0) for s in write_spans)
    write_s = spans.total_s("sinks.write") - sum(s["upstream_wait_s"] for s in write_spans)
    commit_ms = [1000.0 * (s["end"] - s["start"]) for s in spans.named("sinks.commit")]
    per_batch_state_commit = [sum(op.get("commitTimeMs", 0) for op in p["stateOperators"]) for p in data]
    wm_lag = [
        (_epoch_ms(p["eventTime"]["max"]) - _epoch_ms(p["eventTime"]["watermark"])) / 1000.0
        for p in data
        if p["eventTime"].get("max") and p["eventTime"].get("watermark")
    ]
    return {
        "engine.build_spark_s": spans.total_s("engine.build_spark"),
        "engine.first_job_s": progress[0]["durationMs"]["triggerExecution"] / 1000.0,
        "engine.plan_s": spans.total_s("engine.plan"),
        # plan metrics of the finished post-warm-up batches, per batch
        **{k: v / max(1, len(progress) - 1) for k, v in plan_metrics.items()},
        "functions.ts_to_string_s": layers.ts_to_string_s(),
        "check.failed_share": check["failed"] / max(1, check["expected"]),
        "sources.read_s": read_s,
        "sources.records_read": n_read,
        "sources.read_records_per_s": n_read / read_s if read_s else 0.0,
        # a handful of reads per run: the nearest-rank p99 is their maximum
        "sources.lag_records_p99": harness.quantile(lags, 0.99) if lags else 0.0,
        "sources.latest_offset_ms_p50": harness.median(dur("latestOffset")),
        "streaming.batches": len(data),
        "streaming.input_rows_per_batch_p50": harness.median([p["numInputRows"] for p in data]),
        "streaming.trigger_ms_p50": harness.median(dur("triggerExecution")),
        "streaming.trigger_ms_p99": harness.top_percentile(dur("triggerExecution")),
        "streaming.query_planning_ms_p50": harness.median(dur("queryPlanning")),
        "streaming.wal_commit_ms_p50": harness.median(dur("walCommit")),
        "streaming.commit_offsets_ms_p50": harness.median(dur("commitOffsets")),
        "streaming.add_batch_ms_p50": harness.median(dur("addBatch")),
        "streaming.watermark_lag_s_p50": harness.median(wm_lag) if wm_lag else 0.0,
        "operators.state_rows_max": max(
            sum(op["numRowsTotal"] for op in p["stateOperators"]) for p in data
        ),
        "operators.state_bytes_max": max(
            sum(op["memoryUsedBytes"] for op in p["stateOperators"]) for p in data
        ),
        "operators.state_commit_ms_p50": harness.median(per_batch_state_commit),
        "operators.state_store_instances": max(op.get("numStateStoreInstances", 0) for op in ops),
        "operators.rows_dropped_by_watermark": sum(op.get("numRowsDroppedByWatermark", 0) for op in ops),
        "operators.fanout": check["actual"] / max(1, check["orders"]),
        "sinks.write_s": write_s,
        "sinks.rows_written": rows_written,
        "sinks.write_rows_per_s": rows_written / write_s if write_s else 0.0,
        "sinks.commit_ms_p50": harness.median(commit_ms) if commit_ms else 0.0,
        "sinks.empty_payloads": sum(b[3] for b in batches),
    }
