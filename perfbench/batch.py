"""The ``batch_reference`` workload.

The registry queries ``currency_conversion`` (the reference's full SELECT:
bucketed interval join, ``TimestampToString`` through Arrow, int
arithmetic) and ``interval_join`` (the same join without the UDF) run at
sf0.1 through the registry's own ``spec.fn``, with the full output written
to Spark's ``noop`` sink so every column is computed and nothing is
collected.  The difference between the two queries isolates the UDF.

The input is an ``events`` table shaped like TESTDATA sf0.1 (100,000 rows
over 30 days, 5 event types, exponential values), generated here from a
fixed seed so the run reads nothing outside its checkout.  The workload seed
does not change it.

Set-up runs ``WARM_PASSES`` untimed passes (cold codegen, Python-worker
start, broadcast, JIT); the DuckDB oracle runs on a thread meanwhile and has
finished before timing starts.
Timed passes repeat for ``--seconds``, and at least ``MIN_PASSES`` times.
Correctness is checked after the timed passes: each query's collected rows
must hash-match the registry's DuckDB oracle over the same parquet file.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import harness, layers, oracle

QUERIES = ("currency_conversion", "interval_join")
EVENTS_ROWS = 100_000
EVENTS_SEED = 42
#: untimed passes in set-up: the first pays cold codegen and Python-worker
#: start; the JIT keeps speeding passes up for a few more
WARM_PASSES = 3
#: a floor on the passes a median is taken over: a pass takes about 2 s
MIN_PASSES = 8
MAX_PASSES = 50


def make_events(sf_dir: str, rows: int = EVENTS_ROWS, seed: int = EVENTS_SEED) -> str:
    """Write ``events.parquet`` with TESTDATA's schema and value shapes."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    start_us = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
    gaps_us = rng.exponential(30 * 86_400 / rows, rows) * 1_000_000
    ts = start_us + np.cumsum(gaps_us).astype(np.int64)
    types = np.array(["click", "view", "signup", "purchase", "error"])
    table = pa.table(
        {
            "event_id": pa.array(np.arange(rows, dtype=np.int64)),
            # naive micros, the flavor TESTDATA ships (TIMESTAMP_NTZ in Spark)
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, rows, dtype=np.int64)),
            "event_type": pa.array(types[rng.integers(0, len(types), rows)]),
            "value": pa.array(np.round(rng.exponential(50.0, rows), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(table, path)
    return path


def run(workload: str, seed: int, seconds: int, trace: bool, root: str, t_start: float) -> dict:
    from amazon_kinesis_data_analytics_flinktableapi_spark.engine import build_spark
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import all_specs

    work = os.path.join(root, ".perfbench", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sf_dir = os.path.join(work, "sf0.1")
    make_events(sf_dir)
    spans = harness.Spans(trace)
    specs = all_specs()

    def one_pass(pass_id) -> dict[str, float]:
        took = {}
        for name in QUERIES:
            t = time.perf_counter()
            with spans.span(f"queries.{name}", trace=pass_id):
                with spans.span("engine.plan", trace=pass_id):
                    df = specs[name].fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            took[name] = time.perf_counter() - t
        return took

    pool = ThreadPoolExecutor(max_workers=1)
    wanted = {name: pool.submit(oracle.duckdb_hash, sf_dir, specs[name].oracle) for name in QUERIES}
    with harness.RssSampler() as rss:
        with spans.span("engine.build_spark", trace="setup"):
            spark = build_spark()
        t = time.perf_counter()
        with spans.span("engine.first_job", trace="setup"):
            one_pass("warm-up")
        first_job_s = time.perf_counter() - t
        for _ in range(WARM_PASSES - 1):
            one_pass("warm-up")
        wanted = {name: f.result() for name, f in wanted.items()}
        pool.shutdown()
        setup_s = time.time() - t_start
        first_timed = layers.last_execution_id(spark) + 1
        passes: list[dict[str, float]] = []
        t_timed = time.perf_counter()
        while len(passes) < MAX_PASSES and (
            len(passes) < MIN_PASSES or time.perf_counter() - t_timed < seconds
        ):
            passes.append(one_pass(len(passes)))
    nodes = layers.plan_nodes(spark, first_timed) if trace else []
    # plan metrics summed over the timed passes, reported per pass
    plan = {k: v / len(passes) for k, v in layers.plan_layers(spark, nodes).items()} if trace else {}
    # correctness, after the measured part (collecting the output to the
    # driver is not part of the workload): hash each query against DuckDB
    checks = {}
    for name in QUERIES:
        df = specs[name].fn(spark, sf_dir)
        rows = df.collect()
        want, n_want = wanted[name]
        checks[name] = {
            "rows": len(rows),
            "oracle_rows": n_want,
            "match": oracle.value_hash(rows, df.columns) == want,
        }
    harness.stop_spark(spark)
    shutil.rmtree(sf_dir, ignore_errors=True)

    # a pass is one batch job whose complete result is both queries'
    # output: every row of a pass is emitted when the pass ends
    pass_s = [sum(p.values()) for p in passes]
    metrics = {
        "setup_s": setup_s,
        "emit_latency_p50_s": harness.median(pass_s),
        "emit_latency_p99_s": harness.top_percentile(pass_s),
        "outer_emit_latency_p50_s": harness.median(pass_s),
        "batch_pass_s": harness.median(pass_s),
    }
    failed = sum(not c["match"] for c in checks.values())
    result = {
        "metrics": metrics,
        "peak_rss_mb": rss.peak_mb,
        "samples": {name: len(passes) for name in metrics if name != "setup_s"},
        "attempted": len(checks),
        "failed": failed,
        "known_failed": 0,
        "checks": {f"{k}.{f}": v for k, c in checks.items() for f, v in c.items()},
        "ok": True,
        "notes": [
            f"pass {i}: " + ", ".join(f"{k} {v:.3f} s" for k, v in p.items())
            for i, p in enumerate(passes)
        ],
    }
    if trace:
        spans.write(os.path.join(work, "spans.jsonl"))
        per_query = {
            name: harness.median([p[name] for p in passes]) for name in QUERIES
        }
        scan_rows = sum(
            n["metrics"].get("number of output rows", (0.0, None))[0]
            for n in nodes
            if n["name"].startswith("Scan")
        ) / len(passes)
        result["layers"] = {
            "engine.build_spark_s": spans.total_s("engine.build_spark"),
            "engine.first_job_s": first_job_s,
            "engine.plan_s": harness.median(
                [s["end"] - s["start"] for s in spans.named("engine.plan") if s["trace"] != "warm-up"]
            )
            * len(QUERIES),
            "sources.read_s": plan["sources.scan_ms"] / 1000.0,
            "sources.records_read": scan_rows,
            "sources.read_records_per_s": scan_rows / (plan["sources.scan_ms"] / 1000.0)
            if plan["sources.scan_ms"]
            else 0.0,
            **plan,
            "functions.ts_to_string_s": layers.ts_to_string_s(),
            "operators.fanout": checks["currency_conversion"]["rows"] / EVENTS_ROWS,
            "queries.currency_conversion_s": per_query["currency_conversion"],
            "queries.interval_join_s": per_query["interval_join"],
            "check.failed_share": failed / len(checks),
        }
    return result
