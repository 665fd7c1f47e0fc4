"""Per-layer measurements: Spark's SQL plan metrics, the direct UDF timing
and the tracing overhead.  The metric names and units are those of
``BENCHMARK.json``; each workload measures the layers it runs and a layer a
workload does not run reports 0 (no state store in a batch query, no
parquet scan in a stream)."""

from __future__ import annotations

import json
import os
import re


def complete(values: dict, units: dict[str, str]) -> dict:
    """Every per-layer metric of ``units`` as (value, unit), 0 where the
    workload does not run the layer.  A name ``units`` lacks is an error."""
    unknown = set(values) - set(units)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json per_layer: {sorted(unknown)}")
    return {name: (float(values.get(name, 0.0)), unit) for name, unit in units.items()}


def overhead(traced: dict, times: list[str], reference_path: str) -> float:
    """Tracing overhead: the traced run's summed end-to-end ``times`` over
    the last untraced run's, minus one (0 when no untraced run exists)."""
    if not os.path.exists(reference_path):
        return 0.0
    with open(reference_path) as f:
        ref = json.load(f)
    base = sum(ref[n] for n in times)
    return sum(traced[n] for n in times) / base - 1.0 if base else 0.0


# -- Spark's SQL plan metrics ------------------------------------------------

_UNITS = {
    "ms": 1.0,
    "s": 1000.0,
    "m": 60_000.0,
    "h": 3_600_000.0,
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
}
_VALUE = re.compile(r"([\d.,]+)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?\b")
_STAGE = re.compile(r"\(stage (\d+)\.\d+:")


def parse_metric(text: str) -> tuple[float, int | None]:
    """A formatted SQL metric ("1.9 s", "64.5 MiB", "184,089", or the
    multi-task "total (min, med, max (stageId: taskId))\\n<total> (...)")
    as (total in ms, bytes or rows; the stage id when the text names one)."""
    stage = _STAGE.search(text)
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(body)
    if m is None:
        return 0.0, None
    value = float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)
    return value, int(stage.group(1)) if stage else None


def plan_nodes(spark, first_execution: int = 0) -> list[dict]:
    """Every plan node of every SQL execution with id >= first_execution
    that finished without error, as
    {execution, name, cluster, metrics: {name: (value, stage)}}; ``cluster``
    is the WholeStageCodegen node the operator was compiled into, if any.
    Read from the session's SQL status store, which Spark keeps with the UI
    disabled."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        execution = execs.apply(i)
        eid = execution.executionId()
        error = execution.errorMessage()  # Some("") for a successful execution
        finished = execution.completionTime().isDefined() and (error.isEmpty() or not error.get())
        if eid < first_execution or not finished:
            continue
        values = store.executionMetrics(eid)

        def node_dict(node, cluster):
            metrics = {}
            it = node.metrics().iterator()
            while it.hasNext():
                m = it.next()
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            return {"execution": eid, "name": node.name(), "cluster": cluster, "metrics": metrics}

        top = store.planGraph(eid).nodes().iterator()
        while top.hasNext():
            node = top.next()
            if node.getClass().getSimpleName() == "SparkPlanGraphCluster":
                cluster = node_dict(node, None)
                out.append(cluster)
                inner = node.nodes().iterator()
                while inner.hasNext():
                    out.append(node_dict(inner.next(), cluster["name"] + f"#{eid}"))
            else:
                out.append(node_dict(node, None))
    return out


def last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = execs.size()
    return execs.apply(n - 1).executionId() if n else -1


def plan_layers(spark, nodes: list[dict]) -> dict:
    """Per-layer numbers from plan nodes: scan, join, exchange and Python UDF."""

    def total(pred, metric):
        return sum(n["metrics"].get(metric, (0.0, None))[0] for n in nodes if pred(n["name"]))

    join_clusters = {
        n["cluster"] for n in nodes if "Join" in n["name"] and n["cluster"] is not None
    }
    join_ms = sum(
        n["metrics"].get("duration", (0.0, None))[0]
        for n in nodes
        if n["cluster"] is None and f"{n['name']}#{n['execution']}" in join_clusters
    )
    # stream-stream join: its own update and removal timers
    join_ms += total(lambda s: "SymmetricHashJoin" in s, "time to update")
    join_ms += total(lambda s: "SymmetricHashJoin" in s, "time to remove")
    udf = [n for n in nodes if n["name"] == "ArrowEvalPython"]
    stages = {
        m[1] for n in udf for m in n["metrics"].values() if m[1] is not None
    }
    tracker = spark.sparkContext.statusTracker()
    udf_tasks = sum(
        (tracker.getStageInfo(s).numTasks if tracker.getStageInfo(s) else 1) for s in stages
    )
    # a metric updated by a single task prints without the stage suffix
    udf_tasks += sum(
        1 for n in udf if all(m[1] is None for m in n["metrics"].values()) and n["metrics"]
    )
    return {
        "sources.scan_ms": total(lambda s: s.startswith("Scan"), "scan time"),
        "operators.join_ms": join_ms,
        "operators.shuffle_bytes": total(lambda s: "Exchange" in s, "shuffle bytes written")
        + total(lambda s: s.startswith("BroadcastExchange"), "data size"),
        "functions.python_eval_ms": total(lambda s: s == "ArrowEvalPython", "time to run Python workers"),
        "functions.python_init_ms": total(lambda s: s == "ArrowEvalPython", "time to start Python workers")
        + total(lambda s: s == "ArrowEvalPython", "time to initialize Python workers"),
        "functions.arrow_bytes": total(lambda s: s == "ArrowEvalPython", "data sent to Python workers")
        + total(lambda s: s == "ArrowEvalPython", "data returned from Python workers"),
        "functions.udf_tasks": udf_tasks,
    }


def ts_to_string_s(rows: int = 200_000, repeats: int = 5) -> float:
    """Median time of one direct call of the engine's pandas
    ``TimestampToString`` body on a fixed Series (no Spark involved)."""
    import time

    import pandas as pd
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import (
        timestamp_to_string_pandas,
    )

    series = pd.Series(pd.date_range("2024-01-01", periods=rows, freq="7919us"))
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        timestamp_to_string_pandas(series)
        times.append(time.perf_counter() - t)
    return sorted(times)[repeats // 2]
