"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload stream_open --seed 1 --seconds 15 --trace 0

Run it from the repository root.  It prints one line per metric (name,
value, unit, sample count), the correctness verdict, and as its last line
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end metrics of ``BENCHMARK.json``;
with ``--trace 1`` they are its per-layer metrics, the spans go to
``.perfbench/<workload>-<seed>-<pid>/spans.jsonl`` and the tracing overhead
is measured against the last untraced run of the same workload.
"""

from __future__ import annotations

import time

T_START = time.time()  # process start: the zero of setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "amazon_kinesis_data_analytics_flinktableapi_spark"


def _benchmark() -> dict:
    """Workload and metric names, with units, from ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _args(argv, workloads):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    bench = _benchmark()
    args = _args(argv, bench["workloads"])
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    # Spark's Python workers import the engine and perfbench.kinesis from
    # the checkout root: they inherit this environment and working directory
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # Spark's scratch space (block manager, shuffle files) and Python's
    # temporary files stay inside the checkout, like everything else a run
    # writes; the location is the only thing these variables change
    scratch = os.path.join(ROOT, ".perfbench", "tmp")
    os.makedirs(scratch, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = scratch

    if args.workload == "batch_reference":
        from perfbench import batch as workload
    else:
        from perfbench import stream as workload
    result = workload.run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT, T_START)
    return report(args, bench, result)


def report(args, bench: dict, result: dict) -> int:
    from perfbench import layers

    unexplained = result["failed"] - result["known_failed"]
    correct = bool(result["ok"]) and unexplained == 0
    e2e, units = result["metrics"], bench["end_to_end"]
    samples = result.get("samples", {})
    for name, unit in units.items():
        print(f"{name:28s} {e2e[name]:14.4f} {unit:6s} n={samples.get(name, 1)}")
    print(f"{'peak_rss_mb':28s} {result['peak_rss_mb']:14.4f} MB")
    for note in result.get("notes", []):
        print(note)
    for key, value in sorted(result["checks"].items()):
        print(f"check.{key:22s} {value}")
    share = result["failed"] / result["attempted"]
    print(
        f"verdict: {'correct' if correct else 'INCORRECT'}: failed {result['failed']}"
        f" of {result['attempted']} (failed_share {share:.4f}; {result['known_failed']} from"
        f" the known id-overflow defect, {unexplained} unexplained)"
    )
    ref = os.path.join(ROOT, ".perfbench", f"untraced-{args.workload}.json")
    if args.trace:
        times = [n for n, u in units.items() if u == "s" and n != "setup_s"]
        values = {
            **result["layers"],
            "engine.peak_rss_mb": result["peak_rss_mb"],
            "trace.overhead_share": layers.overhead(e2e, times, ref),
        }
        per_layer = layers.complete(values, bench["per_layer"])
        for name, (value, unit) in per_layer.items():
            print(f"{name:36s} {value:16.4f} {unit}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        with open(ref, "w") as f:
            json.dump(e2e, f)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": int(result["attempted"]),
                "failed": int(result["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
