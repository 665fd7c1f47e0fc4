"""End-to-end benchmark of the reference pipeline.

Run one workload with ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root.  The workloads, their
generator parameters, the metric definitions and the per-layer predictions
are recorded in ``perfbench/spec.json``; the modules are:

- ``run``       command line, result line
- ``harness``   clocks, /proc RSS sampler, quantiles, span recorder
- ``kinesis``   benchmark-owned ``kinesis_sim`` data sources (gate, pacing,
                tracing) that delegate to the engine's reader and writer
- ``stream``    the ``stream_open`` workload
- ``batch``     the ``batch_reference`` workload and its events table
- ``layers``    per-layer metric names, Spark plan metrics, tracing overhead
- ``oracle``    DuckDB oracles, independent of the engine
"""
