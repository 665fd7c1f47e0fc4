"""TableEngine: the engine entry points (SURVEY.md §3 EP1-EP3).

The reference app crosses into its table engine through three entry points:
``tableEnv.sqlQuery`` (StreamingJob.java:91-101), the ingestion chain
``addSource → map → assignTimestampsAndWatermarks → fromDataStream →
registerTable`` (StreamingJob.java:31-85), and ``toAppendStream`` + sink +
``env.execute`` (StreamingJob.java:104-133).  TableEngine provides the same
surface on Spark: session bootstrap, table registration, SQL, UDF
registration, and source/sink registries — all lazy until a sink/collect.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def build_spark(
    app_name: str = "flinktableapi-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Bootstrap a SparkSession tuned for this engine.

    Scale-relevant defaults (tested on local[N]; sized for a real cluster):

    - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
      and dynamic broadcast conversion — the 100 TB safety net.
    - session timezone UTC: timestamps behave like the reference's
      ``java.sql.Timestamp`` (naive wall-clock) and hash-match DuckDB.
    - Arrow on: vectorized pandas_udf / toPandas paths.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # local mode runs all 32 executor threads inside the driver JVM,
        # whose default 1g heap GC-thrashes under cached inverted indexes
        # + multi-million-row joins.  No-op when a cluster manager already
        # set driver/executor memory (only applied at JVM launch).
        .config("spark.driver.memory", "16g")
    )
    if master is not None:
        builder = builder.master(master)
    elif SparkSession.getActiveSession() is None:
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


class TableEngine:
    """Dynamic-table engine facade (the Spark analogue of the reference's
    ``StreamTableEnvironment``, StreamingJob.java:24,77-101).

    Structured Streaming's unbounded-table model is the same dynamic-table
    idea as the Flink Table API, so batch DataFrames and streaming
    DataFrames register and query identically here.
    """

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or build_spark()

    # -- catalog (ref: tableEnv.registerTable, StreamingJob.java:84-85) -----

    def register_table(self, name: str, df: DataFrame) -> DataFrame:
        """Register a (batch or streaming) DataFrame for SQL by name.

        The session catalog is the single source of truth — no shadow
        dict (one existed; it was never read, pinned every registered
        plan for the engine's lifetime, and drifted silently when a view
        was replaced through ``spark`` directly)."""
        df.createOrReplaceTempView(name)
        return df

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def register_parquet_dir(self, sf_dir: str, tables: list[str] | None = None) -> None:
        """Register every parquet table in a TESTDATA-style directory —
        both suffix-style ``name.parquet`` entries and directory-style
        ``name/`` datasets (the layouts ``read_table`` resolves)."""
        names = tables
        if names is None:
            names = sorted(
                f[: -len(".parquet")] if f.endswith(".parquet") else f
                for f in os.listdir(sf_dir)
                if f.endswith(".parquet")
                or (
                    os.path.isdir(os.path.join(sf_dir, f))
                    and not f.startswith((".", "_"))
                )
            )
        from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_table

        for name in names:
            # read_table owns the file-vs-directory-style resolution
            self.register_table(name, read_table(self.spark, sf_dir, name))

    # -- SQL entry (ref: tableEnv.sqlQuery, StreamingJob.java:91-101) -------

    def sql(self, query: str) -> DataFrame:
        """Parse/validate/plan a SQL query against registered tables.

        Trace: SQL text → Spark parser → unresolved plan → Analyzer (session
        catalog: tables + UDFs) → Catalyst optimizer → physical plan; for
        streaming inputs, IncrementalExecution per micro-batch.  Lazy.
        """
        return self.spark.sql(query)

    # -- UDFs (ref: tableEnv.registerFunction, StreamingJob.java:88) --------

    def register_udf(self, name: str, fn: Callable, return_type) -> None:
        """Register a row-at-a-time Python scalar UDF (the slow path: it runs
        in a Python worker, outside whole-stage codegen).  Prefer a SQL
        function over built-ins, as ``functions.scalar`` registers the
        reference's ``TimestampToString``: the analyzer inlines its body
        into the query's JVM plan."""
        self.spark.udf.register(name, fn, return_type)

    def register_pandas_udf(self, name: str, pandas_fn: Callable, return_type) -> None:
        """Register an Arrow-vectorized scalar UDF (the fast Python path)."""
        from pyspark.sql.functions import pandas_udf

        self.spark.udf.register(name, pandas_udf(pandas_fn, return_type))

    # -- observability ------------------------------------------------------

    def observe(self, df: DataFrame, name: str, *exprs):
        """Attach named metrics to a batch DataFrame (the batch counterpart
        of the streaming metrics listener): metrics are computed DURING the
        action that consumes ``df`` — no second scan, unlike a separate
        ``df.agg(...)`` — and read from the returned Observation after the
        action completes.  Returns (observed_df, observation)."""
        from pyspark.sql import Observation

        obs = Observation(name)
        return df.observe(obs, *exprs), obs

    def stop(self) -> None:
        self.spark.stop()
