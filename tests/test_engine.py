"""TableEngine facade: the three entry points (SURVEY.md §3) end-to-end."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.types import IntegerType, StringType

from tests.conftest import SF_SMOKE


def test_register_parquet_dir_and_sql(engine):
    engine.register_parquet_dir(SF_SMOKE, ["region", "nation"])
    out = engine.sql(
        "SELECT r_name, count(*) AS n FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"
    ).collect()
    assert {r.r_name for r in out} and all(r.n > 0 for r in out)


def test_register_python_udf(engine):
    engine.register_udf("double_it", lambda x: None if x is None else x * 2, IntegerType())
    assert engine.sql("SELECT double_it(21) AS v").collect()[0].v == 42


def test_register_pandas_udf(engine):
    import pandas as pd

    engine.register_pandas_udf("shout", lambda s: s.str.upper(), StringType())
    assert engine.sql("SELECT shout('abc') AS v").collect()[0].v == "ABC"


def test_register_table_and_query(engine, spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    engine.register_table("tiny", df)
    assert engine.sql("SELECT max(id) AS m FROM tiny").collect()[0].m == 2
    assert engine.table("tiny").count() == 2


def test_timestamp_to_string_matches_java_format(spark):
    """The registered TimestampToString must print java.sql.Timestamp.toString()
    format: trailing zeros stripped, ≥1 fractional digit."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import (
        register_timestamp_to_string,
    )

    register_timestamp_to_string(spark)
    rows = spark.sql(
        """
        SELECT TimestampToString(TIMESTAMP '2024-01-01 12:00:07') AS whole,
               TimestampToString(TIMESTAMP '2024-01-01 12:00:07.5') AS tenth,
               TimestampToString(TIMESTAMP '2024-01-01 12:00:07.123456') AS micros
        """
    ).collect()[0]
    assert rows.whole == "2024-01-01 12:00:07.0"
    assert rows.tenth == "2024-01-01 12:00:07.5"
    assert rows.micros == "2024-01-01 12:00:07.123456"


def test_timestamp_to_string_matches_duckdb_replica(spark):
    """The registered SQL function agrees with the oracle's DuckDB
    replica (``_DUCK_TS_TO_STRING``) on every element of a randomized
    micros distribution — including NULL, whole seconds (fraction '.0'),
    trailing-zero micros ('.12' not '.120000') and a pre-1970 instant —
    and so does ``timestamp_to_string_pandas``, the body the benchmark
    still times."""
    import duckdb

    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import (
        register_timestamp_to_string,
        timestamp_to_string_pandas,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries.reference import (
        _DUCK_TS_TO_STRING,
    )

    rng = np.random.RandomState(7)
    base = pd.Timestamp("2024-01-01")
    micros = rng.randint(0, 90 * 86_400 * 1_000_000, 5_000, dtype=np.int64)
    # force the edge classes in: whole seconds, single-digit fraction,
    # trailing-zero fraction, max fraction
    micros[:4] = [0, 500_000, 120_000, 999_999]
    micros = micros + base.value // 1_000
    # row 0 falls on the NaT stride: whole seconds again, then pre-1970
    micros = np.append(micros, [base.value // 1_000, -100_000])
    nat = np.zeros(len(micros), dtype=bool)
    nat[::97] = True
    vals = [None if n else int(m) for m, n in zip(micros, nat)]

    register_timestamp_to_string(spark)
    df = spark.createDataFrame(list(enumerate(vals)), "i long, m long")
    got = [
        r.s
        for r in df.selectExpr("i", "TimestampToString(timestamp_micros(m)) AS s")
        .orderBy("i")
        .collect()
    ]

    frame = pd.DataFrame({"i": range(len(vals)), "m": pd.array(vals, dtype="Int64")})
    con = duckdb.connect()
    want = [
        r[0]
        for r in con.execute(
            f"SELECT {_DUCK_TS_TO_STRING.format(c='make_timestamp(m)')} FROM frame ORDER BY i"
        ).fetchall()
    ]
    con.close()
    assert got == want
    assert got[:4] == [
        None,
        "2024-01-01 00:00:00.5",
        "2024-01-01 00:00:00.12",
        "2024-01-01 00:00:00.999999",
    ]
    assert got[-2:] == ["2024-01-01 00:00:00.0", "1969-12-31 23:59:59.9"]

    s = pd.Series(pd.to_datetime(micros, unit="us"))
    s[nat] = pd.NaT
    out = timestamp_to_string_pandas(s)
    assert out.dtype == object
    assert list(out) == got


def test_vectorized_timestamp_to_string_all_nat_stays_object():
    """An all-NaT batch must come back all-None with object dtype (the
    datetime64 dtype would fail the Arrow string conversion)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import (
        timestamp_to_string_pandas,
    )

    s = pd.Series([pd.NaT, pd.NaT], dtype="datetime64[ns]")
    out = timestamp_to_string_pandas(s)
    assert out.dtype == object
    assert list(out) == [None, None]


_PYTHON_EVAL = ("ArrowEvalPython", "BatchEvalPython")


def test_reference_queries_run_without_python_worker(spark, tmp_path):
    """TimestampToString compiles into the JVM plan: neither the
    streaming reference query over two streaming inputs nor the batch
    ``currency_conversion`` query carries a Python-UDF operator.  The
    batch plan is read without running an action, because count() would
    prune the unused output column and the UDF with it."""
    import datetime as dt

    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY
    from amazon_kinesis_data_analytics_flinktableapi_spark.schemas import (
        EXCHANGE_RATE_SCHEMA,
        ORDER_SCHEMA,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.streaming.pipeline import (
        build_reference_query,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.streaming.replay import replay_stream

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    orders = spark.createDataFrame(
        [(i, t0 + dt.timedelta(seconds=i), 10 * i, "EUR") for i in range(4)], ORDER_SCHEMA
    )
    rates = spark.createDataFrame([(t0, "EUR", 2)], EXCHANGE_RATE_SCHEMA)
    stream = build_reference_query(
        spark,
        replay_stream(spark, orders, ORDER_SCHEMA, str(tmp_path / "orders")),
        replay_stream(spark, rates, EXCHANGE_RATE_SCHEMA, str(tmp_path / "rates")),
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("no_python_worker")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
        plan = q._jsq.explainInternal(False)  # the last micro-batch's executed plan
    finally:
        q.stop()
    assert "StreamingSymmetricHashJoin" in plan
    assert [n for n in _PYTHON_EVAL if n in plan] == []

    batch = REGISTRY["currency_conversion"].fn(spark, SF_SMOKE)
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert [n for n in _PYTHON_EVAL if n in plan] == []


def test_csv_orc_round_trip(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField, StructType

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_csv, read_orc

    schema = StructType([StructField("id", LongType()), StructField("name", StringType())])
    df = spark.createDataFrame([(1, "a"), (2, "b,with,commas"), (3, None)], schema)

    csv_dir = str(tmp_path / "t.csv")
    df.write.option("header", True).csv(csv_dir)
    got = read_csv(spark, csv_dir, schema)
    assert sorted((r.id, r.name) for r in got.collect()) == [(1, "a"), (2, "b,with,commas"), (3, None)]

    orc_dir = str(tmp_path / "t.orc")
    df.write.orc(orc_dir)
    got_orc = read_orc(spark, orc_dir)
    assert sorted((r.id, r.name) for r in got_orc.collect()) == [(1, "a"), (2, "b,with,commas"), (3, None)]
    assert got_orc.schema == schema


def test_csv_malformed_rows_null_out(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField, StructType

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_csv

    p = tmp_path / "bad.csv"
    p.write_text("id,n\n1,10\n2,notanint\n")
    schema = StructType([StructField("id", LongType()), StructField("n", LongType())])
    rows = sorted((r.id, r.n) for r in read_csv(spark, str(p), schema).collect())
    assert rows == [(1, 10), (2, None)]  # PERMISSIVE: bad field -> NULL, row kept


def test_observe_batch_metrics(engine, spark):
    from pyspark.sql import functions as F

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_table

    ev = read_table(spark, "/root/testdata/sf0.001", "events")
    observed, obs = engine.observe(
        ev, "ingest", F.count(F.lit(1)).alias("rows"), F.max("value").alias("max_value")
    )
    kept = observed.filter(F.col("value") >= 0).count()
    # metrics ride the SAME action (no second scan) and cover pre-filter rows
    assert obs.get["rows"] == ev.count()
    assert obs.get["max_value"] > 0
    assert kept <= obs.get["rows"]


def test_read_table_never_yields_ntz(spark):
    """Environment canary (round-4 regression class): whatever timestamp
    flavor TESTDATA's parquet carries (ns, us-NTZ, us-UTC), read_table must
    hand every query plain TIMESTAMP columns."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_table

    for t in ["events", "orders", "lineitem"]:
        schema = read_table(spark, "/root/testdata/sf0.001", t).schema
        bad = [f.name for f in schema.fields if f.dataType.typeName() == "timestamp_ntz"]
        assert not bad, f"{t}: NTZ columns leaked through the source boundary: {bad}"
