"""DuckDB oracles, independent of the engine.

Stream oracle: the generator's records are decoded through the public
``KinesisSimStreamReader.readBetweenOffsets`` (the connector's replay
contract), parsed with the standard ``json`` module, and the reference join
runs in DuckDB: 5 s interval, LEFT OUTER, ``CAST(amount * rate AS INT)`` and
the ``java.sql.Timestamp.toString`` format.  Ids stay BIGINT: the generator
emits ``shard * 1e9 + seq``, so shard >= 3 ids exceed the reference's
``int id``; the engine parses those to NULL, and the compare counts each such
row as failed (``null_id_rows`` names them).

Batch oracle: the registry's own DuckDB SQL over the same parquet files,
compared by an order-insensitive value hash (columns sorted by name, values
stringified), the compare the registry's oracle checks make.
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter, defaultdict

import duckdb
from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import (
    KinesisSimStreamReader,
)

INT32_MAX = 2**31 - 1

#: java.sql.Timestamp.toString(): micros, trailing zeros stripped, >= 1 digit
_JAVA_TS = (
    "strftime({c}, '%Y-%m-%d %H:%M:%S') || '.' || coalesce(nullif(rtrim("
    "lpad(CAST(microsecond({c}) % 1000000 AS VARCHAR), 6, '0'), '0'), ''), '0')"
)

REFERENCE_JOIN = f"""
SELECT o.id,
       {_JAVA_TS.format(c="o.t")} AS orderTime,
       o.amount AS originalAmount,
       CAST(o.amount * r.rate AS INTEGER) AS convertedAmount
FROM o LEFT JOIN r
  ON o.currency = r.currency
 AND o.t >= r.t
 AND r.t > o.t - INTERVAL 5 SECOND
"""


def decode(options: dict, end: dict) -> list[tuple]:
    """Every record from the horizon to ``end`` as (shard, seq, payload)."""
    reader = KinesisSimStreamReader(options)
    start = {s: 0 for s in end}
    return [(rec[0], rec[1], json.loads(rec[3])) for rec in reader.readBetweenOffsets(start, end)]


def java_ts(iso: str) -> str:
    """Generator ISO-8601 micros -> java.sql.Timestamp.toString()."""
    base, frac = iso.replace("T", " ").split(".")
    return f"{base}.{frac.rstrip('0') or '0'}"


def expected_rows(orders: list[tuple], rates: list[tuple]) -> list[tuple]:
    """The reference query's output over the decoded records, from DuckDB."""
    import pyarrow as pa

    o_tab = pa.table(
        {
            "id": pa.array([d["id"] for _, _, d in orders], pa.int64()),
            "t": [d["orderTime"] for _, _, d in orders],
            "amount": pa.array([d["amount"] for _, _, d in orders], pa.int32()),
            "currency": [d["currency"] for _, _, d in orders],
        }
    )
    r_tab = pa.table(
        {
            "t": [d["exchangeRateTime"] for _, _, d in rates],
            "currency": [d["currency"] for _, _, d in rates],
            "rate": pa.array([d["rate"] for _, _, d in rates], pa.int32()),
        }
    )
    con = duckdb.connect()
    try:
        con.register("o_raw", o_tab)
        con.register("r_raw", r_tab)
        con.execute("CREATE TABLE o AS SELECT id, CAST(t AS TIMESTAMP) AS t, amount, currency FROM o_raw")
        con.execute("CREATE TABLE r AS SELECT CAST(t AS TIMESTAMP) AS t, currency, rate FROM r_raw")
        return con.execute(REFERENCE_JOIN).fetchall()
    finally:
        con.close()


def compare(expected: list[tuple], actual: list[tuple]) -> dict:
    """Multiset compare of (id, orderTime, originalAmount, convertedAmount)
    rows, grouped by order (orderTime).  Per order the failed rows are
    max(missing, extra): a row that differs counts once, a missing or an
    extra row counts once."""
    exp, act = defaultdict(Counter), defaultdict(Counter)
    for row in expected:
        exp[row[1]][row] += 1
    for row in actual:
        act[row[1]][row] += 1
    failed = null_id = 0
    for key in exp.keys() | act.keys():
        missing = exp[key] - act[key]
        extra = act[key] - exp[key]
        failed += max(sum(missing.values()), sum(extra.values()))
        # the documented defect: same row with the id parsed to NULL
        # because the generated id does not fit the schema's INT
        overflowed = Counter(
            (None, *r[1:]) for r in missing.elements() if r[0] is not None and r[0] > INT32_MAX
        )
        null_id += sum((overflowed & extra).values())
    return {
        "orders": len(exp),
        "expected": len(expected),
        "actual": len(actual),
        "failed": failed,
        "null_id_rows": null_id,
    }


# -- batch ------------------------------------------------------------------


def value_hash(rows, cols) -> str:
    """Order-insensitive hash: columns sorted by name, values stringified."""
    names = sorted(cols)
    idx = [list(cols).index(c) for c in names]
    body = "\n".join(sorted("|".join(str(r[i]) for i in idx) for r in rows))
    return hashlib.md5(body.encode()).hexdigest()


def duckdb_hash(sf_dir: str, sql: str) -> tuple[str, int]:
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
    finally:
        con.close()
    return value_hash(rows, cols), len(rows)
