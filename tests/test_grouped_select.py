"""grouped_kth_select / grouped_median_select pins (VERDICT r13 #5) and
the non-finite-value hazard both median queries must dodge (ADVICE r13:
±inf makes hi−lo infinite and (value−lo)/(hi−lo) degenerate to NaN/0
bucket ids — rows silently misplaced or dropped while a SQL oracle
ranks infinities normally).  The driver fixture carries no NaN/±inf,
so this builds one that does and hash-compares Spark vs DuckDB on it.
"""

from __future__ import annotations

import datetime as dt
import math

import pyarrow as pa
import pyarrow.parquet as pq
import pandas as pd
import pytest
from pyspark.sql import functions as F

from amazon_kinesis_data_analytics_flinktableapi_spark.operators.ranking import (
    grouped_kth_select,
)
from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY
from tests.oracle_util import compare, duck_connect

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def nonfinite_dir(tmp_path_factory):
    """events.parquet with NaN, +inf, -inf, NULL mixed into finite values
    across two groups — driver-exact schema."""
    d = tmp_path_factory.mktemp("nonfinite_sf")
    schema = pq.read_schema(f"{SF_SMOKE}/events.parquet")
    ts = dt.datetime(2024, 1, 5, 10, 0, 0)
    rows = [
        # group A: 5 finite values (median = 3.0 at k=3) + hostile rows
        dict(event_id=1, ts=ts, user_id=1, event_type="a", value=1.0, props=None),
        dict(event_id=2, ts=ts, user_id=1, event_type="a", value=2.0, props=None),
        dict(event_id=3, ts=ts, user_id=1, event_type="a", value=3.0, props=None),
        dict(event_id=4, ts=ts, user_id=1, event_type="a", value=4.0, props=None),
        dict(event_id=5, ts=ts, user_id=1, event_type="a", value=5.0, props=None),
        dict(event_id=6, ts=ts, user_id=1, event_type="a", value=float("inf"), props=None),
        dict(event_id=7, ts=ts, user_id=1, event_type="a", value=float("-inf"), props=None),
        dict(event_id=8, ts=ts, user_id=1, event_type="a", value=float("nan"), props=None),
        dict(event_id=9, ts=ts, user_id=1, event_type="a", value=None, props=None),
        # group B: even count with a value tie at the median rank —
        # deterministic event_id tie-break; plus an all-hostile tail
        dict(event_id=10, ts=ts, user_id=2, event_type="b", value=7.0, props=None),
        dict(event_id=11, ts=ts, user_id=2, event_type="b", value=7.0, props=None),
        dict(event_id=12, ts=ts, user_id=2, event_type="b", value=9.0, props=None),
        dict(event_id=13, ts=ts, user_id=2, event_type="b", value=-1.0, props=None),
        dict(event_id=14, ts=ts, user_id=2, event_type="b", value=float("inf"), props=None),
        # group C: ONLY non-finite values — must vanish from the output
        dict(event_id=15, ts=ts, user_id=3, event_type="c", value=float("nan"), props=None),
        dict(event_id=16, ts=ts, user_id=3, event_type="c", value=float("-inf"), props=None),
    ]
    cols = {f.name: [r.get(f.name) for r in rows] for f in schema}
    table = pa.Table.from_pandas(
        pd.DataFrame(cols, columns=[f.name for f in schema]),
        schema=schema,
        preserve_index=False,
    )
    pq.write_table(table, str(d / "events.parquet"))
    # duck_connect registers a view per driver table — link the untouched
    # ones through to the smoke fixture
    import os

    for t in (
        "region nation customer supplier part orders lineitem documents embeddings"
    ).split():
        os.symlink(f"{SF_SMOKE}/{t}.parquet", str(d / f"{t}.parquet"))
    return str(d)


def test_grouped_median_nonfinite_oracle_parity(spark, nonfinite_dir):
    spec = REGISTRY["grouped_median_select"]
    con = duck_connect(nonfinite_dir)
    compare(spec.fn(spark, nonfinite_dir), con, spec.oracle)


def test_exact_median_nonfinite_oracle_parity(spark, nonfinite_dir):
    spec = REGISTRY["exact_median_select"]
    con = duck_connect(nonfinite_dir)
    compare(spec.fn(spark, nonfinite_dir), con, spec.oracle)


def test_grouped_median_values_hand_computed(spark, nonfinite_dir):
    spec = REGISTRY["grouped_median_select"]
    got = {
        r["event_type"]: (r["event_id"], r["median_value"], r["k"])
        for r in spec.fn(spark, nonfinite_dir).collect()
    }
    # A: finite = [1..5], k=3 -> value 3.0 (event 3)
    # B: finite sorted = [-1, 7(id10), 7(id11), 9], k=2 -> the FIRST 7 (id 10)
    # C: no finite values -> no row
    assert got == {"a": (3, 3.0, 3), "b": (10, 7.0, 2)}


def test_grouped_kth_select_percentiles_match_sorted_pick(spark):
    """p=0.25/0.5/0.75/1.0 against the straight-line definition
    (sorted k-th pick, k = max(1, ceil(p*n))) on irregular group sizes."""
    rows = []
    eid = 0
    groups = {"g1": [5.0, 1.0, 4.0, 2.0, 3.0, 2.0, 8.0], "g2": [10.0], "g3": [2.0, 2.0]}
    for gname, vals in groups.items():
        for v in vals:
            eid += 1
            rows.append((gname, eid, v))
    df = spark.createDataFrame(rows, "g string, event_id long, value double")
    for p in (0.25, 0.5, 0.75, 1.0):
        got = {
            r["g"]: (r["event_id"], r["value"], r["k"])
            for r in grouped_kth_select(df, ["g"], id_col="event_id", p=p).collect()
        }
        want = {}
        for gname, vals in groups.items():
            pairs = sorted((v, e) for (gn, e, v) in rows if gn == gname)
            k = max(1, math.ceil(p * len(pairs)))
            v, e = pairs[k - 1]
            want[gname] = (e, v, k)
        assert got == want, f"p={p}"


def test_grouped_kth_select_constant_group(spark):
    """hi == lo (all values equal) -> bucket 0 everywhere; the rank tail
    must still pick the k-th by event_id tie-break."""
    df = spark.createDataFrame(
        [("g", i, 4.0) for i in range(1, 6)], "g string, event_id long, value double"
    )
    out = grouped_kth_select(df, ["g"], id_col="event_id", p=0.5).collect()
    assert [(r["g"], r["event_id"], r["value"], r["k"]) for r in out] == [("g", 3, 4.0, 3)]


def test_grouped_kth_select_validates_p(spark):
    df = spark.createDataFrame([("g", 1, 1.0)], "g string, event_id long, value double")
    for bad in (0.0, -0.1, 1.5):
        with pytest.raises(ValueError, match="p must be"):
            grouped_kth_select(df, ["g"], p=bad)


def test_grouped_kth_select_no_driver_collects(spark):
    """The operator's whole point vs exact_median_select: constructing the
    result plan must launch ZERO Spark jobs (no hidden collects)."""
    tracker = spark.sparkContext.statusTracker()
    df = spark.createDataFrame(
        [("g", i, float(i)) for i in range(1, 50)], "g string, event_id long, value double"
    )
    before = len(tracker.getJobIdsForGroup() or [])
    plan = grouped_kth_select(df, ["g"], id_col="event_id", p=0.5)
    after = len(tracker.getJobIdsForGroup() or [])
    assert after == before
    # and the plan actually runs
    assert [(r["event_id"], r["k"]) for r in plan.collect()] == [(25, 25)]


# ---------------------------------------------------------------------------
# property test: grouped_kth_select vs the straight-line definition
# (sorted per-group k-th pick) over hypothesis-generated hostile inputs —
# duplicate values, -0.0/0.0 mixes, negative values, singleton and
# constant groups, skewed group sizes, fractional p.
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_value = st.one_of(
    st.sampled_from([0.0, -0.0, 1.0, -1.0, 2.5]),  # dense ties incl. signed zero
    st.floats(min_value=-100, max_value=100, allow_nan=False, allow_infinity=False),
)
_group_rows = st.lists(_value, min_size=1, max_size=12)
_dataset = st.dictionaries(
    st.sampled_from(["g1", "g2", "g3"]), _group_rows, min_size=1, max_size=3
)
_p = st.sampled_from([0.1, 0.25, 0.5, 0.9, 1.0])


@settings(max_examples=15, deadline=None)
@given(data=_dataset, p=_p)
def test_grouped_kth_select_matches_sorted_pick(spark, data, p):
    rows, eid = [], 0
    for g, vals in sorted(data.items()):
        for v in vals:
            eid += 1
            rows.append((g, eid, v))
    df = spark.createDataFrame(rows, "g string, event_id long, value double")
    got = {
        r["g"]: (r["event_id"], r["value"], r["k"])
        for r in grouped_kth_select(df, ["g"], id_col="event_id", p=p).collect()
    }
    want = {}
    for g in data:
        pairs = sorted((v, e) for (gn, e, v) in rows if gn == g)
        k = max(1, math.ceil(p * len(pairs)))
        v, e = pairs[k - 1]
        want[g] = (e, v, k)
    # NB: Python sorts -0.0 == 0.0 (stable by event_id insertion order is
    # NOT guaranteed by sorted() on equal keys — the (v, e) tuple makes the
    # tie-break explicit, matching the operator's (value, event_id) order)
    assert got == want, (data, p, got, want)


def test_grouped_kth_select_multi_equals_singles(spark):
    """The fusion is pure execution shape: multi([p1, p2, p3]) must equal
    the three single-p invocations row for row."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.ranking import (
        grouped_kth_select_multi,
    )

    rows = [
        ("g1", i, float(v))
        for i, v in enumerate([5, 1, 4, 2, 3, 2, 8, -1, 0, 7], start=1)
    ] + [("g2", 100 + i, float(v)) for i, v in enumerate([9, 9, 9, 2], start=1)]
    df = spark.createDataFrame(rows, "g string, event_id long, value double")
    ps = [0.1, 0.5, 0.9]
    fused = {
        (r["g"], r["p"]): (r["event_id"], r["value"], r["k"])
        for r in grouped_kth_select_multi(df, ["g"], id_col="event_id", ps=ps).collect()
    }
    singles = {}
    for p in ps:
        for r in grouped_kth_select(df, ["g"], id_col="event_id", p=p).collect():
            singles[(r["g"], p)] = (r["event_id"], r["value"], r["k"])
    assert fused == singles and len(fused) == 6


def test_grouped_kth_select_multi_validates_ps(spark):
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.ranking import (
        grouped_kth_select_multi,
    )

    df = spark.createDataFrame([("g", 1, 1.0)], "g string, event_id long, value double")
    with pytest.raises(ValueError, match="at least one"):
        grouped_kth_select_multi(df, ["g"], ps=[])
    with pytest.raises(ValueError, match="distinct"):
        grouped_kth_select_multi(df, ["g"], ps=[0.5, 0.5])
    with pytest.raises(ValueError, match="p must be"):
        grouped_kth_select_multi(df, ["g"], ps=[0.5, 1.2])


def test_grouped_kth_select_multi_materialize_parity(spark):
    """The ``materialize`` knob on the selection operator must be
    value-identical in both positions (default False is the measured
    winner — the pinned arm exists for expensive-input callers at real
    scale)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.ranking import (
        grouped_kth_select_multi,
    )

    rows = [(g, i, float((i * 37 + g * 11) % 100)) for g in range(3) for i in range(200)]
    rows += [(9, 0, float("nan")), (9, 1, float("inf")), (9, 2, 5.0)]
    df = spark.createDataFrame(rows, "g int, event_id int, value double")
    out = {}
    for mat in (False, True):
        out[mat] = sorted(
            tuple(r)
            for r in grouped_kth_select_multi(
                df, ["g"], ps=[0.25, 0.5, 0.75], materialize=mat
            ).collect()
        )
    assert out[False] == out[True]
    assert len(out[True]) == 4 * 3  # 4 groups x 3 percentiles


def test_robust_mad_select_final_join_is_broadcast(spark):
    """robust_mad_select's final med ⋈ mad ⋈ n join chain is
    broadcast-hinted (all sides are one-row-per-group frames; the
    checkpointed med side's LogicalRDD has no size estimate, so the
    unhinted planner kept that join a SortMergeJoin even in the
    AQE-final plan).  Pin: the output
    joins — the first two join nodes of the static physical plan, which
    the hint controls directly (AQE conversion of the operator-internal
    estimate-based SMJs is runtime- and size-dependent, so the executed
    sf0.1 plan dump carries that half of the evidence) — are
    BroadcastHashJoin."""
    df = REGISTRY["robust_mad_select"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    joins = [l for l in plan.splitlines() if "Join" in l]
    assert len(joins) >= 2
    assert all("BroadcastHashJoin" in l for l in joins[:2]), joins[:2]
