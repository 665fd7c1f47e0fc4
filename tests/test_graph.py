"""Property tests for operators/graph.py: the ordered-edge triangle join
vs a brute-force O(n³) reference on small random graphs — the adversarial
check that the one-orientation join algebra neither misses nor
double-counts."""

from __future__ import annotations

from itertools import combinations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from amazon_kinesis_data_analytics_flinktableapi_spark.operators.graph import (
    triangle_participation,
)
from tests.conftest import SF_SMOKE

edge_lists = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=25,
)


def brute(edges: set[tuple[int, int]]) -> dict[int, tuple[int, int]]:
    nodes = sorted({n for e in edges for n in e})
    adj = {n: set() for n in nodes}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    tri = dict.fromkeys(nodes, 0)
    for a, b, c in combinations(nodes, 3):
        if b in adj[a] and c in adj[b] and c in adj[a]:
            for n in (a, b, c):
                tri[n] += 1
    return {n: (len(adj[n]), tri[n]) for n in nodes}


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(edge_lists)
def test_triangle_participation_matches_bruteforce(spark, raw):
    # normalize to the operator's contract: id-ordered, deduplicated
    edges = {(min(u, v), max(u, v)) for u, v in raw}
    df = spark.createDataFrame(sorted(edges), "ua int, ub int")
    got = {r["user_id"]: (r["degree"], r["n_triangles"]) for r in triangle_participation(df).collect()}
    assert got == brute(edges)


def test_triangle_participation_normalizes_dirty_edges(spark):
    """Mirrored pairs, duplicates, and self-loops must not inflate degrees
    or fabricate triangles: the default path normalizes (orient + dedupe +
    drop loops); assume_normalized=True is the zero-shuffle fast path for
    generators that guarantee the invariant."""
    clean = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "ua int, ub int"
    )
    dirty = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (1, 3), (1, 3), (3, 1), (3, 4), (2, 2)],
        "ua int, ub int",
    )
    want = sorted(tuple(r) for r in triangle_participation(clean, assume_normalized=True).collect())
    got = sorted(tuple(r) for r in triangle_participation(dirty).collect())
    assert got == want
    assert want == [(1, 2, 1), (2, 2, 1), (3, 3, 1), (4, 1, 0)]


def test_pagerank_iterations_run_on_materialized_edges(spark):
    """``q_pagerank_dup_graph``: the static ``edges ⋈ deg``
    block is localCheckpoint-ed once, so the 5 rank iterations join a
    materialized LogicalRDD instead of re-expanding the degree groupBy
    and the whole jaccard edge pipeline per level (before: 705 parquet
    scans in the final plan; after: 0).  Value parity is pinned by the
    DuckDB oracle (unrolled integer PageRank twin); this pins the plan
    shape so a refactor cannot silently reintroduce the re-execution."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY

    df = REGISTRY["pagerank_dup_graph"].fn(spark, SF_SMOKE)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in optimized, (
        "edges+degree block no longer materialized — the jaccard edge "
        "pipeline re-executes inside every rank iteration"
    )
    # and no parquet relation may survive into the iterative plan
    assert "parquet" not in optimized.lower(), (
        "iterations re-read the base tables instead of the checkpointed block"
    )
