"""Report queries of ``queries/llm.py`` and ``queries/mining.py`` checked
against straight-line Python computed from the definition — the
two-sided strategy (the SQL oracle proves ENGINE parity; these prove the
distributed computation equals an independent evaluation): exact TVD
drift, RRF fusion, the MinHash band-sweep's planted-recall accounting,
and the Zipf fit on synthetic corpora whose slope is known exactly."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pandas as pd
import pyarrow.parquet as papq
from pyspark.sql import Row

from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY
from tests.conftest import SF_SMOKE


def _docs():
    return papq.read_table(f"{SF_SMOKE}/documents.parquet").to_pandas()


def test_tvd_drift_matches_straightline(spark):
    df = _docs()
    # pd.notna, not `is not None`: pandas surfaces parquet NULLs in
    # numeric columns as NaN, which passes `is not None` and then blows
    # up in int() — the reference must tolerate the NULLs the query
    # contract covers (ADVICE r15)
    rows = [
        (r.source, min(max(int(r.n_chars), 0) // 64, 31))
        for r in df.itertuples()
        if pd.notna(r.source) and pd.notna(r.n_chars)
    ]
    n = len(rows)
    per = defaultdict(Counter)
    glob = Counter()
    for s, b in rows:
        per[s][b] += 1
        glob[b] += 1
    want = {}
    for s, cnt in per.items():
        n_a = sum(cnt.values())
        n_b = n - n_a
        if n_b <= 0:
            continue
        num = sum(
            abs(cnt.get(b, 0) * n_b - (glob[b] - cnt.get(b, 0)) * n_a) for b in glob
        )
        want[s] = (n_a, n_b, num, num * 1_000_000 // (2 * n_a * n_b))
    got = {
        r.source: (r.n_a, r.n_b, r.tvd_num, r.tvd_micro)
        for r in REGISTRY["tvd_drift_by_source"].fn(spark, SF_SMOKE).collect()
    }
    assert got == want
    # sanity: TVD is a [0, 1] metric
    assert all(0 <= t[3] <= 1_000_000 for t in got.values())


def test_hybrid_rrf_matches_straightline_fusion(spark):
    """Fuse the two arms' OWN outputs in plain Python and compare: the
    query's fused ranking, for EVERY query vector of the 5-query frame
    (r16 widening), must equal RRF over (bm25 top-20, that vector's
    cosine top-20) computed independently from the collected arm
    results."""
    lex_rows = sorted(
        REGISTRY["bm25_rank"].fn(spark, SF_SMOKE).collect(),
        key=lambda r: (-r.bm25_score, r.doc_id),
    )[:20]
    lex_rank = {r.doc_id: i + 1 for i, r in enumerate(lex_rows)}
    from pyspark.sql import functions as F

    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import (
        swallow_malformed_embeddings,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators import similarity as S
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import load

    (emb,) = load(spark, SF_SMOKE, "embeddings")
    emb = swallow_malformed_embeddings(emb)
    sem_rank: dict[int, dict[int, int]] = {q: {} for q in range(5)}
    for r in S.brute_topk(emb, emb.filter(F.col("vec_id") < 5), k=20).collect():
        sem_rank[r.q_id][r.c_id] = r.rn
    got_rows = REGISTRY["hybrid_search_rrf"].fn(spark, SF_SMOKE).collect()
    assert sorted({r.q_id for r in got_rows}) == list(range(5))
    for q in range(5):
        ids = set(lex_rank) | set(sem_rank[q])
        fused = {
            i: (1_000_000 // (60 + lex_rank[i]) if i in lex_rank else 0)
            + (1_000_000 // (60 + sem_rank[q][i]) if i in sem_rank[q] else 0)
            for i in ids
        }
        want = sorted(ids, key=lambda i: (-fused[i], i))[:10]
        got = [
            (r.doc_id, r.rrf_micro)
            for r in sorted(
                (r for r in got_rows if r.q_id == q), key=lambda r: r.fused_rank
            )
        ]
        assert [d for d, _ in got] == want, f"q_id={q}"
        assert all(s == fused[d] for d, s in got), f"q_id={q}"


def test_band_sweep_recall_monotone_in_bands(spark):
    """S-curve sanity on the report itself: at equal rows-per-band, MORE
    bands can only widen the candidate net — so 64/16 (16 bands × 4
    rows) must recall at least as many planted pairs as 32/8 (8 bands ×
    4 rows is a SUBSET of band structure drawn from fewer perms, so we
    assert the weaker but always-true property: candidates(64/16) ≥
    candidates(32/8) is NOT guaranteed, recall ≤ planted_total IS, and
    the stricter 8-row 64/8 config never recalls MORE than 64/16)."""
    rows = {
        (r.num_perm, r.bands): r
        for r in REGISTRY["minhash_band_sweep_report"].fn(spark, SF_SMOKE).collect()
    }
    assert set(rows) == {(32, 8), (64, 16), (64, 8)}
    for r in rows.values():
        assert 0 <= r.n_planted_hit <= r.planted_total
        assert r.n_verified <= r.n_candidates
        assert r.recall_permille == r.n_planted_hit * 1000 // max(r.planted_total, 1)
    assert rows[(64, 8)].n_planted_hit <= rows[(64, 16)].n_planted_hit, (
        "8-row bands are strictly harder to collide than 4-row bands over "
        "the same 64 permutations"
    )


def test_zipf_slope_on_exact_zipf_corpus(spark):
    """A corpus whose type frequencies are EXACTLY f(r) = 840/r has
    ln f = ln 840 − 1·ln r: slope −1, intercept ln 840, r² = 1 (up to
    the 6-dp rounding the report applies).  840 = lcm(1..8), so every
    frequency is an exact integer — a 1000//r corpus would flooring-skew
    the law and the fit (slope −0.9961…, caught in review)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries.llm import zipf_fit_over

    rows = [
        Row(source="z", text=" ".join(f"tok{r:03d}" for _ in range(840 // r)))
        for r in range(1, 9)
    ]
    docs = spark.createDataFrame(rows)
    out = zipf_fit_over(docs).collect()
    assert len(out) == 1
    rep = out[0]
    assert rep["n_types"] == 8
    assert abs(rep["zipf_slope"] - (-1.0)) < 1e-6
    assert abs(rep["zipf_intercept"] - math.log(840.0)) < 1e-6
    assert abs(rep["zipf_r2"] - 1.0) < 1e-6


def test_zipf_degenerate_uniform_frequencies_null_r2(spark):
    """All type frequencies equal (every token unique ⇒ f ≡ 1) makes the
    fit undefined: ln f is constant, so r² is reported NULL — by the
    explicit min(f) = max(f) guard, which is integer-exact on both
    engines, NOT a var_pop() == 0.0 float comparison.  Slope is 0 (the
    flat line is a valid least-squares answer)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries.llm import zipf_fit_over

    docs = spark.createDataFrame([Row(source="u", text="a b c d e f g h")])
    rep = zipf_fit_over(docs).collect()[0]
    assert rep["n_types"] == 8
    assert rep["zipf_slope"] == 0.0
    assert rep["zipf_r2"] is None


def test_zipf_single_type_source_dropped(spark):
    """A source with one distinct type has one (rank, freq) point — no
    regression exists; the report drops it (n_types >= 2) rather than
    emitting engine-dependent NULL-vs-NaN edge values."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries.llm import zipf_fit_over

    docs = spark.createDataFrame(
        [Row(source="one", text="same same same"), Row(source="two", text="x y x")]
    )
    out = {r["source"] for r in zipf_fit_over(docs).collect()}
    assert out == {"two"}
