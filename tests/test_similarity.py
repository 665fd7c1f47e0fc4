"""Similarity-search operator tests: brute-force exactness, LSH/IVF recall,
NULL tolerance and golden rows for the IVF pair."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, IntegerType, LongType, StructField, StructType

from amazon_kinesis_data_analytics_flinktableapi_spark.operators import similarity as S
from tests import golden_ops

DIM = 16
SCHEMA = StructType([StructField("vec_id", LongType()), StructField("embedding", ArrayType(FloatType()))])


def make_clustered_vectors(spark):
    """10 well-separated cluster centers, 20 points each: near-neighbours
    are *within* a cluster — the regime LSH is built for.  Shared with
    tests/test_quality_gates.py (the 8×16 recall gate runs on BOTH this
    close-pair fixture and the borderline sf0.001 corpus)."""
    rng = np.random.RandomState(42)
    centers = rng.randn(10, DIM) * 4
    rows = []
    for i in range(200):
        c = centers[i % 10]
        rows.append((i, [float(x) for x in c + rng.randn(DIM) * 0.3]))
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture(scope="module")
def vectors(spark):
    return make_clustered_vectors(spark)


def brute_py(rows: list[tuple[int, list[float]]], qid: int, k: int) -> list[int]:
    q = np.array(dict(rows)[qid])
    sims = []
    for cid, v in rows:
        if cid == qid:
            continue
        v = np.array(v)
        sims.append((float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v))), -cid, cid))
    sims.sort(reverse=True)
    return [cid for _, _, cid in sims[:k]]


def test_brute_topk_matches_numpy(vectors):
    rows = [(r.vec_id, r.embedding) for r in vectors.collect()]
    out = S.brute_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=5)
    got = [r.c_id for r in out.orderBy("rn").collect()]
    assert got == brute_py(rows, 0, 5)


def test_brute_topk_cosine_values(vectors):
    out = S.brute_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=5).collect()
    rows = dict((r.vec_id, np.array(r.embedding)) for r in vectors.collect())
    for r in out:
        q, c = rows[0], rows[r.c_id]
        expect = float(q @ c / (np.linalg.norm(q) * np.linalg.norm(c)))
        assert math.isclose(r.cos_sim, expect, abs_tol=1e-5)


def test_neardup_pairs_threshold(vectors):
    out = S.neardup_pairs(vectors, threshold=0.9, id_col="vec_id", vec_col="embedding")
    rows = dict((r.vec_id, np.array(r.embedding)) for r in vectors.collect())
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert len(got) > 0
    for a, b in got:
        va, vb = rows[a], rows[b]
        assert va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)) >= 0.9 - 1e-9
        assert a < b


def test_neardup_pairs_lsh_recall_and_precision(vectors):
    # the scale path: every pair it reports must be exact-verified (precision
    # 1.0 vs the brute baseline), recall pinned on the clustered fixture
    exact = {(r.id_a, r.id_b) for r in S.neardup_pairs(vectors, threshold=0.9).collect()}
    lsh_out = S.neardup_pairs_lsh(vectors, threshold=0.9, dim=DIM, n_planes=6, n_tables=8)
    lsh = {(r.id_a, r.id_b) for r in lsh_out.collect()}
    assert lsh <= exact, "LSH reported a pair the exact verifier should have rejected"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.7, f"LSH near-dup recall too low: {recall}"


def test_neardup_pairs_lsh_wide_shape_recall(vectors):
    """The embedding_neardup_wide driver shape (8 planes × 16 tables): on
    the clustered fixture intra-cluster angles are tiny, so even the
    deeper 8-bit sketches keep near-perfect recall — pins the bit-packing
    algebra at a second width (VERDICT r6 #5)."""
    exact = {(r.id_a, r.id_b) for r in S.neardup_pairs(vectors, threshold=0.9).collect()}
    lsh_out = S.neardup_pairs_lsh(vectors, threshold=0.9, dim=DIM, n_planes=8, n_tables=16)
    lsh = {(r.id_a, r.id_b) for r in lsh_out.collect()}
    assert lsh <= exact, "wide-shape LSH reported a pair exact verify should reject"
    assert len(lsh & exact) / len(exact) >= 0.9


def test_neardup_pairs_lsh_no_nested_loop(vectors):
    # the whole point of the bucketed path: candidate generation is an
    # equi-join on (table, sketch) — no cartesian/nested-loop join anywhere
    plan = S.neardup_pairs_lsh(vectors, threshold=0.9, dim=DIM)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_lsh_topk_det_recall_and_values(vectors):
    """The deterministic (oracle-checkable) LSH variant: candidate top-k
    values are exact cosines, recall vs brute force holds on clustered
    data, and repeated runs are bit-identical."""
    queries = vectors.filter(F.col("vec_id") < 10)
    brute = S.brute_topk(vectors, queries, k=10)
    det = S.lsh_topk_det(vectors, queries, k=10, dim=DIM, n_planes=6, n_tables=8)
    b = {(r.q_id, r.c_id) for r in brute.collect()}
    d1 = {(r.q_id, r.c_id, r.cos_sim, r.rn) for r in det.collect()}
    d2 = {(r.q_id, r.c_id, r.cos_sim, r.rn) for r in S.lsh_topk_det(
        vectors, queries, k=10, dim=DIM, n_planes=6, n_tables=8).collect()}
    assert d1 == d2, "deterministic variant must be run-to-run identical"
    hits = {(q, c) for q, c, _, _ in d1}
    assert len(hits & b) / len(b) >= 0.6
    # every reported cosine must be the exact value (verified, not sketched)
    rows = dict((r.vec_id, np.array(r.embedding)) for r in vectors.collect())
    for q, c, sim, _rn in list(d1)[:20]:
        expect = float(rows[q] @ rows[c] / (np.linalg.norm(rows[q]) * np.linalg.norm(rows[c])))
        assert math.isclose(sim, expect, abs_tol=1e-5)


def test_ivf_topk_det_deterministic_and_exact_within_probes(vectors):
    """The deterministic IVF variant: run-to-run identical, and reported
    neighbours are exact cosines drawn from the probed lists."""
    queries = vectors.filter(F.col("vec_id") == 0)
    a = [(r.q_id, r.c_id, r.cos_sim, r.rn) for r in S.ivf_topk_det(
        vectors, queries, k=5, n_centroids=10, nprobe=3).orderBy("rn").collect()]
    b = [(r.q_id, r.c_id, r.cos_sim, r.rn) for r in S.ivf_topk_det(
        vectors, queries, k=5, n_centroids=10, nprobe=3).orderBy("rn").collect()]
    assert a == b
    assert len(a) == 5
    rows = dict((r.vec_id, np.array(r.embedding)) for r in vectors.collect())
    for q, c, sim, _rn in a:
        expect = float(rows[q] @ rows[c] / (np.linalg.norm(rows[q]) * np.linalg.norm(rows[c])))
        assert math.isclose(sim, expect, abs_tol=1e-5)


def test_ivf_topk_det_recall(vectors):
    queries = vectors.filter(F.col("vec_id") < 10)
    brute = S.brute_topk(vectors, queries, k=10)
    det = S.ivf_topk_det(vectors, queries, k=10, n_centroids=10, nprobe=3)
    b = {(r.q_id, r.c_id) for r in brute.collect()}
    d = {(r.q_id, r.c_id) for r in det.collect()}
    assert len(d & b) / len(b) >= 0.5  # lowest-id centroids trade recall for determinism


def test_semantic_dedup_invariants(spark):
    """After pruning, no two kept vectors in the same cluster are near-
    duplicates, and every dropped vector has a smaller-id kept-or-dropped
    near-duplicate justifying the drop; the result is deterministic."""
    from pyspark.sql import functions as F

    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.similarity import cosine, semantic_dedup
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_table
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    kept = semantic_dedup(emb, threshold=0.35, n_centroids=8)
    k = kept.cache()
    n_kept, n_all = k.count(), emb.count()
    assert 0 < n_kept <= n_all
    # no surviving intra-cluster pair at/above the threshold
    ka = k.join(emb, "vec_id").select(
        F.col("vec_id").alias("id_a"), F.col("cluster"), F.col("embedding").alias("ea")
    )
    kb = ka.select(
        F.col("id_a").alias("id_b"), F.col("cluster"), F.col("ea").alias("eb")
    )
    offenders = (
        ka.join(kb, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine("ea", "eb") >= 0.35)
    )
    assert offenders.count() == 0
    # deterministic: a second run returns the identical kept set
    again = semantic_dedup(emb, threshold=0.35, n_centroids=8)
    assert sorted(r.vec_id for r in k.collect()) == sorted(r.vec_id for r in again.collect())


def test_lsh_plane_count_bounded():
    """Sketches bit-pack one bit per plane into an int64 — 63+ planes
    would wrap the shift silently and alias distinct buckets."""
    import pytest

    with pytest.raises(ValueError, match="n_planes"):
        S.neardup_lsh_planes(n_planes=63)
    with pytest.raises(ValueError, match="n_planes"):
        S.neardup_lsh_planes(n_planes=0)
    with pytest.raises(ValueError, match="n_tables"):
        S.neardup_lsh_planes(n_tables=0)
    assert len(S.neardup_lsh_planes(n_planes=62, n_tables=1)[0]) == 62


def test_lsh_neardup_tolerates_null_embeddings(spark):
    """Review fix: a NULL embedding must yield a NULL sketch (the HOF
    form's semantics) instead of np.stack killing the whole task."""
    import pyspark.sql.functions as F

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(40)
    with_null = base.select(
        "vec_id",
        F.when(F.col("vec_id") % 17 == 0, F.lit(None)).otherwise(F.col("embedding")).alias("embedding"),
        "label",
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.similarity import neardup_pairs_lsh

    # must complete; NULL-embedding rows simply generate no candidates
    assert neardup_pairs_lsh(with_null, threshold=0.3).count() >= 0


# ---------------------------------------------------------------- auto-sizing


def test_auto_sizing_rules():
    """The documented growth rules, now computed (VERDICT r12 #6)."""
    # log2(n / 4096) clamped to [4, 24]
    assert S.auto_n_planes(0) == 4
    assert S.auto_n_planes(2_000) == 4           # fixture scale -> lo clamp
    assert S.auto_n_planes(4096 * 2**10) == 10
    assert S.auto_n_planes(10**9) == 18          # the docstring's example
    assert S.auto_n_planes(10**12) == 24         # hi clamp
    # sqrt(n) clamped to [16, 4096]
    assert S.auto_n_centroids(0) == 16
    assert S.auto_n_centroids(200) == 16         # lo clamp
    assert S.auto_n_centroids(1_000_000) == 1000
    assert S.auto_n_centroids(10**9) == 4096     # hi clamp
    # monotone non-decreasing in n (spot grid)
    for fn in (S.auto_n_planes, S.auto_n_centroids):
        vals = [fn(n) for n in (10, 10**3, 10**5, 10**7, 10**9, 10**11)]
        assert vals == sorted(vals), (fn.__name__, vals)


def test_auto_nprobe_rule_two_corpus_sizes():
    """VERDICT r13 #1: default nprobe scales with sqrt(lists), pinned at
    the two measured SCALING.md corpus sizes (sf0.1 -> 45 lists, derived
    sf1 -> 90) plus the clamps.  The probed FRACTION sqrt(l)/l decays
    only as 1/sqrt(l) instead of 1/l, which is what holds recall ~flat
    per decade at auto settings."""
    assert S.auto_nprobe(16) == 4          # lo clamp == fixture default
    assert S.auto_nprobe(45) == 7          # sf0.1 auto index
    assert S.auto_nprobe(90) == 10         # sf1 auto index
    assert S.auto_nprobe(4096) == 64       # hi auto-list cap
    assert S.auto_nprobe(1) == 1           # never probes more lists than exist
    assert S.auto_nprobe(3) == 3
    # monotone non-decreasing in lists
    vals = [S.auto_nprobe(n) for n in (1, 4, 16, 64, 256, 1024, 4096)]
    assert vals == sorted(vals)


def test_matrix_kernels_empty_batch_and_nulls():
    """ADVICE r13: an empty Arrow batch made the None-mask comprehension
    infer dtype float64, so `~mask` raised TypeError inside the task.
    The kernels are module-level — pin empty, all-NULL, and mixed
    batches directly.  Rows that are not clean centroid-wide vectors
    (NULL, ragged, NULL element) take the smallest id(s)."""
    cents = np.array([[1, 0], [0, 1]], dtype=np.int64)
    ids = np.array([7, 9], dtype=np.int64)
    empty = np.array([], dtype=object)
    assert list(S._assign_kernel(empty, cents, ids)) == []
    assert list(S._probes_kernel(empty, cents, 2, ids)) == []
    allnull = np.array([None, None], dtype=object)
    assert list(S._assign_kernel(allnull, cents, ids)) == [7, 7]
    probed = S._probes_kernel(allnull, cents, 2, ids)
    assert [list(p) for p in probed] == [[7, 9], [7, 9]]
    mixed = np.array(
        [None, np.array([1, 2]), np.array([5]), np.array([np.nan, 3.0])], dtype=object
    )
    assert list(S._assign_kernel(mixed, cents, ids)) == [7, 9, 7, 7]
    assert [list(p) for p in S._probes_kernel(mixed, cents, 1, ids)] == [[7], [9], [7], [7]]


def _make_clusters(spark, n, seed):
    """Clustered corpus of size n (n//20 clusters x 20 points)."""
    rng = np.random.RandomState(seed)
    centers = rng.randn(max(n // 20, 1), DIM) * 4
    rows = [
        (i, [float(x) for x in centers[i % len(centers)] + rng.randn(DIM) * 0.3])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_pq_adc_autosized_recall_two_corpus_sizes(spark):
    """PQ twin of the IVF pin above (VERDICT r14 #5): ADC top-k recall
    at the registry's default codebook sizing (n_subspaces=4, n_codes=8)
    pinned at two corpus sizes.  Unlike IVF — whose probe budget must
    grow with the list count — a PQ codebook's distortion tracks the
    DATA DISTRIBUTION, not the corpus size: quantization error per
    sub-vector depends on how well n_codes entries cover the subspace,
    and adding more vectors drawn from the same clusters changes
    nothing.  So the scale rule for PQ is 'hold codebook size, recall
    holds'; this pins it (floor at both sizes AND drift between the two
    sizes bounded) so a regression in codebook init or sub-slicing
    surfaces as a recall cliff here."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.clustering import pq_adc_topk

    recalls = {}
    for n in (200, 800):
        vectors = _make_clusters(spark, n, seed=13)
        queries = vectors.filter(F.col("vec_id") < 10)
        brute = {(r.q_id, r.c_id) for r in S.brute_topk(vectors, queries, k=10).collect()}
        adc = {
            (r.q_id, r.c_id)
            for r in pq_adc_topk(vectors, queries, k=10).collect()
        }
        recalls[n] = len(adc & brute) / len(brute)
        assert recalls[n] >= 0.5, f"default-codebook ADC recall floor at n={n}"
    assert abs(recalls[200] - recalls[800]) <= 0.15, (
        f"ADC recall drifted across the 4x corpus growth: {recalls}"
    )


def test_ann_int8_topk_overlap_vs_exact_dot(spark):
    """Quantization-quality pin for the int8 search (r15): per-vector
    max-abs int8 codes must preserve the exact-double-dot top-10 almost
    entirely on the smoke corpus (measured 1.0 overlap on all 5 probe
    queries at add time; floor 0.8 leaves room for fixture regeneration).
    The SQL oracle proves both ENGINES agree; this proves the integer
    SURROGATE agrees with the float ranking it approximates."""
    import numpy as np
    import pyarrow.parquet as papq

    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY
    from tests.conftest import SF_SMOKE

    t = papq.read_table(f"{SF_SMOKE}/embeddings.parquet").to_pandas()
    vecs = {
        int(r.vec_id): np.asarray(list(r.embedding), dtype=np.float64)
        for r in t.itertuples()
        if r.embedding is not None and np.all(np.isfinite(list(r.embedding)))
    }
    rows = REGISTRY["ann_int8_topk"].fn(spark, SF_SMOKE).collect()
    got: dict[int, set[int]] = {}
    for r in rows:
        got.setdefault(r.q_id, set()).add(r.c_id)
    assert got, "int8 search returned nothing"
    for q, cand in got.items():
        scores = sorted(
            ((vecs[q] @ v, c) for c, v in vecs.items() if c != q),
            key=lambda s: (-s[0], s[1]),
        )
        exact = {c for _, c in scores[:10]}
        assert len(cand & exact) / len(exact) >= 0.8, f"int8 top-10 drifted for q={q}"



def _vectors_with_null(spark, n=120, dim=8):
    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randn(dim)]) for i in range(n)]
    rows.append((n, None))  # the hostile row
    return spark.createDataFrame(rows, SCHEMA)


def test_matrix_path_tolerates_null_embeddings(spark):
    """np.stack over a batch containing None once killed the task.  NULL
    rows must land in the smallest-id list — query completes, the NULL
    id never appears as a neighbour, and in semantic_dedup the NULL row
    survives in cluster 0 (it can never join a candidate pair)."""
    vecs = _vectors_with_null(spark)
    queries = vecs.filter(F.col("vec_id") < 3)
    out = S.ivf_topk_det(vecs, queries, k=5, n_centroids=12, nprobe=3).collect()
    assert out and all(r.c_id != 120 and r.q_id != 120 for r in out)
    kept = sorted((r.vec_id, r.cluster) for r in
                  S.semantic_dedup(vecs, threshold=0.99, n_centroids=12).collect())
    assert (120, 0) in kept


_IVF_GOLDEN = [c for c in golden_ops.cases() if c[1] in ("ivf_topk_det", "semantic_dedup")]


@pytest.mark.parametrize("fixture,op", _IVF_GOLDEN, ids=[golden_ops.case_id(*c) for c in _IVF_GOLDEN])
def test_ivf_golden_rows(spark, fixture, op):
    """The single matrix path reproduces the rows the per-centroid
    expression forest produced at 3 lists — on a clean corpus with a
    NULL vector, and on a tail carrying ragged, NULL-element, empty and
    NULL vectors (tests/golden_ops.py)."""
    df = golden_ops.cases()[(fixture, op)](golden_ops.FIXTURES[fixture](spark))
    want = golden_ops.load_golden()[golden_ops.case_id(fixture, op)]
    assert df.columns == want["columns"]
    assert golden_ops.rows_of(df) == want["rows"]


def test_lsh_sketch_golden_rows(spark):
    """``lsh_topk_det``'s (id, t, sk) bucket placement — one Arrow matmul
    per batch (``quantized_sketches_all`` + posexplode) — reproduces the
    rows the per-plane interpreted sketch expression produced, for every
    row INCLUDING a NULL vector, which that expression bucketed at sketch
    0 per table (posexplode of a NULL array would instead drop the row —
    the coalesce in ``sketched`` preserves the placement)."""
    fx, op = "lsh_small", "lsh_sketches"
    df = golden_ops.SKETCH_CASES[(fx, op)](golden_ops.FIXTURES[fx](spark))
    want = golden_ops.load_golden()[golden_ops.case_id(fx, op)]
    got = golden_ops.rows_of(df)
    assert df.columns == want["columns"]
    assert got == want["rows"]
    assert [99, 0, 0] in got  # the NULL row kept its sketch-0 placement


def test_empty_corpus_gives_empty_result(spark):
    """Empty in → empty out for every codebook operator: the IVF pair once
    crashed building its centroid table from zero rows."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators import clustering as C

    df = golden_ops.empty(spark)
    q = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], golden_ops.SCHEMA)
    ops = {
        "ivf_topk_det": lambda: S.ivf_topk_det(df, q, k=5, n_centroids=3, nprobe=2),
        "semantic_dedup": lambda: S.semantic_dedup(df, n_centroids=3),
        "kmeans_lloyd": lambda: C.kmeans_lloyd(df, k=3),
        "pq_encode": lambda: C.pq_encode(df, n_subspaces=2, n_codes=3),
        "pq_adc_topk": lambda: C.pq_adc_topk(df, q, k=5, n_subspaces=2, n_codes=3),
        "ivfpq_topk": lambda: C.ivfpq_topk(df, q, k=5, n_centroids=3, nprobe=2, n_subspaces=2, n_codes=3),
        "rq_encode": lambda: C.rq_encode(df, n_codes1=3, n_codes2=3),
    }
    for name, fn in ops.items():
        assert fn().collect() == [], name
