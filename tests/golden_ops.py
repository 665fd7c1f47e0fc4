"""Golden-row fixtures for the codebook operators (IVF, semantic dedup,
k-means, PQ, ADC, IVF-PQ, RQ) and the deterministic LSH sketch.

The expected rows in ``tests/data/golden_ops.json`` were recorded from
the implementation that still carried an expression twin next to each
Arrow kernel (the per-centroid expression forest at <= 4 IVF lists, the
crossJoin + row_number fallback for ragged or NULL-element codebooks,
and the per-plane ``aggregate(zip_with(...))`` sign-bit sketch).  The
tests assert that the single kernel path reproduces those rows exactly,
so the twins stay deleted without losing the edge semantics they
defined.

Regenerate (only when a deliberate semantic change is made)::

    python tests/golden_ops.py tests/data/golden_ops.json
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import functions as F

GOLDEN_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "golden_ops.json")
SCHEMA = "vec_id long, embedding array<double>"


def _clean(i: int, dim: int = 8) -> list[float]:
    return [((i * 13 + j * 7) % 19 - 9) / 3.0 for j in range(dim)]


def tail_hostile(spark):
    """Clean head (the codebook source), hostile tail: a ragged vector, a
    NULL-element vector, an empty vector and a NULL vector."""
    rows = [(i, _clean(i)) for i in range(30)]
    rows += [
        (90, [1.0, 2.0, 3.0]),
        (91, [0.5, None, 1.5, 2.0, -1.0, 0.25, 3.0, -2.0]),
        (92, []),
        (93, None),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def head_hostile(spark):
    """Hostile head: ids 0-2 (the lowest ids, so codebook rows 0-2) are
    ragged, NULL-element and empty; every other vector is clean."""
    rows = [
        (0, [1.0, 2.0, 3.0]),
        (1, [0.5, None, 1.5, 2.0, -1.0, 0.25, 3.0, -2.0]),
        (2, []),
    ]
    rows += [(i, _clean(i)) for i in range(3, 33)]
    rows.append((93, None))
    return spark.createDataFrame(rows, SCHEMA)


def mid_hostile(spark):
    """Clean codebook rows 0-1, then a NULL-element row (id 2) and a
    9-wide row (id 3) whose first three PQ sub-slices are as wide as a
    clean row's — mixed matrix and zero-scored codebook rows."""
    rows = [(i, _clean(i)) for i in range(2)]
    rows += [
        (2, [0.5, None, 1.5, 2.0, -1.0, 0.25, 3.0, -2.0]),
        (3, [1.0, -2.0, 0.5, 0.0, 2.5, -1.5, 1.0, 0.75, -0.5]),
    ]
    rows += [(i, _clean(i)) for i in range(4, 34)]
    return spark.createDataFrame(rows, SCHEMA)


def small_clean(spark):
    """40 clean vectors in 4 loose clusters plus one NULL vector — the
    corpus for the <= 4-list IVF and semantic-dedup cases."""
    rows = [
        (i, [float((i % 4 == j % 4) * 3) + ((i * 7 + j * 5) % 11 - 5) / 10.0 for j in range(8)])
        for i in range(40)
    ]
    rows.append((40, None))
    return spark.createDataFrame(rows, SCHEMA)


def empty(spark):
    return spark.createDataFrame([], SCHEMA)


def lsh_small(spark):
    """40 small-integer-grid vectors plus one NULL vector (id 99)."""
    rows = [(i, [((i * 7 + j * 3) % 11 - 5) / 4.0 for j in range(8)]) for i in range(40)]
    rows.append((99, None))
    return spark.createDataFrame(rows, "id long, embedding array<double>")


FIXTURES = {
    "tail_hostile": tail_hostile,
    "head_hostile": head_hostile,
    "mid_hostile": mid_hostile,
    "small_clean": small_clean,
    "empty": empty,
    "lsh_small": lsh_small,
}


def _queries(df):
    return df.filter((F.col("vec_id") < 5) | (F.col("vec_id") >= 90))


def _clustering_ops():
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators import clustering as C

    return {
        "kmeans_lloyd": lambda df: C.kmeans_lloyd(df, k=4, n_iters=2),
        "pq_encode": lambda df: C.pq_encode(df, n_subspaces=4, n_codes=4),
        "pq_adc_topk": lambda df: C.pq_adc_topk(df, _queries(df), k=5, n_subspaces=4, n_codes=4),
        "ivfpq_topk": lambda df: C.ivfpq_topk(
            df, _queries(df), k=5, n_centroids=6, nprobe=2, n_subspaces=4, n_codes=4
        ),
        "rq_encode": lambda df: C.rq_encode(df, n_codes1=4, n_codes2=4),
    }


def _ivf_ops():
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators import similarity as S

    return {
        "ivf_topk_det": lambda df: S.ivf_topk_det(df, _queries(df), k=5, n_centroids=3, nprobe=2),
        "semantic_dedup": lambda df: S.semantic_dedup(df, threshold=0.5, n_centroids=3),
    }


def cases() -> dict:
    """{(fixture, op): operator} — the clustering family on the three
    hostile fixtures and the empty corpus, the IVF pair at 3 lists on
    the tail-hostile and clean fixtures."""
    out = {}
    for fx in ("tail_hostile", "head_hostile", "mid_hostile", "empty"):
        for op, fn in _clustering_ops().items():
            out[(fx, op)] = fn
    for fx in ("tail_hostile", "small_clean"):
        for op, fn in _ivf_ops().items():
            out[(fx, op)] = fn
    return out


def lsh_sketches(df):
    """(id, t, sk) bucket placement of ``lsh_topk_det``'s ``sketched``:
    every table's sketch from ``quantized_sketches_all``, a NULL vector
    at sketch 0 in every table."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators import similarity as S

    tables = S.neardup_lsh_planes(dim=8, n_planes=5, n_tables=3, seed=13)
    zeros = F.array(*[F.lit(0).cast("long") for _ in tables])
    return df.select("id", S.quantized("embedding").alias("qv")).select(
        "id",
        F.posexplode(F.coalesce(S.quantized_sketches_all("qv", tables), zeros)).alias("t", "sk"),
    )


#: {(fixture, op): operator} for the LSH sketch, kept out of ``cases()``
#: whose entries the codebook tests parametrize over
SKETCH_CASES = {("lsh_small", "lsh_sketches"): lsh_sketches}


def case_id(fixture: str, op: str) -> str:
    return f"{fixture}/{op}"


def rows_of(df) -> list[list]:
    """Output rows as JSON-comparable lists, in a canonical order."""
    rows = [[r[c] for c in df.columns] for r in df.collect()]
    return sorted(rows, key=lambda r: json.dumps(r))


def load_golden() -> dict:
    with open(GOLDEN_PATH) as f:
        return json.load(f)


def main(out_path: str) -> int:
    from amazon_kinesis_data_analytics_flinktableapi_spark.engine import build_spark

    spark = build_spark(app_name="golden_ops", master="local[2]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    golden = {}
    for (fx, op), fn in {**cases(), **SKETCH_CASES}.items():
        df = fn(FIXTURES[fx](spark))
        golden[case_id(fx, op)] = {"columns": df.columns, "rows": rows_of(df)}
        print(f"{case_id(fx, op)}: {len(golden[case_id(fx, op)]['rows'])} rows")
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    raise SystemExit(main(sys.argv[1] if len(sys.argv) > 1 else GOLDEN_PATH))
