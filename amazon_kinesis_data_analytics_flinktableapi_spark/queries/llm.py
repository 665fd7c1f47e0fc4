"""LLM-training-data pipeline queries (driver extension surface): dedup,
similarity search, text analysis, multimodal — over the ``documents`` and
``embeddings`` tables.

The corpus has no planted duplicates (verified: zero repeated texts), so
dedup queries synthesize them *deterministically in-query* — union the
originals with mangled copies (id + 1_000_000: identical text for exact
dedup, token-resorted text for fingerprint dedup, 80%-prefix text for
near-dup) — making every operator's match set non-degenerate and
oracle-checkable.

DuckDB token expression mirrors functions.text.tokens exactly:
``list_filter(string_split_regex(trim(text, ' '), '[ \t\n\x0b\f\r]+'), t -> t <> '')``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_kinesis_data_analytics_flinktableapi_spark.functions import text as T
from amazon_kinesis_data_analytics_flinktableapi_spark.operators import dedup as D
from amazon_kinesis_data_analytics_flinktableapi_spark.operators import multimodal as M
from amazon_kinesis_data_analytics_flinktableapi_spark.operators import similarity as S
from amazon_kinesis_data_analytics_flinktableapi_spark.queries import DUCK_TOKS, load, nse_oracle, query
from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import (
    finite_embedding,  # noqa: F401 — module attribute is tools/ab_nonfinite.py's patch point
    swallow_malformed_embeddings,
)

_DUCK_TOKS = DUCK_TOKS  # shared canonical twin (r14 unicode audit)

COPY_OFFSET = 1_000_000


def _docs_with_exact_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one scan, exploded into (original, copy) — a union of two selects
    # would read the parquet twice
    (docs,) = load(spark, sf_dir, "documents")
    return docs.select(
        F.explode(F.array(F.lit(0), F.lit(COPY_OFFSET))).alias("__off"),
        "doc_id",
        "text",
        "n_chars",
    ).select((F.col("doc_id") + F.col("__off")).alias("doc_id"), "text", "n_chars")


@query(
    "dedup_exact",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text, n_chars FROM documents
      UNION ALL
      SELECT doc_id + {COPY_OFFSET}, text, n_chars FROM documents
    ),
    surv AS (SELECT md5(text) AS k, min(doc_id) AS doc_id FROM corpus GROUP BY md5(text))
    SELECT c.doc_id, c.n_chars FROM corpus c JOIN surv s ON c.doc_id = s.doc_id
    """,
    headline=True,
    doc="exact dedup: hash-groupBy on md5(text), keep min doc_id (copies planted in-query)",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hash first, then dedup on the precomputed 16-byte key: the shuffle
    # carries (doc_id, n_chars, key) — never the text payload
    corpus = _docs_with_exact_copies(spark, sf_dir)
    keyed = corpus.select("doc_id", "n_chars", F.md5("text").alias("content_key"))
    return D.dedup_exact(keyed, "doc_id", key=["content_key"]).select("doc_id", "n_chars")


@query(
    "dedup_fingerprint",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents),
    -- NULL text stays NULL, empty token set becomes '' (DuckDB's
    -- array_to_string returns NULL for BOTH, Spark's concat_ws returns ''
    -- for both — each engine needs one side pinned)
    corpus AS (
      SELECT doc_id,
             CASE WHEN tk IS NULL THEN NULL
                  ELSE coalesce(array_to_string(tk, ' '), '') END AS text
      FROM toks
      UNION ALL
      SELECT doc_id + {COPY_OFFSET},
             CASE WHEN tk IS NULL THEN NULL
                  ELSE coalesce(array_to_string(list_sort(tk, 'DESC'), ' '), '') END
      FROM toks
    ),
    fp AS (
      SELECT doc_id,
             CASE WHEN {_DUCK_TOKS} IS NULL THEN NULL
                  ELSE md5(coalesce(array_to_string(
                         list_sort(list_distinct({_DUCK_TOKS})), ' '), '')) END
               AS fingerprint
      FROM corpus
    )
    SELECT min(doc_id) AS doc_id, fingerprint FROM fp GROUP BY fingerprint
    """,
    doc="order-invariant dedup: md5 over sorted distinct token set catches token-shuffled copies",
)
def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    # concat_ws SKIPS null arguments (never returns NULL) — unguarded, a
    # NULL document would re-enter the corpus as '' and collide with every
    # genuinely empty document, exactly the trap functions.text.fingerprint
    # guards against; keep NULL text NULL through the corpus too
    base = docs.select(
        "doc_id", F.when(toks.isNotNull(), F.concat_ws(" ", toks)).alias("text")
    )
    shuffled = docs.select(
        (F.col("doc_id") + COPY_OFFSET).alias("doc_id"),
        F.when(toks.isNotNull(), F.concat_ws(" ", F.sort_array(toks, asc=False))).alias("text"),
    )
    corpus = base.union(shuffled)
    return (
        corpus.select("doc_id", T.fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "fingerprint")
    )


#: (corpus DataFrame) per (session id, sf_dir, data mtime) — see
#: _docs_with_neardup_copies
_NEARDUP_CORPUS_CACHE: dict[tuple[int, str, int], DataFrame] = {}


def _docs_mtime_ns(sf_dir: str) -> int:
    """mtime of the documents table, part of the memo key: a regenerated
    sf_dir must not serve a corpus built over the OLD parquet's file
    index (ADVICE r11).

    When the single-file stat fails (directory-style parquet write,
    rename), fall back to the sf_dir's own mtime — which still changes
    on regeneration — instead of a constant 0 that would collapse every
    session's key and silently disable the staleness protection
    (ADVICE r12); a one-time warning makes the degraded mode visible."""
    import os
    import warnings

    target = os.path.join(sf_dir, "documents.parquet")
    try:
        return os.stat(target).st_mtime_ns
    except OSError:
        try:
            fallback = os.stat(sf_dir).st_mtime_ns
        except OSError:
            fallback = 0
        if target not in _MTIME_WARNED:
            _MTIME_WARNED.add(target)
            warnings.warn(
                f"could not stat {target}; near-dup corpus memo key falls "
                f"back to the sf_dir mtime ({fallback}) — staleness detection "
                "is coarser until the file is restored",
                stacklevel=2,
            )
        return fallback


#: one-time-warning latch for _docs_mtime_ns fallbacks (per target path)
_MTIME_WARNED: set[str] = set()


#: memo size bound: liveness probing cannot be fully trusted (private
#: APIs; a Connect session has no _jsc), so the cache is ALSO hard-capped
#: — oldest-inserted entries evict (with unpersist) past this many
_CORPUS_CACHE_MAX = 8


def _evict_corpus_entry(key) -> None:
    df = _NEARDUP_CORPUS_CACHE.pop(key, None)
    if df is not None:
        try:
            # drop the cached blocks AND the CacheManager registration so
            # a later identical plan (same rootPath after an in-place data
            # regeneration) cannot be served the stale materialization
            df.unpersist()
        except Exception:
            pass  # session already torn down — nothing to free


def _purge_dead_corpus_entries() -> None:
    """Drop memo entries bound to positively-stopped sessions so the
    cache cannot grow without bound across session restarts (ADVICE r11:
    entries for stopped sessions pinned their SparkSession forever).
    Called on every memo MISS — misses are rare (once per session per
    sf_dir), so the per-entry liveness probe is off the hot path.

    An entry whose introspection RAISES is kept (evicting live entries
    on, e.g., a Connect session without ``_jsc`` would churn rebuilds);
    the ``_CORPUS_CACHE_MAX`` cap bounds the cache even when liveness
    can't be determined."""
    for k in list(_NEARDUP_CORPUS_CACHE):
        df = _NEARDUP_CORPUS_CACHE.get(k)
        try:
            stopped = df.sparkSession._sc._jsc.sc().isStopped()
        except Exception:  # introspection unavailable — not proof of death
            continue
        if stopped:
            _evict_corpus_entry(k)


def _docs_with_neardup_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Originals ∪ 80%-character-prefix copies (shingle Jaccard vs the
    original ≈ 0.75).  Character (not token) truncation keeps the copy a
    single cheap substr — a nested tokenize-slice-rejoin here gets inlined
    by Catalyst into every downstream reference of the text column and
    dominated the whole near-dup pipeline's runtime.

    Memoized per (session, sf_dir): nine registry queries build this
    corpus, and without reuse each one re-caches its own copy — the
    driver's 50-query gate paid the build ~6× per run and a long-lived
    session leaked one cached RDD per invocation.  The cache entry is
    only reused when it still belongs to the SAME live session
    (``df.sparkSession is spark`` guards both id() reuse after gc and a
    stopped-and-replaced session) over the SAME data files (mtime in the
    key — a regenerated sf_dir must not serve the old file index).

    clearCache() hazard (VERDICT r11 #1, the neardup_jaccard +134% bench
    regression): ``spark.catalog.clearCache()`` does NOT merely drop the
    cached blocks — it UNREGISTERS the plan from the CacheManager, so a
    memo hit after clearCache recomputed the corpus at each of its ~3
    downstream plan references and never re-cached (measured at sf0.1:
    3.4 s vs 2.2 s for neardup_jaccard; the bench clearCaches before
    every timed run, so every driver bench sample paid it).  A hit whose
    storage level has dropped to NONE therefore re-registers with
    ``.cache()`` before being returned."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.dedup import spread

    key = (id(spark), sf_dir, _docs_mtime_ns(sf_dir))
    hit = _NEARDUP_CORPUS_CACHE.get(key)
    if hit is not None and hit.sparkSession is spark:
        sl = hit.storageLevel
        if not (sl.useMemory or sl.useDisk):
            hit.cache()  # clearCache() unregistered the plan; re-register
        return hit
    # stale-mtime eviction BEFORE rebuilding: the superseded entry's plan
    # is still registered in the CacheManager, and the rebuilt plan is the
    # same canonicalized tree over the same rootPath (InMemoryFileIndex
    # equality is path-based), so cache substitution would serve the OLD
    # materialized blocks to the new plan — the exact stale-file-index
    # hazard the mtime key exists to close.  Unpersisting the old entry
    # removes both the blocks and the registration.
    for k in list(_NEARDUP_CORPUS_CACHE):
        if k[0] == id(spark) and k[1] == sf_dir and k != key:
            _evict_corpus_entry(k)
    _purge_dead_corpus_entries()

    (docs,) = load(spark, sf_dir, "documents")
    # one scan, exploded into (original, 80%-prefix copy) — a union of two
    # selects reads the parquet twice
    exploded = docs.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("off"), F.col("text").alias("text")),
                F.struct(
                    F.lit(COPY_OFFSET).alias("off"),
                    F.col("text")
                    .substr(F.lit(1), F.floor(F.length("text") * 0.8).cast("int"))
                    .alias("text"),
                ),
            )
        ).alias("e"),
    ).select((F.col("doc_id") + F.col("e.off")).alias("doc_id"), F.col("e.text").alias("text"))
    # spread-then-cache: the downstream tokenize expression is referenced
    # 3× and Catalyst re-inlines (re-reads) the whole corpus plan at each
    # reference; materializing the small synthetic corpus once cuts the
    # near-dup pipeline ~40%, and repartitioning BEFORE the cache makes
    # every cached-read fan out without a per-use shuffle.  (At real scale
    # the equivalent is persisting the tokenized intermediate.)
    out = spread(exploded).cache()
    _NEARDUP_CORPUS_CACHE[key] = out
    while len(_NEARDUP_CORPUS_CACHE) > _CORPUS_CACHE_MAX:
        # FIFO cap (dict preserves insertion order): bounds the cache even
        # when session liveness can't be probed
        _evict_corpus_entry(next(iter(_NEARDUP_CORPUS_CACHE)))
    return out


_DUCK_NEARDUP_CORPUS = f"""
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {COPY_OFFSET},
             substr(text, 1, CAST(FLOOR(length(text) * 0.8) AS INT))
      FROM documents
    )
"""


@query(
    "containment_neardup",
    oracle=f"""
    WITH {_DUCK_NEARDUP_CORPUS},
    toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM corpus),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(tk) >= 3
               THEN list_transform(range(1, len(tk) - 1),
                                   i -> array_to_string(list_slice(tk, i, i + 2), ' '))
               ELSE [] END) AS shingles
      FROM toks
    ),
    sh2 AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh2),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh2)
    SELECT id_a, id_b,
           floor(shared * 1.0 / sa.n * 10000 + 0.5) / 10000 AS containment_a,
           floor(shared * 1.0 / sb.n * 10000 + 0.5) / 10000 AS containment_b
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE greatest(shared * 1.0 / sa.n, shared * 1.0 / sb.n) >= 0.9
    """,
    doc="asymmetric n-gram containment pairs (|A∩B|/|A|): the excerpt/quote "
    "detector — an excerpt has jaccard ≈ its length share (invisible to "
    "symmetric thresholds) but containment ≈ 1.0 in the small→large "
    "direction; same inverted-index plan as neardup_jaccard",
)
def q_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _docs_with_neardup_copies(spark, sf_dir)
    return D.containment_pairs(corpus, "doc_id", "text", n=3, threshold=0.9)


@query(
    "prefix_filter_setjoin",
    oracle=f"""
    WITH {_DUCK_NEARDUP_CORPUS},
    samp AS (
      SELECT doc_id, text FROM corpus
      WHERE doc_id % 10 = 0 AND text IS NOT NULL
    ),
    toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM samp),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(tk) >= 3
               THEN list_transform(range(1, len(tk) - 1),
                                   i -> array_to_string(list_slice(tk, i, i + 2), ' '))
               ELSE [] END) AS shingles
      FROM toks
    ),
    nz AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh WHERE len(shingles) > 0),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM nz),
    pairs AS (
      -- the UNPRUNED exact inverted index: every co-shingle pair.  The
      -- Spark side prunes candidates with the PPJoin prefix filter; the
      -- theorem says pruning is LOSSLESS at the threshold, so the final
      -- thresholded outputs must be identical — the oracle certifies the
      -- optimization, not just the arithmetic.
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           shared * 1.0 / (sa.n + sb.n - shared) AS jaccard
    FROM pairs
    JOIN nz sa ON pairs.id_a = sa.doc_id
    JOIN nz sb ON pairs.id_b = sb.doc_id
    WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.6
    """,
    doc="PPJoin-style prefix-filtered set-similarity self-join (shingle "
    "Jaccard >= 0.6): rarest-first canonical order, prefix + length "
    "filters prune candidates LOSSLESSLY; oracle is the unpruned exact "
    "inverted index, so the hash compare proves the pruning sound",
)
def q_prefix_filter_setjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered set-similarity join (the PPJoin family: Chaudhuri
    et al. SSJoin / Xiao et al. PPJoin — public literature), the scale
    path for exact-threshold Jaccard when a full inverted index is too
    hot: each doc's shingles are sorted by a canonical global order
    (ascending document frequency, rarest first, ties by value) and only
    the first ``n - ceil(tau*n) + 1`` shingles generate join candidates —
    any pair with Jaccard >= tau must share a prefix token under ANY
    consistent global order, so the pruning loses nothing while hot
    (frequent) shingles never enter the candidate join.  A length filter
    (``tau*max(|a|,|b|) <= min(|a|,|b|)``) prunes further before the
    exact verify.

    Plan at 100 TB: four equi-shuffles, no broadcast needed — df
    aggregate on shingle, df-join back + per-doc rebuild (groupBy
    doc_id), candidate self-join on PREFIX shingles only (the hot-key
    exposure is the rarest ~40% of each doc's shingles — exactly the
    LOW-df keys), then the verify join on doc ids over candidates only.
    Contrast with ``neardup_jaccard``'s max_df cap: the cap DROPS hot
    shingles (recall argued empirically), the prefix filter never
    consults them yet stays provably exact.

    The corpus is the shared near-dup fixture sampled at doc_id % 10 = 0
    (COPY_OFFSET is a multiple of 10, so original+copy pairs survive the
    sample): the UNPRUNED oracle is quadratic in co-shingle pairs, and
    the sample keeps its cost bounded at replica SFs while exercising
    the full algorithm."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.dedup import shingle_sets

    TAU = 0.6
    corpus = _docs_with_neardup_copies(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    # raw string shingles (not xxhash64): the oracle compares shingle
    # SETS cross-engine, so the join keys must be the portable strings;
    # at real scale flip hashed=True and hash the oracle identically
    #
    # Cache scoping (r17 optimization, same pattern as
    # q_minhash_band_sweep_report / jaccard_pairs' inv): `sets` is read
    # by THREE differently-keyed branches (the prefix index build and
    # both sides of the verify join — the verify shuffles are keyed on
    # id_a/id_b, so no exchange reuse covers them) and `pref` by both
    # sides of the candidate self-join; uncached, the tokenize→shingle
    # chain re-executes per branch.  The output is the sample-bounded
    # pair list, so it is materialized eagerly (localCheckpoint) and
    # every intermediate released before returning — a long-lived gate
    # session accumulates no storage.  Interleaved A/B (sf0.01,
    # min-of-5): 4.05 s -> 1.45 s.
    sets = shingle_sets(corpus, "doc_id", "text", n=3).cache()
    ex = sets.select("doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("s"))
    df_s = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        ex.join(df_s, "s")
        .groupBy("doc_id", "n")
        .agg(F.array_sort(F.collect_list(F.struct("df", "s"))).alias("st"))
    )
    pref = ordered.select(
        "doc_id",
        "n",
        F.explode(
            F.expr(f"slice(transform(st, x -> x.s), 1, CAST(n - ceil({TAU} * n) + 1 AS INT))")
        ).alias("s"),
    ).cache()
    try:
        cand = (
            pref.alias("a")
            .join(
                pref.alias("b"),
                (F.col("a.s") == F.col("b.s"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & (F.col("a.n") * TAU <= F.col("b.n"))
                & (F.col("b.n") * TAU <= F.col("a.n")),
            )
            .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
            .distinct()
        )
        ver = (
            cand.join(
                sets.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sha")),
                "id_a",
            )
            .join(
                sets.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("shb")),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("sha", "shb")).alias("shared"),
                F.size("sha").alias("na"),
                F.size("shb").alias("nb"),
            )
        )
        # pin (r18, VERDICT r17 item 3): the materialized pair list can be
        # corpus-scale on a hostile corpus, so the default localCheckpoint
        # trades executor-loss recovery for speed; the
        # SPARK_GRAFT_RELIABLE_CHECKPOINT env switch swaps in replicated
        # checkpoint() (requires a durable setCheckpointDir) — see
        # operators/materialize.pin
        from amazon_kinesis_data_analytics_flinktableapi_spark.operators.materialize import pin

        return pin(
            ver.select(
                "id_a",
                "id_b",
                (
                    F.col("shared") * 1.0 / (F.col("na") + F.col("nb") - F.col("shared"))
                ).alias("jaccard"),
            ).filter(F.col("jaccard") >= TAU)
        )
    finally:
        pref.unpersist()
        sets.unpersist()


@query(
    "neardup_jaccard",
    oracle=f"""
    WITH {_DUCK_NEARDUP_CORPUS},
    toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM corpus),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(tk) >= 3
               THEN list_transform(range(1, len(tk) - 1),
                                   i -> array_to_string(list_slice(tk, i, i + 2), ' '))
               ELSE [] END) AS shingles
      FROM toks
    ),
    sh2 AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
    ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh2),
    hot AS (
      -- cap counts docs WITH shingles (= distinct posting ids), matching the
      -- Spark side's postings-derived "auto" cap — no separate corpus pass
      SELECT s FROM ex0 GROUP BY s
      HAVING count(*) > (SELECT greatest(10, (count(DISTINCT doc_id) + 99) // 100) FROM ex0)
    ),
    ex AS (SELECT doc_id, s FROM ex0 WHERE s NOT IN (SELECT s FROM hot)),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id)
    SELECT id_a, id_b,
           floor(shared * 1.0 / (sa.n + sb.n - shared) * 10000 + 0.5) / 10000 AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.5
    """,
    headline=True,
    doc="exact 3-gram Jaccard near-dup pairs via inverted-index join with the "
    "max_df hot-shingle cap on (cap = max(10, 1%% of corpus)) — the quadratic "
    "boilerplate defense is the proven path, not just an option",
)
def q_neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _docs_with_neardup_copies(spark, sf_dir)
    # hot-shingle cap: a shingle in k docs contributes k² join rows, and at
    # corpus scale boilerplate shingles are quadratic poison.  cap = 1% of
    # shingled docs, floored at 10 so planted near-dup pairs at the small
    # test scales keep their shared shingles — derived inside jaccard_pairs
    # from the cached postings (no separate full corpus pass).
    return D.jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.5, max_df="auto")


def _minhash_lsh_oracle(n: int = 3, num_perm: int = 64, bands: int = 16,
                        threshold: float = 0.5, seed: int = 7) -> str:
    """DuckDB twin of ``D.minhash_lsh_pairs``: the md5-derived 60-bit
    shingle hash and the literal (a,b) permutation coefficients reproduce
    the identical signatures, band keys, candidate pairs, and verified
    jaccards — the LSH approximation is deterministic across engines, so
    the oracle hash-checks the banded plan exactly."""
    rows = num_perm // bands
    p = D.MERSENNE_PRIME
    sig_items = ", ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {p}))"
        for a, b in D._minhash_params(num_perm, seed)
    )
    return f"""
    WITH {_DUCK_NEARDUP_CORPUS},
    toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM corpus),
    sh AS (SELECT doc_id,
             list_distinct(CASE WHEN len(tk) >= {n}
               THEN list_transform(range(1, len(tk) - {n - 2}),
                                   i -> array_to_string(list_slice(tk, i, i + {n - 1}), ' '))
               ELSE [] END) AS shingles
           FROM toks),
    sh2 AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
    hs AS (SELECT doc_id,
             list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {p}) AS hs
           FROM sh2),
    sig AS (SELECT doc_id, [{sig_items}] AS sig FROM hs),
    bands AS (SELECT doc_id, b,
               array_to_string(sig[CAST(b*{rows}+1 AS INT):CAST(b*{rows}+{rows} AS INT)], ',') AS bh
              FROM sig CROSS JOIN range({bands}) t(b)),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
    v AS (SELECT id_a, id_b,
            len(list_intersect(sa.shingles, sb.shingles)) AS inter,
            len(sa.shingles) + len(sb.shingles)
              - len(list_intersect(sa.shingles, sb.shingles)) AS un
          FROM cand
          JOIN sh2 sa ON sa.doc_id = id_a
          JOIN sh2 sb ON sb.doc_id = id_b)
    SELECT id_a, id_b, floor(inter * 1.0 / un * 10000 + 0.5) / 10000 AS jaccard
    FROM v WHERE inter * 1.0 / un >= {threshold}
    """


@query(
    "dedup_minhash_lsh",
    oracle=_minhash_lsh_oracle(),
    doc="MinHash + banded LSH near-dup candidates, exact-Jaccard verified; "
    "portable md5-derived shingle hashes make the whole banded plan "
    "deterministic and oracle-hash-checkable",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _docs_with_neardup_copies(spark, sf_dir)
    return D.minhash_lsh_pairs(corpus, "doc_id", "text", n=3, num_perm=64, bands=16, threshold=0.5)


#: (num_perm, bands) configurations the band-sweep report measures — the
#: S-curve dials a dedup operator exposes: same rows-per-band at fewer
#: perms (32/8), the registry default (64/16), and a stricter 8-row band
#: (64/8) whose collision probability 1-(1-j^8)^8 suppresses borderline
#: pairs
_BAND_SWEEP_CONFIGS = [(32, 8), (64, 16), (64, 8)]


def _band_sweep_oracle(n: int = 3, threshold: float = 0.5, seed: int = 7) -> str:
    """DuckDB twin of q_minhash_band_sweep_report: shared shingle/hash
    CTEs, one suffixed signature→band→candidate→verify chain per config,
    planted-pair truth from the copy-offset relation, one summary row
    per config via scalar subqueries."""
    p = D.MERSENNE_PRIME
    jac = (
        "len(list_intersect(a.shingles, b.shingles)) * 1.0 / "
        "(len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))"
    )
    parts = [
        _DUCK_NEARDUP_CORPUS,
        f"toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM corpus)",
        f"""sh AS (SELECT doc_id,
             list_distinct(CASE WHEN len(tk) >= {n}
               THEN list_transform(range(1, len(tk) - {n - 2}),
                                   i -> array_to_string(list_slice(tk, i, i + {n - 1}), ' '))
               ELSE [] END) AS shingles
           FROM toks)""",
        "sh2 AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0)",
        f"""hs AS (SELECT doc_id,
             list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {p}) AS hs
           FROM sh2)""",
        f"""pl AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sh2 a JOIN sh2 b ON b.doc_id = a.doc_id + {COPY_OFFSET}
           WHERE {jac} >= {threshold})""",
    ]
    selects = []
    for i, (num_perm, bands) in enumerate(_BAND_SWEEP_CONFIGS):
        rows = num_perm // bands
        sig_items = ", ".join(
            f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {p}))"
            for a, b in D._minhash_params(num_perm, seed)
        )
        parts += [
            f"sig{i} AS (SELECT doc_id, [{sig_items}] AS sig FROM hs)",
            f"""bands{i} AS (SELECT doc_id, b,
               array_to_string(sig[CAST(b*{rows}+1 AS INT):CAST(b*{rows}+{rows} AS INT)], ',') AS bh
              FROM sig{i} CROSS JOIN range({bands}) t(b))""",
            f"""cand{i} AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands{i} a JOIN bands{i} b
             ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id)""",
            f"""v{i} AS (SELECT c.id_a, c.id_b FROM cand{i} c
             JOIN sh2 a ON a.doc_id = c.id_a
             JOIN sh2 b ON b.doc_id = c.id_b
             WHERE {jac} >= {threshold})""",
            f"hit{i} AS (SELECT v.id_a FROM v{i} v JOIN pl USING (id_a, id_b))",
        ]
        selects.append(
            f"""SELECT {num_perm} AS num_perm, {bands} AS bands, {rows} AS rows_per_band,
           (SELECT count(*) FROM cand{i}) AS n_candidates,
           (SELECT count(*) FROM v{i}) AS n_verified,
           (SELECT count(*) FROM hit{i}) AS n_planted_hit,
           (SELECT count(*) FROM pl) AS planted_total,
           CAST(((SELECT count(*) FROM hit{i}) * 1000)
                // greatest((SELECT count(*) FROM pl), 1) AS BIGINT) AS recall_permille"""
        )
    return "WITH " + ",\n    ".join(parts) + "\n    " + "\n    UNION ALL ".join(selects)


@query(
    "minhash_band_sweep_report",
    oracle=_band_sweep_oracle(),
    doc="MinHash banding S-curve tuning report: for three (num_perm, "
    "bands) configurations — 32/8, the registry default 64/16, and the "
    "stricter 8-row 64/8 — candidate count, exact-verified pair count, "
    "and recall of the PLANTED near-dup pairs (the copy-offset relation "
    "scored by exact Jaccard — linear truth, no all-pairs baseline), "
    "one summary row per config.  This is how a dedup operator's "
    "sketch parameters get picked from measured recall (SCALING.md's "
    "estimator-accounting rule) instead of folklore.  Scale: the 64-perm "
    "signature table is built ONCE and banded twice; per config the only "
    "document shuffle is the (band, key) self-join; summaries are 1-row "
    "aggregates crossed at the end",
)
def q_minhash_band_sweep_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _docs_with_neardup_copies(spark, sf_dir)
    # Cache scoping (ADVICE r15): the shingle sets / planted pairs / per-perm
    # signatures / per-config candidate+verified frames are each read by 2-3
    # downstream aggregates, so they cache — but a long-lived session running
    # the full registry must not accumulate their storage across queries.
    # The summary is one row per config (bounded at ANY corpus size), so it
    # is materialized eagerly (localCheckpoint) inside a try/finally that
    # releases every intermediate before returning.  Cost: the query
    # executes at fn-call time instead of at the caller's action — same
    # total work, and the returned plan is the 3-row checkpointed frame
    # (which is why this query no longer appears in the plan-sweep BNLJ
    # whitelist: the scalar crosses happen before the checkpoint cut).
    cached: list[DataFrame] = []

    def _c(df: DataFrame) -> DataFrame:
        cached.append(df.cache())
        return df

    sets = _c(D.shingle_sets(corpus, "doc_id", "text", 3))
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    try:
        planted = _c(
            sa.join(sb, F.col("id_b") == F.col("id_a") + COPY_OFFSET)
            .filter((inter / union) >= 0.5)
            .select("id_a", "id_b")
        )
        planted_n = planted.agg(F.count(F.lit(1)).alias("planted_total"))
        sig_cache: dict[int, DataFrame] = {}
        rows_out = []
        for num_perm, bands in _BAND_SWEEP_CONFIGS:
            rows = num_perm // bands
            if num_perm not in sig_cache:
                sig_cache[num_perm] = _c(
                    D.minhash_signatures(corpus, "doc_id", "text", 3, num_perm, 7)
                )
            banded = D.band_keys(sig_cache[num_perm], "doc_id", bands, rows)
            l, r = banded.alias("l"), banded.alias("r")
            cand = _c(
                l.join(
                    r,
                    (F.col("l.band") == F.col("r.band"))
                    & (F.col("l.bh") == F.col("r.bh"))
                    & (F.col("l.doc_id") < F.col("r.doc_id")),
                )
                .select(F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b"))
                .distinct()
            )
            ver = _c(
                cand.join(sa, "id_a").join(sb, "id_b").filter((inter / union) >= 0.5)
                .select("id_a", "id_b")
            )
            row = (
                cand.agg(F.count(F.lit(1)).alias("n_candidates"))
                .crossJoin(ver.agg(F.count(F.lit(1)).alias("n_verified")))
                .crossJoin(
                    ver.join(planted, ["id_a", "id_b"]).agg(
                        F.count(F.lit(1)).alias("n_planted_hit")
                    )
                )
                .select(
                    F.lit(num_perm).alias("num_perm"),
                    F.lit(bands).alias("bands"),
                    F.lit(rows).alias("rows_per_band"),
                    "n_candidates",
                    "n_verified",
                    "n_planted_hit",
                )
            )
            rows_out.append(row)
        out = rows_out[0]
        for r2 in rows_out[1:]:
            out = out.unionAll(r2)
        out = out.crossJoin(F.broadcast(planted_n)).select(
            "num_perm",
            "bands",
            "rows_per_band",
            "n_candidates",
            "n_verified",
            "n_planted_hit",
            "planted_total",
            F.call_function(
                "div", F.col("n_planted_hit") * 1000, F.greatest(F.col("planted_total"), F.lit(1))
            ).alias("recall_permille"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        for df in cached:
            df.unpersist()


def _source_overlap_oracle(n: int = 3, num_perm: int = 64, seed: int = 7) -> str:
    """DuckDB twin of source_overlap_report: identical shingle hash,
    identical literal permutations, identical pair algebra."""
    p = D.MERSENNE_PRIME
    params = D._minhash_params(num_perm, seed)
    sig_cols = ",\n             ".join(
        f"min((h * {a} + {b}) % {p}) AS m{j}" for j, (a, b) in enumerate(params)
    )
    match_sum = " + ".join(
        f"(CASE WHEN a.m{j} = b.m{j} THEN 1 ELSE 0 END)" for j in range(num_perm)
    )
    return f"""
    WITH toks AS (SELECT source, {_DUCK_TOKS} AS tk FROM documents
                  WHERE text IS NOT NULL AND source IS NOT NULL),
    sh0 AS (SELECT source, unnest(CASE WHEN len(tk) >= {n}
              THEN list_transform(range(1, len(tk) - {n - 2}),
                                  i -> array_to_string(list_slice(tk, i, i + {n - 1}), ' '))
              ELSE [] END) AS s
            FROM toks),
    u AS (SELECT DISTINCT source,
                 ('0x' || substr(md5(s), 1, 15))::BIGINT % {p} AS h
          FROM sh0),
    sig AS (SELECT source, {sig_cols} FROM u GROUP BY source),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM u GROUP BY source),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             ({match_sum}) AS matches
      FROM sig a JOIN sig b ON a.source < b.source
    ),
    inter AS (
      SELECT x.source AS source_a, y.source AS source_b,
             CAST(count(*) AS BIGINT) AS i
      FROM u x JOIN u y ON x.h = y.h AND x.source < y.source
      GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b,
           floor(p.matches * 1.0 / {num_perm} * 1000000 + 0.5) / 1000000 AS est_jaccard,
           floor(coalesce(i.i, 0) * 1.0 / (sa.n + sb.n - coalesce(i.i, 0))
                 * 1000000 + 0.5) / 1000000 AS exact_jaccard,
           sa.n AS n_shingles_a, sb.n AS n_shingles_b,
           coalesce(i.i, 0) AS n_shared
    FROM pairs p
    JOIN sizes sa ON sa.source = p.source_a
    JOIN sizes sb ON sb.source = p.source_b
    LEFT JOIN inter i ON i.source_a = p.source_a AND i.source_b = p.source_b
    """


@query(
    "source_overlap_report",
    oracle=_source_overlap_oracle(),
    doc="dataset-level overlap report: for every pair of document sources, "
    "the MinHash-estimated AND exact 3-gram-shingle Jaccard overlap — the "
    "which-corpora-duplicate-each-other curation question, answered with "
    "per-source signatures (one 64-min aggregation) plus a shingle-level "
    "equi self-join for ground truth",
)
def q_source_overlap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE MinHash union (the signature of a set union is the
    element-wise min of member signatures — computed here directly as 64
    min-aggregates over the distinct (source, shingle-hash) universe) vs
    exact Jaccard from a shingle-keyed equi self-join.  Scale: the
    signature aggregation is one shuffle keyed by source with map-side
    partial mins (reduce input ≤ |sources|·64); the exact side shuffles
    the distinct universe once on the hash and fans out ≤ |sources|²
    rows per shingle; the final pairwise frame is |sources|²/2 rows —
    the tiny signature self-join (|sources| rows per side) is the
    plan-sweep-whitelisted bounded cross.  At 100 TB the exact half is
    the expensive-but-linear truth pass you run once; the estimate
    column shows what the cheap signature-only pass would have told
    you — that calibration is the report's point."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.text import (
        md5_hash60,
        word_ngrams,
    )

    p = D.MERSENNE_PRIME
    num_perm = 64
    params = D._minhash_params(num_perm, 7)
    (docs,) = load(spark, sf_dir, "documents")
    u = (
        docs.filter(F.col("text").isNotNull() & F.col("source").isNotNull())
        .select("source", F.explode(word_ngrams(F.col("text"), 3)).alias("s"))
        .select("source", F.pmod(md5_hash60(F.col("s")), F.lit(p)).alias("h"))
        .distinct()
        .cache()  # read three times: signatures, sizes, intersection
    )
    sig = u.groupBy("source").agg(
        *[
            F.min(F.expr(f"pmod(h * {a}L + {b}L, {p}L)")).alias(f"m{j}")
            for j, (a, b) in enumerate(params)
        ]
    ).select("source", F.array(*[f"m{j}" for j in range(num_perm)]).alias("sig"))
    sizes = u.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = sig.alias("a"), sig.alias("b")
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        F.expr("size(filter(zip_with(a.sig, b.sig, (x, y) -> x = y), v -> v))").alias("matches"),
    )
    x, y = u.alias("x"), u.alias("y")
    inter = (
        x.join(y, (F.col("x.h") == F.col("y.h")) & (F.col("x.source") < F.col("y.source")))
        .groupBy(F.col("x.source").alias("source_a"), F.col("y.source").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_shingles_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_shingles_b"))
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .join(F.broadcast(inter), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            T.half_up_round(F.col("matches") / num_perm, 6).alias("est_jaccard"),
            T.half_up_round(
                F.coalesce(F.col("i"), F.lit(0))
                / (F.col("n_shingles_a") + F.col("n_shingles_b") - F.coalesce(F.col("i"), F.lit(0))),
                6,
            ).alias("exact_jaccard"),
            "n_shingles_a",
            "n_shingles_b",
            F.coalesce(F.col("i"), F.lit(0)).alias("n_shared"),
        )
    )


@query(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents),
    h AS (SELECT doc_id,
            unnest(list_transform(tk, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)) AS h
          FROM toks WHERE len(tk) > 0),
    bits AS (SELECT doc_id, b,
               sum(CASE WHEN ((h >> CAST(b AS INT)) & 1) = 1 THEN 1 ELSE -1 END) AS v
             FROM h CROSS JOIN range({D.SIMHASH_BITS}) t(b) GROUP BY doc_id, b)
    SELECT doc_id,
           bit_or(CASE WHEN v > 0 THEN 1::BIGINT << CAST(b AS INT) ELSE 0::BIGINT END) AS simhash
    FROM bits GROUP BY doc_id
    """,
    doc="60-bit SimHash fingerprints (portable md5-derived token hashes, "
    "bit-for-bit oracle-checkable) with chunk-blocked Hamming≤3 pair detection",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    return D.simhash(docs, "doc_id", "text")


@query(
    "duplicate_span_detect",
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 40),
    s AS (
      SELECT doc_id, md5(substr(text, pos + 1, 40)) AS h
      FROM (SELECT doc_id, text,
                   unnest(generate_series(0, length(text) - 40, 10)) AS pos
            FROM d) u
    ),
    c AS (SELECT h, count(*) AS cnt FROM s GROUP BY h)
    SELECT s.doc_id,
           count(*) AS n_spans,
           (sum(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END))::BIGINT AS n_dup_spans,
           floor(sum(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*) * 1000000 + 0.5) / 1000000 AS dup_ratio
    FROM s JOIN c USING (h)
    GROUP BY s.doc_id
    """,
    doc="substring-level duplicate-span statistics (Lee et al. 2021 "
    "ExactSubstr family): stride-aligned 40-char windows fingerprinted "
    "with md5, counted corpus-wide — the repeated-boilerplate detector "
    "that document-level dedup tiers cannot see",
)
def q_duplicate_span_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    return D.duplicate_spans(docs, "doc_id", "text", span_len=40, stride=10)


@query(
    "duplicate_span_detect_anchored",
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 40),
    s AS (
      SELECT doc_id, md5(substr(text, pos + 1, 40)) AS h
      FROM (SELECT doc_id, text,
                   unnest(list_filter(list_transform(
                       range(0, length(text) - 40 + 1),
                       p -> CASE WHEN (ascii(substr(text, p + 1, 1)) * 31
                                     + ascii(substr(text, p + 2, 1))) % 10 = 0
                            THEN p END), x -> x IS NOT NULL)) AS pos
            FROM d) u
    ),
    c AS (SELECT h, count(*) AS cnt FROM s GROUP BY h)
    SELECT s.doc_id,
           count(*) AS n_spans,
           (sum(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END))::BIGINT AS n_dup_spans,
           floor(sum(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*) * 1000000 + 0.5) / 1000000 AS dup_ratio
    FROM s JOIN c USING (h)
    GROUP BY s.doc_id
    """,
    doc="offset-independent duplicate-span statistics: span starts are "
    "content-defined anchors (2-char key ≡ 0 mod stride) instead of "
    "stride-aligned offsets, so copies detect at ANY document offset — "
    "closes duplicate_span_detect's measured 1/stride adversarial-offset "
    "recall floor at the same index density (winnowing/CDC-style anchoring)",
)
def q_duplicate_span_detect_anchored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-anchored ExactSubstr statistics (VERDICT r12 #7): see
    operators/dedup.anchored_duplicate_spans for the miss-model math and
    tests/test_span_recall_property.py for the measured floors of both
    variants."""
    (docs,) = load(spark, sf_dir, "documents")
    return D.anchored_duplicate_spans(docs, "doc_id", "text", span_len=40, stride=10)


def _winnowing_oracle() -> str:
    """DuckDB twin of operators/dedup.winnowing_fingerprints — the k-gram
    hash snippet is the IDENTICAL SQL text Spark executes
    (``winnow_kgram_hash_sql``); only integer division spells differently
    (`//` vs `DIV`)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_M,
        WINNOW_SHIFT,
        WINNOW_W,
        winnow_kgram_hash_sql,
    )

    h = winnow_kgram_hash_sql("text", "pos")
    return f"""
    WITH d AS (SELECT doc_id, text FROM documents
               WHERE length(text) >= {WINNOW_K + WINNOW_W - 1}
                 AND length(text) < {WINNOW_SHIFT}),
    kg AS (
      SELECT doc_id, pos, (({WINNOW_M} - ({h})) * {WINNOW_SHIFT}) + pos AS key
      FROM (SELECT doc_id, text,
                   unnest(range(0, length(text) - {WINNOW_K} + 1)) AS pos
            FROM d)
    ),
    sel0 AS (
      SELECT doc_id, pos,
             max(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS sel,
             max(pos) OVER (PARTITION BY doc_id) AS max_pos
      FROM kg
    ),
    fps AS (
      SELECT DISTINCT doc_id, sel // {WINNOW_SHIFT} AS fp, sel % {WINNOW_SHIFT} AS fp_pos
      FROM sel0 WHERE pos <= max_pos - {WINNOW_W - 1}
    ),
    sh AS (SELECT fp, count(DISTINCT doc_id) AS n_docs FROM fps GROUP BY fp)
    SELECT doc_id, count(*) AS n_fingerprints,
           CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_fp,
           floor(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*)
                 * 1000000 + 0.5) / 1000000 AS shared_ratio
    FROM fps JOIN sh USING (fp)
    GROUP BY doc_id
    """


@query(
    "winnowing_fingerprint_stats",
    oracle=_winnowing_oracle(),
    doc="robust-winnowing (MOSS) document fingerprints: rightmost-min of "
    "8-gram hashes per 8-window, selected via one integer window-max — "
    "guarantees every match of length >= w+k-1 shares a fingerprint, "
    "offset- AND content-independent (the guarantee the stride/anchor "
    "span variants trade away); per-doc selected/shared counts",
)
def q_winnowing_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See operators/dedup.winnowing_fingerprints for the algorithm, the
    (M−h)·SHIFT+pos packing that makes robust (rightmost-tie) selection a
    single window-max, and the 100 TB shape (scan-local integer hashing;
    one sessionization-shaped sort shuffle)."""
    (docs,) = load(spark, sf_dir, "documents")
    return D.winnowing_fingerprints(docs, "doc_id", "text")


@query(
    "duplicate_span_removal",
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents),
    long_docs AS (SELECT doc_id, text FROM d WHERE length(text) >= 40),
    s AS (
      SELECT doc_id, pos, md5(substr(text, pos + 1, 40)) AS h
      FROM (SELECT doc_id, text,
                   unnest(generate_series(0, length(text) - 40, 10)) AS pos
            FROM long_docs) u
    ),
    ranked AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY h) AS cnt,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      FROM s
    ),
    rem AS (SELECT doc_id, pos AS s0, pos + 40 AS e0 FROM ranked WHERE cnt >= 2 AND rn > 1),
    ord_rem AS (
      SELECT doc_id, s0, e0,
             max(e0) OVER (PARTITION BY doc_id ORDER BY s0, e0
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      FROM rem
    ),
    isl AS (
      SELECT doc_id, s0, e0,
             sum(CASE WHEN prev_max IS NULL OR s0 > prev_max THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s0, e0) AS island
      FROM ord_rem
    ),
    merged AS (SELECT doc_id, island, min(s0) AS ms, max(e0) AS me FROM isl GROUP BY doc_id, island),
    chars AS (
      SELECT doc_id, i, substr(text, CAST(i AS INT), 1) AS ch
      FROM (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i FROM d) c
    ),
    kept AS (
      SELECT c.doc_id, c.i, c.ch FROM chars c
      WHERE NOT EXISTS (SELECT 1 FROM merged m
                        WHERE m.doc_id = c.doc_id AND c.i > m.ms AND c.i <= m.me)
    ),
    rebuilt AS (SELECT doc_id, string_agg(ch, '' ORDER BY i) AS clean_text FROM kept GROUP BY doc_id)
    SELECT d.doc_id,
           -- NULL text passes through verbatim (as NULL); the coalesce is
           -- only for fully-removed non-NULL docs
           CASE WHEN d.text IS NULL THEN NULL
                ELSE coalesce(r.clean_text, '') END AS clean_text,
           length(d.text) - length(coalesce(r.clean_text, '')) AS n_removed_chars
    FROM d LEFT JOIN rebuilt r USING (doc_id)
    """,
    headline=True,  # the round-6 capability: substring-tier dedup at 0.9 s sf0.1
    doc="ExactSubstr-style duplicate-span REMOVAL (Lee et al. 2021): every "
    "repeated 40-char window cut from all but its first corpus occurrence, "
    "overlapping cuts merged, text respliced — oracle rebuilds the same "
    "text character-by-character from the identical interval algebra",
)
def q_duplicate_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    return D.remove_duplicate_spans(docs, "doc_id", "text", span_len=40, stride=10)


@query(
    "duplicate_span_removal_anchored",
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents),
    long_docs AS (SELECT doc_id, text FROM d WHERE length(text) >= 40),
    s AS (
      SELECT doc_id, pos, md5(substr(text, pos + 1, 40)) AS h
      FROM (SELECT doc_id, text,
                   unnest(list_filter(list_transform(
                       range(0, length(text) - 40 + 1),
                       p -> CASE WHEN (ascii(substr(text, p + 1, 1)) * 31
                                     + ascii(substr(text, p + 2, 1))) % 10 = 0
                            THEN p END), x -> x IS NOT NULL)) AS pos
            FROM long_docs) u
    ),
    ranked AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY h) AS cnt,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      FROM s
    ),
    rem AS (SELECT doc_id, pos AS s0, pos + 40 AS e0 FROM ranked WHERE cnt >= 2 AND rn > 1),
    ord_rem AS (
      SELECT doc_id, s0, e0,
             max(e0) OVER (PARTITION BY doc_id ORDER BY s0, e0
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      FROM rem
    ),
    isl AS (
      SELECT doc_id, s0, e0,
             sum(CASE WHEN prev_max IS NULL OR s0 > prev_max THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s0, e0) AS island
      FROM ord_rem
    ),
    merged AS (SELECT doc_id, island, min(s0) AS ms, max(e0) AS me FROM isl GROUP BY doc_id, island),
    chars AS (
      SELECT doc_id, i, substr(text, CAST(i AS INT), 1) AS ch
      FROM (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i FROM d) c
    ),
    kept AS (
      SELECT c.doc_id, c.i, c.ch FROM chars c
      WHERE NOT EXISTS (SELECT 1 FROM merged m
                        WHERE m.doc_id = c.doc_id AND c.i > m.ms AND c.i <= m.me)
    ),
    rebuilt AS (SELECT doc_id, string_agg(ch, '' ORDER BY i) AS clean_text FROM kept GROUP BY doc_id)
    SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE coalesce(r.clean_text, '') END AS clean_text,
           length(d.text) - length(coalesce(r.clean_text, '')) AS n_removed_chars
    FROM d LEFT JOIN rebuilt r USING (doc_id)
    """,
    doc="offset-independent duplicate-span REMOVAL: the anchored sibling of "
    "duplicate_span_removal — span starts from content-defined anchors, so "
    "a copied region is cut wherever each copy sits (the stride variant's "
    "1/stride adversarial-offset recall floor does not apply); identical "
    "first-occurrence ranking, interval merge, and splice downstream",
)
def q_duplicate_span_removal_anchored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See operators/dedup.remove_duplicate_spans(anchored=True); only the
    span-position source differs from duplicate_span_removal (shared via
    anchor_positions with the anchored detect variant)."""
    (docs,) = load(spark, sf_dir, "documents")
    return D.remove_duplicate_spans(docs, "doc_id", "text", span_len=40, stride=10, anchored=True)


@query(
    "token_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents)
    SELECT doc_id,
           len(tk) AS n_tokens,
           len(list_distinct(tk)) AS n_distinct_tokens,
           -- the coalesce-to-0 is for EMPTY docs (sum over [] is NULL in
           -- DuckDB); NULL text must stay NULL like Spark's NULL-in-NULL-out
           CASE WHEN tk IS NULL THEN NULL ELSE
             round(coalesce(list_aggregate(list_transform(tk, x -> length(x)), 'sum'), 0)
                   * 1.0 / greatest(len(tk), 1), 4) END
             AS mean_token_len
    FROM t
    """,
    doc="token counting: whitespace tokens, distinct tokens, mean token length",
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.distinct_token_count("text").alias("n_distinct_tokens"),
        T.mean_token_length("text").alias("mean_token_len"),
    )


@query(
    "bpe_token_estimate",
    # \s spelled as Java's explicit class (VT member — r14 unicode audit)
    # and trim(t, ' ') because DuckDB's bare trim strips NBSP/U+3000 that
    # Spark's keeps: an NBSP piece must count as a token on BOTH engines
    oracle=r"""
    WITH p AS (
      SELECT doc_id, length(text) AS n_chars,
             len(list_filter(
               regexp_extract_all(text,
                 '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+'),
               t -> trim(t, ' ') <> '')) AS n_bpe_tokens
      FROM documents
    )
    SELECT doc_id, n_bpe_tokens,
           round(n_chars * 1.0 / greatest(n_bpe_tokens, 1), 4) AS chars_per_token
    FROM p
    """,
    doc="BPE-ish token-count estimate (GPT-2 pre-tokenizer regex, no vocab) "
    "+ chars-per-token compression ratio",
)
def q_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    n = T.bpe_token_count("text")
    return docs.select(
        "doc_id",
        n.alias("n_bpe_tokens"),
        F.round(F.length("text") / F.greatest(n, F.lit(1)), 4).alias("chars_per_token"),
    )


_DUCK_SW = "len(list_filter({toks}, t -> lower(t) IN ('the','a','of','and','to','in','is')))"
_DUCK_PUNCT = "(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))"


@query(
    "quality_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_DUCK_TOKS} AS tk FROM documents),
    c AS (
      SELECT doc_id,
             round({_DUCK_PUNCT} * 1.0 / greatest(length(text), 1), 6) AS punct_ratio,
             round({_DUCK_SW.format(toks="tk")} * 1.0 / greatest(len(tk), 1), 6) AS stopword_ratio,
             least(length(text) / 500.0, 1.0) AS len_score
      FROM t
    )
    SELECT doc_id, punct_ratio, stopword_ratio,
           floor((0.5 * len_score + 0.4 * least(stopword_ratio * 5, 1.0)
                 + 0.1 * (1 - least(punct_ratio * 10, 1.0))) * 10000 + 0.5) / 10000 AS quality
    FROM c
    """,
    doc="quality scoring: length saturation + stopword presence − punctuation excess",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.punct_ratio("text").alias("punct_ratio"),
        T.stopword_ratio("text").alias("stopword_ratio"),
        T.quality_score("text").alias("quality"),
    )


@query(
    "lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, text, {_DUCK_TOKS} AS tk FROM documents),
    hits AS (
      SELECT doc_id, lang, text,
             regexp_matches(text, '[一-鿿]') AS has_cjk,
             {_DUCK_SW.format(toks="tk")} AS en,
             len(list_filter(tk, t -> lower(t) IN ('der','die','das','und','ist','nicht','mit'))) AS de,
             len(list_filter(tk, t -> lower(t) IN ('le','la','les','et','est','dans','pour'))) AS fr,
             len(list_filter(tk, t -> lower(t) IN ('el','los','las','y','es','en','por'))) AS es
      FROM t
    )
    SELECT doc_id, lang,
           CASE WHEN text IS NULL THEN NULL
                WHEN has_cjk THEN 'zh'
                WHEN en >= de AND en >= fr AND en >= es THEN 'en'
                WHEN de >= fr AND de >= es THEN 'de'
                WHEN fr >= es THEN 'fr'
                ELSE 'es' END AS predicted_lang
    FROM hits
    """,
    doc="language ID: CJK script detection + per-language stopword-hit argmax",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", T.lang_id("text").alias("predicted_lang"))


@query(
    "ann_cosine_topk",
    oracle=nse_oracle("""
    SELECT q_id, c_id, floor(cs * 1000000 + 0.5) / 1000000 AS cos_sim, rn FROM (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cs,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id) AS rn
      FROM embeddings q, embeddings c
      WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
    ) WHERE rn <= 10
    """),
    headline=True,
    doc="brute-force cosine top-10 for 5 query vectors (exact ANN baseline)",
)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = load(spark, sf_dir, "embeddings")
    emb = swallow_malformed_embeddings(emb)  # malformed-vector swallow (r14; ingest-bit-aware r16)
    return S.brute_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


def _ann_lsh_oracle(k: int = 10, n_planes: int = 8, n_tables: int = 4,
                    seed: int = 13, n_queries: int = 5) -> str:
    """DuckDB twin of ``S.lsh_topk_det``: identical integer-quantized
    sketches ⇒ identical buckets ⇒ identical candidates ⇒ identical
    approximate top-k (see ``_neardup_lsh_oracle`` for the exactness
    argument)."""
    tables = S.neardup_lsh_planes(dim=64, n_planes=n_planes, n_tables=n_tables, seed=seed)
    selects = []
    for t, planes in enumerate(tables):
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(qv, {coeffs}::DOUBLE[]) >= 0 THEN {1 << i} ELSE 0 END)"
            for i, coeffs in enumerate(planes)
        )
        selects.append(f"SELECT vec_id, {t} AS t, ({bits}) AS sk FROM q")
    union = "\n      UNION ALL ".join(selects)
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[], x -> floor(x * {S.NEARDUP_QUANT})) AS qv
      FROM embeddings
    ),
    sk AS ({union}),
    cand AS (
      SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS c_id
      FROM sk a JOIN sk b ON a.t = b.t AND a.sk = b.sk
      WHERE a.vec_id < {n_queries} AND b.vec_id <> a.vec_id
    ),
    scored AS (
      SELECT q_id, c_id,
             list_cosine_similarity(eq.embedding::DOUBLE[], ec.embedding::DOUBLE[]) AS cs
      FROM cand
      JOIN embeddings eq ON eq.vec_id = q_id
      JOIN embeddings ec ON ec.vec_id = c_id
    ),
    ranked AS (SELECT q_id, c_id, cs,
                 row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, c_id) AS rn
               FROM scored)
    SELECT q_id, c_id, floor(cs * 1000000 + 0.5) / 1000000 AS cos_sim, rn FROM ranked WHERE rn <= {k}
    """


@query(
    "ann_lsh_topk",
    oracle=nse_oracle(_ann_lsh_oracle()),
    doc="LSH-bucketed approximate cosine top-k — deterministic "
    "integer-quantized hyperplane sketches, so the approximate result "
    "itself is oracle-hash-checkable; recall vs brute_topk additionally "
    "pinned in tests/test_similarity.py",
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = load(spark, sf_dir, "embeddings")
    emb = swallow_malformed_embeddings(emb)  # malformed-vector swallow (r14; ingest-bit-aware r16)
    # n_planes pinned to the oracle generator's value: the operator default
    # is now auto-sized from the corpus count (VERDICT r12 #6), and an
    # oracle twin must never float with data size
    return S.lsh_topk_det(emb, emb.filter(F.col("vec_id") < 5), k=10, n_planes=8)


@query(
    "corpus_clean_pipeline",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_DUCK_TOKS} AS tk FROM documents),
    scored AS (
      SELECT doc_id, text, tk,
             floor((0.5 * least(length(text) / 500.0, 1.0)
                   + 0.4 * least(round({_DUCK_SW.format(toks="tk")} * 1.0 / greatest(len(tk), 1), 6) * 5, 1.0)
                   + 0.1 * (1 - least(round({_DUCK_PUNCT} * 1.0 / greatest(length(text), 1), 6) * 10, 1.0)))
                   * 10000 + 0.5) / 10000 AS quality,
             CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                  WHEN {_DUCK_SW.format(toks="tk")} >= len(list_filter(tk, x -> x IN ('der','die','das','und','ist','nicht','mit')))
                   AND {_DUCK_SW.format(toks="tk")} >= len(list_filter(tk, x -> x IN ('le','la','les','et','est','dans','pour')))
                   AND {_DUCK_SW.format(toks="tk")} >= len(list_filter(tk, x -> x IN ('el','los','las','y','es','en','por')))
                  THEN 'en' ELSE 'other' END AS plang
      FROM t
    ),
    kept AS (
      SELECT doc_id, text, quality FROM scored
      WHERE quality >= 0.5 AND plang = 'en'
    ),
    surv AS (
      SELECT min(doc_id) AS doc_id
      FROM kept
      GROUP BY md5(array_to_string(list_sort(list_distinct({_DUCK_TOKS})), ' '))
    )
    SELECT k.doc_id, k.quality,
           CASE WHEN substr(md5(k.text), 1, 1) IN ('0','1','2','3','4','5','6','7','8','9','a','b')
                THEN 'train' ELSE 'eval' END AS split
    FROM kept k JOIN surv s ON k.doc_id = s.doc_id
    """,
    doc="end-to-end corpus cleaning: quality filter -> language filter -> "
    "fingerprint dedup (keep min id) -> content-hash train/eval split — "
    "the composed training-data pipeline, one declarative plan",
)
def q_corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One declarative chain: Catalyst fuses the three scan-side filters
    # into a single pass; the only shuffle is the fingerprint dedup.
    # The split follows content (md5 of text) so exact copies — already
    # collapsed by the dedup — could never straddle train/eval anyway.
    (docs,) = load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "text",
        T.quality_score("text").alias("quality"),
        T.lang_id("text").alias("plang"),
    )
    kept = scored.filter((F.col("quality") >= 0.5) & (F.col("plang") == "en"))
    keyed = kept.select("doc_id", "quality", "text", T.fingerprint("text").alias("__fp"))
    surv = D.dedup_exact(keyed, "doc_id", key=["__fp"])
    return surv.select(
        "doc_id",
        "quality",
        F.when(F.substring(F.md5("text"), 1, 1).rlike("[0-9ab]"), "train")
        .otherwise("eval")
        .alias("split"),
    )


#: epoch seconds of 2024-01-01 00:00:00 UTC — the synthetic ingest-time
#: base for the streaming clean pipeline (documents carry no timestamp;
#: doc_id seconds past this base gives a deterministic, replayable clock)
_INGEST_EPOCH = 1_704_067_200


@query(
    "streaming_clean_pipeline",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_DUCK_TOKS} AS tk FROM documents),
    scored AS (
      SELECT doc_id, text,
             floor((0.5 * least(length(text) / 500.0, 1.0)
                   + 0.4 * least(round({_DUCK_SW.format(toks="tk")} * 1.0 / greatest(len(tk), 1), 6) * 5, 1.0)
                   + 0.1 * (1 - least(round({_DUCK_PUNCT} * 1.0 / greatest(length(text), 1), 6) * 10, 1.0)))
                   * 10000 + 0.5) / 10000 AS quality,
             CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                  WHEN {_DUCK_SW.format(toks="tk")} >= len(list_filter(tk, x -> x IN ('der','die','das','und','ist','nicht','mit')))
                   AND {_DUCK_SW.format(toks="tk")} >= len(list_filter(tk, x -> x IN ('le','la','les','et','est','dans','pour')))
                   AND {_DUCK_SW.format(toks="tk")} >= len(list_filter(tk, x -> x IN ('el','los','las','y','es','en','por')))
                  THEN 'en' ELSE 'other' END AS plang
      FROM t
    ),
    -- the replay DOUBLES every row; the stream's (fingerprint, ts)
    -- dedup collapses exactly those replay copies and nothing else (ts
    -- is doc_id-derived, so two different docs can never share the
    -- dedup key even on a token-set fingerprint collision) => each
    -- kept doc appears once, as here
    stamped AS (
      SELECT doc_id, quality,
             TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS ts,
             CASE WHEN substr(md5(text), 1, 1) IN ('0','1','2','3','4','5','6','7','8','9','a','b')
                  THEN 'train' ELSE 'eval' END AS split
      FROM scored WHERE quality >= 0.5 AND plang = 'en'
    )
    SELECT date_trunc('minute', ts) AS window_start, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(floor(quality * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS quality_x10k
    FROM stamped
    GROUP BY 1, 2
    -- append mode emits the windows the terminal watermark closes:
    -- both stateful stages carry a 10 s watermark delay, so the global
    -- watermark ends at max(ts) - 10 s (multipleWatermarkPolicy=min
    -- makes the two identical delays one horizon)
    HAVING date_trunc('minute', ts) + INTERVAL 1 MINUTE
           <= (SELECT max(ts) FROM stamped) - INTERVAL 10 SECOND
    """,
    doc="STREAMING end-to-end corpus cleaning (the streaming twin of "
    "corpus_clean_pipeline, VERDICT r14 #6): quality gate + language "
    "filter (stateless, scan-local) -> content-fingerprint dedup within "
    "the watermark horizon (stateful: collapses the at-least-once replay "
    "copies the fixture plants by doubling every row; cross-corpus "
    "global dedup stays the batch pipeline's job) -> per-minute tumbling "
    "counts and quality mass by train/eval split (second stateful stage "
    "chained in append mode).  Oracle reconstructs the closed-window set "
    "from the batch side exactly",
)
def q_streaming_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition proof for the streaming tier: three pipeline stages —
    stateless gate, stateful dedup, stateful windowed agg — chained in
    ONE append-mode query (Spark 3.4+ chained-stateful support, same
    shape as streaming_chained_windows).  Scale: the gate and the
    fingerprint/split hashes ride the scan (no Python); dedup state is
    one (fp, ts) key per kept doc inside the 10 s horizon, evicted by
    watermark; window state is |splits| x live-windows rows."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import scratch_dir
    from amazon_kinesis_data_analytics_flinktableapi_spark.streaming.replay import (
        replay_stream,
        run_to_memory,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.streaming.windows import (
        stream_dedup,
        tumbling_agg,
    )

    (docs,) = load(spark, sf_dir, "documents")
    src = docs.select("doc_id", "text")
    # at-least-once fixture: every row replayed twice across 3
    # doc_id-ordered micro-batches — copies sort adjacent, so at least
    # one pair straddles a batch boundary and dedup state must carry
    doubled = src.union(src)
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    tmp = scratch_dir("stream_clean_")
    stream = replay_stream(
        spark, doubled, schema, tmp, n_chunks=3, order_col="doc_id", max_files_per_trigger=1
    )
    gated = (
        stream.select(
            "doc_id",
            F.timestamp_seconds(F.lit(_INGEST_EPOCH).cast("long") + F.col("doc_id")).alias("ts"),
            T.quality_score("text").alias("quality"),
            T.lang_id("text").alias("plang"),
            T.fingerprint("text").alias("__fp"),
            F.when(F.substring(F.md5("text"), 1, 1).rlike("[0-9ab]"), "train")
            .otherwise("eval")
            .alias("split"),
        )
        .filter((F.col("quality") >= 0.5) & (F.col("plang") == "en"))
    )
    deduped = stream_dedup(gated, "ts", ["__fp"], watermark="10 seconds")
    # watermark=None: the dedup stage already assigned the stream's one
    # watermark — Spark rejects a second withWatermark in a chained-
    # stateful query ("Redefining watermark is disallowed"), and the 10 s
    # horizon propagates to the window operator unchanged
    agg = tumbling_agg(
        deduped,
        "ts",
        "1 minute",
        ["split"],
        [
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.floor(F.col("quality") * 10000 + 0.5).cast("long")).alias("quality_x10k"),
        ],
        watermark=None,
    )
    out = agg.select("window_start", "split", "n_docs", "quality_x10k")
    return run_to_memory(out, spark, timeout_sec=240)


@query(
    "clean_retention_funnel",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, text, {_DUCK_TOKS} AS tk FROM documents),
    scored AS (
      SELECT doc_id, source, text,
             floor((0.5 * least(length(text) / 500.0, 1.0)
                   + 0.4 * least(round({_DUCK_SW.format(toks="tk")} * 1.0 / greatest(len(tk), 1), 6) * 5, 1.0)
                   + 0.1 * (1 - least(round({_DUCK_PUNCT} * 1.0 / greatest(length(text), 1), 6) * 10, 1.0)))
                   * 10000 + 0.5) / 10000 AS quality,
             CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                  WHEN {_DUCK_SW.format(toks="tk")} >= len(list_filter(tk, x -> x IN ('der','die','das','und','ist','nicht','mit')))
                   AND {_DUCK_SW.format(toks="tk")} >= len(list_filter(tk, x -> x IN ('le','la','les','et','est','dans','pour')))
                   AND {_DUCK_SW.format(toks="tk")} >= len(list_filter(tk, x -> x IN ('el','los','las','y','es','en','por')))
                  THEN 'en' ELSE 'other' END AS plang
      FROM t
    ),
    kept AS (
      SELECT doc_id, source, text FROM scored WHERE quality >= 0.5 AND plang = 'en'
    ),
    surv AS (
      SELECT min(doc_id) AS doc_id
      FROM kept
      GROUP BY md5(array_to_string(list_sort(list_distinct({_DUCK_TOKS})), ' '))
    ),
    sv AS (
      SELECT k.source, count(*) AS n_unique
      FROM kept k JOIN surv s ON k.doc_id = s.doc_id
      GROUP BY k.source
    ),
    base AS (
      SELECT source,
             count(*) AS n_total,
             count(text) AS n_with_text,
             CAST(sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
             CAST(sum(CASE WHEN quality >= 0.5 AND plang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_en_kept
      FROM scored GROUP BY source
    )
    SELECT b.source, b.n_total, b.n_with_text, b.n_quality, b.n_en_kept,
           coalesce(sv.n_unique, 0) AS n_unique,
           CAST((coalesce(sv.n_unique, 0) * 1000) // b.n_total AS BIGINT)
             AS retention_permille
    FROM base b LEFT JOIN sv ON sv.source = b.source
    """,
    doc="per-source retention funnel through the cleaning pipeline: total "
    "-> has-text -> quality gate -> +language gate -> post-fingerprint-"
    "dedup survivors (canonical min-doc_id winners attributed to their "
    "source), with exact integer retention permille — the ablation "
    "report a corpus curation run publishes per ingest source.  One "
    "corpus scan feeds the stage counters (conditional aggs, map-side "
    "combined); the dedup survivors reuse the corpus_clean_pipeline "
    "shuffle; the per-source frames are |sources|-row joins",
)
def q_clean_retention_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        T.quality_score("text").alias("quality"),
        T.lang_id("text").alias("plang"),
    )
    kept = scored.filter((F.col("quality") >= 0.5) & (F.col("plang") == "en"))
    surv = D.dedup_exact(
        kept.select("doc_id", "source", T.fingerprint("text").alias("__fp")),
        "doc_id",
        key=["__fp"],
    )
    sv = surv.groupBy("source").agg(F.count(F.lit(1)).alias("n_unique"))
    base = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count("text").alias("n_with_text"),
        F.sum(F.when(F.col("quality") >= 0.5, 1).otherwise(0)).alias("n_quality"),
        F.sum(
            F.when((F.col("quality") >= 0.5) & (F.col("plang") == "en"), 1).otherwise(0)
        ).alias("n_en_kept"),
    )
    nu = F.coalesce(F.col("n_unique"), F.lit(0).cast("long"))
    return base.join(sv, "source", "left").select(
        "source",
        "n_total",
        "n_with_text",
        "n_quality",
        "n_en_kept",
        nu.alias("n_unique"),
        F.call_function("div", nu * 1000, F.col("n_total")).alias("retention_permille"),
    )


#: (name, regex char class) script buckets for script_mix_profile — all
#: BMP ranges written as literal characters so the Java and RE2 engines
#: compile the identical codepoint set (the r14 unicode audit's rule:
#: astral-plane classes are the off-by-N hazard, BMP literals are not;
#: astral chars deliberately land in `other` on both engines).  The
#: whitespace set is spelled explicitly — regex \\s differs across
#: engines only outside this set, which is exactly why tokens() uses it.
_SCRIPT_CLASSES = [
    ("latin", "[A-Za-z]"),
    ("digit", "[0-9]"),
    ("space", "[ \t\n\x0b\f\r]"),
    ("cjk", "[一-鿿]"),
    ("cyrillic", "[Ѐ-ӿ]"),
]


@query(
    "script_mix_profile",
    oracle="""
    WITH t AS (
      SELECT source, length(text) AS n,
             {counts}
      FROM documents WHERE text IS NOT NULL
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS chars_total,
           {sums},
           CAST(sum(n) - ({sum_all}) AS BIGINT) AS other,
           CAST(CASE WHEN sum(n) > 0
                THEN (sum(c_latin) * 1000) // sum(n) ELSE 0 END AS BIGINT) AS latin_permille,
           CAST(CASE WHEN sum(n) > 0
                THEN (sum(c_cjk) * 1000) // sum(n) ELSE 0 END AS BIGINT) AS cjk_permille
    FROM t GROUP BY source
    """.format(
        counts=",\n             ".join(
            f"length(text) - length(regexp_replace(text, '{cls}', '', 'g')) AS c_{name}"
            for name, cls in _SCRIPT_CLASSES
        ),
        sums=",\n           ".join(
            f"CAST(sum(c_{name}) AS BIGINT) AS {name}" for name, _ in _SCRIPT_CLASSES
        ),
        sum_all=" + ".join(f"sum(c_{name})" for name, _ in _SCRIPT_CLASSES),
    ),
    doc="per-source script composition profile: exact codepoint counts "
    "per script bucket (Latin/digit/whitespace/CJK/Cyrillic, BMP literal "
    "classes identical under Java regex and RE2; astral codepoints land "
    "in `other` on both engines) via the length-minus-stripped-length "
    "identity, aggregated per ingest source with exact integer permille "
    "shares — the multilingual-mix report a corpus intake publishes.  "
    "Pure scan expressions + one map-side-combined groupBy(source); "
    "|sources| output rows at any corpus size",
)
def q_script_mix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    base = docs.filter(F.col("text").isNotNull()).select(
        "source",
        F.length("text").alias("n"),
        *[
            (F.length("text") - F.length(F.regexp_replace("text", cls, ""))).alias(f"c_{name}")
            for name, cls in _SCRIPT_CLASSES
        ],
    )
    agg = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("chars_total"),
        *[F.sum(f"c_{name}").alias(name) for name, _ in _SCRIPT_CLASSES],
    )
    known = sum((F.col(name) for name, _ in _SCRIPT_CLASSES[1:]), F.col(_SCRIPT_CLASSES[0][0]))
    permille = lambda c: F.when(  # noqa: E731 — exact integer permille share
        F.col("chars_total") > 0, F.call_function("div", c * 1000, F.col("chars_total"))
    ).otherwise(F.lit(0).cast("long"))
    return agg.select(
        "source",
        "n_docs",
        "chars_total",
        *[F.col(name) for name, _ in _SCRIPT_CLASSES],
        (F.col("chars_total") - known).alias("other"),
        permille(F.col("latin")).alias("latin_permille"),
        permille(F.col("cjk")).alias("cjk_permille"),
    )


@query(
    "edit_distance_verify",
    oracle=f"""
    WITH {_DUCK_NEARDUP_CORPUS},
    -- ASCII projection (non-ASCII codepoints -> '?') is part of the
    -- operator contract: DuckDB's levenshtein counts BYTES (an e-acute
    -- edit costs 2) while Spark's counts codepoints; projecting both
    -- sides to ASCII makes byte == codepoint and the distance portable
    p AS (
      SELECT doc_id,
             regexp_replace(substr(text, 1, 200), '[^\\x00-\\x7f]', '?', 'g') AS t
      FROM corpus
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(a.t, b.t) AS edit_dist,
           floor((1.0 - levenshtein(a.t, b.t)
                  * 1.0 / greatest(length(a.t), length(b.t), 1)) * 10000 + 0.5)
             / 10000 AS sim
    FROM p a JOIN p b ON b.doc_id = a.doc_id + {COPY_OFFSET}
    """,
    doc="edit-distance verification of candidate near-dup pairs: "
    "levenshtein over 200-char prefixes (O(k²) per pair, bounded) — the "
    "exact-verify stage after MinHash/SimHash candidate generation",
)
def q_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: levenshtein is quadratic in string length — NEVER run it on
    # full documents or all pairs; bound the prefix (k=200) and feed only
    # candidate pairs (here: the planted copies), so cost is
    # |candidates| × k².  The join is equi on doc_id — one shuffle of
    # (id, prefix) pairs, prefixes cut at scan time.
    corpus = _docs_with_neardup_copies(spark, sf_dir)
    # ASCII projection: part of the contract (see oracle comment) — makes
    # the distance identical under byte- and codepoint-counting engines
    proj = F.regexp_replace(F.substring("text", 1, 200), r"[^\x00-\x7F]", "?")
    a = corpus.select(F.col("doc_id").alias("id_a"), proj.alias("ta"))
    b = corpus.select((F.col("doc_id") - COPY_OFFSET).alias("id_a"), F.col("doc_id").alias("id_b"),
                      proj.alias("tb"))
    d = F.levenshtein("ta", "tb")
    sim = F.floor(
        (1.0 - d / F.greatest(F.length("ta"), F.length("tb"), F.lit(1))) * 10000 + 0.5
    ) / 10000
    return a.join(b, "id_a").select("id_a", "id_b", d.alias("edit_dist"), sim.alias("sim"))


def _ann_ivf_oracle(k: int = 10, n_centroids: int = 16, nprobe: int = 4,
                    n_queries: int = 5) -> str:
    """DuckDB twin of ``S.ivf_topk_det``: lowest-id centroids, exact
    integer-quantized assignment dots with ties toward the smaller
    centroid id — the inverted-file partitioning is reproduced exactly,
    so candidates and the approximate top-k hash-match."""
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_transform(embedding::DOUBLE[], x -> floor(x * {S.NEARDUP_QUANT})) AS qv
      FROM embeddings
    ),
    cent AS (SELECT vec_id AS j, qv AS cv FROM e ORDER BY vec_id LIMIT {n_centroids}),
    assign AS (
      SELECT e.vec_id AS c_id, cent.j,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_dot_product(e.qv, cent.cv) DESC, cent.j) AS r
      FROM e CROSS JOIN cent
    ),
    buck AS (SELECT c_id, j AS bucket FROM assign WHERE r = 1),
    probes AS (
      SELECT e.vec_id AS q_id, cent.j AS bucket,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_dot_product(e.qv, cent.cv) DESC, cent.j) AS r
      FROM e CROSS JOIN cent WHERE e.vec_id < {n_queries}
    ),
    cand AS (
      SELECT q_id, c_id
      FROM (SELECT q_id, bucket FROM probes WHERE r <= {nprobe}) p
      JOIN buck USING (bucket)
      WHERE c_id <> q_id
    ),
    scored AS (
      SELECT q_id, c_id, list_cosine_similarity(eq.v, ec.v) AS cs
      FROM cand JOIN e eq ON eq.vec_id = q_id JOIN e ec ON ec.vec_id = c_id
    ),
    ranked AS (SELECT q_id, c_id, cs,
                 row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, c_id) AS rn
               FROM scored)
    SELECT q_id, c_id, floor(cs * 1000000 + 0.5) / 1000000 AS cos_sim, rn FROM ranked WHERE rn <= {k}
    """


@query(
    "ann_ivf_topk",
    oracle=nse_oracle(_ann_ivf_oracle()),
    doc="IVF approximate cosine top-k — deterministic lowest-id centroids "
    "+ integer-quantized assignment make the inverted-file partitioning "
    "oracle-hash-checkable; list assignment and probing are one Arrow "
    "matrix product per batch (recall pinned in tests/test_similarity.py)",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = load(spark, sf_dir, "embeddings")
    emb = swallow_malformed_embeddings(emb)  # malformed-vector swallow (r14; ingest-bit-aware r16)
    return S.ivf_topk_det(emb, emb.filter(F.col("vec_id") < 5), k=10, n_centroids=16, nprobe=4)


def _neardup_lsh_oracle(threshold: float, n_planes: int = 4, n_tables: int = 16, seed: int = 13) -> str:
    """DuckDB twin of ``S.neardup_pairs_lsh``: identical integer-quantized
    sketches ⇒ identical buckets ⇒ identical candidate pairs — the LSH
    approximation is deterministic across engines, so the oracle checks the
    bucketed plan exactly (integer-valued double sums < 2⁵³ are order-
    independent; see operators/similarity.neardup_lsh_planes)."""
    tables = S.neardup_lsh_planes(dim=64, n_planes=n_planes, n_tables=n_tables, seed=seed)
    selects = []
    for t, planes in enumerate(tables):
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(qv, {coeffs}::DOUBLE[]) >= 0 THEN {1 << i} ELSE 0 END)"
            for i, coeffs in enumerate(planes)
        )
        selects.append(f"SELECT vec_id, {t} AS t, ({bits}) AS sk FROM q")
    union = "\n      UNION ALL ".join(selects)
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[], x -> floor(x * {S.NEARDUP_QUANT})) AS qv
      FROM embeddings
    ),
    sk AS ({union}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sk a JOIN sk b ON a.t = b.t AND a.sk = b.sk AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           floor(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
                 * 1000000 + 0.5) / 1000000 AS cos_sim
    FROM cand
    JOIN embeddings ea ON ea.vec_id = id_a
    JOIN embeddings eb ON eb.vec_id = id_b
    WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) >= {threshold}
    """


@query(
    "embedding_neardup",
    oracle=nse_oracle(_neardup_lsh_oracle(threshold=0.35)),
    headline=True,
    doc="embedding-cosine near-duplicate pairs (threshold 0.35) via "
    "deterministic LSH bucketing — equi-join on (table, sketch), exact "
    "cosine verify on candidates only; no all-pairs join anywhere in the plan",
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = load(spark, sf_dir, "embeddings")
    emb = swallow_malformed_embeddings(emb)  # malformed-vector swallow (r14; ingest-bit-aware r16)
    # n_planes pinned to the oracle generator's value (operator default is
    # now corpus-count auto-sizing, which an oracle twin must not follow)
    return S.neardup_pairs_lsh(emb, threshold=0.35, n_planes=4)


@query(
    "embedding_neardup_wide",
    oracle=nse_oracle(_neardup_lsh_oracle(threshold=0.35, n_planes=8, n_tables=16)),
    doc="second LSH shape (8 planes × 16 tables): pins the Arrow sketch "
    "matmul + bit-packing algebra beyond the default 4×16 configuration — "
    "256 buckets/table, the deeper-sketch regime a larger corpus runs at",
)
def q_embedding_neardup_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r6 #5: ``embedding_neardup``'s rewritten Arrow-matmul sketch
    path was driver-attested at exactly one (n_planes=4, n_tables=16)
    shape; a single configuration can hash-match while the bit-packing
    loop is wrong for other widths (e.g. a hardcoded plane count or a
    sign-bit shift that only works below 8 bits).  Same operator, same
    threshold, twice the planes: every per-table sketch is now a full
    8-bit bucket id, and the DuckDB oracle re-derives all 128
    hyperplane dots independently.  Recall at this deeper shape is pinned
    on the clustered fixture in tests/test_similarity.py."""
    (emb,) = load(spark, sf_dir, "embeddings")
    emb = swallow_malformed_embeddings(emb)  # malformed-vector swallow (r14; ingest-bit-aware r16)
    return S.neardup_pairs_lsh(emb, threshold=0.35, n_planes=8, n_tables=16)


@query(
    "media_decode_meta",
    oracle=f"""
    SELECT doc_id AS media_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           octet_length(encode(text)) AS n_bytes,
           CAST(64 + octet_length(encode(text)) % 577 AS INT) AS width,
           CAST(64 + (octet_length(encode(text)) * 31) % 353 AS INT) AS height,
           -- NULL payload (NULL text) has NULL metadata on both engines —
           -- the unguarded CASE emitted n_frames=1 for a NULL image payload
           CAST(CASE WHEN text IS NULL THEN NULL
                     WHEN CAST(doc_id % 3 AS INT) = 0 THEN 1
                     ELSE 1 + octet_length(encode(text)) % 24 END AS INT) AS n_frames
    FROM documents
    """,
    doc="multimodal plumbing: binary payloads decoded via mapInPandas (deterministic stub decoder)",
)
def q_media_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The Spark side genuinely runs the Arrow mapInPandas decode path over
    # real binary payloads; the stub decoder is arithmetic on byte length,
    # which is what makes an exact SQL oracle possible.
    (docs,) = load(spark, sf_dir, "documents")
    media = M.media_from_documents(docs)
    return M.decode_media(media)


@query(
    "media_frame_sample",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS media_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             octet_length(encode(text)) AS n
      FROM documents
    ), f AS (
      SELECT media_id, n,
             CASE WHEN kind = 'image' THEN 1 ELSE CAST(1 + n % 24 AS BIGINT) END AS nf
      FROM m
    ), g AS (
      SELECT media_id, n, nf, unnest(range(0, nf, 4)) AS fi FROM f
    )
    SELECT media_id,
           CAST(fi AS INT) AS frame_idx,
           fi * greatest(n // nf, 1) AS frame_offset_bytes
    FROM g
    """,
    doc="multimodal frame sampling: every-4th-frame byte offsets per video/"
    "audio payload via the 1-to-N exploding mapInPandas shape (stub decoder)",
)
def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow batches in, multiple rows out per media row — the exploding UDTF
    # shape for frame extraction; payload bytes stay executor-side.
    (docs,) = load(spark, sf_dir, "documents")
    media = M.media_from_documents(docs)
    return M.frame_sample(media, every_nth=4)


@query(
    "media_resize",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, octet_length(encode(text)) AS n
      FROM documents
    ), d AS (
      SELECT media_id, n,
             64 + n % 577 AS w,
             64 + (n * 31) % 353 AS h
      FROM m
    )
    SELECT media_id,
           224 AS width, 224 AS height,
           CAST(FLOOR(n * (50176.0 / greatest(w * h, 1))) AS BIGINT) AS n_bytes_out
    FROM d
    """,
    doc="multimodal resize-to-224x224 (stub: byte length scaled by area "
    "ratio) — the batch image-preprocessing shape over mapInPandas",
)
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    media = M.media_from_documents(docs)
    return M.resize_media(media, target_w=224, target_h=224)


@query(
    "contamination_ngram_overlap",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(tk) >= 5
               THEN list_transform(range(1, len(tk) - 3),
                                   i -> array_to_string(list_slice(tk, i, i + 4), ' '))
               ELSE [] END) AS shingles
      FROM toks
    ),
    nz AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
    bench AS (SELECT DISTINCT unnest(shingles) AS s FROM nz WHERE doc_id % 97 = 0),
    corpus AS (SELECT doc_id, unnest(shingles) AS s FROM nz WHERE doc_id % 97 <> 0),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY doc_id),
    shared AS (
      SELECT c.doc_id, count(*) AS n_shared
      FROM corpus c JOIN bench b ON c.s = b.s
      GROUP BY c.doc_id
    )
    SELECT z.doc_id, z.n_shingles, COALESCE(h.n_shared, 0) AS n_shared,
           floor(COALESCE(h.n_shared, 0) * 1.0 / z.n_shingles * 10000 + 0.5) / 10000
             AS contamination
    FROM sizes z LEFT JOIN shared h USING (doc_id)
    """,
    doc="benchmark-contamination screen: distinct 5-gram overlap of every "
    "corpus doc against the benchmark subset (doc_id % 97 == 0), benchmark "
    "shingle set broadcast — the eval-leakage check a training pipeline "
    "runs before a data release",
)
def q_contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    # the operator now reports <5-token docs with n_shingles=0; the ratio
    # below needs n_shingles > 0, matching the oracle's nz filter
    out = D.contamination_counts(corpus, bench, "doc_id", "text", n=5).filter(
        F.col("n_shingles") > 0
    )
    return out.select(
        "doc_id",
        "n_shingles",
        "n_shared",
        T.half_up_round(F.col("n_shared") / F.col("n_shingles"), 4).alias("contamination"),
    )


_DUCK_5GRAM_SETS = f"""
    toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(tk) >= 5
               THEN list_transform(range(1, len(tk) - 3),
                                   i -> array_to_string(list_slice(tk, i, i + 4), ' '))
               ELSE [] END) AS shingles
      FROM toks
    ),
    nz AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0)
"""


@query(
    "bloom_contamination_screen",
    oracle=f"""
    WITH {_DUCK_5GRAM_SETS},
    bench AS (SELECT DISTINCT unnest(shingles) AS s FROM nz WHERE doc_id % 97 = 0),
    corpus AS (SELECT doc_id, unnest(shingles) AS s FROM nz WHERE doc_id % 97 <> 0),
    bpos AS (
      SELECT DISTINCT j,
             ('0x' || substr(md5('bloom' || j || ':' || s), 1, 15))::BIGINT % 15360 AS p
      FROM bench CROSS JOIN range(3) t(j)
    ),
    bloom AS (SELECT p // 60 AS word, bit_or(1::BIGINT << CAST(p % 60 AS INT)) AS bits
              FROM bpos GROUP BY 1),
    probe AS (
      SELECT doc_id, s, j,
             ('0x' || substr(md5('bloom' || j || ':' || s), 1, 15))::BIGINT % 15360 AS p
      FROM corpus CROSS JOIN range(3) t(j)
    ),
    hits AS (
      SELECT pr.doc_id, pr.s,
             min(CASE WHEN b.bits IS NULL THEN 0
                      ELSE (b.bits >> CAST(pr.p % 60 AS INT)) & 1 END) AS all_set
      FROM probe pr LEFT JOIN bloom b ON b.word = pr.p // 60
      GROUP BY pr.doc_id, pr.s
    )
    SELECT doc_id,
           count(*) AS n_shingles,
           CAST(sum(all_set) AS BIGINT) AS n_flagged,
           floor(sum(all_set) * 1.0 / count(*) * 10000 + 0.5) / 10000 AS flag_ratio
    FROM hits GROUP BY doc_id
    """,
    doc="Bloom-filter contamination screen: the benchmark 5-gram set "
    "compressed to a 15360-bit / 3-hash filter (256 bigint words — "
    "broadcastable at ANY benchmark size, unlike the exact shingle set) "
    "probed by every corpus shingle; false positives possible but "
    "deterministic, so the oracle hash-checks the flags themselves",
)
def q_bloom_contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for contamination screening: the exact screen joins
    corpus shingles against the materialized benchmark set — fine while
    that set broadcasts, degenerate when the benchmark is itself huge.
    The Bloom bits are a fixed 256-word table whatever the benchmark
    size, and membership is k index probes per shingle.  Bits are set
    via bit_or aggregation — order-independent, so the filter (and every
    false positive) is bit-identical on any engine or partitioning.

    Plan: build = one distinct + groupBy(word) over the benchmark; probe
    = explode k positions, broadcast-join the 256-row filter, AND the k
    bits per shingle, count per doc.  One corpus-side shuffle (the
    per-(doc, shingle) min), no benchmark-size dependence anywhere."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.text import md5_hash60

    M_BITS, WORD_BITS, K = 15360, 60, 3
    (docs,) = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    bsh = D.shingle_sets(bench, "doc_id", "text", n=5).select(
        F.explode("shingles").alias("s")
    ).distinct()
    csh = D.shingle_sets(corpus, "doc_id", "text", n=5).select(
        "doc_id", F.explode("shingles").alias("s")
    )

    def positions(src):
        return src.select(
            "*",
            F.explode(
                F.array(*[
                    (md5_hash60(F.concat(F.lit(f"bloom{j}:"), F.col("s"))) % M_BITS).alias("p")
                    for j in range(K)
                ])
            ).alias("p"),
        )

    bloom = (
        positions(bsh)
        .select((F.col("p") / WORD_BITS).cast("long").alias("word"),
                F.expr(f"shiftleft(1L, cast(p % {WORD_BITS} as int))").alias("m"))
        .distinct()
        .groupBy("word")
        .agg(F.bit_or("m").alias("bits"))
    )
    hits = (
        positions(csh)
        .select("doc_id", "s", (F.col("p") / WORD_BITS).cast("long").alias("word"),
                (F.col("p") % WORD_BITS).cast("int").alias("bit"))
        .join(F.broadcast(bloom), "word", "left")
        .select(
            "doc_id", "s",
            F.when(F.col("bits").isNull(), 0)
            .otherwise(F.expr("cast(shiftright(bits, bit) & 1 as int)")).alias("hit"),
        )
        .groupBy("doc_id", "s")
        .agg(F.min("hit").alias("all_set"))
    )
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum("all_set").cast("bigint").alias("n_flagged"),
        T.half_up_round(F.sum("all_set") / F.count(F.lit(1)), 4).alias("flag_ratio"),
    )


@query(
    "repetition_signals",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents),
    uni AS (SELECT doc_id, unnest(tk) AS t FROM toks),
    uc AS (SELECT doc_id, t, count(*) AS c FROM uni GROUP BY 1, 2),
    ua AS (
      SELECT doc_id, max(c) AS top_uni, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct
      FROM uc GROUP BY doc_id
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(tk)),
                                   i -> array_to_string(list_slice(tk, i, i + 1), ' '))) AS g
      FROM toks WHERE len(tk) >= 2
    ),
    bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
    ba AS (SELECT doc_id, max(c) AS top_bi, CAST(sum(c) AS BIGINT) AS n_bi FROM bc GROUP BY doc_id)
    SELECT ua.doc_id, ua.n_tokens,
           floor(top_uni * 1.0 / n_tokens * 10000 + 0.5) / 10000 AS top_unigram_frac,
           floor(top_bi * 1.0 / n_bi * 10000 + 0.5) / 10000 AS top_bigram_frac,
           floor(n_distinct * 1.0 / n_tokens * 10000 + 0.5) / 10000 AS distinct_frac
    FROM ua JOIN ba USING (doc_id)
    """,
    doc="Gopher-style repetition quality signals per doc: top-unigram "
    "fraction, top-bigram fraction, distinct-token ratio — explode + "
    "two-level groupBy (map-side partial agg), one shuffle per n-gram order",
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    docs = D.spread(docs)
    uni = (
        docs.select("doc_id", F.explode(T.tokens("text")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_uni"),
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
    )
    # hashed bigrams: frequency profile identical to string bigrams
    # (collisions ~2^-64), 8-byte shuffle keys instead of 2-word strings
    bi = (
        docs.select("doc_id", F.explode(T.word_ngram_hashes("text", 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bi"), F.sum("c").alias("n_bi"))
    )
    return uni.join(bi, "doc_id").select(
        "doc_id",
        "n_tokens",
        T.half_up_round(F.col("top_uni") / F.col("n_tokens"), 4).alias("top_unigram_frac"),
        T.half_up_round(F.col("top_bi") / F.col("n_bi"), 4).alias("top_bigram_frac"),
        T.half_up_round(F.col("n_distinct") / F.col("n_tokens"), 4).alias("distinct_frac"),
    )


#: bm25_rank's fixed query (literal terms from the synthetic vocabulary).
#: The DuckDB oracle below spells these terms (and their tf0/tf1/tf2
#: columns) out literally — editing this tuple requires editing the
#: oracle in lockstep, which the assert enforces (ADVICE r12); the
#: Spark-side filter/tf_total ARE derived from it (see _bm25_tf_sum).
_BM25_TERMS = ("table", "join", "window")
assert _BM25_TERMS == ("table", "join", "window"), (
    "bm25_rank's DuckDB oracle hardcodes these terms — update the oracle "
    "SQL (tf0/tf1/tf2 list_filter literals, score sum, WHERE) in lockstep"
)

#: Spark-side "any query term present" sum, derived from the terms tuple
#: so the filter/tf_total can never desynchronize from the score sum
_BM25_TF_SUM = " + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))


@query(
    "bm25_rank",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents WHERE text IS NOT NULL
    ),
    t AS (
      SELECT doc_id, len(tk) AS dl,
             len(list_filter(tk, x -> x = 'table'))  AS tf0,
             len(list_filter(tk, x -> x = 'join'))   AS tf1,
             len(list_filter(tk, x -> x = 'window')) AS tf2
      FROM base
    ),
    s AS (
      -- BIGINT casts: DuckDB sum() yields HUGEINT, whose arithmetic
      -- promotes the whole score to DECIMAL instead of DOUBLE
      SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sl,
             CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
             CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
             CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
      FROM t
    )
    SELECT doc_id, dl, tf0 + tf1 + tf2 AS tf_total,
           FLOOR((
             (2*n - 2*df0 + 1) * 1.0 / (2*df0 + 1)
               * (22.0 * tf0 * sl / (10.0 * tf0 * sl + 3.0 * sl + 9.0 * dl * n))
           + (2*n - 2*df1 + 1) * 1.0 / (2*df1 + 1)
               * (22.0 * tf1 * sl / (10.0 * tf1 * sl + 3.0 * sl + 9.0 * dl * n))
           + (2*n - 2*df2 + 1) * 1.0 / (2*df2 + 1)
               * (22.0 * tf2 * sl / (10.0 * tf2 * sl + 3.0 * sl + 9.0 * dl * n))
           ) * 1000000 + 0.5) / 1000000 AS bm25_score
    FROM t, s
    WHERE tf0 + tf1 + tf2 > 0
    """,
    doc="BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed 3-term query, "
    "odds-ratio idf variant: every factor is a ratio of small integers, so "
    "the score is engine-exact without ln()",
)
def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document scoring, the retrieval-side sibling of
    ``tfidf_top_terms``: score(d) = Σ_i idf'_i · tf_i(k1+1) / (tf_i +
    k1(1−b+b·dl/avgdl)) with k1=1.2, b=0.75.

    Engine-exactness by construction (the repo's doctrine —
    ``temperature_mixture_sample`` pinned its power to sqrt for the same
    reason): Robertson idf needs ln(), which IEEE 754 does NOT require
    to be correctly rounded, so a 1-ulp libm divergence could flip a
    rounded tie cross-engine.  The odds-ratio variant drops the log:
    idf' = (N−df+0.5)/(df+0.5) = (2N−2df+1)/(2df+1) — a ratio of exact
    integers that is also always POSITIVE (no BM25 negative-idf quirk).
    The tf term clears denominators the same way: with S = Σdl,
    tf·2.2/(tf + 1.2(0.25 + 0.75·dl·N/S)) = 22·tf·S/(10·tf·S + 3·S +
    9·dl·N).  Every product of integers stays ≤ 2⁵³ at any tested SF
    (exact in double), each division is one correctly-rounded IEEE op,
    and the 3-term sum is written left-associated identically in both
    engines — bit-identical scores, half-up-floored to 6 decimals as
    defense in depth.

    Plan at 100 TB: tokens ride the scan (no shuffle before the
    aggregate), the corpus statistics are ONE 1-row aggregate broadcast
    back, and scoring is a pure map with a tf>0 filter — no shuffle of
    the corpus at all.  Reference parity: no counterpart in the
    reference; LLM-pipeline tier (retrieval/quality scoring)."""
    (docs,) = load(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))

    def tf_col(term):
        # factory closure, NOT a default-arg lambda: F.filter treats a
        # 2-arg lambda as (element, index)
        return F.size(F.filter(toks, lambda x: x == term))

    t = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[tf_col(q).alias(f"tf{i}") for i, q in enumerate(_BM25_TERMS)],
    )
    stats = t.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    # 1.0D/22.0D… double literals: Spark SQL parses a bare `1.0` as
    # DECIMAL(2,1), which would silently flip the whole score into
    # decimal arithmetic (different rounding than the oracle's doubles)
    contrib = " + ".join(
        f"(2*n - 2*df{i} + 1) * 1.0D / (2*df{i} + 1)"
        f" * (22.0D * tf{i} * sl / (10.0D * tf{i} * sl + 3.0D * sl + 9.0D * dl * n))"
        for i in range(len(_BM25_TERMS))
    )
    return (
        t.join(F.broadcast(stats))
        .filter(F.expr(f"{_BM25_TF_SUM} > 0"))
        .select(
            "doc_id",
            "dl",
            F.expr(_BM25_TF_SUM).alias("tf_total"),
            F.expr(f"FLOOR(({contrib}) * 1000000 + 0.5) / 1000000").alias("bm25_score"),
        )
    )


@query(
    "hybrid_search_rrf",
    oracle=nse_oracle(f"""
    WITH base AS (
      SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents WHERE text IS NOT NULL
    ),
    t AS (
      SELECT doc_id, len(tk) AS dl,
             len(list_filter(tk, x -> x = 'table'))  AS tf0,
             len(list_filter(tk, x -> x = 'join'))   AS tf1,
             len(list_filter(tk, x -> x = 'window')) AS tf2
      FROM base
    ),
    s AS (
      SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sl,
             CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
             CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
             CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
      FROM t
    ),
    lex AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
               AS lex_rank
      FROM (
        SELECT doc_id,
               FLOOR((
                 (2*n - 2*df0 + 1) * 1.0 / (2*df0 + 1)
                   * (22.0 * tf0 * sl / (10.0 * tf0 * sl + 3.0 * sl + 9.0 * dl * n))
               + (2*n - 2*df1 + 1) * 1.0 / (2*df1 + 1)
                   * (22.0 * tf1 * sl / (10.0 * tf1 * sl + 3.0 * sl + 9.0 * dl * n))
               + (2*n - 2*df2 + 1) * 1.0 / (2*df2 + 1)
                   * (22.0 * tf2 * sl / (10.0 * tf2 * sl + 3.0 * sl + 9.0 * dl * n))
               ) * 1000000 + 0.5) / 1000000 AS score
        FROM t, s WHERE tf0 + tf1 + tf2 > 0
      ) QUALIFY lex_rank <= 20
    ),
    sem AS (
      SELECT q_id, c_id AS doc_id, CAST(rn AS INTEGER) AS sem_rank FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                                 c.embedding::DOUBLE[]) DESC,
                          c.vec_id) AS rn
        FROM embeddings q, embeddings c
        WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
      ) WHERE rn <= 20
    ),
    qids AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < 5),
    lexq AS (SELECT q.q_id, l.doc_id, l.lex_rank FROM qids q CROSS JOIN lex l),
    fused AS (
      SELECT coalesce(l.q_id, m.q_id) AS q_id,
             coalesce(l.doc_id, m.doc_id) AS doc_id, l.lex_rank, m.sem_rank,
             CAST(coalesce(1000000 // (60 + l.lex_rank), 0)
                  + coalesce(1000000 // (60 + m.sem_rank), 0) AS BIGINT) AS rrf_micro
      FROM lexq l FULL OUTER JOIN sem m
        ON l.q_id = m.q_id AND l.doc_id = m.doc_id
    )
    SELECT q_id, doc_id, lex_rank, sem_rank, rrf_micro,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY rrf_micro DESC, doc_id) AS INTEGER)
             AS fused_rank
    FROM fused QUALIFY fused_rank <= 10
    """),
    doc="hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. "
    "2009) over the tier's standard 5-QUERY frame (vec_id < 5, the same "
    "frame every recall report uses — widened from the single-query "
    "form per VERDICT r15 #5): the lexical arm is the engine's "
    "exact-integer BM25 top-20 (one keyword query, shared across the "
    "frame — RRF fuses per query vector against it), the semantic arm "
    "each query vector's brute cosine top-20 (TESTDATA convention: "
    "vec_id ≡ doc_id over the embedded prefix of the corpus — a doc "
    "outside it simply gets no semantic contribution, which RRF "
    "absorbs), fused by sum(floor(1e6/(60+rank))) — the classic k=60 "
    "RRF in exact integer micro-units, top-10 per query by fused score "
    "with the fusion window PARTITIONED BY q_id.  The RAG-stack "
    "retrieval shape: two bounded top-k arms, a ≤(5×40)-row fusion "
    "join — at 100 TB each arm is its own index scan and the fusion "
    "cost stays O(queries × k)",
)
def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    lex_scores = q_bm25_rank(spark, sf_dir)
    wlex = W.orderBy(F.col("bm25_score").desc(), "doc_id")
    lex = (
        lex_scores.select("doc_id", F.row_number().over(wlex).alias("lex_rank"))
        .filter(F.col("lex_rank") <= 20)
    )
    (emb,) = load(spark, sf_dir, "embeddings")
    emb = swallow_malformed_embeddings(emb)  # malformed-vector swallow (ingest-bit-aware r16)
    queries5 = emb.filter(F.col("vec_id") < 5)
    sem = (
        S.brute_topk(emb, queries5, k=20)
        .select("q_id", F.col("c_id").alias("doc_id"), F.col("rn").alias("sem_rank"))
    )
    # per-query lexical frame: the 5-row q_id table crossed into the
    # 20-row lex top-k — a bounded scalar cross (≤100 rows at ANY corpus
    # size; plan-sweep BNLJ whitelist)
    lexq = (
        queries5.select(F.col("vec_id").alias("q_id"))
        .crossJoin(F.broadcast(lex))
        .select("q_id", "doc_id", "lex_rank")
    )
    rrf = lambda rank: F.coalesce(  # noqa: E731 — exact integer 1e6/(60+rank)
        F.call_function("div", F.lit(1_000_000).cast("long"), (F.lit(60) + rank).cast("long")),
        F.lit(0).cast("long"),
    )
    fused = lexq.join(sem, ["q_id", "doc_id"], "full_outer").select(
        "q_id",
        "doc_id",
        "lex_rank",
        "sem_rank",
        (rrf(F.col("lex_rank")) + rrf(F.col("sem_rank"))).alias("rrf_micro"),
    )
    wf = W.partitionBy("q_id").orderBy(F.col("rrf_micro").desc(), "doc_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf))
        .filter(F.col("fused_rank") <= 10)
    )


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents),
    tf AS (
      SELECT doc_id, unnest(tk) AS term FROM toks
    ),
    tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
    dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
    scored AS (
      SELECT t.doc_id, t.term, t.tf, d.df,
             row_number() OVER (PARTITION BY t.doc_id
                                ORDER BY t.tf * 1.0 / d.df DESC, t.term) AS rnk
      FROM tfc t JOIN dfc d USING (term)
    )
    SELECT doc_id, term, tf, df, rnk
    FROM scored WHERE rnk <= 3
    """,
    doc="per-doc top-3 TF-IDF-ranked terms: term frequency / document "
    "frequency with a rational-number sort key (tf/df division is one IEEE "
    "op — identical on any engine; ints in the output, tie-broken by term)",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (docs,) = load(spark, sf_dir, "documents")
    docs = D.spread(docs)
    tf = (
        docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # document frequency: derived from tf (already one row per (doc, term))
    # — vocabulary is corpus-sublinear, so Catalyst/AQE typically broadcasts
    # this side of the join at any scale
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tf") * 1.0 / F.col("df")).desc(), "term"
    )
    return (
        tf.join(df_counts, "term")
        .select("doc_id", "term", "tf", "df", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "vocab_oov_rate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
    ), vocab AS (
      SELECT term FROM toks GROUP BY term
      ORDER BY count(*) DESC, term LIMIT 50
    )
    SELECT t.doc_id,
           count(*) AS total_tokens,
           CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
           CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000
             // count(*) AS oov_permille
    FROM toks t LEFT JOIN vocab v USING (term)
    GROUP BY t.doc_id
    """,
    doc="vocabulary coverage scoring: build the corpus top-50 vocabulary by "
    "token frequency (tie-broken by token), broadcast it, and score every "
    "document by its out-of-vocabulary token rate — the tokenizer-coverage "
    "screen a pretraining corpus runs before committing to a vocab",
)
def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: tokens ride the scan (explode, no shuffle before the agg);
    # the vocabulary is ONE distributed agg + TakeOrdered(50) — never a
    # single-partition sort of the full term table — and the membership
    # join broadcasts 50 rows to every executor.  Integer permille avoids
    # float division in the output.
    (docs,) = load(spark, sf_dir, "documents")
    docs = D.spread(docs)
    toks = docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.col("__n").desc(), "term")
        .limit(50)
        .select("term", F.lit(1).alias("__in_vocab"))
    )
    oov = F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            oov.alias("oov_tokens"),
            F.expr(
                "CAST(sum(CASE WHEN __in_vocab IS NULL THEN 1 ELSE 0 END) * 1000 AS BIGINT)"
                " DIV count(*)"
            ).alias("oov_permille"),
        )
    )


def _semantic_dedup_oracle(threshold: float = 0.35, n_centroids: int = 16) -> str:
    """DuckDB twin of ``S.semantic_dedup``: same lowest-id centroids and
    integer-quantized assignment as ``_ann_ivf_oracle``, same exact-double
    cosine drop rule — the pruned set is engine-independent."""
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_transform(embedding::DOUBLE[], x -> floor(x * {S.NEARDUP_QUANT})) AS qv
      FROM embeddings
    ),
    cent AS (SELECT vec_id AS j, qv AS cv FROM e ORDER BY vec_id LIMIT {n_centroids}),
    assign AS (
      SELECT e.vec_id, e.v, cent.j,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_dot_product(e.qv, cent.cv) DESC, cent.j) AS r
      FROM e CROSS JOIN cent
    ),
    buck AS (SELECT vec_id, v, j AS cluster FROM assign WHERE r = 1),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM buck a JOIN buck b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= {threshold}
    )
    SELECT vec_id, cluster
    FROM buck
    WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
    """


@query(
    "semantic_dedup",
    oracle=nse_oracle(_semantic_dedup_oracle()),
    doc="SemDeDup-style semantic pruning: deterministic IVF clusters, then "
    "drop every vector with a smaller-id near-duplicate (cos >= 0.35) in "
    "its cluster — cluster-local pair work only, nothing cross-cluster",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = load(spark, sf_dir, "embeddings")
    emb = swallow_malformed_embeddings(emb)  # malformed-vector swallow (r14; ingest-bit-aware r16)
    return S.semantic_dedup(emb, threshold=0.35, n_centroids=16)


@query(
    "char_entropy_score",
    oracle="""
    WITH chars AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch, length(text) AS n
      FROM (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
            FROM documents WHERE length(text) > 0) u
    ),
    hist AS (SELECT doc_id, ch, any_value(n) AS n, count(*) AS c
             FROM chars GROUP BY doc_id, ch),
    terms AS (
      SELECT doc_id, n,
             CAST(FLOOR(-log2(c * 1.0 / n) * 1000) AS BIGINT) * c AS millibits_c
      FROM hist
    )
    SELECT doc_id,
           CAST(FLOOR(sum(millibits_c) * 1.0 / any_value(n)) AS BIGINT)
             AS entropy_millibits
    FROM terms GROUP BY doc_id
    """,
    doc="character-entropy quality score: per-doc Shannon entropy of the "
    "char distribution in integer millibits — near-zero flags repeated-"
    "char/mojibake runs, near-log2(alphabet) flags random noise; the "
    "cheap first-pass gibberish detector",
)
def q_char_entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H(doc) = Σ_ch (c/n)·(-log2(c/n)).  Each histogram term is quantized
    to integer millibits BEFORE the weighted sum, so per-doc totals are
    exact integer arithmetic — engine- and order-independent (same
    convention as the surprisal scores).  Scale shape: chars explode
    len(text) rows but immediately collapse to the per-(doc, char)
    histogram — the shuffle carries (doc_id, char) pairs, bounded by
    |alphabet| per doc, and everything after is per-doc arithmetic."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.text import tokens as _  # noqa: F401

    (docs,) = load(spark, sf_dir, "documents")
    chars = (
        D.spread(docs.filter(F.length("text") > 0))
        .select(
            "doc_id",
            F.length("text").alias("n"),
            F.explode(F.split(F.col("text"), "")).alias("ch"),
        )
        .filter(F.col("ch") != "")
    )
    hist = chars.groupBy("doc_id", "ch").agg(
        F.any_value(F.col("n")).alias("n"), F.count(F.lit(1)).alias("c")
    )
    terms = hist.select(
        "doc_id",
        "n",
        (
            F.floor(-F.log2(F.col("c") * F.lit(1.0) / F.col("n")) * 1000).cast("bigint")
            * F.col("c")
        ).alias("millibits_c"),
    )
    return terms.groupBy("doc_id").agg(
        F.floor(F.sum("millibits_c") / F.any_value("n")).cast("bigint")
        .alias("entropy_millibits")
    )


@query(
    "dedup_pipeline_report",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             substr(text, 1, CAST(FLOOR(length(text) * 0.8) AS INT))
      FROM documents
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents
    ),
    s1 AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM corpus
      ) WHERE rn = 1
    ),
    long_docs AS (SELECT doc_id, text FROM s1 WHERE length(text) >= 40),
    sp AS (
      SELECT doc_id, pos, md5(substr(text, pos + 1, 40)) AS h
      FROM (SELECT doc_id, text,
                   unnest(generate_series(0, length(text) - 40, 10)) AS pos
            FROM long_docs) u
    ),
    ranked AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY h) AS cnt,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      FROM sp
    ),
    rem AS (SELECT doc_id, pos AS s0, pos + 40 AS e0 FROM ranked WHERE cnt >= 2 AND rn > 1),
    ord_rem AS (
      SELECT doc_id, s0, e0,
             max(e0) OVER (PARTITION BY doc_id ORDER BY s0, e0
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      FROM rem
    ),
    isl AS (
      SELECT doc_id, s0, e0,
             sum(CASE WHEN prev_max IS NULL OR s0 > prev_max THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s0, e0) AS island
      FROM ord_rem
    ),
    merged AS (SELECT doc_id, min(s0) AS ms, max(e0) AS me
               FROM isl GROUP BY doc_id, island),
    removed AS (SELECT doc_id, sum(me - ms) AS cut FROM merged GROUP BY doc_id),
    s2 AS (
      SELECT s1.doc_id, length(s1.text) - coalesce(r.cut, 0) AS n_chars
      FROM s1 LEFT JOIN removed r USING (doc_id)
    )
    SELECT 'raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS n_chars
    FROM corpus
    UNION ALL
    SELECT 'exact_dedup', CAST(count(*) AS BIGINT), CAST(sum(length(text)) AS BIGINT)
    FROM s1
    UNION ALL
    SELECT 'span_removal', CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
    FROM s2
    """,
    doc="the dedup ladder composed end-to-end with per-stage accounting: "
    "raw corpus (originals + exact copies + 80%-prefix near-copies) -> "
    "exact dedup (min-id per md5) -> duplicate-span removal, reporting "
    "(stage, n_docs, n_chars) — the shrinkage audit a data engineer reads "
    "after every corpus build",
)
def q_dedup_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage composition is pure DataFrame chaining — each tier consumes
    the previous tier's output, so the whole ladder is ONE lazy plan and
    Catalyst shares the scan.  The synthetic corpus plants work for every
    stage: exact copies vanish at tier 1, the shared 80% prefixes lose
    their duplicated spans at tier 2.  Char accounting rides the existing
    operators' outputs (span removal reports n_removed_chars directly)."""
    (docs,) = load(spark, sf_dir, "documents")
    corpus = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"),
                    F.col("text").substr(F.lit(1), F.floor(F.length("text") * 0.8).cast("int")).alias("text"))
    ).unionByName(
        docs.select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    )
    s1 = D.dedup_exact(corpus, "doc_id", key=F.md5("text")).select("doc_id", "text")
    s2 = D.remove_duplicate_spans(s1, "doc_id", "text", span_len=40, stride=10)
    raw_row = corpus.agg(
        F.lit("raw").alias("stage"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
    )
    s1_row = s1.agg(
        F.lit("exact_dedup").alias("stage"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
    )
    s2_row = s2.agg(
        F.lit("span_removal").alias("stage"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("clean_text")).cast("bigint").alias("n_chars"),
    )
    return raw_row.unionByName(s1_row).unionByName(s2_row)


@query(
    "quality_classifier_score",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents),
    feats AS (
      SELECT doc_id, unnest(tk) AS f FROM toks
      UNION ALL
      SELECT doc_id,
             unnest(list_transform(range(1, len(tk)),
                                   i -> array_to_string(list_slice(tk, i, i + 1), ' '))) AS f
      FROM toks
    ),
    fc AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(f), 1, 15))::BIGINT % 1024 AS INTEGER) AS bucket,
             count(*) AS n
      FROM feats GROUP BY 1, 2
    ),
    w AS (
      SELECT CAST(b AS INTEGER) AS bucket,
             ('0x' || substr(md5('qw:' || CAST(b AS VARCHAR)), 1, 15))::BIGINT % 2001 - 1000 AS w
      FROM range(0, 1024) t(b)
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_feats,
           CAST(sum(n * w) AS BIGINT) AS margin_milli,
           sum(n * w) > 0 AS keep
    FROM fc JOIN w USING (bucket)
    GROUP BY doc_id
    """,
    doc="fastText-style linear quality classifier (Joulin et al. 2016, the "
    "CCNet/GPT-3 quality-filter architecture): unigram+bigram features "
    "hashed into 1024 buckets (hashing trick — no vocabulary build), "
    "scored against a BROADCAST weight TABLE in integer milli-units, "
    "keep = margin > 0.  Weights here are a deterministic md5-derived "
    "stand-in (the corpus ships no labels); a trained model swaps in as "
    "the same 1024-row table without touching the plan.  Scan-local "
    "feature extraction, one bounded (docs x 1024) groupBy, one "
    "broadcast join — no vocabulary shuffle at any corpus size",
)
def q_quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        F.explode(F.concat(T.tokens("text"), T.word_ngrams("text", 2))).alias("f"),
    )
    counts = (
        feats.select("doc_id", (T.md5_hash60(F.col("f")) % 1024).cast("int").alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    weights = spark.range(0, 1024).select(
        F.col("id").cast("int").alias("bucket"),
        (T.md5_hash60(F.concat(F.lit("qw:"), F.col("id").cast("string"))) % 2001 - 1000).alias(
            "w"
        ),
    )
    return (
        counts.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_feats"),
            F.sum(F.col("n") * F.col("w")).alias("margin_milli"),
            (F.sum(F.col("n") * F.col("w")) > 0).alias("keep"),
        )
    )


@query(
    "ngram_novelty_score",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents),
    sh AS (
      SELECT doc_id,
             ('0x' || substr(md5(unnest(list_distinct(
                list_transform(range(1, len(tk) - 1),
                               i -> array_to_string(list_slice(tk, i, i + 2), ' '))))),
              1, 15))::BIGINT AS h
      FROM toks WHERE len(tk) >= 3
    ),
    df AS (SELECT h, count(*) AS df FROM sh GROUP BY h),
    per AS (
      SELECT sh.doc_id, count(*) AS n_shingles,
             sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS n_unique
      FROM sh JOIN df USING (h) GROUP BY sh.doc_id
    )
    SELECT doc_id,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_unique AS BIGINT) AS n_unique,
           CAST((n_unique * 1000000 - (n_unique * 1000000) % n_shingles)
                / n_shingles AS BIGINT) AS novelty_micro
    FROM per
    """,
    doc="per-doc n-gram novelty: the fraction of a document's distinct "
    "trigram shingles that appear in NO other document (corpus df = 1) "
    "— the memorization/uniqueness signal dual to the overlap reports; "
    "inverted-index shape with NO pair join: scan-local hashed "
    "shingling, one df groupBy on 8-byte hashes, one per-doc fold — "
    "linear in the corpus at any scale; exact integer micro-fraction",
)
def q_ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(F.array_distinct(T.word_ngrams("text", 3))).alias("s")
    ).select("doc_id", T.md5_hash60(F.col("s")).alias("h"))
    df = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    per = (
        sh.join(df, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_unique"),
        )
    )
    # pmod-adjust + long `div`: floor quotient, exact in int64 at any
    # magnitude (no double round-trip past 2^53)
    novelty = F.call_function(
        "div",
        F.col("n_unique") * 1000000
        - F.pmod(F.col("n_unique") * 1000000, F.col("n_shingles")),
        F.col("n_shingles"),
    )
    return per.select("doc_id", "n_shingles", "n_unique", novelty.alias("novelty_micro"))


@query(
    "media_phash_neardup",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS media_id, text FROM documents WHERE text IS NOT NULL
      UNION ALL
      SELECT doc_id + {COPY_OFFSET},
             CASE WHEN length(text) >= 1
                  THEN substr(text, 1, length(text) - 1) || 'X' ELSE 'X' END
      FROM documents WHERE text IS NOT NULL
    ),
    hb AS (
      SELECT media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM m
    ),
    samp AS (
      SELECT media_id, n,
             list_transform(range(0, 60),
               i -> ('0x' || substr(hx, 1 + 2 * CAST(floor(i * n / 60) AS INT), 2))::BIGINT)
               AS sb
      FROM hb WHERE n > 0
    ),
    ph AS (
      SELECT media_id, n,
             list_sum(list_transform(range(0, 60),
               i -> CASE WHEN sb[i + 1] >= list_sum(sb) // 60
                         THEN (1::BIGINT << CAST(i AS INT)) ELSE 0::BIGINT END)) AS phash
      FROM samp
    ),
    bands AS (
      SELECT media_id, phash, b, (phash >> CAST(b * 15 AS INT)) & 32767 AS bv
      FROM ph, unnest(range(0, 4)) t(b)
    ),
    pairs AS (
      SELECT DISTINCT a.media_id AS id_a, c.media_id AS id_b,
             a.phash AS ha, c.phash AS hb2
      FROM bands a JOIN bands c ON a.b = c.b AND a.bv = c.bv
                               AND a.media_id < c.media_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(ha, hb2)) AS INTEGER) AS hamming
    FROM pairs WHERE bit_count(xor(ha, hb2)) <= 6
    """,
    doc="perceptual-hash media near-dup (Krawetz aHash over the stub "
    "decoder's deterministic byte grid; a real image decoder swaps in "
    "under the same mapInPandas signature): 60-bit hashes computed "
    "executor-side from payload BYTES (Arrow batches, bytes never "
    "shuffle), 4x15-bit Hamming-LSH bands generate candidates (equi "
    "self-join — no all-pairs), exact popcount verifies <= 6; planted "
    "last-char-mutated copies are the recall fixture (COPY_OFFSET ids)",
)
def q_media_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.multimodal import ahash_media

    (docs,) = load(spark, sf_dir, "documents")
    base = docs.filter(F.col("text").isNotNull()).select("doc_id", "text")
    mutated = base.select(
        (F.col("doc_id") + COPY_OFFSET).alias("doc_id"),
        F.when(
            F.length("text") >= 1,
            F.concat(
                F.col("text").substr(F.lit(1), F.greatest(F.length("text") - 1, F.lit(0))),
                F.lit("X"),
            ),
        ).otherwise(F.lit("X")).alias("text"),
    )
    media = base.unionByName(mutated).select(
        F.col("doc_id").alias("media_id"), F.encode("text", "UTF-8").alias("payload")
    )
    ph = ahash_media(media)
    bands = ph.select(
        "media_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright(F.col("phash"), b * 15)
                        .bitwiseAND(F.lit(32767))
                        .alias("bv"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("p"),
    ).select("media_id", "phash", "p.b", "p.bv")
    a = bands.select(
        F.col("media_id").alias("id_a"), F.col("phash").alias("ha"), "b", "bv"
    )
    c = bands.select(
        F.col("media_id").alias("id_b"), F.col("phash").alias("hb2"), "b", "bv"
    )
    pairs = (
        a.join(c, ["b", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb2")
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb2")))
    return pairs.select(
        "id_a", "id_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= 6)


@query(
    "token_gini_concentration",
    oracle=f"""
    WITH x AS (
      SELECT doc_id, len({_DUCK_TOKS}) AS x FROM documents
      WHERE text IS NOT NULL
    ),
    r AS (
      SELECT x, row_number() OVER (ORDER BY x, doc_id) AS i FROM x
    ),
    agg AS (
      SELECT count(*) AS n, sum(x) AS s, sum(i * x) AS six FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(s AS BIGINT) AS total_tokens,
           CAST(((2 * six - (n + 1) * s) * 1000000
                 - ((2 * six - (n + 1) * s) * 1000000) % (n * s))
                / (n * s) AS BIGINT) AS gini_micro
    FROM agg WHERE n > 0 AND s > 0
    """,
    doc="corpus token-mass concentration: the EXACT Gini coefficient of "
    "per-doc token counts — G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) "
    "over the globally rank-ordered counts (ties by doc_id), all integer "
    "arithmetic, floored at 1e-6.  The data-mixing diagnostic for 'is "
    "the token budget concentrated in few documents'.  The global rank "
    "uses the range-partition + broadcast-offset machinery "
    "(global_running_sum row numbers) — NO Exchange SinglePartition at "
    "any corpus size.  Int64 budget: sum(i*x) <= n^2*avg_x/2 stays "
    "under 2^63 up to ~10^8 docs at 500 tokens; past that the ANSI "
    "engine ABORTS loudly rather than wrapping (shard the corpus and "
    "combine per-shard rank sums, or widen to DECIMAL)",
)
def q_token_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.ranking import global_running_sum

    (docs,) = load(spark, sf_dir, "documents")
    x = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", T.token_count("text").cast("long").alias("x")
    )
    ranked = global_running_sum(
        x, order_by=[F.col("x"), F.col("doc_id")], value_col="x",
        sum_name="__rs", row_number_name="i",
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    num = (2 * F.col("six") - (F.col("n") + 1) * F.col("s")) * 1000000
    den = F.col("n") * F.col("s")
    # pmod-adjust + long `div`: floor quotient, exact in int64 (the old
    # `/` path rounded past 2^53; the documented budget now covers only
    # the multiplications)
    gini = F.call_function("div", num - F.pmod(num, den), den)
    return agg.filter((F.col("n") > 0) & (F.col("s") > 0)).select(
        F.col("n").alias("n_docs"),
        F.col("s").alias("total_tokens"),
        gini.alias("gini_micro"),
    )


@query(
    "vocab_shift_drift",
    oracle=f"""
    WITH halves AS (
      SELECT doc_id, CAST(doc_id % 2 AS INT) AS half, {_DUCK_TOKS} AS tk
      FROM documents WHERE text IS NOT NULL
    ),
    tok AS (
      SELECT DISTINCT doc_id, half, unnest(tk) AS t FROM halves
    ),
    df AS (
      SELECT t,
             sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS df_old,
             sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS df_new
      FROM tok GROUP BY t
    ),
    n AS (
      SELECT sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_old,
             sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_new
      FROM (SELECT DISTINCT doc_id, half FROM halves)
    ),
    odds AS (
      SELECT t, df_old, df_new,
             ((df_new + 1) * (n_old - df_old + 1) * 1000)
             // ((df_old + 1) * (n_new - df_new + 1)) AS odds_milli
      FROM df CROSS JOIN n
    )
    SELECT t AS token,
           CAST(df_old AS BIGINT) AS df_old,
           CAST(df_new AS BIGINT) AS df_new,
           CAST(odds_milli AS BIGINT) AS odds_milli,
           CAST(rk AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (ORDER BY odds_milli DESC, t) AS rk FROM odds
    ) WHERE rk <= 20
    """,
    doc="vocabulary drift monitor: smoothed document-frequency odds ratio "
    "of every token between the two corpus halves (deterministic "
    "doc_id%2 stand-in for consecutive ingest batches), top-20 RISING "
    "tokens by exact integer milli-odds — (df_new+1)(n_old-df_old+1) / "
    "(df_old+1)(n_new-df_new+1), no ln() anywhere (the bm25 odds-ratio "
    "convention), so both engines hash-match.  int64 budget: the "
    "numerator (df_new+1)(n_old-df_old+1)*1000 needs each corpus half "
    "under ~2.1e8 documents (factors ~n/2 each; 2e8/2 squared x1000 "
    "~ 9.2e18 = int64 max) — beyond that, widen both sides to DECIMAL "
    "(the oracle's HUGEINT sums widen for free; Spark does not).  "
    "Division itself is exact at any magnitude: long `div` on Spark, "
    "`//` on DuckDB, both operands positive.  Distinct-token df rides "
    "one groupBy; the top-20 is the whitelisted rank<=20 window shape",
)
def q_vocab_shift_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    (docs,) = load(spark, sf_dir, "documents")
    halves = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", (F.col("doc_id") % 2).cast("int").alias("half"), "text"
    )
    tok = halves.select(
        "doc_id", "half", F.explode(F.array_distinct(T.tokens("text"))).alias("t")
    )
    df = tok.groupBy("t").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("df_old"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("df_new"),
    )
    n = halves.select("doc_id", "half").distinct().agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n_old"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_new"),
    )
    num = (F.col("df_new") + 1) * (F.col("n_old") - F.col("df_old") + 1) * 1000
    den = (F.col("df_old") + 1) * (F.col("n_new") - F.col("df_new") + 1)
    # long `div` (IntegralDivide): quotient exact in int64, no double
    # round-trip (the old pmod-adjust + `/` path rounded past 2^53)
    odds = df.crossJoin(F.broadcast(n)).select(
        "t", "df_old", "df_new",
        F.call_function("div", num, den).alias("odds_milli"),
    )
    w = W.orderBy(F.col("odds_milli").desc(), "t")
    return (
        odds.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select(
            F.col("t").alias("token"), "df_old", "df_new", "odds_milli",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def zipf_fit_over(docs: DataFrame) -> DataFrame:
    """Zipf-fit core over any (source, text) frame: least squares of
    ln(freq) on ln(rank) per source via the SQL-standard ``regr_*``
    aggregate family (first use of that family in the engine).  Natural
    text sits near slope −1; template/boilerplate sources flatten toward
    0 and heavy-dup sources steepen — a one-number corpus-health signal.

    Determinism: ranks are row_number over (freq desc, token asc) —
    total order; fit values are 6-dp half-up rounded (both engines
    compute the regression over identical (ln f, ln r) doubles, the
    rounding absorbs accumulation-order ulps).  The degenerate all-equal-
    frequency case (every ln f identical — e.g. an all-unique-token
    source, common in small samples) reports r² NULL via an integer-exact
    ``min(f) = max(f)`` guard, NOT a ``var_pop() == 0.0`` float compare;
    single-type sources (no regression exists) are dropped (n_types ≥ 2).

    Scale shape: explode→count is the standard token-frequency aggregate
    (map-side combinable); the per-source rank window partitions by
    source (vocabulary per source, not corpus rows); the regr_* pass is
    one more keyed aggregate.  No driver collection anywhere."""
    from pyspark.sql.window import Window as W

    toks = docs.filter(F.col("text").isNotNull()).select(
        "source", F.explode(T.tokens(F.col("text"))).alias("tok")
    )
    freq = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("f"))
    w = W.partitionBy("source").orderBy(F.col("f").desc(), F.col("tok").asc())
    ranked = freq.select("source", "f", F.row_number().over(w).alias("r"))
    lf = F.log(F.col("f").cast("double"))
    lr = F.log(F.col("r").cast("double"))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            T.half_up_round(F.regr_slope(lf, lr), 6).alias("zipf_slope"),
            T.half_up_round(F.regr_intercept(lf, lr), 6).alias("zipf_intercept"),
            F.when(F.min("f") == F.max("f"), F.lit(None).cast("double"))
            .otherwise(T.half_up_round(F.regr_r2(lf, lr), 6))
            .alias("zipf_r2"),
        )
        .filter(F.col("n_types") >= 2)
    )


@query(
    "unicode_nfc_normalize",
    oracle="""
    SELECT doc_id,
           nfc_normalize(text) AS nfc_text,
           NOT (text IS NOT DISTINCT FROM nfc_normalize(text)) AS changed,
           length(nfc_normalize(text)) AS n_cp_nfc
    FROM documents
    """,
    doc="Unicode NFC canonical composition over the corpus (normalized text, "
    "changed flag, post-NFC codepoint count): multi-origin crawls must be "
    "NFC'd before exact/fingerprint dedup or byte-distinct NFD twins survive",
)
def q_unicode_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched pandas-UDF normalization (Spark has no built-in NFC);
    the oracle's nfc_normalize is utf8proc — same UAX #15 tables as
    CPython's unicodedata, parity pinned in tests/test_text_multimodal.py.
    The UDF output is aliased ONCE in a projection and referenced
    downstream so ArrowEvalPython materializes a single normalization
    pass, not one per referencing expression."""
    (docs,) = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "text", T.nfc_normalize_col(F.col("text")).alias("nfc_text")
    )
    return base.select(
        "doc_id",
        "nfc_text",
        (~F.col("text").eqNullSafe(F.col("nfc_text"))).alias("changed"),
        F.length("nfc_text").alias("n_cp_nfc"),
    )


@query(
    "zipf_fit_report",
    oracle=f"""
    WITH toks AS (SELECT source, unnest({_DUCK_TOKS}) AS tok
                  FROM documents WHERE text IS NOT NULL),
    freq AS (SELECT source, tok, count(*) AS f FROM toks GROUP BY 1, 2),
    ranked AS (SELECT source, f,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY f DESC, tok ASC) AS r
               FROM freq)
    SELECT source,
           count(*) AS n_types,
           floor(regr_slope(ln(f), ln(r)) * 1e6 + 0.5) / 1e6 AS zipf_slope,
           floor(regr_intercept(ln(f), ln(r)) * 1e6 + 0.5) / 1e6 AS zipf_intercept,
           CASE WHEN min(f) = max(f) THEN NULL
                ELSE floor(regr_r2(ln(f), ln(r)) * 1e6 + 0.5) / 1e6
           END AS zipf_r2
    FROM ranked GROUP BY source HAVING count(*) >= 2
    """,
    doc="per-source Zipf fit (slope/intercept/r2 of ln freq ~ ln rank) via "
    "the SQL-standard regr_* aggregates — corpus-health report: natural "
    "text ~ -1, boilerplate flattens, heavy duplication steepens",
)
def q_zipf_fit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    return zipf_fit_over(docs)
