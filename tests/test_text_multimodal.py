"""functions.text on real multilingual samples (the corpus' lang column is
synthetic, so heuristic accuracy is pinned here) + multimodal plumbing."""

from __future__ import annotations

import unicodedata

import duckdb
import pytest
from pyspark.sql import functions as F

from amazon_kinesis_data_analytics_flinktableapi_spark.functions import text as T
from amazon_kinesis_data_analytics_flinktableapi_spark.functions.text import nfc_normalize_col
from amazon_kinesis_data_analytics_flinktableapi_spark.operators import multimodal as M
from tests.test_adversarial_oracle import UNICODE_DOCS

SAMPLES = [
    (1, "the quick brown fox jumps over the lazy dog and runs to the hills", "en"),
    (2, "der schnelle braune fuchs springt und ist nicht mit dem hund", "de"),
    (3, "le renard brun saute dans la forêt et les chiens sont pour la chasse", "fr"),
    (4, "el zorro marrón salta y los perros corren por el bosque en la noche", "es"),
    (5, "敏捷的棕色狐狸跳过懒狗", "zh"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(SAMPLES, "doc_id long, text string, lang string")


def test_lang_id_accuracy(docs):
    out = docs.select("lang", T.lang_id("text").alias("pred")).collect()
    for r in out:
        assert r.pred == r.lang, f"expected {r.lang}, predicted {r.pred}"


def test_token_count_edges(spark):
    df = spark.createDataFrame(
        [(1, "a  b\t c"), (2, ""), (3, "   "), (4, "single")], "id long, text string"
    )
    got = {r.id: r.n for r in df.select("id", T.token_count("text").alias("n")).collect()}
    assert got == {1: 3, 2: 0, 3: 0, 4: 1}


def test_fingerprint_order_invariant(spark):
    df = spark.createDataFrame(
        [(1, "alpha bravo charlie"), (2, "charlie alpha bravo bravo"), (3, "alpha bravo delta")],
        "id long, text string",
    )
    fps = {r.id: r.fp for r in df.select("id", T.fingerprint("text").alias("fp")).collect()}
    assert fps[1] == fps[2]  # order + repetition invariant
    assert fps[1] != fps[3]


def test_rolling_hash_order_sensitive(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha bravo charlie"),
            (2, "charlie alpha bravo"),  # same bag, different order
            (3, "alpha bravo charlie"),  # identical sequence
            (4, "   alpha  bravo charlie  "),  # whitespace-normalized: same tokens
            (5, ""),  # token-less → 0
        ],
        "id long, text string",
    )
    hs = {r.id: r.h for r in df.select("id", T.rolling_hash("text").alias("h")).collect()}
    assert hs[1] == hs[3] == hs[4]
    assert hs[1] != hs[2]  # order matters (unlike fingerprint)
    assert hs[5] == 0
    assert all(0 <= h < T.ROLLING_MOD for h in hs.values())


def test_word_ngrams_short_text(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "a b c d")], "id long, text string")
    got = {r.id: r.g for r in df.select("id", T.word_ngrams("text", 3).alias("g")).collect()}
    assert got[1] == []
    assert got[2] == ["a b c", "b c d"]


def test_media_decode_plumbing(spark):
    docs = spark.createDataFrame(
        [(0, "hello world", "en", "s", 11), (1, "xyz", "en", "s", 3), (2, "longer payload text", "en", "s", 19)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = M.media_from_documents(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    out = {r.media_id: r for r in M.decode_media(media).collect()}
    assert out[0].kind == "image" and out[1].kind == "audio" and out[2].kind == "video"
    assert out[0].n_bytes == 11
    w, h, nf = M.fake_decode(b"hello world", "image")
    assert (out[0].width, out[0].height, out[0].n_frames) == (w, h, nf)


def test_resize_frame_sample_feature_plumbing(spark):
    docs = spark.createDataFrame(
        [(i, "payload text " * (i + 1), "en", "s", 13 * (i + 1)) for i in range(6)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = M.media_from_documents(docs)

    resized = {r.media_id: r for r in M.resize_media(media, 224, 224).collect()}
    assert all(r.width == 224 and r.height == 224 for r in resized.values())
    assert len(resized) == 6

    frames = M.frame_sample(media, every_nth=2).collect()
    per_media = {}
    for r in frames:
        per_media.setdefault(r.media_id, []).append(r)
    for mid, rows in per_media.items():
        idxs = sorted(r.frame_idx for r in rows)
        assert idxs == list(range(0, max(idxs) + 1, 2))
        assert all(r.frame_offset_bytes >= 0 for r in rows)

    feats = M.extract_features(media, dim=16).collect()
    assert len(feats) == 6
    for r in feats:
        assert len(r.embedding) == 16
        norm = sum(x * x for x in r.embedding) ** 0.5
        assert abs(norm - 1.0) < 1e-5


def test_extracted_features_feed_similarity(spark):
    """The multimodal feature column plugs straight into the similarity
    operators (schema contract across the pipeline)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.similarity import brute_topk

    docs = spark.createDataFrame(
        [(i, f"doc body {i} " * 20, "en", "s", 10) for i in range(8)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    feats = M.extract_features(M.media_from_documents(docs), dim=8)
    corpus = feats.withColumnRenamed("media_id", "vec_id")
    out = brute_topk(corpus, corpus.filter(F.col("vec_id") == 0), k=3)
    assert out.count() == 3


def test_real_decoder_is_stubbed():
    with pytest.raises(NotImplementedError):
        M.real_decode(b"bytes", "image")


def test_set_decoder_plugs_in(spark):
    docs = spark.createDataFrame([(0, "abc", "en", "s", 3)],
                                 "doc_id long, text string, lang string, source string, n_chars long")
    try:
        M.set_decoder(lambda payload, kind: (1, 2, 3))
        out = M.decode_media(M.media_from_documents(docs)).collect()[0]
        assert (out.width, out.height, out.n_frames) == (1, 2, 3)
    finally:
        M.set_decoder(M.fake_decode)


def test_ffmpeg_capability_probe():
    """Audio/video decode mirrors the PIL probe: ffprobe present → real
    metadata from a generated clip; absent → the documented
    NotImplementedError (the engine container has no ffmpeg, so the
    absent branch is what runs here; the present branch self-verifies in
    any environment that provides ffmpeg)."""
    import shutil
    import subprocess

    import pytest as _pytest

    from amazon_kinesis_data_analytics_flinktableapi_spark.operators import multimodal as M

    if not M.has_ffmpeg():
        with _pytest.raises(NotImplementedError, match="ffmpeg"):
            M.real_decode(b"\x00\x00\x00\x18ftypmp42", "video")
        with _pytest.raises(NotImplementedError, match="ffmpeg"):
            M.real_decode(b"RIFF....WAVE", "audio")
        return
    # environment provides ffmpeg: generate a 4-frame 16x8 clip and decode it
    assert shutil.which("ffmpeg") is not None
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".mp4") as tmp:
        subprocess.run(
            ["ffmpeg", "-y", "-v", "error", "-f", "lavfi",
             "-i", "testsrc=size=16x8:rate=4:duration=1", tmp.name],
            check=True,
        )
        payload = open(tmp.name, "rb").read()
    w, h, nf = M.real_decode(payload, "video")
    assert (w, h) == (16, 8) and nf >= 1


def test_real_decode_capability_probe():
    """real_decode is a runtime capability probe: PIL present → decodes an
    actual image; absent → the documented NotImplementedError."""
    import io

    import pytest as _pytest

    from amazon_kinesis_data_analytics_flinktableapi_spark.operators import multimodal as M

    if not M.has_real_decoder():
        with _pytest.raises(NotImplementedError, match="PIL"):
            M.real_decode(b"\x89PNG", "image")
        return
    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (12, 7)).save(buf, format="PNG")
    assert M.real_decode(buf.getvalue(), "image") == (12, 7, 1)


# --- knob guards: silent-wrongness outside the attested configuration ------
# (r8 sweep, same class as r7's LSH/minhash/simhash guards)


def test_rolling_hash_base_guard():
    with pytest.raises(ValueError, match="base"):
        T.rolling_hash("text", base=2**32)  # int64 fold would wrap silently
    with pytest.raises(ValueError, match="base"):
        T.rolling_hash("text", base=1)  # order sensitivity voided
    with pytest.raises(ValueError, match="base"):
        T.rolling_hash("text", base=0)
    T.rolling_hash("text", base=2**32 - 1)  # largest safe base still allowed


def test_stopword_ratio_empty_list_rejected(spark):
    with pytest.raises(ValueError, match="stopwords"):
        T.stopword_ratio("text", stopwords=[])
    # None means "default English list", and a custom list is honored
    df = spark.createDataFrame([("the cat sat",)], "text string")
    got = df.select(
        T.stopword_ratio("text").alias("en"),
        T.stopword_ratio("text", stopwords=["cat", "sat"]).alias("custom"),
    ).first()
    assert got["en"] > 0
    assert abs(got["custom"] - 2 / 3) < 1e-6


def test_mean_token_length_empty_text_is_zero(spark):
    """Empty text must yield 0 like the sibling ratios — a bare division
    NULLs the row (default mode) or aborts the job (ANSI mode)."""
    df = spark.createDataFrame([("",), ("   ",), ("ab abcd",)], "text string")
    got = [r[0] for r in df.select(T.mean_token_length("text")).collect()]
    assert got == [0.0, 0.0, 3.0]


def test_word_ngram_hashes_supports_unigrams(spark):
    """The hashed fast path must cover the same n domain as the string
    path it substitutes for (n=1 used to IndexError)."""
    df = spark.createDataFrame([("a b c",), ("",)], "text string")
    rows = df.select(
        T.word_ngram_hashes("text", n=1).alias("h"),
        T.word_ngrams("text", n=1).alias("s"),
    ).collect()
    assert len(rows[0]["h"]) == len(rows[0]["s"]) == 3
    assert len(set(rows[0]["h"])) == 3  # distinct tokens -> distinct hashes
    assert rows[1]["h"] == [] and rows[1]["s"] == []
    for bad in (0, -1):
        with pytest.raises(ValueError, match="n must be"):
            T.word_ngrams("text", n=bad)
        with pytest.raises(ValueError, match="n must be"):
            T.word_ngram_hashes("text", n=bad)


def test_multimodal_knob_guards(spark):
    media = M.media_from_documents(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(4)
    )
    with pytest.raises(ValueError, match="every_nth"):
        M.frame_sample(media, every_nth=0)
    with pytest.raises(ValueError, match="every_nth"):
        M.frame_sample(media, every_nth=-1)  # silently emitted ZERO frames
    with pytest.raises(ValueError, match="dim"):
        M.extract_features(media, dim=0)
    with pytest.raises(ValueError, match="target dims"):
        M.resize_media(media, target_w=0)
    with pytest.raises(ValueError, match="batch_size_hint"):
        M.decode_media(media, batch_size_hint=0)


def test_decode_media_batch_size_hint_rechunks(spark):
    """The memory-bounding knob must actually take effect: results are
    identical at any hint (re-chunking is invisible to the output)."""
    media = M.media_from_documents(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(10)
    ).coalesce(1)
    base = sorted(tuple(r) for r in M.decode_media(media).collect())
    tiny = sorted(tuple(r) for r in M.decode_media(media, batch_size_hint=3).collect())
    assert tiny == base and len(base) == 10


def test_media_ops_reject_non_integral_id(spark):
    """Review fix: the media ops emit the id as LongType 'media_id'; a
    string id would die mid-task as an opaque ArrowTypeError — validated
    at call time instead."""
    import pytest
    from pyspark.sql import functions as F

    from amazon_kinesis_data_analytics_flinktableapi_spark.operators import multimodal as M

    df = spark.createDataFrame(
        [("a", "image", b"xx")], "media_id string, kind string, payload binary"
    )
    for fn in (
        lambda: M.decode_media(df),
        lambda: M.resize_media(df),
        lambda: M.frame_sample(df),
        lambda: M.extract_features(df),
    ):
        with pytest.raises(ValueError, match="integral"):
            fn()
    # a surrogate long id flows through
    ok = M.decode_media(df.withColumn("media_id", F.xxhash64("media_id")))
    assert ok.count() == 1


def test_text_functions_null_and_case_semantics(spark):
    """Review fixes: NULL text → NULL lang_id/fingerprint (not 'es' /
    md5("")); marker matching is case-insensitive; word_ngram_hashes n=1
    returns [] for NULL like every sibling path; vectorized
    TimestampToString returns NULL for NULL (NaT) instead of crashing."""
    from pyspark.sql import functions as F

    from amazon_kinesis_data_analytics_flinktableapi_spark.functions import text as T
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import (
        register_timestamp_to_string,
    )

    df = spark.createDataFrame(
        [(1, "The Cat And The Hat"), (2, None), (3, "")],
        "id long, txt string",
    )
    rows = {
        r.id: r
        for r in df.select(
            "id",
            T.lang_id("txt").alias("lang"),
            T.fingerprint("txt").alias("fp"),
            T.stopword_ratio("txt").alias("sw"),
            F.size(T.word_ngram_hashes("txt", 1)).alias("n1"),
        ).collect()
    }
    assert rows[2].lang is None and rows[2].fp is None
    assert rows[1].lang == "en"          # capitalized The/And count as markers
    assert rows[1].sw and rows[1].sw > 0
    assert rows[2].n1 == 0               # [] for NULL, same as the n>=2 path
    assert rows[3].fp is not None        # genuinely-empty doc keeps its own key
    register_timestamp_to_string(spark)
    got = spark.sql("SELECT TimestampToString(CAST(NULL AS timestamp)) AS x").collect()
    assert got[0].x is None


def test_cosine_zero_norm_is_null_not_job_abort(spark):
    """Review fix: the engine session runs ANSI mode, where an unguarded
    division by zero ABORTS the job — one all-zero embedding must yield
    NULL similarity (ranked last), not kill the query."""
    from pyspark.sql import functions as F

    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.vector import cosine

    d = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])], "id int, v array<double>"
    )
    got = {
        r.id: r.sim
        for r in d.select(
            "id", cosine(F.array(F.lit(1.0), F.lit(0.0)), "v").alias("sim")
        ).collect()
    }
    assert got[1] is None and got[2] == 1.0


def test_nfc_three_way_parity_on_hostile_strings(spark):
    """Spark-side NFC (pandas UDF over CPython's unicodedata) must agree
    byte-for-byte with BOTH reference implementations on every hostile
    unicode fixture string: CPython itself (trivially) and DuckDB's
    utf8proc ``nfc_normalize`` — the oracle twin.  NFD/NFC twins, zalgo
    combining stacks, astral plane, BOM, bidi: all compose identically
    under UAX #15 canonical composition."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(UNICODE_DOCS)], ["i", "text"]
    )
    got = {
        r["i"]: r["nfc"]
        for r in df.select("i", nfc_normalize_col("text").alias("nfc")).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(UNICODE_DOCS):
        py = unicodedata.normalize("NFC", t)
        duck = con.execute("SELECT nfc_normalize(?)", [t]).fetchone()[0]
        assert got[i] == py, f"spark != cpython on {t!r}"
        assert py == duck, f"cpython != duckdb on {t!r}"
    con.close()


def test_nfc_null_and_composition(spark):
    """NULL in → NULL out; an NFD string actually composes (changes)."""
    nfd = "café"  # e + combining acute
    df = spark.createDataFrame([(1, nfd), (2, None), (3, "plain")], ["i", "text"])
    rows = {
        r["i"]: (r["nfc"], r["changed"])
        for r in df.select(
            "i",
            nfc_normalize_col("text").alias("nfc"),
            (~F.col("text").eqNullSafe(nfc_normalize_col("text"))).alias("changed"),
        ).collect()
    }
    assert rows[1] == ("caf\xe9", True)
    assert rows[2] == (None, False)
    assert rows[3] == ("plain", False)
