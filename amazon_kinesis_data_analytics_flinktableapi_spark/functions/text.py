"""Text-analysis function library (driver extension surface).

Everything here is a *column expression builder* — pure built-in Spark SQL
functions (JVM-side, whole-stage codegen), no Python UDFs in the hot path.
That is the difference between scanning 100 TB of documents at parquet speed
and at Python speed.

Operators: tokenization, token statistics, quality scoring (length/punct/
stopword ratios), n-gram language ID (stopword-hit heuristic + CJK script
detection), canonical document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: per-language marker stopwords for the language-ID heuristic.  Tiny by
#: design: the heuristic is O(tokens) with no model artifact, the right
#: baseline for a first-pass 100 TB language split.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit"],
    "fr": ["le", "la", "les", "et", "est", "dans", "pour"],
    "es": ["el", "los", "las", "y", "es", "en", "por"],
}

#: CJK unified ideographs — presence ⇒ classify zh before any token voting.
CJK_PATTERN = "[一-鿿]"

PUNCT_CLASS = "[.,!?;:]"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization: split on runs of whitespace, drop empties."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


#: GPT-2-style pre-tokenizer regex (ASCII approximation): contraction
#: suffixes, space-prefixed letter runs, digit runs, punctuation runs,
#: residual whitespace.  No lookarounds — identical matches under Java
#: regex (Spark) and RE2 (DuckDB oracle), so the estimate is portable.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_token_count(text: Column | str) -> Column:
    """LLM-token-count estimate: matches of the BPE pre-tokenizer split,
    whitespace-only runs excluded.  Upper-bounds the true BPE count (real
    merges only split these chunks further, except rare multi-chunk
    merges); the cheap scan-time stand-in for budgeting/billing token
    counts over a corpus without shipping a vocab to every executor."""
    c = F.col(text) if isinstance(text, str) else text
    pieces = F.regexp_extract_all(c, F.lit(BPE_SPLIT_PATTERN), F.lit(0))
    return F.size(F.filter(pieces, lambda p: F.trim(p) != ""))


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def mean_token_length(text: Column | str, scale: int = 4) -> Column:
    """Mean token length; 0 for token-less text (like the sibling ratios —
    a bare ``total / size`` would NULL the row in default mode and abort
    the whole job under ANSI mode on the first empty document)."""
    toks = tokens(text)
    total = F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x)
    return F.round(total / F.greatest(F.size(toks), F.lit(1)), scale)


def punct_ratio(text: Column | str, scale: int = 6) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(c) - F.length(F.regexp_replace(c, PUNCT_CLASS, ""))
    return F.round(n_punct / F.greatest(F.length(c), F.lit(1)), scale)


def stopword_ratio(text: Column | str, stopwords: list[str] | None = None, scale: int = 6) -> Column:
    """Fraction of tokens that are stopwords (English list by default).

    ``None`` means "use the default list"; an explicitly EMPTY list is
    rejected rather than silently falling back to English — a caller
    building per-language lists where one language has none would
    otherwise get plausible nonzero English ratios."""
    if stopwords is not None and not stopwords:
        raise ValueError(
            "stopwords must be non-empty (pass None for the default English list)"
        )
    sw = stopwords if stopwords is not None else LANG_MARKERS["en"]
    toks = tokens(text)
    # lower() so sentence-initial capitals count ("The", "Der" — German
    # capitalizes systematically); the marker lists are lowercase
    hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*sw)))
    return F.round(hits / F.greatest(F.size(toks), F.lit(1)), scale)


def half_up_round(x: Column, scale: int) -> Column:
    """floor(x·10^s + 0.5)/10^s — identical on any engine computing the same
    double, unlike library round() whose half-way tie handling differs
    (Spark BigDecimal HALF_UP vs DuckDB's) at values like 0.53975."""
    m = float(10**scale)
    return F.floor(x * m + 0.5) / m


def quality_score(text: Column | str, n_chars: Column | str | None = None, scale: int = 4) -> Column:
    """Composite [0,1] quality heuristic: length saturation + stopword
    presence − punctuation excess.  Weights are the conventional
    length-biased mix; each component is itself exposed above."""
    c = F.col(text) if isinstance(text, str) else text
    length = F.length(c) if n_chars is None else (F.col(n_chars) if isinstance(n_chars, str) else n_chars)
    len_score = F.least(length / F.lit(500.0), F.lit(1.0))
    sw = stopword_ratio(c, scale=6)
    pr = punct_ratio(c, scale=6)
    return half_up_round(
        0.5 * len_score + 0.4 * F.least(sw * 5, F.lit(1.0)) + 0.1 * (1 - F.least(pr * 10, F.lit(1.0))), scale
    )


def lang_marker_hits(text: Column | str, lang: str) -> Column:
    toks = tokens(text)
    # case-insensitive: sentence-initial capitals ("The", "Le") and
    # German's systematic capitalization must count as marker hits
    return F.size(F.filter(toks, lambda t: F.lower(t).isin(*LANG_MARKERS[lang])))


def lang_id(text: Column | str) -> Column:
    """N-gram-heuristic language ID: CJK script short-circuits to zh, else
    argmax of per-language marker-token hits (deterministic tie order
    en > de > fr > es); NULL text → NULL.

    Cost note: as a single Column expression this embeds one tokenize
    tree per language (4×) — interpreted HOFs are not reliably CSE'd.
    Fine per-document; on a truly hot path, pre-tokenize once into a
    column and count hits against that."""
    c = F.col(text) if isinstance(text, str) else text
    en, de, fr, es = (lang_marker_hits(c, lg) for lg in ("en", "de", "fr", "es"))
    return (
        # NULL text → NULL, not the argmax fallback: size(NULL) is NULL,
        # every when() condition would be NULL and evaluation would fall
        # through to otherwise("es"), silently labeling empty rows Spanish
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(c.rlike(CJK_PATTERN), F.lit("zh"))
        .when((en >= de) & (en >= fr) & (en >= es), F.lit("en"))
        .when((de >= fr) & (de >= es), F.lit("de"))
        .when(fr >= es, F.lit("fr"))
        .otherwise(F.lit("es"))
    )


def fingerprint(text: Column | str) -> Column:
    """Canonical content fingerprint: md5 over the sorted distinct token
    set.  Invariant to token order and repetition — the cheap exact-dedup
    key for shuffled/reformatted copies of the same content.

    NULL text yields a NULL fingerprint: concat_ws SKIPS null arguments
    (it never returns NULL), so the unguarded form silently fingerprinted
    every NULL document as md5("") — colliding all NULL rows with all
    genuinely empty documents in exact dedup."""
    toks = tokens(text)
    return F.when(
        toks.isNotNull(), F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
    )


def md5_hash60(c: Column) -> Column:
    """Cross-engine 60-bit integer hash: first 15 hex chars of md5, parsed
    base-16.  The portable stand-in for ``xxhash64`` wherever the hash
    value is output- or oracle-affecting: DuckDB reproduces it as
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``.  60 bits keeps the value
    positive and leaves headroom for modular permutation arithmetic."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


#: rolling-hash modulus (2³¹−1, Mersenne): keeps every intermediate
#: (h·31 + token) < 2³⁷ — no BIGINT overflow in Spark ANSI mode or DuckDB.
ROLLING_MOD = (1 << 31) - 1


def rolling_hash(text: Column | str, base: int = 31) -> Column:
    """Order-SENSITIVE polynomial rolling hash over the token sequence:
    ``h ← (h·base + hash(token)) mod 2³¹−1``.

    Complements :func:`fingerprint` (order/repetition-INVARIANT): rolling
    equality ⇒ same tokens in the same order — the key for detecting exact
    sequence reuse (boilerplate, quote chains) where bag-of-words collides.
    Token hash = first 8 md5 hex digits, so any engine reproduces it
    (DuckDB oracle: same fold via list_reduce).  One codegen'd pass per
    row; 0 for token-less documents.

    ``base`` must be in [2, 2³²): the "fits int64" guarantee is
    ``(mod−1)·base + hash < 2⁶³`` with hash < 2³² and mod < 2³¹, so a
    base at/above 2³² silently wraps in default (non-ANSI) mode —
    plausible but wrong hashes; base 1 makes the fold order-INVARIANT
    (a plain sum, so "rolling equality ⇒ same order" is false) and
    base 0 reduces it to the last token's hash.
    """
    if not 2 <= base < 2**32:
        raise ValueError(
            f"base must be in [2, 2**32): got {base} — >= 2**32 overflows the "
            "int64 fold (silent wrap), <= 1 voids order sensitivity"
        )
    tok_hash = lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    return F.aggregate(
        tokens(text),
        F.lit(0).cast("long"),
        lambda h, t: (h * base + tok_hash(t)) % F.lit(ROLLING_MOD),
    )


def word_ngrams(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as strings; empty array when < n tokens.
    The shingle set feeds Jaccard / MinHash dedup (operators.dedup).

    Built with nested ``zip_with`` over n shifted slices rather than
    ``transform(sequence, i -> slice(toks, i, n))``: Catalyst evaluates
    expressions referenced inside a lambda body once per ELEMENT, so the
    index-based form re-tokenizes the document for every shingle (~100×
    blowup measured); the zip_with form touches only lambda variables, and
    the shifted slices evaluate once per row.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = tokens(text)
    m = F.size(toks) - (n - 1)  # number of shingles
    parts = [F.slice(toks, i + 1, m) for i in range(n)]
    combined = parts[-1]
    for p in reversed(parts[:-1]):
        combined = F.zip_with(p, combined, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(F.size(toks) >= n, combined).otherwise(F.array().cast("array<string>"))


def word_ngram_hashes(text: Column | str, n: int = 3) -> Column:
    """64-bit hashes of word n-gram shingles, skipping string shingles
    entirely: hash-chain the n shifted token slices element-wise
    (``xxhash64(t₀,t₁)`` then ``xxhash64(h,tᵢ)``).  Same distinctness as
    hashing the joined shingle string (chained 64-bit collisions are
    ~2⁻⁶⁴) at ~half the per-shingle cost — no concat allocation and no
    separate hashing pass; higher-order functions run interpreted, so
    passes-per-element is the near-dup pipeline's dominant constant.

    Supports n=1 (per-token hashes) like :func:`word_ngrams` does — the
    hashed fast path must not have a narrower domain than the string path
    it substitutes for."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = tokens(text)
    if n == 1:
        # coalesce: transform(NULL) is NULL, but the n>=2 branch (and the
        # string path) return [] for NULL text — same domain everywhere
        return F.coalesce(
            F.transform(toks, lambda t: F.xxhash64(t)),
            F.array().cast("array<bigint>"),
        )
    m = F.size(toks) - (n - 1)
    parts = [F.slice(toks, i + 1, m) for i in range(n)]
    combined = F.zip_with(parts[0], parts[1], lambda a, b: F.xxhash64(a, b))
    for p in parts[2:]:
        combined = F.zip_with(combined, p, lambda h, t: F.xxhash64(h, t))
    return F.when(F.size(toks) >= n, combined).otherwise(F.array().cast("array<bigint>"))


def nfc_normalize_col(text: Column | str) -> Column:
    """Unicode NFC normalization (UAX #15 canonical composition): NFD
    'e + combining acute' twins, zalgo stacks, and decomposed Hangul all
    compose to their canonical byte form — the prerequisite for exact /
    fingerprint dedup over multi-origin corpora, where two visually
    identical crawls otherwise hash apart.

    Spark has no built-in normalizer, so this is a documented exception
    to this module's no-Python rule: an Arrow-batched pandas UDF over
    CPython's unicodedata (NULL in, NULL out).  The DuckDB oracle twin is
    ``nfc_normalize`` (utf8proc); both implement the same stable
    canonical-composition tables — three-way parity (Spark ≡ CPython ≡
    DuckDB) over the hostile unicode fixture is pinned in
    tests/test_text_multimodal.py.  At 100 TB this rides the corpus scan as
    one vectorized stage; typical mostly-ASCII batches normalize at
    near-memcpy speed inside the UDF."""
    c = F.col(text) if isinstance(text, str) else text

    # functional pandas_udf form (scalar.py's register convention): the
    # worker function is deliberately UNannotated — under ``from __future__
    # import annotations`` a decorator-form UDF would try to resolve the
    # stringified ``pd.Series`` hints at definition time, and this module
    # (no-Python-in-hot-path by charter) does not import pandas.
    def _nfc_batch(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return F.pandas_udf(_nfc_batch, "string")(c)
