"""Text-analysis column functions for the training-data pipeline tier.

The reference's only string ops are split/contains
(/root/reference/dags/etl_pipeline.py:125-129); this module is the
north-star extension (SURVEY.md §2.8 / §7.3). Everything here is built from
JVM-side pyspark.sql.functions — no Python UDFs — so token counting, quality
scoring and fingerprinting run inside whole-stage codegen over 100 TB of
documents.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword-ratio
# language heuristic. Real deployments would plug a fastText-style model in
# via a Pandas UDF; the heuristic keeps the plumbing testable offline.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "das", "und", "zu"),
    "fr": ("le", "la", "de", "et", "un"),
    "zh": ("的", "是", "不", "了", "在"),
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization -> array<string>; empty strings removed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != F.lit(""))


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def word_token_count(col: Column | str) -> Column:
    """BPE-ish token estimate: count word-piece-like units (runs of
    letters/digits, or single punctuation marks) rather than whitespace
    splits — closer to how an LLM tokenizer sees the text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords for ``lang``."""
    toks = tokens(col)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return hits / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(col: Column | str) -> Column:
    """Punctuation characters / total characters."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.greatest(F.length(c), F.lit(1))
    return (F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))) / n


def quality_score(col: Column | str, lang: str = "en") -> Column:
    """Heuristic document quality in [0,1]: length band + stopword presence
    - punctuation noise. Deterministic, SQL-expressible (oracle-checkable)."""
    c = F.col(col) if isinstance(col, str) else col
    length_ok = F.when(F.length(c).between(50, 20000), F.lit(0.4)).otherwise(F.lit(0.0))
    sw = F.least(stopword_ratio(c, lang) * 4.0, F.lit(1.0)) * 0.4
    punct_pen = F.least(punct_ratio(c) * 2.0, F.lit(0.2))
    return F.round(length_ok + sw + F.lit(0.2) - punct_pen, 4)


def fingerprint(col: Column | str) -> Column:
    """Order-invariant document fingerprint: md5 of the sorted, lowercased,
    whitespace-normalized token set. Two docs with the same bag of distinct
    words collide — the cheap exact-near-dup key."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.array_join(
        F.array_sort(F.array_distinct(tokens(F.lower(c)))), " "
    )
    return F.md5(normalized)


def content_hash(col: Column | str) -> Column:
    """Exact-content hash (whitespace-insensitive): md5 of the token join."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.array_join(tokens(c), " "))


def hex8_to_int(hex_col: Column | str) -> Column:
    """The integer value (bigint, 0 .. 2^32-1) of the first 8 hex digits of
    ``hex_col``. Callers pass an md5 (``F.md5(salt || key)``), which makes
    a deterministic draw any engine with md5 can replay; the DuckDB
    spelling is ``plans.catalog_base._hex8_to_int_sql``."""
    return F.conv(F.substring(hex_col, 1, 8), 16, 10).cast("bigint")


def ngrams_of(toks: Column, n: int = 3) -> Column:
    """Word n-grams from an already-materialized token-array column.

    Hot-path form: higher-order-function lambdas are INTERPRETED, so any
    subexpression inside the lambda body re-evaluates per element. Passing
    a raw-text ``tokens()`` expression here would re-tokenize the document
    once per n-gram — O(len²) per document (measured 3-4x the whole
    MinHash pipeline at sf0.1). Project the tokens into their own column
    first and pass that column in.
    """
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))


def ngrams(col: Column | str, n: int = 3) -> Column:
    """Word n-grams in order, with multiplicity -> array<string>.

    Convenience form over raw text — fine for single-use projections, but
    in hot paths prefer ``ngrams_of`` on a pre-projected token column
    (see its docstring for the per-element re-evaluation hazard)."""
    return ngrams_of(tokens(col), n)


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Shingle set from a materialized token-array column (hot-path form,
    see ngrams_of)."""
    return F.array_distinct(ngrams_of(toks, n))


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingle set -> array<string> (distinct, for MinHash)."""
    return F.array_distinct(ngrams(col, n))


def lang_guess(col: Column | str) -> Column:
    """Stopword-ratio language ID across the configured marker sets.

    Returns the language whose marker-word hit-rate is highest (ties break
    alphabetically — deterministic). n-gram-heuristic class of lang-id; a
    model-based classifier would slot in as a Pandas UDF with this exact
    column contract.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.transform(tokens(c), F.lower)

    def marker_hits(lang: str):
        # closure, not default-arg: pyspark maps every Python lambda
        # parameter to a lambda variable
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))

    best = None
    for lang in sorted(STOPWORDS):
        score = marker_hits(lang)
        entry = F.struct(score.alias("score"), F.lit(lang).alias("lang"))
        if best is None:
            best = entry
        else:
            # keep the higher score; on ties keep the alphabetically first
            best = F.when(entry["score"] > best["score"], entry).otherwise(best)
    return best["lang"]


def token_chunks_of(
    toks: Column, *, chunk_tokens: int = 64, overlap: int = 16
) -> Column:
    """Split a token-array column into overlapping fixed-token-window
    chunks -> array<struct<chunk_idx int, chunk string, n_tokens int>>.

    Stride = chunk_tokens - overlap; the final chunk may be short. The
    chunking a training/RAG pipeline runs before tokenization — pure JVM
    higher-order functions, exploded downstream into one row per chunk.
    Takes pre-projected tokens: a tokens() subtree here would re-tokenize
    per chunk inside the interpreted lambda (see ngrams_of)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    n = F.size(toks)
    # starts: 0, stride, 2*stride ... while start < n (at least one chunk)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int"), F.lit(1)
    )
    idx = F.sequence(F.lit(0), n_chunks - 1)
    return F.transform(
        idx,
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.array_join(
                F.slice(toks, i * stride + 1, chunk_tokens), " "
            ).alias("chunk"),
            F.least(n - i * stride, F.lit(chunk_tokens))
            .cast("int")
            .alias("n_tokens"),
        ),
    )

