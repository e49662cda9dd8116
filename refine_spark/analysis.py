"""Text-analysis operators for large-scale training-data pipelines.

Extensions beyond the reference (per the build brief): language-ID,
quality scoring, token counting, document fingerprinting — each a pure
builtin-expression operator over a `text` column (JVM-side, pushdown- and
codegen-friendly), designed so a DuckDB oracle can mirror it exactly
(integer/count outputs, RE2-compatible regexes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# small marker-word profiles for the n-gram/stopword language heuristic;
# distinctive function words only (public linguistic knowledge)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "in", "to", "is", "that", "with", "for", "on"),
    "pt": ("de", "que", "em", "para", "uma", "os", "das", "dos", "nao", "com"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"),
}

_WORD_SPLIT = r"\s+"


def tokens_of(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), _WORD_SPLIT)


def marker_hits(text: Column, lang: str) -> Column:
    """Count of marker-word occurrences for `lang` (with multiplicity)."""
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    return F.size(F.filter(tokens_of(text), lambda t: F.array_contains(markers, t)))


def lang_id(text: Column) -> Column:
    """argmax over marker-hit counts; 'und' (undetermined) when all zero.

    Ties break by fixed language order (en, pt, de) via strictly-greater
    comparison — deterministic in both Spark and the SQL oracle."""
    expr_lang = F.lit("und")
    expr_best = F.lit(0)
    for lang in LANG_MARKERS:
        h = marker_hits(text, lang)
        expr_lang = F.when(h > expr_best, F.lit(lang)).otherwise(expr_lang)
        expr_best = F.greatest(h, expr_best)
    return expr_lang


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.filter(tokens_of(text), lambda t: t != ""))


def bpe_ish_count(text: Column) -> Column:
    """Sub-word-ish unit count: word pieces + standalone punctuation
    (the usual pre-tokenizer regex, RE2-safe)."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0))


def quality_stats(text: Column) -> dict[str, Column]:
    """Integer quality components (ratios belong to the consumer; integers
    keep the oracle float-free): char count, token count, punctuation
    count, stopword hits, longest-token length."""
    toks = tokens_of(text)
    return {
        "n_chars_q": F.length(text),
        "n_tokens": token_count(text),
        "n_punct": F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0)),
        "n_stopwords": marker_hits(text, "en"),
        "max_token_len": F.array_max(F.transform(toks, F.length)),
    }


def doc_fingerprint(text: Column) -> Column:
    """Stable content fingerprint of normalized text: md5 over lowercased,
    whitespace-collapsed text. md5 (not xxhash64) so DuckDB reproduces it
    bit-for-bit; the winnowing rolling-hash fingerprints for substring
    matching live in substring.py."""
    normalized = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return F.md5(normalized)


def sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tie_col: str = "event_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the user's previous event exceeds `gap_seconds`.

    The classic lag + running-sum formulation — two window passes over
    the same (user, ts) partitioning, so Catalyst plans ONE shuffle and
    both windows run in the same sort. Batch analog of Structured
    Streaming's session_window aggregation (the streaming path would use
    F.session_window with a watermark); expressed this way the DuckDB
    oracle replays it verbatim. Adds (session_seq, session_event_seq).
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(user_col).orderBy(ts_col, tie_col)
    prev = F.lag(ts_col).over(w)
    new_sess = (
        prev.isNull()
        | (F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev) > gap_seconds)
    ).cast("long")
    out = events.withColumn("_new", new_sess).withColumn(
        "session_seq",
        F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    ws = W.partitionBy(user_col, "session_seq").orderBy(ts_col, tie_col)
    return out.withColumn(
        "session_event_seq", F.row_number().over(ws).cast("long")
    ).drop("_new")
