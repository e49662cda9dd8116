"""Name cleaning / tokenization / kind classification (SURVEY.md §2.2 P4-P6).

Semantics follow the reference's `clean_words` (/root/reference/src/commands/
dupes.rs:505-557) and `classify_media_kind` (dupes.rs:559-585):

  1. transliterate to ASCII (deunicode) and lowercase
  2. strip multi-token release tags (web-dl, blu-ray, ... with '[ .-]?' seps)
  3. tokenize on letters+digits runs (no underscores)
  4. drop EN+PT stopwords / release words
  5. if nothing survives, fall back to the *pre-tag-strip* lowercased base

Spark-first split: step 1 is the one mandatory scalar pandas UDF (Arrow
batches, never per-row Python); steps 2-5 are pure Catalyst builtins
(`regexp_replace`, `regexp_extract_all`, higher-order `filter`).
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column, functions as F, types as T

from .config import STOPWORDS, TAGS_MULTI_PATTERN
from .translit_cjk import (
    CJK_TABLE,
    HANGUL_BASE,
    HANGUL_LAST,
    HANGUL_LEADS,
    HANGUL_TAILS,
    HANGUL_VOWELS,
    hangul_romanize,
)

# Supplement for characters NFKD alone cannot decompose to ASCII,
# mirroring the reference's `deunicode` step (dupes.rs:543). deunicode's
# full tables derive from the published Text::Unidecode romanization;
# this subset covers Latin extras plus the Cyrillic and Greek alphabets
# with the same conventions (zh/kh/ts/ch/sh/shch, th/ph/ps/x), so
# non-Latin near-name dedup no longer collapses to empty strings.
# Documented policy: hard/soft signs map to '' (Unidecode emits quote
# marks, which the tokenizer would drop anyway — behavior-identical for
# dedup). Round 5 adds CJK (translit_cjk: full kana, algorithmic Hangul,
# a pinned high-frequency Han subset); Arabic/Indic remain out of scope
# and are dropped.
_LATIN_EXTRA = {
    "æ": "ae", "œ": "oe", "ø": "o", "ß": "ss", "đ": "d", "ħ": "h",
    "ł": "l", "þ": "th", "ð": "d", "ŋ": "ng",
}
_CYRILLIC = {
    "а": "a", "б": "b", "в": "v", "г": "g", "д": "d", "е": "e",
    "ж": "zh", "з": "z", "и": "i", "к": "k", "л": "l", "м": "m",
    "н": "n", "о": "o", "п": "p", "р": "r", "с": "s", "т": "t",
    "у": "u", "ф": "f", "х": "kh", "ц": "ts", "ч": "ch", "ш": "sh",
    "щ": "shch", "ъ": "", "ы": "y", "ь": "", "э": "e", "ю": "yu",
    "я": "ya",
    # Ukrainian / Belarusian / Serbian additions
    "є": "ye", "і": "i", "ї": "yi", "ґ": "g", "ў": "u",
    "љ": "lj", "њ": "nj", "џ": "dz", "ђ": "dj", "ћ": "c",
}
_GREEK = {
    "α": "a", "β": "b", "γ": "g", "δ": "d", "ε": "e", "ζ": "z",
    "η": "e", "θ": "th", "ι": "i", "κ": "k", "λ": "l", "μ": "m",
    "ν": "n", "ξ": "x", "ο": "o", "π": "p", "ρ": "r", "σ": "s",
    "ς": "s", "τ": "t", "υ": "u", "φ": "ph", "χ": "kh", "ψ": "ps",
    "ω": "o",
}
_PUNCT = {"–": "-", "—": "-", "‘": "'", "’": "'", "“": '"', "”": '"'}


def _with_upper(table: dict[str, str]) -> dict[str, str]:
    out = dict(table)
    for src, dst in table.items():
        up = src.upper()
        if up != src and len(up) == 1:
            out[up] = dst.capitalize() if dst else ""
    return out


# base table: characters whose lookup may also fire on NFKD-decomposed
# output (the fallback branch of _translit_str / translit_duckdb)
_BASE_TABLE: dict[str, str] = {
    **_with_upper(_LATIN_EXTRA),
    **_with_upper(_CYRILLIC),
    **_with_upper(_GREEK),
    **_PUNCT,
    "ı": "i",  # dotless i (its uppercase is plain I)
}

# full table, consulted on the ORIGINAL composed character BEFORE any
# decomposition. Order matters for CJK: NFKD devoices kana (が -> か +
# combining dakuten) and DuckDB's strip_accents does the same, so a
# decompose-first pipeline can never tell ga from ka; looking the
# composed char up first keeps voiced kana voiced on BOTH sides.
TRANSLIT_TABLE: dict[str, str] = {**_BASE_TABLE, **CJK_TABLE}

# ASCII fast-path precondition: for any ASCII char the per-char loop below
# is the identity (table miss -> hangul miss -> NFKD(c) == c, not
# combining, not in the base table, ord < 128 -> emitted verbatim), so an
# all-ASCII string can short-circuit to itself and ASCII chars inside a
# mixed string can skip the lookups. Both rely on NO table key being
# ASCII — proven here once at import instead of assumed per call.
assert not any(ord(k) < 128 for k in TRANSLIT_TABLE), "ASCII key in TRANSLIT_TABLE"
assert not any(ord(k) < 128 for k in _BASE_TABLE), "ASCII key in _BASE_TABLE"


def _translit_str(s: str) -> str:
    if s is None:
        return None
    if s.isascii():  # C-speed check; identity per the import-time proof
        return s
    out = []
    for c in s:
        if c < "\x80":  # mixed string: ASCII chars skip all three branches
            out.append(c)
            continue
        # 1) composed-char lookup (kana/Han/punct + every base entry,
        #    none of which NFKD-decompose)
        mapped = TRANSLIT_TABLE.get(c)
        if mapped is not None:
            out.append(mapped)
            continue
        # 2) Hangul syllables romanize algorithmically (11k syllables —
        #    arithmetic, not table)
        h = hangul_romanize(c)
        if h is not None:
            out.append(h)
            continue
        # 3) decompose-and-strip fallback: precomposed accents (é, ё, й,
        #    ά, ...) reduce to their base char, combining marks drop,
        #    remaining non-ASCII drops. The fallback consults only the
        #    BASE table — the DuckDB replay's strip_accents mirrors NFKD
        #    for exactly those scripts (rare compat decompositions that
        #    land IN the CJK table, e.g. squared-kana blocks, would
        #    diverge — so both sides ignore CJK entries here).
        for d in unicodedata.normalize("NFKD", c):
            if unicodedata.combining(d):
                continue
            md = _BASE_TABLE.get(d)
            if md is not None:
                out.append(md)
            elif ord(d) < 128:
                out.append(d)
    return "".join(out)


def _case_arms(table: dict[str, str]) -> str:
    return " ".join(
        f"WHEN '{src}' THEN '{dst.replace(chr(39), chr(39) * 2)}'"
        for src, dst in table.items()
    )


def _sql_list(items: list[str]) -> str:
    return "[" + ", ".join(f"'{x}'" for x in items) + "]"


def translit_duckdb(expr: str) -> str:
    """Render `_translit_str(expr)` as a DuckDB SQL expression so oracles
    replay transliteration in LOCKSTEP with the engine, branch for
    branch: (1) flat CASE over the full composed-char table (a nested
    replace() chain trips DuckDB's 128-deep binder recursion limit),
    (2) arithmetic Hangul romanization via list-literal indexing on the
    Unicode syllable formula, (3) strip_accents (== NFKD + drop-combining
    for Latin/Cyrillic/Greek — verified) + the BASE-table CASE + drop
    remaining non-ASCII. Known divergence (documented, engine-only):
    multi-char NFKD compat decompositions such as ligature fi, which
    strip_accents leaves alone."""
    full_arms = _case_arms(TRANSLIT_TABLE)
    base_arms = _case_arms(_BASE_TABLE)
    leads, vowels, tails = (
        _sql_list(HANGUL_LEADS), _sql_list(HANGUL_VOWELS), _sql_list(HANGUL_TAILS)
    )
    hangul = (
        f"({leads})[(ord(c) - {HANGUL_BASE}) // 588 + 1] || "
        f"({vowels})[((ord(c) - {HANGUL_BASE}) % 588) // 28 + 1] || "
        f"({tails})[(ord(c) - {HANGUL_BASE}) % 28 + 1] || ' '"
    )
    fallback = (
        "coalesce(list_aggregate(list_transform("
        "regexp_extract_all(strip_accents(c), '(?s).'), "
        f"d -> CASE d {base_arms} "
        "ELSE CASE WHEN ord(d) < 128 THEN d ELSE '' END END), "
        "'string_agg', ''), '')"
    )
    return (
        "coalesce(list_aggregate(list_transform("
        f"regexp_extract_all({expr}, '(?s).'), "
        f"c -> CASE c {full_arms} "
        f"ELSE CASE WHEN ord(c) BETWEEN {HANGUL_BASE} AND {HANGUL_LAST} "
        f"THEN {hangul} ELSE {fallback} END END), "
        "'string_agg', ''), '')"
    )


@F.pandas_udf(T.StringType())
def translit_udf(s: pd.Series) -> pd.Series:
    """Vectorized ASCII transliteration (the reference's deunicode step)."""
    return s.map(_translit_str, na_action="ignore")


def _stopwords_array() -> Column:
    return F.array(*[F.lit(w) for w in STOPWORDS])


def cleaned_name_cols(name: Column) -> tuple[Column, Column]:
    """Return (cleaned_name, tokens) columns implementing clean_words.

    cleaned_name is the space-joined surviving tokens, or the lowercased
    transliterated base when all tokens were removed (dupes.rs:553-556).
    """
    base = F.lower(translit_udf(name))
    detagged = F.regexp_replace(base, TAGS_MULTI_PATTERN, "")
    raw_tokens = F.regexp_extract_all(detagged, F.lit(r"[\p{L}0-9]+"), 0)
    sw = _stopwords_array()
    tokens = F.filter(raw_tokens, lambda t: ~F.array_contains(sw, t))
    cleaned = F.when(F.size(tokens) == 0, base).otherwise(F.array_join(tokens, " "))
    # tokens of the final cleaned name (covers the fallback case too)
    final_tokens = F.when(F.size(tokens) == 0, F.split(F.trim(base), r"\s+")).otherwise(tokens)
    return cleaned, final_tokens


def with_cleaned_name(df, name_col: str = "stem"):
    cleaned, tokens = cleaned_name_cols(F.col(name_col))
    return df.withColumn("cleaned_name", cleaned).withColumn("tokens", tokens)


# ---- media-kind classification (P5, dupes.rs:559-585) -------------------------

# extension -> kind lookup table reproducing the reference's outcome:
# MIME top-level guess with explicit overrides. Expressed as a map literal
# so Catalyst evaluates it JVM-side (no UDF).
_KIND_BY_EXT: dict[str, str] = {}
for _ext in ("mp4 avi mov wmv flv mpg mpeg m4v 3gp ts "
             "mkv webm rmvb m2ts mts f4v vob ogv").split():
    _KIND_BY_EXT[_ext] = "video"
for _ext in "mp3 wav flac ogg oga m4a aac wma opus mid midi aiff".split():
    _KIND_BY_EXT[_ext] = "audio"
for _ext in "jpg jpeg png gif bmp webp tiff tif svg ico heic avif".split():
    _KIND_BY_EXT[_ext] = "image"
for _ext in "txt md html htm css js log text csv json xml yaml yml ini conf".split():
    _KIND_BY_EXT[_ext] = "text"
for _ext in "pdf doc docx xls xlsx ppt pptx odt ods odp rtf".split():
    _KIND_BY_EXT[_ext] = "document"
for _ext in "zip rar 7z tar gz bz2 xz lz lzma iso cab arj z".split():
    _KIND_BY_EXT[_ext] = "archive"
for _ext in "srt ass ssa sub vtt idx sup".split():
    _KIND_BY_EXT[_ext] = "subtitle"
for _ext in "bin exe dll so dmg apk jar wasm".split():
    _KIND_BY_EXT[_ext] = "application"


def classify_kind(ext: Column) -> Column:
    """Map extension -> media kind; unknown extensions -> 'unknown'."""
    mapping = F.create_map(
        *[F.lit(x) for kv in _KIND_BY_EXT.items() for x in kv]
    )
    return F.coalesce(mapping[F.lower(ext)], F.lit("unknown"))
