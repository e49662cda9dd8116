"""Algorithm constants, pinned for recall comparison with the reference,
and the few settings a caller varies.

The constants are module constants, not `DedupConfig` fields: no caller
varies them, and the DuckDB oracles replay the MinHash/SimHash geometry.
`DedupConfig` holds the five values a caller varies: `min_substring`, its
winnowing split (`winnow_ngram`, `winnow_window`: a free knob, since the
exact verifier makes the edges depend on `min_substring` only), `band_cap`
and `seed`.
Reference cites (constants carried verbatim, see BASELINE.md):
  - sample size 4 KB, three-point: /root/reference/src/commands/dupes.rs:30-31,460-501
  - similarity threshold 0.7 clamped: dupes.rs:33-34,64-72
  - score combination max(lev, dice)*0.4 + rare*0.6: dupes.rs:273-279
  - rare-token weight 1/ln(1+freq): dupes.rs:413-421
  - length-ratio penalty exponent 0.6 / (1/3): dupes.rs:447-456

MinHash/SimHash/LSH constants are north-rule additions (no reference analog);
bands=16 x rows=8 gives an LSH S-curve threshold (1/b)^(1/r) ~= 0.707,
aligned with the reference's 0.7 similarity threshold.
"""

from __future__ import annotations

from dataclasses import dataclass

# --- reference-parity constants ---
SAMPLE_KB = 4                   # dupes.rs:30-31
THRESHOLD = 0.7                 # dupes.rs:33-34
STRING_WEIGHT = 0.4             # dupes.rs:277-278
RARE_TOKEN_WEIGHT = 0.6         # dupes.rs:277-278
PENALTY_EXP_FEW = 0.6           # dupes.rs:453 (<=1 shared token)
PENALTY_EXP_MANY = 1.0 / 3.0    # dupes.rs:453

# --- MinHash / LSH (north-rule additions) ---
SHINGLE_K = 3                   # word k-shingles over normalized text
NUM_PERM = 128                  # MinHash permutations
LSH_BANDS = 16                  # bands
LSH_ROWS = 8                    # rows per band
assert LSH_BANDS * LSH_ROWS == NUM_PERM

# --- SimHash ---
# 60 bits (not 64): the fingerprint is the low 60 bits of per-token
# md5, so (a) it always fits a signed BIGINT in both Spark and DuckDB
# (bit 63 never set -> no sign/overflow divergence between engines)
# and (b) the driver's DuckDB oracle recomputes it bit-exactly.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4               # 4 x 15-bit bands: hamming<=3 pairs
SIMHASH_MAX_HAMMING = 3         # always share a full band (pigeonhole)


@dataclass(frozen=True)
class DedupConfig:
    # --- suffix/substring pass (winnowing) ---
    min_substring: int = 256        # chars; FIXTURES.md family 4
    winnow_ngram: int = 64          # rolling-hash char n-gram size
    # window chosen so any shared substring >= min_substring guarantees a
    # shared fingerprint: w + n - 1 <= min_substring
    winnow_window: int = 193

    # --- skew knob ---
    band_cap: int = 2000            # max rows per LSH band key before capping (logged)

    # --- determinism ---
    seed: int = 42


DEFAULT = DedupConfig()

# Stopwords transcribed from the reference (dupes.rs:528-540): non-content
# words (EN+PT), common release types, resolutions, codecs.
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "of", "and", "in", "on", "at", "to", "by", "as",
    "e", "o", "os", "um", "uma", "uns", "umas", "ao", "aos", "à", "às",
    "da", "de", "do", "em", "das", "dos",
    "cam", "ts", "tc", "r5", "dvdscr", "dvdscreener",
    "repack", "limited", "internal", "remux", "fullhd", "hd", "1400mb",
    "ac", "dts", "aac", "ddp", "mp3", "1080p", "720p", "2160p", "4k", "mp4",
    "hevc", "psa", "xvid", "xvidhd", "10bit", "8bit",
)

# Multi-token release tags stripped before tokenization (dupes.rs:507-527);
# separator between tag parts is "[ .-]?".
_TAG_SEP = "[ .-]?"
_TAGS: tuple[tuple[str, ...], ...] = (
    ("web", "dl"),
    ("blu", "ray"),
    ("(web|dvd|bd|br|hd)", "rip"),
    ("hd", "tv"),
    ("5\\.1",),
    ("6", "ch"),
    ("ac", "3"),
    ("[hx]", "26[45]"),
)
TAGS_MULTI_PATTERN = "|".join(_TAG_SEP.join(t) for t in _TAGS)

# Token pattern: accented letters + digits, no underscores (dupes.rs:506).
WORDS_PATTERN = r"[\p{L}0-9]+"
