"""Algorithm constants, pinned for recall comparison with the reference.

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


@dataclass(frozen=True)
class DedupConfig:
    # --- reference-parity constants ---
    sample_kb: int = 4              # dupes.rs:30-31
    threshold: float = 0.7          # dupes.rs:33-34
    string_weight: float = 0.4      # dupes.rs:277-278
    rare_token_weight: float = 0.6  # dupes.rs:277-278
    penalty_exp_few: float = 0.6    # dupes.rs:453 (<=1 shared token)
    penalty_exp_many: float = 1.0 / 3.0  # dupes.rs:453

    # --- MinHash / LSH (north-rule additions) ---
    shingle_k: int = 3              # word k-shingles over normalized text
    num_perm: int = 128             # MinHash permutations
    lsh_bands: int = 16             # bands
    lsh_rows: int = 8               # rows per band (bands*rows == num_perm)

    # --- SimHash ---
    # 60 bits (not 64): the fingerprint is the low 60 bits of per-token
    # md5, so (a) it always fits a signed BIGINT in both Spark and DuckDB
    # (bit 63 never set -> no sign/overflow divergence between engines)
    # and (b) the driver's DuckDB oracle recomputes it bit-exactly.
    simhash_bits: int = 60
    simhash_bands: int = 4          # 4 x 15-bit bands: hamming<=3 pairs
    simhash_max_hamming: int = 3    # always share a full band (pigeonhole)

    # --- suffix/substring pass (winnowing) ---
    min_substring: int = 256        # chars; FIXTURES.md family 4
    winnow_ngram: int = 64          # rolling-hash char n-gram size
    # window chosen so any shared substring >= min_substring guarantees a
    # shared fingerprint: w + n - 1 <= min_substring
    winnow_window: int = 193
    # verify shared-substring candidates with an exact O(n*m)
    # SequenceMatcher instead of the rolling-hash run estimate. The
    # estimate has no false negatives (a true shared substring always
    # produces the full run of n-gram hits) and negligible false positives
    # (64-bit hashes over 64-char grams); exact verify is for audits.
    exact_lcs_verify: bool = False

    # --- skew / scale knobs ---
    band_cap: int = 2000            # max rows per LSH band key before capping (logged)
    salt_buckets: int = 16          # salt fan-out for skewed group keys

    # --- determinism ---
    seed: int = 42

    def __post_init__(self) -> None:
        assert self.lsh_bands * self.lsh_rows == self.num_perm


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
