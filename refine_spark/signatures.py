"""MinHash + SimHash signature kernels (north-rule additions; SURVEY.md §2.9).

These have no reference analog (the reference's inverted-token-index blocking
at /root/reference/src/commands/dupes.rs:177-184 is the scalar ancestor);
they are the scale path for text near-dup candidate generation at 10^12 docs.

Both are vectorized pandas UDFs over Arrow batches (numpy inner loops, no
per-row Python in the hot path beyond stable shingle hashing).

MinHash: word k-shingles of normalized text, hashed to 64-bit ints; the
signature is min over NUM_PERM universal-hash permutations
((a*x + b) mod p, p = 2^61-1).  LSH banding (bands x rows) happens
JVM-side in candidates.py via xxhash64 over signature slices.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F, types as T

from .config import (
    DEFAULT, NUM_PERM, SHINGLE_K, SIMHASH_BANDS, SIMHASH_BITS, SIMHASH_MAX_HAMMING,
    DedupConfig,
)
from .clean import _translit_str

_MERSENNE = (1 << 61) - 1
_TOKEN_RE = re.compile(r"[a-z0-9]+")


def _perm_params(cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(cfg.seed)
    a = rng.randint(1, _MERSENNE, size=NUM_PERM, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, _MERSENNE, size=NUM_PERM, dtype=np.int64).astype(np.uint64)
    return a, b


def normalize_for_shingles(text: str) -> list[str]:
    """Lowercased ASCII-transliterated word tokens (accent variants collapse,
    mirroring the reference's deunicode step before comparison)."""
    if text is None:
        return []
    return _TOKEN_RE.findall(_translit_str(text).lower())


def _shingle_hashes60(tokens: list[str], k: int) -> np.ndarray:
    """md5-low-60 hash per word k-shingle (whole token list if < k) —
    ONE hashlib call per shingle, shared by MinHash and SimHash.

    Round-3 note: the kernels used to blake2b-hash every shingle for
    MinHash and separately np.unique the shingle STRINGS (an object-array
    sort with per-element Python comparisons) for SimHash. The
    object-unique plus a cross-document memo dict dominated the stage
    and, being allocation-heavy, scaled badly past ~8 concurrent Python
    workers (profiled: 141 s -> 108 s going 4 -> 16 cores at 800k docs).
    Hashing first and uniquing the uint64 array is C-speed and
    semantically identical: SimHash's bit contribution depends only on
    (hash, summed count), and MinHash's min is unaffected by duplicate
    removal."""
    shingles = _shingle_strings(tokens, k)
    md5 = hashlib.md5
    from_bytes = int.from_bytes
    return np.array(
        [
            from_bytes(md5(s.encode("utf-8")).digest()[:8], "big") >> 4
            for s in shingles
        ],
        dtype=np.uint64,
    )


def _minhash_from_uniq(uniq: np.ndarray, a: np.ndarray, b: np.ndarray) -> list[int]:
    vals = (a[:, None] * (uniq[None, :] % _MERSENNE) + b[:, None]) % _MERSENNE
    return vals.min(axis=1).astype(np.int64).tolist()


def _simhash_from_uniq(uniq: np.ndarray, counts: np.ndarray, bits: int) -> int:
    bit_matrix = (uniq[:, None] >> np.arange(bits, dtype=np.uint64)[None, :]) & 1
    acc = (
        (bit_matrix.astype(np.int32) * 2 - 1) * counts.astype(np.int32)[:, None]
    ).sum(axis=0, dtype=np.int64)
    return int(((acc > 0).astype(np.uint64) << np.arange(bits, dtype=np.uint64)).sum())


def make_minhash_udf():
    a, b = _perm_params(DEFAULT)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash_udf(texts: pd.Series) -> pd.Series:
        results = []
        for text in texts:
            uniq = np.unique(_shingle_hashes60(normalize_for_shingles(text), SHINGLE_K))
            results.append(_minhash_from_uniq(uniq, a, b))
        return pd.Series(results)

    return minhash_udf


def token_hash60(tok: str) -> int:
    """Low-60-bit md5 of a token. md5 (not blake2b) so the DuckDB
    correctness oracle reproduces it exactly:
    CAST('0x' || substring(md5(t), 1, 15) AS BIGINT).
    (first 15 hex chars == first 8 digest bytes >> 4 — from_bytes is
    ~2x cheaper than hex parsing in the per-shingle hot loop)"""
    return int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big") >> 4


def _shingle_strings(tokens: list[str], k: int) -> list[str]:
    """The k-shingle feature strings (shared by MinHash and SimHash)."""
    if not tokens:
        return [""]
    if len(tokens) < k:
        return [" ".join(tokens)]
    return [" ".join(tokens[i : i + k]) for i in range(len(tokens) - k + 1)]


def make_simhash_udf():
    """SimHash over word k-shingle features (not unigram bags): the
    fingerprint is order-sensitive, so hamming <= SIMHASH_MAX_HAMMING
    means near-identical text, not merely similar token frequencies —
    bag-of-words look-alikes built from a shared hot vocabulary do not
    collide. This is the classic web-dedup configuration."""

    @F.pandas_udf(T.LongType())
    def simhash_udf(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for idx, text in enumerate(texts):
            uniq, counts = np.unique(
                _shingle_hashes60(normalize_for_shingles(text), SHINGLE_K),
                return_counts=True,
            )
            out[idx] = _simhash_from_uniq(uniq, counts, SIMHASH_BITS)
        return pd.Series(out)

    return simhash_udf


def hamming_distance(col_a, col_b):
    """Builtin JVM-side Hamming distance between two 64-bit fingerprints."""
    return F.bit_count(col_a.bitwiseXOR(col_b))


def simhash_band_keys(df, id_col: str = "url"):
    """Explode the `simhash` fingerprint into (band, band_key) rows, JVM-side.

    Bit-sliced banding: SIMHASH_BANDS equal slices of the fingerprint.
    Pigeonhole guarantee: any pair within hamming distance
    <= SIMHASH_BANDS - 1 (>= SIMHASH_MAX_HAMMING) shares at least one
    slice exactly, so the equi-join on (band, band_key) has no false
    negatives for the hamming ball the verify step accepts."""
    width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << width) - 1
    banded = df.select(
        id_col,
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))).alias("band"),
    ).withColumn(
        "band_key",
        # shiftright() only takes a literal shift in the Python API;
        # the SQL form accepts a column expression
        F.expr(f"shiftright(simhash, band * {width})").bitwiseAND(F.lit(mask)),
    )
    return banded.select(id_col, "band", "band_key")


def _simhash_reps(docs_with_sig, id_col: str):
    """One row per distinct fingerprint: (id_col = rep, the min member
    id; simhash; n_members). The dedupe-before-banding frame whose band
    keys simhash_edges buckets and the pipeline's cap accounting counts."""
    return docs_with_sig.groupBy("simhash").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_members")
    )


def simhash_edges(
    docs_with_sig,
    cfg: DedupConfig = DEFAULT,
    expand: str = "pairs",
    id_col: str = "url",
):
    """Edges (src, dst, sim, 'simhash') for pairs within the hamming ball.

    Dedupe-before-banding: identical fingerprints collapse to ONE
    representative row before the band explode, so the dup-heavy hot case
    (thousands of identical fingerprints landing in one 15-bit band
    bucket) can never hit `band_cap` — the cap only truncates when more
    than band_cap DISTINCT fingerprints share a band slice, and that
    truncation is surfaced by the pipeline's cap accounting over the same
    rep frame (_simhash_reps), not silent. Verify is a
    pure JVM bit_count(xor) <= SIMHASH_MAX_HAMMING over representative
    fingerprints — no text, no Python. sim = 1 - hamming/bits.

    expand="pairs" (default): full (src < dst) pair semantics matching the
      brute-force hamming-ball oracle — every intra-group pair (identical
      fingerprints, ham=0, sim=1.0) plus every cross-group member pair.
      Output is inherently quadratic in identical-fingerprint group size;
      use for pair-listing queries, not planetary-scale edge feeds.
    expand="star": scale mode for connectivity consumers (connected
      components) — one rep->member edge per extra group member plus one
      rep->rep edge per qualifying fingerprint pair. Linear in members,
      identical connected components.
    """
    from .candidates import _pairs_from_buckets

    sigs = docs_with_sig.select(id_col, "simhash")
    # reps feeds banding, the verify join, AND the expansion joins —
    # materialize once (tiny: one row per distinct fingerprint) instead
    # of re-aggregating the corpus in every subplan
    reps = _simhash_reps(sigs, id_col).localCheckpoint(eager=True)

    banded = simhash_band_keys(reps, id_col=id_col)
    rep_pairs = _pairs_from_buckets(banded, id_col, ["band", "band_key"], cfg.band_cap)
    a = reps.select(F.col(id_col).alias("src"), F.col("simhash").alias("sh_a"))
    b = reps.select(F.col(id_col).alias("dst"), F.col("simhash").alias("sh_b"))
    rep_edges = (
        rep_pairs.join(a, "src")
        .join(b, "dst")
        .withColumn("ham", hamming_distance(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("ham") <= SIMHASH_MAX_HAMMING)
        .select("src", "dst", "sh_a", "sh_b", "ham")
    )

    sim_expr = (F.lit(1.0) - F.col("ham") / F.lit(float(SIMHASH_BITS))).alias("sim")
    pass_col = F.lit("simhash").alias("pass_name")

    if expand == "star":
        intra = (
            sigs.join(
                reps.filter(F.col("n_members") > 1).select(
                    "simhash", F.col(id_col).alias("rep")
                ),
                "simhash",
            )
            .filter(F.col(id_col) != F.col("rep"))
            .select(
                F.col("rep").alias("src"),
                F.col(id_col).alias("dst"),
                F.lit(0).alias("ham"),
            )
        )
        # a rep is the min member id of exactly one fingerprint, so the
        # rep pair (src < dst) already is the rep->rep edge
        cross = rep_edges.select("src", "dst", "ham")
        return intra.unionByName(cross).select("src", "dst", sim_expr, pass_col)

    # expand == "pairs": exact hamming-ball pair semantics
    # intra-group: all (i < j) member pairs per identical fingerprint
    intra = (
        sigs.select(F.col(id_col).alias("src"), "simhash")
        .join(sigs.select(F.col(id_col).alias("dst"), "simhash"), "simhash")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst", F.lit(0).alias("ham"))
    )
    # cross-group: every member-of-A x member-of-B pair per rep edge
    cross = rep_edges.join(
        sigs.select(F.col("simhash").alias("sh_a"), F.col(id_col).alias("ua")), "sh_a"
    ).join(
        sigs.select(F.col("simhash").alias("sh_b"), F.col(id_col).alias("ub")), "sh_b"
    ).select(
        F.least("ua", "ub").alias("src"),
        F.greatest("ua", "ub").alias("dst"),
        "ham",
    )
    return intra.unionByName(cross).select("src", "dst", sim_expr, pass_col)


def make_signatures_udf(cfg: DedupConfig = DEFAULT):
    """Fused MinHash + SimHash kernel: one pandas UDF computes BOTH
    signatures per Arrow batch, sharing the tokenize + shingle work that
    two separate UDFs would each redo (the signature stage feeds every
    downstream pass, so this is the hottest Python in the pipeline).
    Outputs are bit-identical to the standalone kernels (pinned by
    tests/test_pipeline.py::test_fused_signatures_match)."""
    a, b = _perm_params(cfg)

    @F.pandas_udf("minhash array<long>, simhash long")
    def signatures_udf(texts: pd.Series) -> pd.DataFrame:
        mins, sims = [], []
        for text in texts:
            # ONE md5 per shingle feeds both signatures; all remaining
            # per-doc work is C-level numpy over the uint64 hash array
            uniq, counts = np.unique(
                _shingle_hashes60(normalize_for_shingles(text), SHINGLE_K),
                return_counts=True,
            )
            mins.append(_minhash_from_uniq(uniq, a, b))
            sims.append(_simhash_from_uniq(uniq, counts, SIMHASH_BITS))
        return pd.DataFrame({"minhash": mins, "simhash": sims})

    return signatures_udf


def with_signatures(docs, cfg: DedupConfig = DEFAULT):
    """Attach `minhash` (array<long>) and `simhash` (long) columns —
    one fused Arrow pass over the `text` column."""
    from .partitioning import spread_small

    # hottest Python kernel in the repo: never let a byte-small
    # (single-partition) input serialize it on one core
    docs = spread_small(docs)
    sig = make_signatures_udf(cfg)
    return (
        docs.withColumn("_sig", sig(F.col("text")))
        .withColumn("minhash", F.col("_sig.minhash"))
        .withColumn("simhash", F.col("_sig.simhash"))
        .drop("_sig")
    )
