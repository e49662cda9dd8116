"""Long-substring duplicate pass via winnowing fingerprints (north rule).

No reference analog (the suffix-array requirement comes from BASELINE.json);
the distributed design is the standard winnowing scheme (Schleimer, Wilkerson,
Aiken, "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03):

  1. per document: rolling 64-bit hashes of char n-grams (n = winnow_ngram),
     then keep the minimum hash in every window of w positions
     (w = winnow_window). Guarantee: any substring shared by two documents
     of length >= w + n - 1 (= min_substring) yields a shared fingerprint.
  2. explode fingerprints -> bucket pairs (same machinery as LSH banding)
  3. verify candidates per pair (pandas UDF) and emit edges when the
     shared substring reaches min_substring: by default the rolling-hash
     run estimate, or an exact longest-common-substring check with
     `exact_lcs_verify`.

Step 1 is mapInPandas (numpy sliding windows, Arrow batches); steps 2-3 are
one shuffle + one verify join.
"""

from __future__ import annotations

from collections.abc import Iterator
from difflib import SequenceMatcher

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .config import DedupConfig, DEFAULT
from .candidates import _pairs_from_buckets, materialize_pairs
from .checkpoint import _observe_size, _observed_size

_B = np.uint64(1000003)  # polynomial rolling-hash base (wraparound mod 2^64)
_B_INV = np.uint64(pow(int(_B), -1, 1 << 64))  # B is odd -> invertible mod 2^64


def _rolling_hashes(text: str, n: int) -> np.ndarray:
    """uint64-wraparound polynomial hashes of every char n-gram.

    O(len) via the modular-inverse prefix trick (round 3; the previous
    sliding_window_view matmul did O(len x n) multiply-adds — 64x the
    memory traffic at the production n=64, and the dominant bandwidth
    load of the substring stage at wide parallelism):

        h[i] = sum_j data[i+j] * B^(n-1-j)            (mod 2^64)
             = B^(n-1+i) * (P[i+n] - P[i]),  P = prefix-sum of data[j]*B^-j

    All cumprod/cumsum/diff arithmetic wraps mod 2^64 in uint64, so the
    values are bit-identical to the direct polynomial (pinned by
    test_rolling_hash_vectorization_exact)."""
    data = np.frombuffer(text.encode("utf-8", "ignore"), dtype=np.uint8)
    length = len(data)
    if length < n:
        return np.array([], dtype=np.uint64)
    m = length - n + 1
    binv_pows = np.empty(length, dtype=np.uint64)
    binv_pows[0] = 1
    if length > 1:
        binv_pows[1:] = _B_INV
        np.cumprod(binv_pows, out=binv_pows)
    t = data.astype(np.uint64) * binv_pows
    prefix = np.empty(length + 1, dtype=np.uint64)
    prefix[0] = 0
    np.cumsum(t, out=prefix[1:])
    diff = prefix[n:] - prefix[:-n]
    bpow = np.empty(m, dtype=np.uint64)
    bpow[0] = pow(int(_B), n - 1, 1 << 64)
    if m > 1:
        bpow[1:] = _B
        np.cumprod(bpow, out=bpow)
    return diff * bpow


def _fingerprints(text: str, n: int, w: int) -> np.ndarray:
    hashes = _rolling_hashes(text, n)
    if len(hashes) == 0:
        return np.array([], dtype=np.int64)
    if len(hashes) <= w:
        return np.unique(hashes.min(keepdims=True)).view(np.int64)
    mins = np.lib.stride_tricks.sliding_window_view(hashes, w).min(axis=1)
    return np.unique(mins).view(np.int64)


def winnow_fingerprints(
    docs: DataFrame, cfg: DedupConfig = DEFAULT, id_col: str = "url"
) -> DataFrame:
    """(id, fp) one row per selected fingerprint. `id_col` may be the
    int64 doc_id (pipeline hot path) or the url string (standalone)."""
    from .partitioning import spread_small

    n, w = cfg.winnow_ngram, cfg.winnow_window
    id_type = dict(docs.dtypes)[id_col]
    # per-row-expensive numpy stage: spread a byte-small (few-partition)
    # input across the cluster first, narrow projection only (no-op when
    # the input is already parallel — see partitioning.spread_small)
    docs = spread_small(docs.select(id_col, "text"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for doc_id, text in zip(pdf[id_col], pdf["text"]):
                f = _fingerprints(text or "", n, w)
                ids.extend([doc_id] * len(f))
                fps.extend(f.tolist())
            yield pd.DataFrame({id_col: ids, "fp": pd.array(fps, dtype="int64")})

    return docs.select(id_col, "text").mapInPandas(gen, f"{id_col} {id_type}, fp long")


def substring_edges(
    docs: DataFrame, cfg: DedupConfig = DEFAULT, id_col: str = "url"
) -> DataFrame:
    """Edges (src, dst, sim, 'substring') for pairs sharing a substring of
    length >= cfg.min_substring; sim = lcs_len / min(text lengths)."""
    # materialize the winnowing output once, so the CPU-heavy mapInPandas
    # stage runs in exactly one job whatever plan reads the fingerprints.
    # That job reads every text anyway, so it also sizes them for the
    # broadcast-vs-shuffle attach below (no separate sizing pass).
    texts = docs.select(id_col, "text")
    observed, text_size = _observe_size(texts)
    fps = winnow_fingerprints(observed, cfg, id_col=id_col).localCheckpoint(eager=True)
    _, txt_bytes = _observed_size(text_size)
    pairs = _pairs_from_buckets(fps, id_col, ["fp"], cfg.band_cap)
    a = texts.select(F.col(id_col).alias("src"), F.col("text").alias("text_a"))
    b = texts.select(F.col(id_col).alias("dst"), F.col("text").alias("text_b"))
    # candidate pairs are byte-small, so AQE coalesces them to ~1 partition
    # — which would serialize the CPU-heavy LCS verify. Spread across the
    # cluster with an explicit repartition (never coalesced by AQE) —
    # placed BEFORE the text attach when the text table is small enough
    # to broadcast, so the fat joined rows (pair x two full texts, ~100x
    # the pair bytes) are never shuffled at all; the measured r5 shape
    # (broadcast pairs -> stream texts -> repartition joined) moved
    # ~640 MB of attached text through the exchange at sf1.0.
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    pairs = pairs.localCheckpoint(eager=True)  # feeds both join plans once
    if txt_bytes <= 256 * 1024 * 1024:
        joined = (
            pairs.repartition(parallelism)
            .join(F.broadcast(a), "src")
            .join(F.broadcast(b), "dst")
        )
    else:
        # corpus-scale texts: broadcast the byte-gated pair side instead
        # (keeps the first attach map-side), shuffle the joined rows once
        pairs, _ = materialize_pairs(pairs)
        joined = pairs.join(a, "src").join(b, "dst").repartition(parallelism)

    min_len = cfg.min_substring
    n = cfg.winnow_ngram
    exact_verify = cfg.exact_lcs_verify

    def _hashes_cached(cache: dict, text: str) -> tuple[np.ndarray, np.ndarray]:
        """(hashes, sorted_hashes) per text, computed once per batch —
        np.isin would re-sort the needle side on EVERY pair; caching the
        sorted array lets each pair pay only a searchsorted."""
        h = cache.get(text)
        if h is None:
            raw = _rolling_hashes(text, n)
            h = (raw, np.sort(raw))
            cache[text] = h
        return h

    @F.pandas_udf("double")
    def lcs_ratio(ta: pd.Series, tb: pd.Series) -> pd.Series:
        out = []
        cache: dict[str, np.ndarray] = {}
        need_run = min_len - n + 1
        for x, y in zip(ta, tb):
            x = x or ""
            y = y or ""
            if not x or not y:
                out.append(0.0)
                continue
            shorter = min(len(x), len(y))
            # tier 0: identical / containment pairs (the bulk — exact dups
            # trivially share every substring) — O(n)
            if x == y or (shorter >= min_len and (x in y or y in x)):
                out.append(1.0 if shorter >= min_len else 0.0)
                continue
            # tier 1: vectorized necessary condition — a shared substring
            # of length >= min_len forces a run of >= min_len - n + 1
            # consecutive positions in x whose n-gram hash also occurs in
            # y. O(len log len) with numpy; filters the vast majority.
            ha, _ = _hashes_cached(cache, x)
            _, hb_sorted = _hashes_cached(cache, y)
            if len(ha) == 0 or len(hb_sorted) == 0:
                out.append(0.0)
                continue
            idx = np.searchsorted(hb_sorted, ha)
            idx[idx == len(hb_sorted)] = 0
            common = hb_sorted[idx] == ha
            # longest run of True
            padded = np.concatenate(([0], common.view(np.int8), [0]))
            diff = np.diff(padded)
            starts = np.nonzero(diff == 1)[0]
            ends = np.nonzero(diff == -1)[0]
            longest = int((ends - starts).max()) if len(starts) else 0
            if longest < need_run:
                out.append(0.0)
                continue
            if not exact_verify:
                # hash-run estimate: shared region ~= run + n - 1
                out.append(min(1.0, (longest + n - 1) / max(1, shorter)))
                continue
            # tier 2 (audit mode): exact LCS for the survivors
            m = SequenceMatcher(None, x, y, autojunk=False).find_longest_match(
                0, len(x), 0, len(y)
            )
            out.append(m.size / max(1, shorter) if m.size >= min_len else 0.0)
        return pd.Series(out, dtype="float64")

    verified = joined.withColumn("sim", lcs_ratio(F.col("text_a"), F.col("text_b")))
    return verified.filter(F.col("sim") > 0.0).select(
        "src", "dst", "sim", F.lit("substring").alias("pass_name")
    )
