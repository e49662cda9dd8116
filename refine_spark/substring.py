"""Long-substring duplicate pass via winnowing fingerprints (north rule).

No reference analog (the suffix-array requirement comes from BASELINE.json);
the distributed design is the standard winnowing scheme (Schleimer, Wilkerson,
Aiken, "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03):

  1. per document: rolling 64-bit hashes of char n-grams (n = winnow_ngram),
     then keep the minimum hash in every window of w positions
     (w = winnow_window). Guarantee: any substring shared by two documents
     of length >= w + n - 1 (= min_substring) yields a shared fingerprint.
  2. explode fingerprints -> bucket pairs (same machinery as LSH banding)
  3. verify candidates per pair (pandas UDF) with the exact longest
     common substring (`_longest_shared`) and emit an edge when it
     reaches min_substring, sim = its length / the shorter text.

Step 1 is mapInPandas (numpy sliding windows, Arrow batches); steps 2-3 are
one shuffle + one verify join.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .config import DedupConfig, DEFAULT
from .candidates import _pairs_from_buckets, materialize_pairs
from .checkpoint import _observe_size, _observed_size

_B = np.uint64(1000003)  # polynomial rolling-hash base (wraparound mod 2^64)
_B_INV = np.uint64(pow(int(_B), -1, 1 << 64))  # B is odd -> invertible mod 2^64
# texts up to this many bytes are broadcast to the verify join; above it
# the pair side is broadcast and the joined rows shuffled once
_BROADCAST_TEXT_MAX_BYTES = 256 * 1024 * 1024


def _window_hashes(data: np.ndarray, n: int) -> np.ndarray:
    """uint64-wraparound polynomial hashes of every length-n window of
    the integer sequence `data` (bytes or code points), in O(len) via
    the modular-inverse prefix trick:

        h[i] = sum_j data[i+j] * B^(n-1-j)            (mod 2^64)
             = B^(n-1+i) * (P[i+n] - P[i]),  P = prefix-sum of data[j]*B^-j

    All cumprod/cumsum/diff arithmetic wraps mod 2^64 in uint64, so the
    values are bit-identical to the direct polynomial (pinned by
    test_rolling_hash_vectorization_exact)."""
    length = len(data)
    if length < n:
        return np.array([], dtype=np.uint64)
    binv_pows = np.full(length, _B_INV)
    binv_pows[0] = 1
    np.cumprod(binv_pows, out=binv_pows)
    prefix = np.zeros(length + 1, dtype=np.uint64)
    np.cumsum(data.astype(np.uint64) * binv_pows, out=prefix[1:])
    bpow = np.full(length - n + 1, _B)
    bpow[0] = pow(int(_B), n - 1, 1 << 64)
    np.cumprod(bpow, out=bpow)
    return (prefix[n:] - prefix[:-n]) * bpow


def _longest_shared(x: str, y: str, min_len: int, cache: dict | None = None) -> int:
    """Length in code points of the longest common substring of x and
    y, or 0 when it is shorter than `min_len`.

    A common substring of length L >= min_len puts L - min_len + 1
    consecutive min_len-windows of x among y's windows, so it lies in the
    span of one maximal run of x-windows whose hash occurs in y. A span
    bounds what its run can share: `str.__contains__` confirms it, and
    only a span that is not shared (two pieces of x that meet in y, or a
    hash collision) is binary-searched. Every length returned is checked
    on the strings, so a hash collision costs time, never exactness."""
    shorter = min(len(x), len(y))
    if shorter < min_len:
        return 0
    # identical / containment pairs (the bulk: exact dups share everything)
    if x in y or y in x:
        return shorter
    # (code points, window hashes, sorted hashes) once per text and cache
    # (one batch, one min_len): a text meets several partners
    cache = {} if cache is None else cache
    for text in (x, y):
        if text not in cache:
            cp = np.frombuffer(text.encode("utf-32-le", "surrogatepass"), dtype=np.uint32)
            h = _window_hashes(cp, min_len)
            cache[text] = (cp, h, np.sort(h))
    (cx, hx, _), (cy, _, hy_sorted) = cache[x], cache[y]
    idx = np.minimum(np.searchsorted(hy_sorted, hx), len(hy_sorted) - 1)
    hit = np.concatenate(([False], hy_sorted[idx] == hx, [False]))
    bounds = np.flatnonzero(hit[1:] != hit[:-1])
    starts, spans = bounds[::2], bounds[1::2] - bounds[::2] + min_len - 1

    def shared(start: int, span: int, length: int) -> bool:
        # does a length-`length` piece of x[start:start+span] occur in y?
        # hashes pick the candidates, the strings decide
        hits = np.isin(_window_hashes(cx[start:start + span], length), _window_hashes(cy, length))
        return any(x[start + i:start + i + length] in y for i in np.flatnonzero(hits))

    best = 0
    for i in np.argsort(-spans, kind="stable"):
        start, span = int(starts[i]), int(spans[i])
        if span <= best:
            break
        if x[start:start + span] in y:
            return span  # runs come longest first: no later span is longer
        # neither text contains the other, so the answer is < shorter
        lo, hi = max(best + 1, min_len), min(span, shorter) - 1
        while lo <= hi:
            mid = (lo + hi) // 2
            if shared(start, span, mid):
                best, lo = mid, mid + 1
            else:
                hi = mid - 1
    return best


def _fingerprints(text: str, n: int, w: int) -> np.ndarray:
    """Winnowed hashes of the UTF-8 byte n-grams of `text`."""
    hashes = _window_hashes(np.frombuffer(text.encode("utf-8", "ignore"), dtype=np.uint8), n)
    if len(hashes) == 0:
        return np.array([], dtype=np.int64)
    mins = np.lib.stride_tricks.sliding_window_view(hashes, min(w, len(hashes))).min(axis=1)
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

    return docs.mapInPandas(gen, f"{id_col} {id_type}, fp long")


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
    # AQE coalesces the byte-small pairs to ~1 partition, which would
    # serialize the verify UDF: repartition explicitly (never coalesced),
    # before the text attach when the texts broadcast, so the fat joined
    # rows are never shuffled (the r5 shape moved ~640 MB at sf1.0).
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    if txt_bytes <= _BROADCAST_TEXT_MAX_BYTES:
        # the verify stage starts from the compact checkpointed pair
        # table, not from a replan of the bucket-pair lineage
        joined = (
            pairs.localCheckpoint(eager=True)
            .repartition(parallelism)
            .join(F.broadcast(a), "src")
            .join(F.broadcast(b), "dst")
        )
    else:
        # corpus-scale texts: broadcast the byte-gated pair side instead
        # (keeps the first attach map-side), shuffle the joined rows once
        pairs, _ = materialize_pairs(pairs)
        joined = pairs.join(a, "src").join(b, "dst").repartition(parallelism)

    min_len = cfg.min_substring

    @F.pandas_udf("double")
    def lcs_ratio(ta: pd.Series, tb: pd.Series) -> pd.Series:
        cache: dict = {}  # per batch: a text meets several partners
        out = []
        for x, y in zip(ta, tb):
            x, y = x or "", y or ""
            shared = _longest_shared(x, y, min_len, cache)
            out.append(shared / min(len(x), len(y)) if shared else 0.0)
        return pd.Series(out, dtype="float64")

    verified = joined.withColumn("sim", lcs_ratio(F.col("text_a"), F.col("text_b")))
    return verified.filter(F.col("sim") > 0.0).select(
        "src", "dst", "sim", F.lit("substring").alias("pass_name")
    )
