"""Property-based spot checks (SURVEY.md §5.5, hypothesis).

Kept Spark-light: the natural-sort total order and MinHash accuracy
properties validate the *kernel functions* against independent Python
models; one Spark run per property compares the expression output.
"""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from refine_spark.config import (
    DEFAULT, NUM_PERM, PENALTY_EXP_FEW, PENALTY_EXP_MANY, SHINGLE_K, SIMHASH_BITS,
)
from refine_spark.scoring import _rare_token_sim, _sorensen_dice
from refine_spark.signatures import _perm_params, _shingle_hashes60, normalize_for_shingles


# --- python model of the reference natural_cmp (natural.rs:6-105) ----------

def _natural_model_key(s: str):
    chunks = re.findall(r"[0-9]+|[^0-9]+", s)
    out = []
    for c in chunks:
        if c[0].isdigit():
            out.append((0, int(c), len(c)))
        else:
            out.append((1, c.lower(), 0))
    return out


_name_strategy = st.text(
    alphabet=st.sampled_from("abcXYZ0123456789-_ ."), min_size=0, max_size=12
)


@given(st.lists(_name_strategy, min_size=2, max_size=8))
@settings(max_examples=200, deadline=None)
def test_natural_key_encoding_matches_model(names):
    # the string encoding used by listing.natural_key must induce the same
    # order as the tuple model; replicate the encoding in pure python
    def encode(s: str) -> str:
        parts = []
        for c in re.findall(r"[0-9]+|[^0-9]+", s):
            if c[0].isdigit():
                stripped = c.lstrip("0") or "0"
                parts.append(
                    "\x01" + stripped.rjust(20, "0") + str(len(c)).rjust(4, "0")
                )
            else:
                parts.append("\x02" + c.lower())
        return "".join(parts)

    by_model = sorted(names, key=_natural_model_key)
    by_encoding = sorted(names, key=encode)
    assert [_natural_model_key(n) for n in by_model] == [
        _natural_model_key(n) for n in by_encoding
    ]


@given(
    st.lists(st.sampled_from("abcdefgh"), min_size=4, max_size=40),
    st.integers(min_value=0, max_value=10),
)
@settings(max_examples=50, deadline=None)
def test_minhash_jaccard_estimate_within_bounds(words, n_edits):
    # estimate error vs true shingle jaccard stays within ~4 sigma
    a_tokens = list(words)
    b_tokens = list(words)
    for i in range(min(n_edits, len(b_tokens))):
        b_tokens[i] = b_tokens[i] * 2
    k = SHINGLE_K
    sa = set(
        " ".join(a_tokens[i : i + k]) for i in range(max(1, len(a_tokens) - k + 1))
    )
    sb = set(
        " ".join(b_tokens[i : i + k]) for i in range(max(1, len(b_tokens) - k + 1))
    )
    true_j = len(sa & sb) / len(sa | sb)

    pa, pb = _perm_params(DEFAULT)
    m = (1 << 61) - 1

    def sig(tokens):
        sh = _shingle_hashes60(tokens, k)
        vals = (pa[:, None] * (sh[None, :] % m) + pb[:, None]) % m
        return vals.min(axis=1)

    est = float((sig(a_tokens) == sig(b_tokens)).mean())
    sigma = (true_j * (1 - true_j) / NUM_PERM) ** 0.5
    assert abs(est - true_j) <= max(4 * sigma, 0.08)


@given(st.text(max_size=20), st.text(max_size=20))
@settings(max_examples=200, deadline=None)
def test_dice_symmetry_and_bounds(a, b):
    d1 = _sorensen_dice(a, b)
    d2 = _sorensen_dice(b, a)
    assert abs(d1 - d2) < 1e-12
    assert 0.0 <= d1 <= 1.0
    assert _sorensen_dice(a, a) == 1.0 or not "".join(a.split())


@given(
    st.lists(st.sampled_from(["x", "y", "z", "w", "v"]), min_size=1, max_size=5, unique=True),
    st.lists(st.sampled_from(["x", "y", "z", "w", "v"]), min_size=1, max_size=5, unique=True),
)
@settings(max_examples=100, deadline=None)
def test_rare_token_sim_bounds_and_symmetry(ta, tb):
    wa = [1.0] * len(ta)
    wb = [1.0] * len(tb)
    s1 = _rare_token_sim(ta, wa, tb, wb, 0.6, 1 / 3)
    s2 = _rare_token_sim(tb, wb, ta, wa, 0.6, 1 / 3)
    assert abs(s1 - s2) < 1e-12
    assert 0.0 <= s1 <= 1.0 + 1e-12
    if set(ta) == set(tb):
        assert s1 == 1.0


def test_rare_jvm_matches_python_reference(spark):
    """The pipeline's Catalyst rare-token score against its pure-Python
    reference over seeded random token sets, with zero weights and
    subset pairs: equal within float rounding."""
    import random

    from refine_spark.scoring import _rare_jvm

    rng = random.Random(17)
    rows, want = [], []
    for i in range(400):
        # one corpus-wide weight per token, as the weight frame assigns
        w = {t: rng.uniform(0.05, 3.0) for t in range(12)}
        w.update({t: 0.0 for t in rng.sample(range(12), rng.randint(0, 3))})
        ta = sorted(rng.sample(range(12), rng.randint(1, 6)))
        if i % 4 == 0:  # subset pair
            tb = sorted(rng.sample(ta, rng.randint(1, len(ta))))
        else:
            tb = sorted(rng.sample(range(12), rng.randint(1, 6)))
        wa, wb = [w[t] for t in ta], [w[t] for t in tb]
        rows.append((i, ta, wa, sum(wa), len(ta), tb, wb, sum(wb), len(tb)))
        want.append(_rare_token_sim(ta, wa, tb, wb, PENALTY_EXP_FEW, PENALTY_EXP_MANY))
    df = spark.createDataFrame(
        rows,
        "i int, tids_a array<long>, ws_a array<double>, wsum_a double, ntok_a int,"
        " tids_b array<long>, ws_b array<double>, wsum_b double, ntok_b int",
    )
    got = {
        r["i"]: r["rare"]
        for r in df.select("i", _rare_jvm().alias("rare")).collect()
    }
    assert any(x == 0.0 for x in want) and any(x == 1.0 for x in want)
    assert max(abs(got[i] - want[i]) for i in range(len(want))) <= 1e-12


def test_normalize_for_shingles_accent_invariance():
    assert normalize_for_shingles("Vidéo Ação") == normalize_for_shingles("video acao")


# --- round-2 kernels -------------------------------------------------------


@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1, max_size=8))
@settings(max_examples=50, deadline=None)
def test_simhash_model_parity(texts):
    """The numpy simhash kernel equals a direct per-doc Python model
    (same md5-low-60 + weighted majority vote)."""
    import hashlib

    from refine_spark.signatures import (
        _shingle_strings, normalize_for_shingles, token_hash60,
    )

    def model(text):
        from collections import Counter

        feats = Counter(_shingle_strings(normalize_for_shingles(text), SHINGLE_K))
        acc = [0] * SIMHASH_BITS
        for s, cnt in feats.items():
            hv = token_hash60(s)
            for b in range(SIMHASH_BITS):
                acc[b] += cnt if (hv >> b) & 1 else -cnt
        out = 0
        for b in range(SIMHASH_BITS):
            if acc[b] > 0:
                out |= 1 << b
        return out

    # exercise the kernel through pandas without a Spark session
    import pandas as pd

    from refine_spark import signatures as sig
    import numpy as np

    for text in texts:
        feats = sig._shingle_strings(sig.normalize_for_shingles(text), SHINGLE_K)
        uniq, counts = np.unique(np.array(feats, dtype=object), return_counts=True)
        hs = np.array([sig.token_hash60(s) for s in uniq], dtype=np.uint64)
        bit_matrix = (hs[:, None] >> np.arange(SIMHASH_BITS, dtype=np.uint64)[None, :]) & 1
        acc = ((bit_matrix.astype(np.int64) * 2 - 1) * counts.astype(np.int64)[:, None]).sum(axis=0)
        got = 0
        for b in range(SIMHASH_BITS):
            if acc[b] > 0:
                got |= 1 << b
        assert got == model(text)


@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.floats(0, 1000, allow_nan=False)),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=50, deadline=None)
def test_sessionize_model(events):
    """Gap-session assignment: running-sum formulation equals the obvious
    sequential model."""
    gap = 100.0
    evs = sorted(set(events))
    by_user: dict[int, list[float]] = {}
    for uid, ts in evs:
        by_user.setdefault(uid, []).append(ts)
    expect = {}
    for uid, tss in by_user.items():
        seq = 0
        last = None
        for ts in sorted(tss):
            if last is None or ts - last > gap:
                seq += 1
            expect[(uid, ts)] = seq
            last = ts
    # running-sum formulation (pure python mirror of the SQL/Spark plan)
    got = {}
    for uid, tss in by_user.items():
        tss = sorted(tss)
        run = 0
        for i, ts in enumerate(tss):
            new = 1 if i == 0 or ts - tss[i - 1] > gap else 0
            run += new
            got[(uid, ts)] = run
    assert got == expect


# --- round-5 transliteration contracts (pure python, no Spark) -------------


@given(st.text(min_size=0, max_size=60))
@settings(max_examples=300, deadline=None)
def test_translit_output_is_always_ascii(s):
    """_translit_str must emit pure ASCII for ANY unicode input — the
    downstream tokenizer, the simhash lockstep CTE, and the DuckDB
    replay all assume it (a single non-ASCII survivor silently shifts
    shingle hashes)."""
    from refine_spark.clean import _translit_str

    out = _translit_str(s)
    assert all(ord(c) < 128 for c in out), out


def test_translit_table_is_sql_safe_and_ascii():
    """Every TRANSLIT_TABLE entry is embedded as a literal in the DuckDB
    lockstep CASE (clean.translit_duckdb / _SIMHASH_CTE): keys go in
    UNescaped (must be single non-ASCII quote-free chars), values are
    ASCII with single quotes doubled by _case_arms — extending the CJK
    tables must never corrupt the generated SQL silently."""
    from refine_spark.clean import TRANSLIT_TABLE, _case_arms

    for k, v in TRANSLIT_TABLE.items():
        assert len(k) == 1 and ord(k) >= 128 and k != "'", repr(k)
        assert all(ord(c) < 128 for c in v), repr((k, v))
    # the escaping contract itself: doubled quotes, balanced arms
    arms = _case_arms({"‘": "'", "é": "e"})
    assert "THEN ''''" in arms and arms.count("'") % 2 == 0


def test_hangul_romanize_total_over_syllable_block():
    """hangul_romanize must cover all 11,172 precomposed syllables with
    lowercase-ascii output ending in the syllable separator, and return
    None outside the block (jamo, other scripts)."""
    from refine_spark.translit_cjk import HANGUL_BASE, HANGUL_LAST, hangul_romanize

    assert HANGUL_LAST - HANGUL_BASE + 1 == 11172
    for o in range(HANGUL_BASE, HANGUL_LAST + 1):
        r = hangul_romanize(chr(o))
        assert r is not None and r.endswith(" ")
        body = r[:-1]
        assert body and body.islower() and body.isascii(), (hex(o), r)
    assert hangul_romanize("ᄀ") is None  # bare jamo
    assert hangul_romanize("a") is None
    assert hangul_romanize(chr(HANGUL_BASE - 1)) is None
    assert hangul_romanize(chr(HANGUL_LAST + 1)) is None


@given(
    st.text(min_size=0, max_size=200),
    st.sampled_from([2, 16, 24, 33, 64]),
)
@settings(max_examples=60, deadline=None)
def test_rolling_hash_vectorization_exact(text, n):
    """The O(len) modular-inverse rolling hash must be bit-identical to
    the direct O(len*n) polynomial (mod 2^64)."""
    import numpy as np

    from refine_spark.substring import _B, _window_hashes

    data = np.frombuffer(text.encode("utf-8", "ignore"), dtype=np.uint8)
    got = _window_hashes(data, n)
    if len(data) < n:
        assert len(got) == 0
        return
    w = np.array([pow(int(_B), n - 1 - i, 1 << 64) for i in range(n)],
                 dtype=np.uint64)
    win = np.lib.stride_tricks.sliding_window_view(data, n).astype(np.uint64)
    exp = (win * w[None, :]).sum(axis=1, dtype=np.uint64)
    assert np.array_equal(got, exp)


_lcs_text = st.text(alphabet=st.sampled_from("ab é"), min_size=0, max_size=200)


@given(_lcs_text, _lcs_text, st.integers(min_value=1, max_value=64))
@settings(max_examples=300, deadline=None)
def test_longest_shared_matches_difflib(x, y, min_len):
    """The substring verifier is exact: its length equals difflib's
    longest matching block (no junk heuristic), in code points, and is
    0 below min_len. A low alphabet makes long runs and repeats common,
    and the non-ASCII letter keeps code points apart from UTF-8 bytes."""
    from difflib import SequenceMatcher

    from refine_spark.substring import _longest_shared

    ref = SequenceMatcher(None, x, y, autojunk=False).find_longest_match(
        0, len(x), 0, len(y)
    ).size
    assert _longest_shared(x, y, min_len) == (ref if ref >= min_len else 0)


def test_longest_shared_long_runs_and_cache():
    """A long unshared run (thousands of spaces on both sides) resolves
    by binary search inside the run, and a shared per-batch cache gives
    the same lengths as a fresh one."""
    from refine_spark.substring import _longest_shared

    cache: dict = {}
    pairs = [
        (" " * 5000 + "a", "b" + " " * 3000 + "b", 48, 3000),
        ("xé" + " " * 300, " " * 299 + "é", 48, 299),
        ("abc" * 100, "abc" * 100, 48, 300),
        ("abc" * 100, "zabc" * 20, 48, 0),
    ]
    for x, y, min_len, want in pairs + pairs:
        assert _longest_shared(x, y, min_len, cache) == want
        assert _longest_shared(y, x, min_len) == want
