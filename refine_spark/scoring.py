"""Pairwise similarity scoring (SURVEY.md §2.4 J2/J3 + §2.8).

Reference semantics (/root/reference/src/commands/dupes.rs:263-281,408-457):
  qualify:  same kind AND >=1 shared non-numeric token
  score:    max(normalized_levenshtein, sorensen_dice) * 0.4
            + rare_token_similarity * 0.6
  rare:     token weight 1/ln(1+corpus_freq); subset pairs use
            inter/min(sets); others weighted Jaccard; then a length-ratio
            penalty ^0.6 (<=1 shared tokens) or ^(1/3)

Spark-first split:
  - levenshtein: builtin JVM expression (whole-stage codegen)
  - corpus token frequency: an aggregate DataFrame joined back (NOT a
    broadcast map — the freq table is corpus-sized at 10^12 docs)
  - rare-token: Catalyst higher-order expressions over token-id arrays
    (_rare_jvm; _rare_token_sim is its pure-Python reference)
  - dice: one vectorized pandas UDF over Arrow batches (the multiset
    bigram intersection is not expressible as builtins without per-pair
    explodes)
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .config import (
    PENALTY_EXP_FEW, PENALTY_EXP_MANY, RARE_TOKEN_WEIGHT, STRING_WEIGHT, THRESHOLD,
)
from .candidates import materialize_pairs


def _sorensen_dice(a: str, b: str) -> float:
    """Bigram multiset Dice coefficient, whitespace removed — matches the
    published behavior of strsim::sorensen_dice (dupes.rs:275)."""
    a = "".join(a.split())
    b = "".join(b.split())
    if not a and not b:
        return 1.0
    if not a or not b:
        return 0.0
    if a == b:
        return 1.0
    if len(a) < 2 or len(b) < 2:
        return 0.0
    bigrams = Counter(a[i : i + 2] for i in range(len(a) - 1))
    inter = 0
    for i in range(len(b) - 1):
        bg = b[i : i + 2]
        if bigrams.get(bg, 0) > 0:
            bigrams[bg] -= 1
            inter += 1
    return 2.0 * inter / (len(a) + len(b) - 2)


def _rare_token_sim(
    tok_a, w_a, tok_b, w_b, exp_few: float, exp_many: float
) -> float:
    wa = dict(zip(tok_a, w_a))
    wb = dict(zip(tok_b, w_b))
    a_score = sum(wa.values())
    b_score = sum(wb.values())
    if a_score == 0.0 or b_score == 0.0:
        return 0.0
    sa, sb = set(wa), set(wb)
    inter = sa & sb
    inter_score = sum(wa[t] for t in inter)
    if sa <= sb or sb <= sa:
        base = inter_score / min(a_score, b_score)
    else:
        union_score = a_score + b_score - inter_score
        if union_score == 0.0:
            return 1.0 if inter_score > 0.0 else 0.0
        base = inter_score / union_score
    la, lb = len(sa), len(sb)
    ratio = min(la, lb) / max(la, lb)
    exp = exp_few if len(inter) <= 1 else exp_many
    return base * ratio**exp


@F.pandas_udf(T.DoubleType())
def _dice_udf(name_a: pd.Series, name_b: pd.Series) -> pd.Series:
    """Vectorized _sorensen_dice over two name columns."""
    return pd.Series(
        [_sorensen_dice(x, y) for x, y in zip(name_a, name_b)], dtype="float64"
    )


def _rare_jvm():
    """rare_token_similarity as pure Catalyst higher-order expressions
    over integer token ids (arrays distinct + sorted; weights aligned,
    weight sums precomputed). The same math as _rare_token_sim / the
    reference (dupes.rs:408-457), equal to it within float rounding, not
    bit for bit: the shared-token weights are summed in another order."""
    a_score = F.col("wsum_a")
    b_score = F.col("wsum_b")
    inter = F.array_intersect("tids_a", "tids_b")
    map_a = F.map_from_arrays("tids_a", "ws_a")
    inter_score = F.aggregate(inter, F.lit(0.0), lambda acc, t: acc + map_a[t])
    n_inter = F.size(inter)
    subset = (n_inter == F.col("ntok_a")) | (n_inter == F.col("ntok_b"))
    union_score = a_score + b_score - inter_score
    base = F.when(subset, inter_score / F.least(a_score, b_score)).otherwise(
        F.when(
            union_score == 0.0,
            F.when(inter_score > 0.0, F.lit(1.0)).otherwise(F.lit(0.0)),
        ).otherwise(inter_score / union_score)
    )
    la = F.col("ntok_a").cast("double")
    lb = F.col("ntok_b").cast("double")
    ratio = F.least(la, lb) / F.greatest(la, lb)
    exponent = F.when(n_inter <= 1, F.lit(PENALTY_EXP_FEW)).otherwise(
        F.lit(PENALTY_EXP_MANY)
    )
    rare = base * F.pow(ratio, exponent)
    return F.when((a_score == 0.0) | (b_score == 0.0), F.lit(0.0)).otherwise(rare)


def _weight_frame(named: DataFrame, id_col: str) -> DataFrame:
    """One row per (id, distinct token): w = 1/ln(1+freq) from the
    corpus-wide token frequency (with multiplicity, dupes.rs:158-165),
    the doc's weight sum `wsum`, and `in_prefix` — the weighted prefix
    filter that blocks the name pass.

    Any pair the scorer can accept satisfies
        rare >= bound = (THRESHOLD - STRING_WEIGHT) / RARE_TOKEN_WEIGHT
    (sim = max(lev, dice)*sw + rare*rw with max(...) <= 1), and
    rare <= inter_score / min(wsum), so the shared-token weight must be
    >= bound * min(wsum_a, wsum_b). Hence the smaller side must share a
    token inside its weighted PREFIX — its heaviest (rarest) tokens up
    to the point where the remaining tail weighs < bound * wsum. A hot
    (stopword-like) token has near-zero weight, so it almost never sits
    in any prefix and its posting list is never self-joined — the
    O(df^2) hot-token blow-up disappears without dropping a single
    qualifying pair. Frequency is an aggregate DataFrame joined back,
    which scales; at test sizes Catalyst broadcasts it."""
    from pyspark.sql import Window as W

    bound = (THRESHOLD - STRING_WEIGHT) / RARE_TOKEN_WEIGHT
    tok = named.select(id_col, F.explode(F.array_distinct("tokens")).alias("token"))
    freq = (
        named.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = tok.join(freq, "token").select(
        id_col, "token", (F.lit(1.0) / F.log1p("freq")).alias("w")
    )
    wu = W.partitionBy(id_col)
    wcum = wu.orderBy(F.desc("w"), "token").rowsBetween(W.unboundedPreceding, 0)
    return (
        w.withColumn("wsum", F.sum("w").over(wu))
        .withColumn("cum", F.sum("w").over(wcum))
        .withColumn(
            "in_prefix",
            (F.col("cum") - F.col("w")) <= (1.0 - bound) * F.col("wsum"),
        )
    )


def _weight_arrays(flagged: DataFrame, id_col: str) -> DataFrame:
    """Per-document scoring arrays from the flagged weight frame.

    Columns engineered for the huge pair join downstream:
      tids    array<long>   distinct token ids (xxhash64), sorted
      ws      array<double> aligned weights
      wsum    double        sum(ws), carried from the weight frame
      ntok    int           |distinct tokens|
      nonnum  array<long>   ids of non-numeric tokens (qualification)
    Long-array set ops are several times cheaper than string arrays and
    shrink the dominant shuffle. xxhash64 collisions across a corpus
    vocabulary are negligible (64-bit, birthday bound)."""
    return (
        flagged.withColumn("tid", F.xxhash64("token"))
        .withColumn("numeric", ~F.col("token").rlike("[^0-9]"))
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list(F.struct("tid", "w", "numeric"))).alias("tw"),
            F.first("wsum").alias("wsum"),
        )
        .select(
            id_col,
            F.transform("tw", lambda x: x["tid"]).alias("tids"),
            F.transform("tw", lambda x: x["w"]).alias("ws"),
            "wsum",
            F.size("tw").alias("ntok"),
            F.transform(
                F.filter("tw", lambda x: ~x["numeric"]), lambda x: x["tid"]
            ).alias("nonnum"),
        )
    )


def name_pass_edges(named: DataFrame, id_col: str = "url") -> DataFrame:
    """The full name pass with ONE token-weight computation shared
    between candidate generation and scoring.

    Candidate generation is the weighted prefix filter (exact, no df-cap
    needed; see _weight_frame): each doc's prefix tokens probe the FULL
    inverted index, then (least, greatest) dedup. The same per-(id,
    token, w) frame is re-aggregated into the scoring arrays instead of
    re-exploding and re-joining frequencies a second time.
    Edge set is identical to scoring every shared-token pair
    (score_name_pairs over candidates.token_block_candidates) — pinned
    by tests/test_pipeline.py."""
    # materialized once: feeds candidates AND the arrays
    flagged = _weight_frame(named, id_col).localCheckpoint(eager=True)
    probe = flagged.filter("in_prefix").select(F.col(id_col).alias("pu"), "token")
    index = flagged.select(F.col(id_col).alias("iu"), "token")
    pairs = (
        probe.join(index, "token")
        .filter(F.col("pu") != F.col("iu"))
        .select(
            F.least("pu", "iu").alias("src"), F.greatest("pu", "iu").alias("dst")
        )
        .dropDuplicates(["src", "dst"])
    )
    tokw = _weight_arrays(flagged, id_col)
    return _score_pairs_with_weights(pairs, named, tokw, id_col)


def score_name_pairs(pairs: DataFrame, named: DataFrame) -> DataFrame:
    """Score candidate pairs; emit qualifying edges (src, dst, sim, 'name').

    `named` needs (url, cleaned_name, tokens, kind).

    Plan shape (the reference's short-circuit ordering, dupes.rs:263-269,
    encoded manually because CBO won't reorder across a Python UDF):
      1. cheap JVM filters: kind equality, shared non-numeric token
      2. JVM scoring: builtin levenshtein + rare-token similarity as
         higher-order expressions (whole-stage codegen, no Python)
      3. decide WITHOUT dice where possible: a pair passes outright when
         lev*0.4 + rare*0.6 >= t, and can never pass when
         0.4 + rare*0.6 < t (dice <= 1) — only the narrow middle band
         pays the bigram-multiset dice pandas UDF.
    """
    tokw = _weight_arrays(_weight_frame(named, "url"), "url")
    return _score_pairs_with_weights(pairs, named, tokw, "url")


def _score_pairs_with_weights(
    pairs: DataFrame, named: DataFrame, tokw: DataFrame, id_col: str
) -> DataFrame:
    sw, rw, t = STRING_WEIGHT, RARE_TOKEN_WEIGHT, THRESHOLD
    # The candidate-pair table is huge (every token-block pair), so the
    # big join carries only the MINIMAL payload per side: kind + distinct
    # tokens + weights. Names attach after the prune (the pruned band is
    # tiny), halving the dominant shuffle's bytes.
    side = named.select(id_col, "kind").join(tokw, id_col).localCheckpoint(eager=True)
    a = side.select(*[F.col(c).alias(f"{c}_a") for c in side.columns])
    b = side.select(*[F.col(c).alias(f"{c}_b") for c in side.columns])
    # materialize the pair frame before the wide attach joins. At this
    # corpus's pair counts (10M+) the broadcast hint inside
    # materialize_pairs does NOT fire — the measured lazy-mode win comes
    # from the materialization itself: the scoring query reads a known-
    # size compact pair table instead of replanning the whole prefix-join
    # lineage inside the giant stage graph (min-of-2 2v8 legs: T_2 453.6
    # vs 547.4 s, T_8 176.2 vs 248.3 s with/without it).
    pairs, _ = materialize_pairs(pairs.select("src", "dst"))
    joined = (
        pairs.join(a, pairs.src == a[f"{id_col}_a"])
        .join(b, pairs.dst == b[f"{id_col}_b"])
        .filter(F.col("kind_a") == F.col("kind_b"))
        .filter(
            # >=1 shared non-numeric token (dupes.rs:263-269; the
            # reference qualifies on token SETS) — precomputed id arrays
            F.arrays_overlap("nonnum_a", "nonnum_b")
        )
    )
    scored = joined.withColumn("rare", _rare_jvm())
    # prune with the dice-free bound (lev <= 1, dice <= 1): only survivors
    # — passing pairs plus the narrow undecided band — continue. The
    # materialization also stops Catalyst re-evaluating the interpreted
    # higher-order `rare` expression in both a Filter and a Project.
    candidates = scored.select("src", "dst", "rare").filter(
        F.lit(1.0) * sw + F.col("rare") * rw >= t
    ).localCheckpoint(eager=True)
    # attach names only now; spread the (byte-small) band across the
    # cluster before the Python dice stage — AQE's size-based coalescing
    # would serialize it (explicit numPartitions is never coalesced)
    names = named.select(id_col, "cleaned_name")
    na = names.select(F.col(id_col).alias("src"), F.col("cleaned_name").alias("name_a"))
    nb = names.select(F.col(id_col).alias("dst"), F.col("cleaned_name").alias("name_b"))
    parallelism = pairs.sparkSession.sparkContext.defaultParallelism
    withnames = candidates.join(na, "src").join(nb, "dst").repartition(parallelism)
    lev_norm = F.lit(1.0) - F.levenshtein("name_a", "name_b") / F.greatest(
        F.length("name_a"), F.length("name_b"), F.lit(1)
    )
    final = withnames.withColumn("lev", lev_norm).withColumn(
        "dice", _dice_udf(F.col("name_a"), F.col("name_b"))
    ).withColumn(
        "sim", F.greatest(F.col("lev"), F.col("dice")) * sw + F.col("rare") * rw
    )
    return final.filter(F.col("sim") >= t).select(
        F.col("src"), F.col("dst"), F.col("sim"), F.lit("name").alias("pass_name")
    )
