"""Candidate-pair generation: LSH banding + inverted-token blocking.

SURVEY.md §2.4 J1/J2/O6. The reference builds an inverted token index and
emits all (i<j) pairs per posting list with a global seen-set
(/root/reference/src/commands/dupes.rs:177-184,218-245); the Spark-first
equivalent is: explode blocking keys -> group rows per key -> emit unique
combinations -> global dropDuplicates. LSH banding is the same shape with
key = xxhash64(signature band slice).

Scale notes (explicitly handled, north rule):
  - pair generation is ONE shuffle on the bucket key (window + groupBy)
    instead of a two-sided self-join.
  - hot keys (stopword-like tokens / degenerate bands) produce B^2 pairs;
    keys above `cap` are truncated AND counted to a side-channel metric,
    mirroring the reference's stopword removal rationale.
  - the pair stream is deduped on (least, greatest) BEFORE any expensive
    scoring (barrier placement, SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .checkpoint import _sized_checkpoint
from .config import DEFAULT, LSH_BANDS, LSH_ROWS, DedupConfig


def _pairs_from_buckets(
    keyed: DataFrame, id_col: str, key_cols: list[str], cap: int
) -> DataFrame:
    """Group rows by blocking key and emit distinct (src < dst) pairs.

    `keyed` must be unique on (key_cols, id_col) — one row per (id, band)
    explode, np.unique'd winnow fingerprints, array_distinct'd tokens: a
    duplicate row would put its id twice in a bucket and emit (x, x).

    Buckets larger than `cap` keep their `cap` SMALLEST ids;
    bucket_cap_stats over the same frame reports what the cap drops.
    A window row_number applies the cap BEFORE any aggregation buffer
    exists (WindowExec spills; agg buffers don't): the
    collect_set-then-slice of rounds 1-2 exhausted the JVM heap at 800k
    docs, where skewed buckets reach 10^5 members.

    One shuffle on the bucket key: the collect reuses the window's
    partitioning. A cap within spark.sql.optimizer.windowGroupLimitThreshold
    (1000) also gets a map-side WindowGroupLimit, which drops over-cap
    rows before the shuffle. A hash-agg path for small buckets would save
    no sort at scale: ObjectHashAggregate turns sort-based once a task
    sees more than 128 keys (objectHashAggregate.sortBased.fallbackThreshold)."""
    from pyspark.sql import Window as W

    w = W.partitionBy(*key_cols).orderBy(id_col)
    buckets = (
        keyed.select(*key_cols, id_col)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)  # the cap SMALLEST ids, pre-aggregation
        .groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # all i<j combinations, generated JVM-side with higher-order functions
    # (bucket sizes are cap-bounded, so per-row explode cost is bounded;
    # profiling showed an extra repartition here costs more than the
    # skew it would spread)
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("ids"),
                            i + F.lit(2),
                            F.greatest(F.size("ids") - i - 1, F.lit(0)),
                        ),
                        lambda y: F.struct(x.alias("src"), y.alias("dst")),
                    ),
                )
            )
        ).alias("p"),
    )
    # an id pair sharing several keys (bands, fingerprints, tokens) is
    # emitted once per key: dedup before any scoring join
    return pairs.select("p.src", "p.dst").dropDuplicates(["src", "dst"])


def bucket_cap_stats(keyed: DataFrame, key_cols: list[str], cap: int) -> DataFrame:
    """One-row accounting of what the band cap silently drops: over the
    same bucket frame _pairs_from_buckets consumes, count multi-member
    buckets, capped buckets, and the exact pair shortfall
    C(n,2) - C(cap,2) per capped bucket. A silent cap at scale reads as
    full coverage — pipeline passes log this row to StageRunner metrics
    (round-2 verdict item 10). Bucket sizes are row counts, the count
    the operator's cap decision uses (`keyed` is unique per id)."""
    sizes = (
        keyed.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    capl = F.lit(cap)
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(F.sum((F.col("n") > cap).cast("long")), F.lit(0)).alias(
            "n_capped"
        ),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("n") > cap,
                    (F.col("n") * (F.col("n") - 1) - capl * (capl - 1)) / 2,
                ).otherwise(0.0)
            ).cast("long"),
            F.lit(0),
        ).alias("est_dropped_pairs"),
    )


def materialize_pairs(
    pairs: DataFrame,
    broadcast_max_rows: int = 4_000_000,
    broadcast_max_bytes: int = 256 * 1024 * 1024,
) -> tuple[DataFrame, int]:
    """Materialize a candidate-pair frame (it always feeds TWO payload
    attach joins) and broadcast-hint it when small.

    Why: the verify joins attach fat per-doc payloads (signature arrays,
    texts, token-weight arrays) to each pair side. Planned statically,
    Catalyst sees unknown sizes and picks sort-merge — the payload side
    pays a full shuffle WRITE even when AQE later converts the join
    (conversion reuses the already-staged shuffle). An explicit
    broadcast of the byte-small pair side keeps the first payload attach
    entirely map-side: the payload table is scanned, never shuffled.

    The hint is withheld above EITHER cap: the row cap (pairs scale with
    corpus at 10^12 docs) or the byte cap — on the int64 doc_id hot path
    4M pairs are ~128 MB, but standalone callers pair url strings, where
    the same 4M rows exceed 1 GB collected (driver.maxResultSize). Both
    sizes are observed inside the checkpoint job itself
    (checkpoint._sized_checkpoint), so gating costs no extra Spark job.
    Above the caps the join stays sort-merge — the distributed path.
    Returns (frame, n_pairs)."""
    # 16-byte per-row overhead: the broadcast relation's compact row
    # framing, not the fatter driver-collect Row overhead (that gate
    # lives in cluster.py with the default 48)
    pairs, n, est = _sized_checkpoint(pairs, per_row_overhead=16)
    hint = n <= broadcast_max_rows and est <= broadcast_max_bytes
    return (F.broadcast(pairs) if hint else pairs), n


def lsh_band_keys(df: DataFrame, id_col: str = "url") -> DataFrame:
    """Explode the `minhash` signature into (band, band_key) rows, JVM-side.

    `id_col` is the row identity carried through banding — the pipeline
    passes the int64 `doc_id` so the band shuffle moves 8-byte ids
    instead of full url strings (the measured bandwidth ceiling on
    shuffle-bound stages is partly payload-width; see pipeline.prepare)."""
    banded = df.select(
        id_col,
        "minhash",
        F.explode(F.sequence(F.lit(0), F.lit(LSH_BANDS - 1))).alias("band"),
    ).withColumn(
        "band_key",
        F.xxhash64(
            F.col("band"),
            F.slice(F.col("minhash"), F.col("band") * LSH_ROWS + 1, LSH_ROWS),
        ),
    )
    return banded.select(id_col, "band", "band_key")


def lsh_candidates(
    docs_with_sig: DataFrame, cfg: DedupConfig = DEFAULT, id_col: str = "url"
) -> DataFrame:
    """Unique candidate id pairs from LSH band collisions."""
    banded = lsh_band_keys(docs_with_sig.select(id_col, "minhash"), id_col=id_col)
    return _pairs_from_buckets(banded, id_col, ["band", "band_key"], cfg.band_cap)


def token_block_candidates(
    named: DataFrame, cfg: DedupConfig = DEFAULT
) -> DataFrame:
    """Reference-parity inverted-token blocking (dupes.rs:177-184): every
    pair of urls sharing a token, bucket-capped at `band_cap`.

    Input needs (url, tokens). Not on the pipeline path — the name pass
    blocks with the exact weighted prefix filter (scoring.name_pass_edges);
    this is the all-shared-token reference that filter is tested against.
    """
    tok = named.select("url", F.explode(F.array_distinct("tokens")).alias("token"))
    return _pairs_from_buckets(tok, "url", ["token"], cfg.band_cap)
