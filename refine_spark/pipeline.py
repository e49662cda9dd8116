"""End-to-end near-duplicate detection pipeline (the reference's `dupes`
command re-expressed as one Spark DAG; SURVEY.md §3.2a).

Stages:
  prepare    identity columns + cleaned name/tokens + size/kind
  exact      (size, kind, 3-point sample hash) groups        -> edges sim=1.0
  text       MinHash signatures -> LSH banding -> signature-
             estimated Jaccard verification (JVM-side)       -> edges
  name       inverted-token blocking -> lev/dice/rare scoring
             -> name CC -> sequential-group filter           -> edges
  substring  winnowing fingerprints -> exact LCS verification -> edges
  cluster    global connected components over all edges + avg-sim stats

Every inter-stage boundary can checkpoint via StageRunner (resume +
metrics), matching the north rule's per-stage lineage requirement.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .candidates import (
    bucket_cap_stats, lsh_band_keys, lsh_candidates, materialize_pairs,
)
from .clean import with_cleaned_name
from .cluster import cluster_stats, connected_components, name_pass_clusters
from .config import DedupConfig, DEFAULT, NUM_PERM, THRESHOLD
from .checkpoint import StageRunner
from .exact import _sample_hash, exact_edges, with_size_kind
from .scan import with_identity_columns
from .scoring import name_pass_edges
from .signatures import (
    _simhash_reps, simhash_band_keys, simhash_edges, with_signatures,
)
from .substring import substring_edges, winnow_fingerprints


def minhash_edges(
    docs_with_sig: DataFrame, cfg: DedupConfig = DEFAULT, id_col: str = "url"
) -> DataFrame:
    """LSH candidates verified by the signature-estimated Jaccard — pure
    JVM expression over the two signatures (no text shuffle, no UDF):
    est = |matching positions| / NUM_PERM.

    Verify-join cost model (round 4): the candidate-pair side is
    byte-small (two int64s) while each signature row is ~1 KB
    (NUM_PERM longs) — broadcasting the pairs keeps the first signature
    attach map-side (signatures scanned, not shuffled), and the
    positions compare on int32 VIEWS of the signature (cast truncation),
    halving the bytes of the remaining shuffle. Position equality on the
    low 32 bits is the same unbiased Jaccard estimator with a 2^-32
    false-equality term per position — invisible next to the estimator's
    own 1/sqrt(NUM_PERM) noise. The stored signatures stay full-width
    (banding and any external consumer see unchanged values)."""
    cands = lsh_candidates(docs_with_sig, cfg, id_col=id_col)
    cands, _ = materialize_pairs(cands)
    # low-32-bit bijection into int range (ANSI mode rejects a plain
    # overflowing cast): equality of views == equality of low 32 bits
    sig32 = F.transform(
        "minhash",
        lambda x: (x.bitwiseAND(F.lit(0xFFFFFFFF)) - F.lit(1 << 31)).cast("int"),
    )
    sigs = docs_with_sig.select(id_col, sig32.alias("sig32"))
    a = sigs.select(F.col(id_col).alias("src"), F.col("sig32").alias("sig_a"))
    b = sigs.select(F.col(id_col).alias("dst"), F.col("sig32").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda m: m,
            )
        )
        / F.lit(NUM_PERM)
    ).cast("double")
    return (
        cands.join(a, "src")
        .join(b, "dst")
        .withColumn("sim", est)
        .filter(F.col("sim") >= THRESHOLD)
        .select("src", "dst", "sim", F.lit("text").alias("pass_name"))
    )


def _log_cap_stats(runner: StageRunner, stage: str, build) -> None:
    """Record band-cap drop accounting, the one-row frame `build()`
    returns, as a metrics row (verdict item: a silent cap at scale must
    not read as full coverage). Skipped in lazy/bench mode — the
    accounting is a stage-shaped extra pass, so not even its plan is
    built there."""
    if runner.lazy:
        return
    t0 = time.monotonic()
    row = build().collect()[0]
    runner.metrics.append(
        {
            "stage": stage,
            "rows": row["n_buckets"],
            "partitions": -1,
            "wall_sec": round(time.monotonic() - t0, 3),
            "extra": (
                f"cap_stats capped_buckets={row['n_capped']} "
                f"est_dropped_pairs={row['est_dropped_pairs']}"
            ),
        }
    )


def prepare(docs: DataFrame) -> DataFrame:
    """Identity + cleaned-name + size/kind projection (computed once),
    plus `doc_id` = xxhash64(url): the compact int64 row identity every
    pair-generation / scoring / clustering stage shuffles instead of the
    url string. Web urls average >100 bytes; the shuffle-bound middle of
    the pipeline (band explode, pair dedup, scoring joins, CC label
    loop) is bandwidth-limited on wide machines (BENCH/BASELINE.md
    STREAM analysis), so an 8-byte key cuts those stages' shuffled bytes
    by ~10x. Urls re-attach once, at cluster emission (run_dedup).

    Collision note: 64-bit keys are birthday-safe into the 10^8-10^9 doc
    range per run; at true 10^12-doc scale swap the hash for a dictionary
    id (monotonically_increasing_id over the deduped url set, persisted)
    — `verify_doc_ids` checks the premise either way."""
    base = with_cleaned_name(with_size_kind(with_identity_columns(docs)))
    base = base.withColumn("doc_id", F.xxhash64("url"))
    if "html" in base.columns:
        # compute the exact pass's 3-point sample hash NOW and drop the
        # html payload: it is the dominant byte weight of the corpus and
        # nothing downstream needs it — keeping it would make the base
        # localCheckpoint (which every pass re-reads) a payload copy
        base = base.withColumn("sample_hash", _sample_hash(F.col("html"))).drop("html")
    return base


def verify_doc_ids(base: DataFrame) -> None:
    """Assert the url-keyed input contract (one row per url — the
    input_hint's per-url invariant) AND that xxhash64(url) is
    collision-free over this corpus, in one narrow three-aggregate job.
    run_dedup runs it in every mode, lazy included, before any edge
    pass. A violated contract otherwise surfaces deep in the name pass
    as an opaque DUPLICATED_MAP_KEY (two docs merged under one doc_id
    put the same token twice in one weight map — observed with a
    duplicate synth url at 3.2M docs)."""
    row = base.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("url").alias("n_urls"),
        F.count_distinct("doc_id").alias("n_ids"),
    ).collect()[0]
    if row["n_rows"] != row["n_urls"]:
        raise ValueError(
            f"input not url-keyed: {row['n_rows']} rows but "
            f"{row['n_urls']} distinct urls — dedupe upstream "
            "(dropDuplicates(['url']))"
        )
    if row["n_urls"] != row["n_ids"]:
        raise ValueError(
            f"doc_id collision: {row['n_urls']} urls -> {row['n_ids']} ids; "
            "switch prepare() to dictionary ids for this corpus"
        )


# the edge passes run_dedup knows: its default and its allowed set
PASSES = ("exact", "text", "simhash", "name", "substring")


def run_dedup(
    spark: SparkSession,
    docs: DataFrame,
    cfg: DedupConfig = DEFAULT,
    checkpoint_dir: str | None = None,
    passes: tuple[str, ...] = PASSES,
    lazy: bool = False,
) -> dict:
    """Run the full pipeline; returns dict with base/edges/clusters/metrics.

    `passes` is a non-empty subset of PASSES; anything else raises
    ValueError before any Spark job runs.

    lazy=True (bench path): only reused intermediates materialize; the
    four edge passes evaluate together inside the union's single job —
    fewer barriers, better cluster utilization. Default keeps one
    materialization + metrics row per stage (the resumable shape)."""
    if not passes or not set(passes) <= set(PASSES):
        raise ValueError(
            f"passes must be a non-empty subset of {PASSES}, got {tuple(passes)}"
        )
    runner = StageRunner(spark, checkpoint_dir, lazy=lazy)

    base = prepare(docs).localCheckpoint()
    verify_doc_ids(base)
    # every edge pass below shuffles the 8-byte doc_id, never the url;
    # this map re-attaches urls exactly once, at cluster emission
    ids = base.select("doc_id", "url")

    edge_frames: list[DataFrame] = []

    if "exact" in passes:
        edge_frames.append(
            runner.run("exact_edges", lambda: exact_edges(base, id_col="doc_id"))
        )

    if "text" in passes or "simhash" in passes:
        signed = runner.run(
            "signatures",
            lambda: with_signatures(base.select("doc_id", "text"), cfg),
            reused=True,  # feeds band explode AND both sides of the verify join
        )
        if "text" in passes:
            edge_frames.append(
                runner.run(
                    "text_edges",
                    lambda: minhash_edges(signed, cfg, id_col="doc_id"),
                )
            )
            _log_cap_stats(
                runner,
                "text_edges_cap",
                lambda: bucket_cap_stats(
                    lsh_band_keys(signed, id_col="doc_id"),
                    ["band", "band_key"], cfg.band_cap,
                ),
            )
        if "simhash" in passes:
            edge_frames.append(
                # star expansion: identical-fingerprint groups contribute
                # O(members) edges, not O(members^2) — same connectivity
                runner.run(
                    "simhash_edges",
                    lambda: simhash_edges(signed, cfg, expand="star", id_col="doc_id"),
                )
            )
            _log_cap_stats(
                runner,
                "simhash_edges_cap",
                lambda: bucket_cap_stats(
                    simhash_band_keys(_simhash_reps(signed, "doc_id"), id_col="doc_id"),
                    ["band", "band_key"], cfg.band_cap,
                ),
            )

    if "name" in passes:
        named = base.select("doc_id", "cleaned_name", "tokens", "kind")
        raw_name_edges = runner.run(
            "name_edges_raw",
            # weighted prefix filtering (exact) + shared weight frame
            lambda: name_pass_edges(named, id_col="doc_id"),
            reused=True,  # feeds name CC and the surviving-edge semi-join
        )
        edge_frames.append(
            runner.run(
                "name_edges",
                lambda: name_pass_clusters(raw_name_edges, named, id_col="doc_id")[1],
            )
        )

    if "substring" in passes:
        edge_frames.append(
            runner.run(
                "substring_edges",
                lambda: substring_edges(base, cfg, id_col="doc_id"),
            )
        )
        _log_cap_stats(
            runner,
            "substring_edges_cap",
            lambda: bucket_cap_stats(
                winnow_fingerprints(base, cfg, id_col="doc_id"),
                ["fp"], cfg.band_cap,
            ),
        )

    all_edges = edge_frames[0]
    for e in edge_frames[1:]:
        all_edges = all_edges.unionByName(e)
    all_edges = runner.run("edges", lambda: all_edges, reused=True)

    def build_clusters() -> DataFrame:
        labels = connected_components(all_edges, id_col="doc_id")
        stats = cluster_stats(all_edges, labels, id_col="doc_id")
        with_stats = labels.join(stats, "cluster_id").select(
            "doc_id", "cluster_id", "avg_sim", F.col("cluster_size").cast("int")
        )
        return _relabel_by_url(with_stats, ids, ["avg_sim", "cluster_size"])

    clusters = runner.run("clusters", build_clusters)
    runner.write_metrics()
    return {
        "base": base,
        "edges": all_edges,
        "clusters": clusters,
        "metrics": runner.metrics,
    }


def _relabel_by_url(
    clustered: DataFrame, ids: DataFrame, keep: list[str]
) -> DataFrame:
    """Translate int64 (doc_id, cluster_id) cluster rows back to the
    url-keyed public shape: url per member, cluster_id = min member url
    (the reference's cluster identity). Two narrow shuffles over LABEL
    rows only — the edge-scale middle of the pipeline never sees a url."""
    lab = clustered.join(ids, "doc_id")
    min_urls = lab.groupBy("cluster_id").agg(F.min("url").alias("_cluster_url"))
    return lab.join(min_urls, "cluster_id").select(
        "url", F.col("_cluster_url").alias("cluster_id"), *keep
    )


def pair_recall(clusters: DataFrame, truth: DataFrame) -> float:
    """Dup-pair recall vs planted truth: co-clustered pairs found / planted
    (non-sequential) pairs. Both sides computed as cluster self-joins."""
    planted = (
        truth.filter(F.col("cluster_id").isNotNull())
        .select("url", "cluster_id")
    )
    p1 = planted.alias("x").join(planted.alias("y"), "cluster_id").filter(
        F.col("x.url") < F.col("y.url")
    ).select(F.col("x.url").alias("src"), F.col("y.url").alias("dst"))

    found = clusters.select("url", "cluster_id")
    f1 = found.alias("x").join(found.alias("y"), "cluster_id").filter(
        F.col("x.url") < F.col("y.url")
    ).select(F.col("x.url").alias("src"), F.col("y.url").alias("dst"))

    n_planted = p1.count()
    if n_planted == 0:
        return 1.0
    n_hit = p1.join(f1, ["src", "dst"], "left_semi").count()
    return n_hit / n_planted
