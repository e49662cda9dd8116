"""Iterative connected-components clustering + sequential-group filter.

SURVEY.md §2.5 A4/A5/A7. The reference's recursive union-find
(/root/reference/src/commands/dupes.rs:186-216) does not distribute; the
Spark-native equivalent is iterative min-label propagation over an edge
DataFrame with a convergence check and `localCheckpoint()` per iteration
to cut lineage (north rule: "union-find over edge DataFrames").

Per-cluster average similarity is recomputed from the surviving edge set
after convergence — equivalent to the reference's (sum, count) merge
because every accepted edge contributes exactly once (dupes.rs:286-288;
SURVEY.md §7.3).

Skew note: the min-label aggregation uses a two-stage salted reduce
(groupBy(id, salt) -> groupBy(id)) so a single giant component's hub
vertex cannot hot-spot one reducer at 10^12-doc scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, functions as F

from .checkpoint import _sized_checkpoint


def _numpy_min_label(src: np.ndarray, dst: np.ndarray):
    """Vectorized connected components on the driver: (ids, labels) with
    label = MIN vertex id per component (same determinism contract as
    the distributed min-label loop). Hook-and-compress over dense
    indices — every step is a C-level numpy scatter/gather, replacing
    the round-3 per-edge Python dict loop that was a multi-second
    SERIAL chunk in both scaling legs (pure Amdahl drag; profiled 6.6 s
    at 800k docs in the 8-wide leg)."""
    both = np.concatenate([src, dst])
    ids, inv = np.unique(both, return_inverse=True)  # sorted: index-min == id-min
    s, d = inv[: len(src)], inv[len(src):]
    parent = np.arange(len(ids), dtype=np.int64)
    while True:
        before = parent
        p = parent.copy()
        # hook: each edge pulls both endpoints to the smaller label
        np.minimum.at(p, s, parent[d])
        np.minimum.at(p, d, parent[s])
        # full pointer-jumping compression
        while True:
            pp = p[p]
            if np.array_equal(pp, p):
                break
            p = pp
        parent = p
        if np.array_equal(parent, before):
            break
    return ids, ids[parent]


def _driver_union_find(edges_pdf: pd.DataFrame, id_col: str, spark):
    """Connected components over a collected edge frame. The adaptive
    fast path for edge sets that fit the driver comfortably — near-dup
    edge sets are sparse relative to the corpus, and below the cutover
    the distributed loop's per-iteration job latency dwarfs the actual
    work. Transfer is Arrow both ways; the labeling itself is the
    vectorized hook-and-compress above."""
    ids, labels = _numpy_min_label(
        edges_pdf["src"].to_numpy(), edges_pdf["dst"].to_numpy()
    )
    if len(ids) == 0:  # empty edge set: typed empty frame (no inference)
        t = "long" if pd.api.types.is_integer_dtype(edges_pdf["src"]) else "string"
        return spark.createDataFrame([], f"{id_col} {t}, cluster_id {t}")
    out = pd.DataFrame({id_col: ids, "cluster_id": labels})
    return spark.createDataFrame(out)


# connected_components' driver fast-path cutover
_DRIVER_MAX_ROWS = 2_000_000
_DRIVER_MAX_BYTES = 768 * 1024 * 1024
# salt fan-out of the distributed min-label reduce (hub-vertex skew)
_SALT_BUCKETS = 16


def connected_components(
    edges: DataFrame,
    id_col: str = "url",
    driver_cutover: int = _DRIVER_MAX_ROWS,
    driver_max_bytes: int = _DRIVER_MAX_BYTES,
) -> DataFrame:
    """Label each vertex of the undirected edge set (src, dst) with the
    minimum vertex id reachable from it. Returns (id, cluster_id).

    Adaptive strategy: edge sets under `driver_cutover` rows and
    `driver_max_bytes` collect to the driver for the vectorized
    hook-and-compress labelling of _numpy_min_label (near-dup edges are
    sparse; the distributed loop's fixed per-iteration latency would
    dominate).
    Larger sets run iterative min-label propagation — one join + one
    salted aggregation per round, checkpointed to cut lineage — which is
    the 10^12-scale path. It runs until no label changes: labels only
    decrease, so it always terminates, and duplicate-cluster diameters
    are small, so it converges in a few rounds.
    """
    # sized in the job that materializes it: the driver path collects the
    # checkpoint and the distributed path starts from it, so the edge
    # lineage never runs a second time
    dedup, n_edges, est_bytes = _sized_checkpoint(
        edges.select("src", "dst").dropDuplicates(["src", "dst"])
    )
    if n_edges <= driver_cutover and est_bytes <= driver_max_bytes:
        return _driver_union_find(dedup.toPandas(), id_col, dedup.sparkSession)

    sym = dedup.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).union(dedup.select(F.col("dst").alias("a"), F.col("src").alias("b")))
    sym = sym.dropDuplicates(["a", "b"]).localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )

    # the null-own sentinel must carry the LABEL type: casting it to
    # string would coerce the whole union to strings, silently switching
    # min() to lexicographic order for int64 doc-id labels
    label_type = dict(dedup.dtypes)["src"]
    while True:
        # propagate: each vertex learns its neighbors' labels; the vertex's
        # own row is marked so the aggregation yields (new_label, old_label)
        # in ONE pass — no separate convergence join
        msgs = sym.join(labels, sym.b == labels.id).select(
            F.col("a").alias("id"), F.col("label"), F.lit(None).cast(label_type).alias("own")
        )
        own = labels.select("id", "label", F.col("label").alias("own"))
        candidates = msgs.union(own)
        # two-stage salted min to tame hub-vertex skew
        changed = Observation()  # counted inside the round's checkpoint job
        new_labels = (
            candidates.withColumn("salt", F.pmod(F.xxhash64("label"), F.lit(_SALT_BUCKETS)))
            .groupBy("id", "salt")
            .agg(F.min("label").alias("label"), F.min("own").alias("own"))
            .groupBy("id")
            .agg(F.min("label").alias("label"), F.min("own").alias("own"))
            .observe(changed, F.count_if(F.col("label") != F.col("own")).alias("n"))
        ).localCheckpoint(eager=True)
        labels = new_labels.select("id", "label")
        if changed.get["n"] == 0:
            break

    return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))


def cluster_stats(
    edges: DataFrame, labels: DataFrame, id_col: str = "url"
) -> DataFrame:
    """(cluster_id, avg_sim, n_edges, cluster_size) from accepted edges.

    avg_sim = sum(sim)/count over every accepted edge in the cluster,
    matching the reference's union-time (sum, count) accounting. The sum
    is exact decimal, so avg_sim does not depend on edge-row order.
    """
    lab = labels.select(F.col(id_col).alias("src"), "cluster_id")
    edge_stats = (
        edges.join(lab, "src")
        .groupBy("cluster_id")
        .agg(F.sum(F.col("sim").cast("decimal(38,18)")).alias("sim_sum"),
             F.count(F.lit(1)).alias("n_edges"))
    )
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.join(edge_stats, "cluster_id", "left").select(
        "cluster_id",
        (F.col("sim_sum") / F.col("n_edges")).cast("double").alias("avg_sim"),
        F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
        "cluster_size",
    )


# ---- sequential-group detector (A7, dupes.rs:332-405) -------------------------


def is_likely_sequential(cleaned_names: list[str]) -> bool:
    """Faithful transcription of the reference's episode/sequence heuristic.

    A group is "sequential" (and therefore NOT duplicates) when its names
    carry a common-length number vector in which at least one position
    varies. Tie-break note: the reference picks the most common length via
    HashMap iteration (unordered on ties); we deterministically prefer the
    larger length on count ties.
    """
    import re

    if len(cleaned_names) < 2:
        return False
    number_sequences = [
        [int(n) if len(n) < 19 else -1 for n in re.findall(r"\d+", name)]
        for name in cleaned_names
    ]
    with_numbers = [s for s in number_sequences if s]
    without = len(cleaned_names) - len(with_numbers)
    if without > 1 and without / len(cleaned_names) > 0.1:
        return False
    lengths: dict[int, int] = {}
    for s in with_numbers:
        lengths[len(s)] = lengths.get(len(s), 0) + 1
    if not lengths:
        return False
    common_len = max(lengths.items(), key=lambda kv: (kv[1], kv[0]))[0]
    if common_len == 0:
        return False
    common = [s for s in with_numbers if abs(len(s) - common_len) <= 1]
    if len(common) < 2:
        return False
    for i in range(common_len):
        vals = {s[i] for s in common if i < len(s)}
        if len(vals) > 1:
            return True
    return False


def sequential_cluster_ids(
    labels: DataFrame, named: DataFrame, id_col: str = "url"
) -> DataFrame:
    """cluster_ids (>1 member) flagged sequential by the detector.

    Grouped-map pandas UDF for bit-exact fidelity (SURVEY.md §7.3):
    clusters are small, so per-group pandas is safe.
    """
    names = labels.join(named.select(id_col, "cleaned_name"), id_col)
    # cluster_id inherits the vertex-id type (string urls or int64 doc_ids)
    cid_type = dict(labels.dtypes)["cluster_id"]

    # unannotated: partial hints make PySpark warn that it cannot infer
    # the eval type on every applyInPandas call
    def detect(key, pdf):
        seq = is_likely_sequential(pdf["cleaned_name"].tolist())
        return pd.DataFrame({"cluster_id": [key[0]], "sequential": [seq]})

    flags = names.groupBy("cluster_id").applyInPandas(
        detect, f"cluster_id {cid_type}, sequential boolean"
    )
    return flags.filter(F.col("sequential")).select("cluster_id")


def name_pass_clusters(
    name_edges: DataFrame, named: DataFrame, id_col: str = "url"
) -> tuple[DataFrame, DataFrame]:
    """Reference 'similar pass' output: (clusters, surviving_edges).

    clusters are the (id, cluster_id) labels of the name clusters left
    after sequential groups are removed; surviving_edges excludes edges
    inside sequential clusters so the global CC never links through an
    excluded group. connected_components picks the driver or distributed
    labelling from the edge-set size.
    """
    labels = connected_components(name_edges, id_col=id_col)
    seq = sequential_cluster_ids(labels, named, id_col)
    kept = labels.join(seq, "cluster_id", "left_anti")
    surviving = (
        name_edges.select("src", "dst", "sim")
        .join(kept.select(F.col(id_col).alias("src")), "src", "left_semi")
        .withColumn("pass_name", F.lit("name"))
    )
    return kept, surviving
