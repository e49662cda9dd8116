"""Embedding similarity search: brute-force cosine top-k + LSH buckets.

Extensions beyond the reference (per the build brief). Two paths:

  brute-force  exact cosine over every (query, corpus) pair — JVM-side
               zip_with/aggregate expressions, correct baseline; cost
               O(Q x N), fine when Q is small or N fits a broadcast.
  lsh-bucketed random-hyperplane signatures bucket the corpus so each
               query only scores its bucket (+ optional multi-probe) —
               the scale path: candidate generation is an equi-join on
               the bucket key, exactly like the MinHash band join.

Signatures are computed in one vectorized pandas UDF (numpy matmul over
Arrow batches); scoring stays in JVM expressions.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from .config import DEFAULT


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _unit_rows(vecs: pd.Series) -> np.ndarray:
    """Stack a vector column into a float64 matrix with unit-norm rows
    (zero rows stay zero)."""
    mat = np.stack(vecs.to_numpy()).astype(np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    return mat


def _broadcast_matrix(df: DataFrame):
    """Collect the SMALL side to a normalized numpy matrix and broadcast it.

    Only ever called on the side that is small by construction (the query
    set, or a corpus that fits one executor); the big side streams through
    mapInPandas and never shuffles."""
    pdf = df.select("vec_id", "embedding").toPandas()
    return pdf["vec_id"].to_numpy(), _unit_rows(pdf["embedding"])


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query. Returns (query_id, vec_id, rank).

    The query side is broadcast as one normalized matrix; each corpus
    partition computes a BLAS block-matmul against it (numpy over Arrow
    batches) and emits only its local candidates; a final window takes the
    global top-k. One scan of the corpus, one tiny shuffle of candidates."""
    from pyspark.sql import Window as W

    spark = corpus.sparkSession
    q_ids, q_mat = _broadcast_matrix(queries)
    bc = spark.sparkContext.broadcast((q_ids, q_mat))

    def score(batches):
        ids_q, mat_q = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sims = _unit_rows(pdf["embedding"]) @ mat_q.T  # (batch, n_queries)
            c_ids = pdf["vec_id"].to_numpy()
            out_q, out_c, out_s = [], [], []
            for j in range(len(ids_q)):
                col = np.where(c_ids == ids_q[j], -np.inf, sims[:, j])
                take = min(k, int(np.isfinite(col).sum()))
                cand = np.argsort(-col)[:take]
                out_q.extend([ids_q[j]] * take)
                out_c.extend(c_ids[cand])
                out_s.extend(col[cand])
            yield pd.DataFrame(
                {"query_id": out_q, "vec_id": out_c, "cos": out_s}
            )

    from .partitioning import spread_small

    cand = spread_small(corpus.select("vec_id", "embedding")).mapInPandas(
        score, "query_id long, vec_id long, cos double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank")
    )


def rademacher_planes(dim: int, n_planes: int, table: int = 0) -> np.ndarray:
    """Deterministic +/-1 ("Rademacher") hyperplanes derived from md5 —
    sign-random-projection LSH is valid with +/-1 entries, and md5-derived
    signs (unlike a numpy RandomState draw) are reproducible inside the
    driver's DuckDB oracle, so the *approximate* bucketing itself is
    correctness-gated. `table` namespaces independent planes for
    OR-amplified multi-table schemes."""
    import hashlib

    planes = np.empty((dim, n_planes), dtype=np.float64)
    for j in range(n_planes):
        for d in range(dim):
            h = hashlib.md5(f"{table}:{j}:{d}".encode()).hexdigest()
            planes[d, j] = 1.0 if int(h[:15], 16) & 1 else -1.0
    return planes


def make_hyperplane_udf(dim: int, n_planes: int = 16, table: int = 0):
    """Random-hyperplane bucket id (one LSH table)."""
    planes = rademacher_planes(dim, n_planes, table)

    @F.pandas_udf(T.LongType())
    def bucket_udf(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)  # (batch, dim)
        bits = (mat @ planes) > 0  # (batch, n_planes)
        weights = (1 << np.arange(n_planes, dtype=np.int64))
        return pd.Series((bits.astype(np.int64) * weights).sum(axis=1))

    return bucket_udf


def make_multitable_hyperplane_udf(dim: int, n_planes: int, n_tables: int):
    """All `n_tables` bucket ids in ONE pass: array<long> of length
    n_tables per row, element t bit-identical to
    make_hyperplane_udf(table=t) (the per-table plane blocks are simply
    concatenated into one (dim, n_tables*n_planes) matmul). One corpus
    scan + one Arrow serialization instead of n_tables UDF passes — at
    100 TB of embeddings the difference between 1x and 8x scan cost on
    the dedup path."""
    planes = np.concatenate(
        [rademacher_planes(dim, n_planes, t) for t in range(n_tables)], axis=1
    )
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets_udf(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)  # (batch, dim)
        bits = (mat @ planes) > 0  # (batch, n_tables*n_planes)
        per_table = (
            bits.reshape(len(mat), n_tables, n_planes).astype(np.int64) @ weights
        )  # (batch, n_tables)
        return pd.Series(list(per_table))

    return buckets_udf


def _probe_masks(n_planes: int, radius: int) -> list[int]:
    """All xor masks of hamming weight <= radius over n_planes bits
    (multi-probe LSH: neighboring buckets differ in few sign bits)."""
    return [
        sum(1 << i for i in bits)
        for weight in range(radius + 1)
        for bits in combinations(range(n_planes), weight)
    ]


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    probe_radius: int = 0,
) -> DataFrame:
    """Approximate top-k: random-hyperplane bucket equi-join, then exact
    cosine rerank within the bucket. Recall rises with fewer planes
    (bigger buckets) and with multi-probing (probe_radius > 0 fans each
    QUERY out to every bucket within that sign-bit hamming distance —
    the corpus side stays single-bucket, so the corpus index is built
    once and only the tiny query side is replicated)."""
    from pyspark.sql import Window as W

    from .partitioning import spread_small

    bucket = make_hyperplane_udf(dim, n_planes)
    c = spread_small(corpus.select("vec_id", "embedding")).withColumn(
        "bucket", bucket(F.col("embedding"))
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    ).withColumn("bucket0", bucket(F.col("qvec")))
    masks = F.array(*[F.lit(m) for m in _probe_masks(n_planes, probe_radius)])
    q = q.select(
        "query_id",
        "qvec",
        F.explode(F.transform(masks, lambda m: F.col("bucket0").bitwiseXOR(m))).alias(
            "bucket"
        ),
    )
    joined = (
        c.join(q, "bucket")
        .filter(F.col("query_id") != F.col("vec_id"))
        .dropDuplicates(["query_id", "vec_id"])  # multi-probe re-finds pairs
    )
    scored = joined.withColumn("cos", cosine(F.col("qvec"), F.col("embedding")))
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank")
    )


def lsh_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 10,
    n_tables: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Scale path for embedding near-dup pairs: OR-amplified multi-table
    hyperplane LSH. Each table buckets the corpus with independent random
    planes; candidate pairs come from same-bucket groups (one narrow
    shuffle per table, hot buckets capped); the union of tables is
    deduped, then verified with exact cosine. Approximate: a true pair is
    missed only if it splits in every table — recall ~ 1-(1-p^b)^T rises
    with n_tables. No collect, no broadcast of the corpus."""
    from .candidates import _pairs_from_buckets

    if dim is None:
        dim = len(embeddings.select("embedding").first()[0])
    # ONE fused bucketing pass over the corpus (round-3 ran a separate
    # UDF scan per table — n_tables corpus reads + Arrow round-trips);
    # posexplode recovers the (table, bucket) banding rows
    buckets = make_multitable_hyperplane_udf(dim, n_planes, n_tables)
    banded = embeddings.select(
        "vec_id", F.posexplode(buckets(F.col("embedding"))).alias("tbl", "bucket")
    )
    pairs = _pairs_from_buckets(banded, "vec_id", ["tbl", "bucket"], DEFAULT.band_cap)
    pairs = pairs.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    a = embeddings.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a"))
    b = embeddings.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(cosine(F.col("vec_a"), F.col("vec_b")) >= threshold)
        .select("id_a", "id_b")
    )


def _broadcast_row_cap(dim: int, driver_budget_bytes: int) -> int:
    """Rows the exact path may collect: byte-budget / row-bytes.

    The broadcast matrix is float64, so a row costs dim*8 bytes — a row
    cap that ignores dim (round-2 bug) OOMs the driver at high dim long
    before the switch."""
    return max(1, driver_budget_bytes // max(1, dim * 8))


def cosine_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    driver_budget_bytes: int = 512 * 1024 * 1024,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= t).

    Exact path (corpus fits a broadcast): one side broadcast as a
    normalized matrix, the other side block-matmuls per partition (no
    O(N^2)-row shuffle, no interpreted per-element expression).
    Above the byte-aware row cap (driver_budget_bytes / (dim*8)) the
    exact path would OOM the driver, so it auto-switches to the
    OR-amplified hyperplane-bucket join (lsh_dup_pairs, at its default
    n_planes and n_tables) — approximate but fully distributed. The gate
    collects limit(cap+1), which early-terminates after cap+1 rows
    instead of a full scan of the upstream lineage per call."""
    spark = embeddings.sparkSession
    head = embeddings.select("embedding").first()
    if head is None:  # empty corpus: empty pair set, correct schema
        return spark.createDataFrame([], "id_a long, id_b long")
    dim = len(head[0])
    cap = _broadcast_row_cap(dim, driver_budget_bytes)
    # gate + collect fused into ONE job: pull at most cap+1 rows; if the
    # corpus fit, this IS the exact path's matrix (the old shape paid a
    # separate limit().count() scan and then re-collected everything).
    # Over the cap the collected prefix is discarded — bounded by the
    # same driver byte budget the exact path would spend anyway.
    pdf = embeddings.select("vec_id", "embedding").limit(cap + 1).toPandas()
    if len(pdf) > cap:
        return lsh_dup_pairs(embeddings, threshold, dim=dim)
    bc = spark.sparkContext.broadcast(
        (pdf["vec_id"].to_numpy(), _unit_rows(pdf["embedding"]))
    )

    def find(batches):
        ids_b, mat_b = bc.value
        # float32 prefilter + exact float64 verify. The dense N x batch
        # sims matrix is the stage's dominant memory traffic; in float64
        # it is 8*N bytes per batch row, and 32 concurrent workers
        # page-faulting/writing those fresh 100 MB buffers measured a
        # 20x one-shot slowdown vs float32 (see OPTIMIZATION_r06.md).
        # Candidates are taken at (threshold - margin) in float32 and the
        # margin band is re-scored in float64, so the emitted pair set is
        # decided by float64 cosine exactly as before: for unit vectors
        # and dim <= a few thousand, |cos_f32 - cos_f64| <~ dim * 2^-23
        # ~ 1e-5-1e-4, orders of magnitude under the 1e-2 margin.
        margin = 1e-2
        mat_b32 = mat_b.astype(np.float32)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_mat = _unit_rows(pdf["embedding"])
            sims32 = a_mat.astype(np.float32) @ mat_b32.T
            a_ids = pdf["vec_id"].to_numpy()
            ii, jj = np.nonzero(sims32 >= threshold - margin)
            if len(ii):
                exact = np.einsum("ij,ij->i", a_mat[ii], mat_b[jj])
                keep = (exact >= threshold) & (a_ids[ii] < ids_b[jj])
            else:
                keep = np.zeros(0, dtype=bool)
            yield pd.DataFrame(
                {"id_a": a_ids[ii][keep], "id_b": ids_b[jj][keep]}
            )

    from .partitioning import spread_small

    # the block-matmul is O(rows_in_partition x corpus): a single-partition
    # scan (few-MB parquet) serializes the whole N^2 work on one core
    return spread_small(embeddings.select("vec_id", "embedding")).mapInPandas(
        find, "id_a long, id_b long"
    )
