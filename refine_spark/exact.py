"""Exact duplicate detection: 3-point sampling + (size, kind, sample) groups.

SURVEY.md §2 S6 + A1 + A2. Reference semantics:
  - group by (size desc, kind); only multi-member groups get sampled
    (/root/reference/src/commands/dupes.rs:126-151)
  - 3-point sample: whole content if len <= s, else s/3 bytes from the
    start, s/3 centered at len/2, and (s - 2*(s/3)) from the end
    (dupes.rs:460-501)
  - groups split by exact sample bytes; groups with >1 member are dupes

Spark-first: the file-read becomes pure binary slicing on the `html`
column; "exact sample bytes" equality becomes sha2-256 equality over the
slice.

Scale note (changed in round 2): the reference's lazy sampling skips
hashing files whose size is unique — worthwhile when sampling means disk
seeks. Here the bytes are already in the row, so the cost it would dodge
(slicing+hashing ≤4 KB map-side) is far cheaper than the cost a
pre-collision filter pays (a full-table window that shuffles the corpus
*including the html column* twice). We therefore hash map-side
unconditionally and shuffle only ~100-byte projected rows
(url, size, kind, sample_hash) — one narrow shuffle total.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from .config import SAMPLE_KB


def three_point_sample(html: Column, sample_bytes: int) -> Column:
    """Binary 3-point slice mirroring dupes.rs:460-501 offset math (1-based)."""
    length = F.octet_length(html)
    chunk = sample_bytes // 3
    tail = sample_bytes - 2 * chunk
    mid_pos = (length / F.lit(2)).cast("long") - F.lit(chunk // 2)
    end_pos = length - F.lit(tail)
    return F.when(length <= sample_bytes, html).otherwise(
        F.concat(
            html.substr(F.lit(1), F.lit(chunk)),
            html.substr(mid_pos + 1, F.lit(chunk)),
            html.substr(end_pos + 1, F.lit(tail)),
        )
    )


def _sample_hash(html: Column) -> Column:
    """sha2-256 of the SAMPLE_KB 3-point sample: the exact pass's group key."""
    return F.sha2(three_point_sample(html, SAMPLE_KB * 1024), 256)


def with_size_kind(docs: DataFrame) -> DataFrame:
    """size = byte length of html; kind = lang (the document analog of the
    reference's media-kind, SURVEY.md §1.2)."""
    return docs.withColumn("size", F.octet_length("html").cast("long")).withColumn(
        "kind", F.coalesce(F.col("lang"), F.lit("unknown"))
    )


def exact_dup_groups(docs: DataFrame, id_col: str = "url") -> DataFrame:
    """Return (id, size, kind, sample_hash, group_size) for exact-dup rows.

    The sample hash is computed map-side on the narrow projection, so the
    single shuffle moves only (id, size, kind, sample_hash) rows — never
    the html payload (dupes.rs:126-151 group semantics, Spark-first cost
    model; see module docstring). `id_col` is the row identity: the url
    string for standalone queries, the int64 doc_id on the pipeline hot
    path (8-byte shuffle keys instead of full urls).
    """
    if "sample_hash" in docs.columns:
        # prepared frames (pipeline.prepare) carry the hash precomputed
        # so the html payload could be dropped before the base checkpoint
        sampled = docs.select(id_col, "size", "kind", "sample_hash")
    else:
        sampled = with_size_kind(docs).select(
            id_col,
            "size",
            "kind",
            _sample_hash(F.col("html")).alias("sample_hash"),
        )
    wg = W.partitionBy("size", "kind", "sample_hash")
    return (
        sampled.withColumn("group_size", F.count(F.lit(1)).over(wg))
        .filter(F.col("group_size") > 1)
        .select(id_col, "size", "kind", "sample_hash", "group_size")
    )


def exact_edges(docs: DataFrame, id_col: str = "url") -> DataFrame:
    """Star edges (member -> group representative) for the global clustering
    pass; sim = 1.0 by definition of exact equality."""
    groups = exact_dup_groups(docs, id_col)
    wg = W.partitionBy("size", "kind", "sample_hash")
    with_rep = groups.withColumn("rep", F.min(id_col).over(wg))
    return (
        with_rep.filter(F.col(id_col) != F.col("rep"))
        .select(
            F.col("rep").alias("src"),
            F.col(id_col).alias("dst"),
            F.lit(1.0).alias("sim"),
            F.lit("exact").alias("pass_name"),
        )
    )
