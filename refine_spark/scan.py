"""Derived identity columns + fetch filters + filename grammar.

Covers SURVEY.md §2.1 S1-S5 and §2.2 P1-P3, P7-P9 re-expressed over a
document table: the reference's filesystem traversal becomes a parquet/
Iceberg scan whose "hidden-file" and include/exclude rules are plain
Catalyst filter predicates (pushdown-able), and the filename/collection
grammar becomes `regexp_extract` projections.

Reference cites:
  directory scan + hidden skip   /root/reference/src/entries/mod.rs:56-124
  include/exclude regex          /root/reference/src/entries/filter.rs:90-141
  multi-axis filter              /root/reference/src/entries/filter.rs:49-88
  filename_parts stem/ext        /root/reference/src/entries/entry.rs:101-109
  collection_parts grammar       /root/reference/src/entries/entry.rs:111-126
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# --- derived identity columns (S1/S3 + P3) -----------------------------------


def leaf_name(url: Column) -> Column:
    """Last path segment of the url (the 'filename')."""
    return F.element_at(F.split(url, "/"), -1)


def host_of(url: Column) -> Column:
    return F.parse_url(url, F.lit("HOST"))


def path_depth(url: Column) -> Column:
    """Number of path segments below the host (S2 recursion-depth analog)."""
    path = F.parse_url(url, F.lit("PATH"))
    return F.size(F.split(F.regexp_replace(path, "^/|/$", ""), "/"))


# stem/ext semantics match the reference's filename_parts (entry.rs:101-109,
# tests entry.rs:307-333): ext is after the LAST dot, but a leading dot is
# part of the stem (".foo" -> (".foo", "")).
_EXT_RE = r"(?<=.)\.([^.]+)$"


def ext_of(name: Column) -> Column:
    return F.regexp_extract(name, _EXT_RE, 1)


def stem_of(name: Column) -> Column:
    return F.regexp_replace(name, _EXT_RE.replace("([^.]+)", "[^.]+"), "")


def is_hidden(name: Column) -> Column:
    """Reference skips '.'-prefixed entries during traversal (mod.rs:83-90)."""
    return F.startswith(name, F.lit("."))


# collection grammar `name[+alias]~seq[comment]` (entry.rs:111-126).
# (?U) makes Java's \w Unicode-aware like Rust's regex crate.
_COLLECTION_RE = r"(?U)^(\w+)(?:\+(\w+))?~(\d+)(.*)$"


def collection_parts(stem: Column) -> Column:
    """Struct (canonical, alias, seq, comment); falls back to whole stem
    with null alias/seq when the grammar does not match (entry.rs:118-120)."""
    matched = stem.rlike(_COLLECTION_RE)
    get = lambda i: F.regexp_extract(stem, _COLLECTION_RE, i)  # noqa: E731
    return F.struct(
        F.when(matched, get(1)).otherwise(stem).alias("canonical"),
        F.when(matched & (get(2) != ""), get(2)).alias("alias"),
        F.when(matched, get(3).cast("long")).alias("seq"),
        F.when(matched, get(4)).otherwise(F.lit("")).alias("comment"),
    )


def with_identity_columns(docs: DataFrame) -> DataFrame:
    """Project the derived identity columns once; Catalyst reuses them."""
    name = leaf_name(F.col("url"))
    stem = stem_of(name)
    return (
        docs.withColumn("name", name)
        .withColumn("host", host_of(F.col("url")))
        .withColumn("stem", stem)
        .withColumn("ext", ext_of(name))
        .withColumn("hidden", is_hidden(name))
        .withColumn("depth", path_depth(F.col("url")))
    )


# --- fetch filters (P1, P2) ---------------------------------------------------

# the reference's filter axes (filter.rs:49-88): all (path sans ext), dir
# (parent), path (full), file (stem), ext.
_AXES = ("all", "dir", "path", "file", "ext")


def _axis_col(axis: str) -> Column:
    name = leaf_name(F.col("url"))
    if axis == "file":
        return stem_of(name)
    if axis == "ext":
        return ext_of(name)
    if axis == "path":
        # for FILE entries the reference tests the PARENT's full path,
        # not the file's own (filter.rs:82: path.is_match(parent.to_str()))
        return F.regexp_replace(F.col("url"), r"/[^/]*$", "")
    if axis == "dir":
        # parent segment of the leaf
        parts = F.split(F.col("url"), "/")
        return F.element_at(parts, -2)
    if axis == "all":
        return F.regexp_replace(F.col("url"), r"\.[^./]+$", "")
    raise ValueError(f"unknown filter axis: {axis}")


def fetch_filter(
    docs: DataFrame,
    include: dict[str, str] | None = None,
    exclude: dict[str, str] | None = None,
    keep_hidden: bool = False,
) -> DataFrame:
    """Multi-axis include/exclude regex filter (filter.rs:61-115).

    Case-insensitive ('(?i)'); pass iff no exclude matches AND
    (no include given OR include matches). Hidden rows always excluded
    unless keep_hidden.
    """
    out = docs
    if not keep_hidden:
        out = out.filter(~is_hidden(leaf_name(F.col("url"))))
    for axis, pat in (exclude or {}).items():
        assert axis in _AXES, axis
        out = out.filter(~_axis_col(axis).rlike(f"(?i){pat}"))
    for axis, pat in (include or {}).items():
        assert axis in _AXES, axis
        out = out.filter(_axis_col(axis).rlike(f"(?i){pat}"))
    return out


# --- old-style migration predicate (P7, rebuild.rs:77-100) --------------------

_OLD_STYLE_RE = r"(?U)^(\w+)-(\d+)$"


def old_style_parts(stem: Column) -> Column:
    matched = stem.rlike(_OLD_STYLE_RE)
    return F.struct(
        matched.alias("is_old_style"),
        F.when(matched, F.regexp_extract(stem, _OLD_STYLE_RE, 1)).alias("base"),
        F.when(matched, F.regexp_extract(stem, _OLD_STYLE_RE, 2).cast("long")).alias("seq"),
    )
