"""Natural sort key + list aggregates (SURVEY.md §2.7 O1/O2 + §2.5 A10/S7).

Natural ordering semantics from /root/reference/src/utils/natural.rs:6-105
(tests natural.rs:107-176), re-expressed as a *sort-key expression* so it
runs JVM-side inside ORDER BY (no custom collation, no UDF):

  - the string splits into digit / non-digit runs
  - a digit run encodes as '0' + value left-padded to 20 + run length
    left-padded to 4  (value first, original length breaks leading-zero
    ties — natural.rs:53)
  - a text run encodes as '1' + lowercased text (digits sort before text
    because of the '0'/'1' markers — natural.rs:19-21)

The same construction is expressible in DuckDB SQL (regexp_extract_all +
list_transform), which the operator oracle uses — the chunker and the
zero-strip deliberately avoid lookarounds so the pattern runs under both
Java regex (Spark) and RE2 (DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_CHUNK_RE = r"[0-9]+|[^0-9]+"


# chunk markers: \x01 for digit runs, \x02 for text runs. A digit run must
# beat ANY text character at a chunk boundary (natural.rs:19-21 and the
# boundary arms of compare_text_chunks, natural.rs:94-105), so the digit
# marker sorts below every printable char — a '0'/'1' marker pair would
# lose to '.', '-', ' ' etc.
_D_MARK, _T_MARK = "\x01", "\x02"


def natural_key(col: Column) -> Column:
    chunks = F.regexp_extract_all(col, F.lit(_CHUNK_RE), 0)
    stripped = lambda c: F.coalesce(  # noqa: E731  strip leading zeros, keep "0"
        F.nullif(F.regexp_replace(c, "^0+", ""), F.lit("")), F.lit("0")
    )
    encode = lambda c: F.when(  # noqa: E731
        c.rlike("^[0-9]"),
        F.concat(
            F.lit(_D_MARK),
            F.lpad(stripped(c), 20, "0"),
            F.lpad(F.length(c).cast("string"), 4, "0"),
        ),
    ).otherwise(F.concat(F.lit(_T_MARK), F.lower(c)))
    return F.array_join(F.transform(chunks, encode), "")


# DuckDB rendering of the same key, used by the operator oracle
# (__spark_entry__.oracle_sql). Keep in sync with natural_key().
NATURAL_KEY_DUCKDB = """
list_aggregate(
  list_transform(
    regexp_extract_all({col}, '[0-9]+|[^0-9]+'),
    c -> CASE WHEN regexp_matches(c, '^[0-9]')
      THEN chr(1) || lpad(CASE WHEN ltrim(c, '0') = '' THEN '0'
                               ELSE ltrim(c, '0') END, 20, '0')
                  || lpad(CAST(length(c) AS VARCHAR), 4, '0')
      ELSE chr(2) || lower(c) END),
  'string_agg', '')
""".strip()


def list_plan(
    docs: DataFrame, by: str = "size", rev: bool = False
) -> DataFrame:
    """O2 multi-criteria listing over (url, name, size[, count]).

    by in (size, count, name, path) mirroring list.rs:28-37; size and
    count default to descending (the ORDERING rev-defaults,
    list.rs:45-50), name/path to ascending; `rev` flips the default.
    Secondary sort is always natural path order (list.rs:91-93).
    `count` is the per-entry file count (1 for files, the recursive
    count for dir rows — see dir_totals); nulls sort last like the
    reference's Option<u64> under reversed cmp."""
    assert by in ("size", "count", "name", "path")
    secondary = natural_key(F.col("url"))
    if by in ("size", "count"):
        c = F.col(by)
        primary = (c.desc_nulls_last() if not rev else c.asc_nulls_first())
    elif by == "name":
        k = natural_key(F.col("name"))
        primary = k.asc() if not rev else k.desc()
    else:
        k = natural_key(F.col("url"))
        primary = k.asc() if not rev else k.desc()
    return docs.orderBy(primary, secondary, F.col("url"))


def dir_totals(docs: DataFrame) -> DataFrame:
    """A10/S7: per-directory-prefix size sum + file count, one shuffle
    (the reference re-scans each directory recursively, list.rs:130-155)."""
    parent = F.regexp_replace(F.col("url"), r"/[^/]*$", "")
    return (
        docs.withColumn("dir", parent)
        .groupBy("dir")
        .agg(
            F.sum("size").alias("total_size"),
            F.count(F.lit(1)).alias("n_files"),
        )
    )
