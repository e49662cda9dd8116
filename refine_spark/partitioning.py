"""Partition-spreading helper for CPU-heavy Python stages.

A byte-small input (a few-MB parquet file, an AQE-coalesced join result)
arrives in ~1 partition, and any pandas UDF / mapInPandas stage downstream
then runs serially on one core regardless of cluster size — the scan
partitioning is sized by bytes (spark.sql.files.maxPartitionBytes) while
the Python stage's cost is per ROW (guide §2.2/§4: the measured
pathology here was a 6 MB / 50k-row documents file whose single scan
partition serialized a ~2 ms/doc signature kernel into a 30 s stage on a
32-core box).

`spread_small` repartitions such frames to cluster parallelism, gated on
the CURRENT partition count so it is scale-adaptive, not a local[32]
tuning: at real scale the same table scans into thousands of partitions
and the gate makes this a no-op (no extra shuffle is ever added to an
already-parallel input).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_small(df: DataFrame) -> DataFrame:
    """Repartition `df` to defaultParallelism iff it currently has fewer
    partitions; identity otherwise.

    Call it on the narrow projection feeding a per-row-expensive Python
    stage (select the needed columns FIRST so the one extra shuffle, when
    it happens, moves only those bytes). Row-wise results are unchanged —
    only placement and output order differ.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
