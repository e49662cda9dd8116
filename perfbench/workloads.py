"""The benchmark's workloads: set-up, one timed unit of work, and the
untimed check of that unit's output.

Every workload's seed reaches only its input generator. The engine keeps
running on `DEFAULT`, whose seed also fixes the MinHash permutations, so
passing the workload seed to it would change the program, not the input.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import shutil
import sys
import time
from collections import Counter

import pandas as pd


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    """`setup` is called several times and must leave the inputs of the
    last call in place; `unit` runs one timed unit and returns its output;
    `check` returns (operations, failed operations, recall, precision)."""

    n_docs: int

    def __init__(self, root: str, work: str):
        self.root = root
        self.work = work

    def setup(self, spark, seed: int) -> None:
        raise NotImplementedError

    def unit(self):
        raise NotImplementedError

    def check(self, out) -> tuple[int, int, float, float]:
        raise NotImplementedError

    def texts(self) -> list[str]:
        """The input texts, for the Spark-free kernel number."""
        raise NotImplementedError

    def extra_metrics(self) -> dict[str, tuple[float, str]]:
        return {}


class Dedup(Workload):
    """Lazy `run_dedup` over seeded synth docs, timed until the clusters
    are collected."""

    def __init__(self, root: str, work: str, n_docs: int):
        super().__init__(root, work)
        self.n_docs = n_docs

    def setup(self, spark, seed: int) -> None:
        from refine_spark import synth
        from refine_spark.config import DedupConfig

        self.spark = spark
        docs, truth = synth.to_spark(spark, self.n_docs, DedupConfig(seed=seed))
        self.docs = docs.repartition(spark.sparkContext.defaultParallelism).localCheckpoint()
        self.n_docs = self.docs.count()
        self.truth = truth.toPandas()

    def unit(self):
        from refine_spark.pipeline import run_dedup

        return run_dedup(self.spark, self.docs, lazy=True)["clusters"].collect()

    def check(self, rows) -> tuple[int, int, float, float]:
        recall, precision = pair_quality(rows, self.truth)
        return 1, int(recall < 0.99), recall, precision

    def texts(self) -> list[str]:
        return self.docs.select("text").toPandas()["text"].tolist()


class DedupCheckpointed(Dedup):
    """`run_dedup` into an empty checkpoint dir (the timed unit), then a
    rerun over the complete dir (`resume_s`), whose clusters must equal
    the cold run's."""

    def setup(self, spark, seed: int) -> None:
        super().setup(spark, seed)
        self.ckpt = os.path.join(self.work, "ckpt")
        self.resumes: list[float] = []
        self.ckpt_mb = 0.0

    def unit(self):
        from refine_spark.pipeline import run_dedup

        shutil.rmtree(self.ckpt, ignore_errors=True)
        return run_dedup(self.spark, self.docs, checkpoint_dir=self.ckpt)["clusters"].collect()

    def check(self, rows) -> tuple[int, int, float, float]:
        from refine_spark.pipeline import run_dedup

        self.ckpt_mb = _dir_bytes(self.ckpt) / 1e6
        t0 = time.perf_counter()
        resumed = run_dedup(self.spark, self.docs, checkpoint_dir=self.ckpt)["clusters"].collect()
        self.resumes.append(time.perf_counter() - t0)
        recall, precision = pair_quality(rows, self.truth)
        same = sorted(map(tuple, rows)) == sorted(map(tuple, resumed))
        return 2, int(recall < 0.99) + int(not same), recall, precision

    def extra_metrics(self) -> dict[str, tuple[float, str]]:
        import statistics

        return {
            "resume_s": (statistics.median(self.resumes), "s"),
            "ckpt_mb": (self.ckpt_mb, "MB"),
        }


def pair_quality(rows, truth: pd.DataFrame) -> tuple[float, float]:
    """Recall and precision of co-clustered url pairs against the planted
    clusters, counted per cluster so no pair list is built."""
    found = pd.DataFrame([(r["url"], r["cluster_id"]) for r in rows], columns=["url", "found"])
    planted = truth.dropna(subset=["cluster_id"])[["url", "cluster_id"]]

    def pairs(sizes: pd.Series) -> int:
        return int((sizes * (sizes - 1) // 2).sum())

    n_planted = pairs(planted.groupby("cluster_id").size())
    n_found = pairs(found.groupby("found").size())
    hit = pairs(planted.merge(found, on="url").groupby(["cluster_id", "found"]).size())
    return (hit / n_planted if n_planted else 1.0), (hit / n_found if n_found else 1.0)


# query -> the table it scans; minhash_clusters builds its own synth corpus
QUERIES = {
    "minhash_clusters": None,
    "simhash_hamming_pairs": "documents",
    "substring_pairs": "documents",
    "embedding_cosine_pairs": "embeddings",
    "ann_topk": "embeddings",
    "lsh_ann_topk": "embeddings",
}
MINHASH_DOCS = 500


class QuerySuite(Workload):
    """One pass over six `__spark_entry__.queries()` entries on the repo's
    sf0.1 `documents` and `embeddings` tables, copied into data/sf0.1
    because a run reads only inside its checkout. The input is fixed; the
    seed is only recorded. Each output is checked against its `oracle_sql()`
    rows on DuckDB, which expected.py computes ahead of time.

    `n_docs` counts the input rows one pass reads: each query's table, and
    the 500 synth docs of `minhash_clusters`."""

    def __init__(self, root: str, work: str):
        super().__init__(root, work)
        self.query_walls: dict[str, list[float]] = {q: [] for q in QUERIES}

    def setup(self, spark, seed: int) -> None:
        import json

        import __spark_entry__ as entry
        from expected import DATA, EXPECTED, TABLES, table_hashes

        self.spark = spark
        self.queries = entry.queries()
        with open(EXPECTED) as fh:
            expected = json.load(fh)
        if expected["tables"] != table_hashes():
            raise RuntimeError(f"{EXPECTED} was computed from other tables")
        self.oracle = {
            name: (q["cols"], Counter(map(tuple, q["rows"])))
            for name, q in expected["queries"].items()
        }
        self.tables = DATA
        rows = {t: spark.read.parquet(os.path.join(DATA, f"{t}.parquet")).count() for t in TABLES}
        self.n_docs = sum(rows[t] if t else MINHASH_DOCS for t in QUERIES.values())

    def unit(self):
        out = {}
        for name in QUERIES:
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, self.tables)
            out[name] = (df.columns, df.collect())
            self.query_walls[name].append(time.perf_counter() - t0)
        return out

    def check(self, out) -> tuple[int, int, float, float]:
        """Recall and precision here are over output rows: oracle rows
        found ÷ oracle rows, and output rows in the oracle ÷ output rows."""
        co = check_oracle(self.root)
        failed = hit = n_out = n_oracle = 0
        for name, (cols, rows) in out.items():
            ocols, orows = self.oracle[name]
            got = Counter(co.rowset(cols, [tuple(r) for r in rows]))
            if sorted(cols) != ocols or got != orows:
                failed += 1
            hit += sum((got & orows).values()) if sorted(cols) == ocols else 0
            n_out += sum(got.values())
            n_oracle += sum(orows.values())
        recall = hit / n_oracle if n_oracle else 1.0
        precision = hit / n_out if n_out else 1.0
        return len(out), failed, recall, precision

    def texts(self) -> list[str]:
        import pyarrow.parquet as pq

        return pq.read_table(os.path.join(self.tables, "documents.parquet"))["text"].to_pylist()


@functools.cache
def check_oracle(root: str):
    """scripts/check_oracle.py, for its row normalization. Its import-time
    path insert is undone so later imports resolve inside `root`."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "scripts", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def make(name: str, root: str, work: str) -> Workload:
    """Sizes keep a run within the per-run budget on a 4-core box."""
    if name == "dedup_small":
        return Dedup(root, work, n_docs=2_000)
    if name == "dedup_large":
        return Dedup(root, work, n_docs=40_000)
    if name == "dedup_checkpointed":
        return DedupCheckpointed(root, work, n_docs=8_000)
    if name == "query_suite":
        return QuerySuite(root, work)
    raise ValueError(f"unknown workload {name!r}")
