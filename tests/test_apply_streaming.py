"""Apply-layer tests: rename plans, atomic overwrite, quarantine, probe backoff."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from refine_spark.apply import apply_rename_plan, atomic_overwrite, quarantine_split


def test_apply_rename_plan(spark):
    docs = spark.createDataFrame(
        [("http://h/d/a.txt", 1), ("http://h/d/b.txt", 2), ("http://h/d/c.txt", 3)],
        "url string, v int",
    )
    plan = spark.createDataFrame(
        [
            ("http://h/d/a.txt", "a2.txt", True, False),   # clean rename
            ("http://h/d/b.txt", "c.txt", True, False),    # conflicts with kept c.txt
            ("http://h/d/c.txt", None, False, False),      # unchanged
        ],
        "url string, new_name string, changed boolean, blocked boolean",
    )
    out = {r["v"]: r for r in apply_rename_plan(docs, plan).collect()}
    assert out[1]["url"] == "http://h/d/a2.txt" and not out[1]["conflict"]
    assert out[2]["url"] == "http://h/d/b.txt" and out[2]["conflict"]
    assert out[3]["url"] == "http://h/d/c.txt"


def test_atomic_overwrite_and_quarantine(spark, tmp_path):
    table = str(tmp_path / "tbl")
    df1 = spark.range(5).withColumn("x", F.lit("v1"))
    atomic_overwrite(df1, table)
    assert spark.read.parquet(table).count() == 5
    df2 = spark.range(9).withColumn("x", F.lit("v2"))
    atomic_overwrite(df2, table)
    assert spark.read.parquet(table).count() == 9
    assert os.path.exists(table + ".prev")  # previous snapshot retained

    ok, bad = quarantine_split(
        df2, F.col("id") < 7, quarantine_dir=str(tmp_path / "quar")
    )
    assert ok.count() == 7 and bad.count() == 2
    assert spark.read.parquet(str(tmp_path / "quar")).count() == 2


def test_empty_parents(spark):
    from refine_spark.apply import empty_parents

    before = spark.createDataFrame(
        [("http://h/a/x.mp4",), ("http://h/a/b/y.mp4",), ("http://h/c/z.mp4",)],
        "url string",
    )
    after = spark.createDataFrame(
        # a/ emptied entirely (junk-only leaf left behind); c/ kept
        [("http://h/a/b/.DS_Store",), ("http://h/c/z.mp4",), ("http://h/joined/all.mp4",)],
        "url string",
    )
    got = [r["path"] for r in empty_parents(before, after).collect()]
    assert got == ["h/a/b", "h/a"]  # deepest first (join.rs:217-218)


def test_probe_backoff_schedule(spark):
    from refine_spark.probe import probe_one

    waits: list[float] = []
    calls = {"n": 0}

    def flaky(name: str) -> int:
        calls["n"] += 1
        if calls["n"] < 4:
            return 429
        return 200

    v = probe_one(
        "x", flaky, retries=5, min_wait_ms=100, backoff=2.0,
        max_wait_ms=350, sleeper=waits.append,
    )
    # probe.rs:190-202: wait doubles, capped at max_wait
    assert v == "valid"
    assert waits == [0.1, 0.2, 0.35]

    def always_500(name: str) -> int:
        return 500

    w2: list[float] = []
    assert (
        probe_one("x", always_500, retries=2, min_wait_ms=10, sleeper=w2.append)
        == "failed"
    )
    assert len(w2) == 2  # retries exhausted after `retries` sleeps

    def boom(name: str) -> int:
        raise OSError("transport")

    assert probe_one("x", boom, retries=0, sleeper=w2.append) == "failed"
