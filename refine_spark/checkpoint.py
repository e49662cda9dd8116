"""Per-stage checkpoint/resume + metrics (SURVEY.md §2.9 / §4).

The reference's ctrl-c graceful abort with partial results
(/root/reference/src/utils/running.rs:6-49) maps to *resumability*: every
pipeline stage can persist its output table plus a metrics row; a rerun
skips stages whose checkpoint is complete. On a cluster these writes are
Iceberg tables with snapshot tags; in this sandbox the same contract is
implemented over parquet directories with an atomic _SUCCESS marker
(written by Spark's committer) and a sidecar metrics JSON.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

_STAGE_METRICS = "_metrics.json"  # a complete stage's metrics row, beside _SUCCESS


def _observe_size(df: DataFrame) -> tuple[DataFrame, Observation]:
    """`df` with its row count and average row width observed: the
    metrics fill in when the first action over the returned frame runs,
    inside that same job — no separate sizing agg.

    String/binary columns cost their exact length; every other column a
    fixed 8 bytes (the int64 id hot path; arrays never flow through the
    frames gated here). Driver fast paths and broadcast hints must gate
    on BYTES, not rows — 2M edges of ~134-char urls serialize past 1 GB
    long before any row cap (CLAUDE.md)."""
    width = F.lit(0)
    for c, t in df.dtypes:
        if t in ("string", "binary"):
            width = width + F.coalesce(F.length(F.col(c)), F.lit(0))
        else:
            width = width + F.lit(8)
    obs = Observation()
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.avg(width), F.lit(0.0)).alias("w"),
    )
    return observed, obs


def _observed_size(obs: Observation, per_row_overhead: int = 48) -> tuple[int, int]:
    """(rows, estimated materialized bytes) from a fired `_observe_size`."""
    m = obs.get
    n = int(m["n"])
    return n, int((m["w"] + per_row_overhead) * n)


def _sized_checkpoint(
    df: DataFrame, per_row_overhead: int = 48
) -> tuple[DataFrame, int, int]:
    """Eagerly localCheckpoint `df` and size it in the same job:
    (checkpointed frame, rows, estimated bytes). Gate on the sizes, then
    read the returned frame — never size and then collect the same
    unmaterialized lineage, which runs it twice."""
    observed, obs = _observe_size(df)
    out = observed.localCheckpoint(eager=True)
    return (out, *_observed_size(obs, per_row_overhead))


@dataclass
class StageRunner:
    spark: SparkSession
    root: str | None = None  # checkpoint dir; None disables persistence
    metrics: list[dict] = field(default_factory=list)
    # lazy=True skips per-stage materialization + row counts for stages
    # whose output feeds exactly one consumer — used by the bench path
    # where stage barriers cost more than they observe. Stages marked
    # reused=True still cut lineage.
    lazy: bool = False

    def _path(self, stage: str) -> str:
        assert self.root
        return os.path.join(self.root, stage)

    def _complete(self, stage: str) -> bool:
        return self.root is not None and all(
            os.path.exists(os.path.join(self._path(stage), f))
            for f in ("_SUCCESS", _STAGE_METRICS)
        )

    def run(self, stage: str, build, reused: bool = False) -> DataFrame:
        """Materialize `build()` under `stage`, or resume a stage directory
        that holds both Spark's `_SUCCESS` and the stage's metrics row.

        With no checkpoint root the stage still materializes and records
        metrics, keeping stage boundaries real — unless lazy mode is on and
        the stage isn't `reused`. Either way the row count is observed
        inside the job that writes or checkpoints the stage.
        """
        t0 = time.monotonic()
        if self._complete(stage):
            # the row the writing run recorded: resuming runs no count job
            with open(os.path.join(self._path(stage), _STAGE_METRICS)) as fh:
                row = {**json.load(fh), "extra": "resumed"}
            df = self.spark.read.parquet(self._path(stage))
            self.metrics.append({**row, "wall_sec": round(time.monotonic() - t0, 3)})
            return df
        df = build()
        if self.root is not None:
            # the row count rides on the write job; no re-read count
            observed, obs = _observe_size(df)
            observed.write.mode("overwrite").parquet(self._path(stage))
            out = self.spark.read.parquet(self._path(stage))
            rows, _ = _observed_size(obs)
        elif self.lazy and not reused:
            self.metrics.append(
                {"stage": stage, "rows": -1, "partitions": -1,
                 "wall_sec": round(time.monotonic() - t0, 3), "extra": "lazy"}
            )
            return df
        else:
            # no persistent checkpoint: still cut lineage eagerly so later
            # stages never recompute this one (each stage runs exactly once)
            out, rows, _ = _sized_checkpoint(df)
        row = {"stage": stage, "rows": rows, "partitions": out.rdd.getNumPartitions(),
               "wall_sec": round(time.monotonic() - t0, 3), "extra": None}
        self.metrics.append(row)
        if self.root is not None:
            # written last, atomically: only a stage with its row resumes
            tmp = os.path.join(self._path(stage), "_metrics.tmp")
            with open(tmp, "w") as fh:
                json.dump(row, fh)
            os.replace(tmp, os.path.join(self._path(stage), _STAGE_METRICS))
        return out

    def write_metrics(self) -> None:
        if self.root is None:
            return
        os.makedirs(self.root, exist_ok=True)
        with open(os.path.join(self.root, "metrics.json"), "w") as fh:
            json.dump(self.metrics, fh, indent=2)
