"""Span tracer for the benchmark's traced runs.

Spans are recorded from outside the program: `Tracer.install` rebinds each
listed public function, wherever a program module holds it, to a wrapper
that opens a span around the call. Each span tags the Spark jobs it
submits through its own thread-local property (`perfbench.span`), set on
entry and restored to the parent's value on exit. A dedicated key, rather
than the job group, keeps the attribution intact when the program labels
its own jobs with job groups.

Spark work is attributed after the session stops, from the local event
log: JobStart and StageSubmitted events carry the span id in their
properties, TaskEnd events carry the task metrics. Spans stay in memory
until the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PROP = "perfbench.span"

# (module, public function) pairs wrapped in traced runs; the span name is
# `<module>.<function>` without the package prefix
SPANS = [
    ("refine_spark.pipeline", "run_dedup"),
    ("refine_spark.pipeline", "prepare"),
    ("refine_spark.pipeline", "verify_doc_ids"),
    ("refine_spark.pipeline", "minhash_edges"),
    ("refine_spark.exact", "exact_edges"),
    ("refine_spark.signatures", "with_signatures"),
    ("refine_spark.signatures", "simhash_edges"),
    ("refine_spark.candidates", "materialize_pairs"),
    ("refine_spark.scoring", "name_pass_edges"),
    ("refine_spark.cluster", "name_pass_clusters"),
    ("refine_spark.cluster", "connected_components"),
    ("refine_spark.cluster", "cluster_stats"),
    ("refine_spark.substring", "substring_edges"),
    ("refine_spark.checkpoint", "StageRunner.run"),
    ("refine_spark.partitioning", "spread_small"),
    ("refine_spark.simsearch", "cosine_dup_pairs"),
    ("refine_spark.simsearch", "brute_force_topk"),
    ("refine_spark.simsearch", "lsh_topk"),
]
SPAN_NAMES = [f"{m.rsplit('.', 1)[1]}.{f}" for m, f in SPANS]


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    unit: int
    start: float
    end: float = 0.0
    children_s: float = 0.0


@dataclass
class TaskStats:
    jobs: int = 0
    tasks: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    # per stage: task run times in ms
    stage_times: dict[int, list[int]] = field(default_factory=dict)


class Tracer:
    """Records spans for the units run while `unit` is set; wrappers are
    transparent when it is None."""

    def __init__(self, sc, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.unit: int | None = None
        # (parent span name, args, return) of traced calls in the current
        # unit, by span name, for the counts taken after it
        self.calls: dict[str, list[tuple[str | None, tuple, object]]] = {}
        self._undo: list[tuple[object, str, object]] = []

    # ---- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if self.unit is None:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None,
                 self.unit, self.clock())
        self.spans.append(s)
        self.stack.append(s)
        prev = self.sc.getLocalProperty(PROP)
        self.sc.setLocalProperty(PROP, str(s.sid))
        try:
            yield s
        finally:
            s.end = self.clock()
            self.stack.pop()
            if parent is not None:
                parent.children_s += s.end - s.start
            self.sc.setLocalProperty(PROP, prev)

    @contextmanager
    def untraced_jobs(self):
        """Jobs submitted inside belong to no span (the count probes)."""
        prev = self.sc.getLocalProperty(PROP)
        self.sc.setLocalProperty(PROP, "-")
        try:
            yield
        finally:
            self.sc.setLocalProperty(PROP, prev)

    def begin_unit(self, unit: int) -> None:
        self.unit = unit
        self.calls = {}

    def end_unit(self) -> None:
        self.unit = None

    # ---- wrapping --------------------------------------------------------

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.unit is None:
                return fn(*args, **kwargs)
            parent = self.stack[-1].name if self.stack else None
            with self.span(name):
                out = fn(*args, **kwargs)
            self.calls.setdefault(name, []).append((parent, args, out))
            return out

        return traced

    def install(self, spans=SPANS) -> None:
        """Rebind every listed function in every loaded program module
        that holds it (`from x import f` copies the binding)."""
        for mod_name, qual in spans:
            mod = importlib.import_module(mod_name)
            name = f"{mod_name.rsplit('.', 1)[1]}.{qual}"
            if "." in qual:
                cls_name, attr = qual.split(".")
                owner = getattr(mod, cls_name)
                orig = owner.__dict__[attr]
                self._set(owner, attr, self._wrap(name, orig))
                continue
            orig = getattr(mod, qual)
            wrapper = self._wrap(name, orig)
            for m in list(sys.modules.values()):
                mname = getattr(m, "__name__", "")
                if mname != "__spark_entry__" and not mname.startswith("refine_spark"):
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        self._set(m, k, wrapper)

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


# ---- span arithmetic -------------------------------------------------------


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part its direct children cover."""
    return {s.sid: (s.end - s.start) - s.children_s for s in spans}


def parse_event_log(path: str) -> dict[int, TaskStats]:
    """Per span id: jobs, tasks, shuffle write, spill and task run times,
    from a Spark event log written with spark.eventLog.compress=false."""
    stage_span: dict[int, int] = {}
    out: dict[int, TaskStats] = {}

    def span_of(props: dict | None) -> int | None:
        v = (props or {}).get(PROP)
        return int(v) if v is not None and v.isdigit() else None

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                sid = span_of(ev.get("Properties"))
                if sid is not None:
                    out.setdefault(sid, TaskStats()).jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                sid = span_of(ev.get("Properties"))
                if sid is not None:
                    stage_span[ev["Stage Info"]["Stage ID"]] = sid
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if sid is None or not m:
                    continue
                st = out.setdefault(sid, TaskStats())
                st.tasks += 1
                st.shuffle_write_b += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                st.spill_b += m["Disk Bytes Spilled"]
                st.stage_times.setdefault(ev["Stage ID"], []).append(
                    m["Executor Run Time"]
                )
    return out


def task_skew(stage_times: dict[int, list[int]]) -> float:
    """Worst stage's max ÷ median task run time (stages of >= 2 tasks)."""
    worst = 0.0
    for times in stage_times.values():
        if len(times) < 2:
            continue
        p50 = statistics.median(times)
        worst = max(worst, max(times) / p50 if p50 > 0 else 1.0)
    return worst


# self_frac = self_s ÷ the unit's wall time
STATS = (
    "self_s", "self_frac", "calls", "jobs", "tasks", "shuffle_write_mb", "spill_mb",
    "task_skew",
)


def unit_stats(spans: list[Span], tasks: dict[int, TaskStats]) -> dict[int, dict[str, dict]]:
    """Per unit, per span name: the STATS summed over that name's spans."""
    selfs = self_times(spans)
    walls: dict[int, float] = {}
    for s in spans:
        if s.parent is None:
            walls[s.unit] = walls.get(s.unit, 0.0) + s.end - s.start
    out: dict[int, dict[str, dict]] = {}
    for s in spans:
        row = out.setdefault(s.unit, {}).setdefault(
            s.name, {k: 0 for k in STATS} | {"_stage_times": {}}
        )
        row["self_s"] += selfs[s.sid]
        row["calls"] += 1
        t = tasks.get(s.sid)
        if t is None:
            continue
        row["jobs"] += t.jobs
        row["tasks"] += t.tasks
        row["shuffle_write_mb"] += t.shuffle_write_b / 1e6
        row["spill_mb"] += t.spill_b / 1e6
        row["_stage_times"].update(t.stage_times)
    for unit, per_name in out.items():
        for row in per_name.values():
            row["task_skew"] = task_skew(row.pop("_stage_times"))
            row["self_frac"] = row["self_s"] / walls[unit] if walls[unit] else 0.0
    return out


def median_stats(per_unit: dict[int, dict[str, dict]], names) -> dict[str, float]:
    """`<span>.<stat>` medians over units; a span a unit never entered
    counts as zero in that unit."""
    units = sorted(per_unit)
    out: dict[str, float] = {}
    for name in names:
        for stat in STATS:
            vals = [per_unit[u].get(name, {}).get(stat, 0) for u in units]
            out[f"{name}.{stat}"] = float(statistics.median(vals)) if vals else 0.0
    return out
