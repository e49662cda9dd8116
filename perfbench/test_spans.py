"""Self-test of the benchmark's tracer.

    python3 -m pytest perfbench/test_spans.py -q

Pins the span arithmetic and the event-log attribution on hand-made
inputs, and checks on a tiny fixed input that one `run_dedup` fires the
same number of Spark jobs every time (the job counts the per-layer
metrics report are only comparable if they repeat exactly).
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import spans  # noqa: E402


class FakeContext:
    def __init__(self):
        self.props: dict[str, str] = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


class Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_and_property_nesting():
    sc, clock = FakeContext(), Clock()
    tr = spans.Tracer(sc, clock)
    assert tr.span("idle").__enter__() is None  # no unit: no span
    tr.begin_unit(0)
    with tr.span("root") as root:
        clock.t = 1
        with tr.span("a"):
            assert sc.props[spans.PROP] == "1"
            clock.t = 4
        assert sc.props[spans.PROP] == str(root.sid)
        clock.t = 5
        with tr.span("b"):
            clock.t = 6
            with tr.span("a"):
                clock.t = 7
            clock.t = 9
        clock.t = 10
    tr.end_unit()
    assert spans.PROP not in sc.props
    selfs = spans.self_times(tr.spans)
    assert [(s.name, selfs[s.sid]) for s in tr.spans] == [
        ("root", 3.0), ("a", 3.0), ("b", 3.0), ("a", 1.0)
    ]
    stats = spans.unit_stats(tr.spans, {})
    assert stats[0]["a"]["self_s"] == 4.0 and stats[0]["a"]["calls"] == 2
    assert stats[0]["a"]["self_frac"] == 0.4


def test_event_log_attribution(tmp_path):
    def task(stage, ms, shuffle=0, spill=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": ms, "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {spans.PROP: "0"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {spans.PROP: "0"}},
        task(0, 10, shuffle=2_000_000), task(0, 10), task(0, 40, spill=1_000_000),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {spans.PROP: "-"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {spans.PROP: "-"}},
        task(1, 99),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Properties": {}},
    ]
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    tasks = spans.parse_event_log(str(path))
    assert set(tasks) == {0}
    t = tasks[0]
    assert (t.jobs, t.tasks, t.shuffle_write_b, t.spill_b) == (1, 3, 2_000_000, 1_000_000)
    assert spans.task_skew(t.stage_times) == 4.0
    span = spans.Span(0, "x", None, 0, 0.0, 1.0)
    row = spans.unit_stats([span], tasks)[0]["x"]
    assert row["shuffle_write_mb"] == 2.0 and row["task_skew"] == 4.0


def test_install_rebinds_imported_names():
    from refine_spark import candidates, pipeline, scoring

    orig = candidates.materialize_pairs
    tr = spans.Tracer(FakeContext())
    tr.install([("refine_spark.candidates", "materialize_pairs")])
    try:
        assert pipeline.materialize_pairs is candidates.materialize_pairs
        assert scoring.materialize_pairs is not orig
    finally:
        tr.uninstall()
    assert pipeline.materialize_pairs is orig and scoring.materialize_pairs is orig


def test_dedup_job_count_repeats(tmp_path):
    from refine_spark import pipeline, synth
    from refine_spark.session import get_spark

    os.environ.setdefault("SPARK_LOCAL_DIRS", str(tmp_path / "local"))
    events = tmp_path / "events"
    events.mkdir()
    spark = get_spark(app_name="perfbench_selftest", cores=2, extra_conf={
        "spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{events}",
        "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    })
    tr = spans.Tracer(spark.sparkContext)
    tr.install()
    try:
        docs, _ = synth.to_spark(spark, 200)
        docs = docs.localCheckpoint()
        for unit in range(3):
            tr.begin_unit(unit)
            with tr.span("unit"):
                pipeline.run_dedup(spark, docs, lazy=True)["clusters"].collect()
            tr.end_unit()
    finally:
        tr.uninstall()
        spark.stop()
    (log,) = events.iterdir()
    per_unit = spans.unit_stats(tr.spans, spans.parse_event_log(str(log)))
    jobs = [sum(r["jobs"] for r in per_unit[u].values()) for u in range(3)]
    assert jobs[0] > 0
    # the first unit compiles and warms up; the warm ones must agree exactly
    assert jobs[1] == jobs[2], jobs
    assert per_unit[1]["pipeline.run_dedup"]["calls"] == 1
