"""refine-spark benchmark: one workload per process, at local[nproc].

    python3 perfbench/run.py --workload dedup_small --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The program is imported from that root
and nothing else; without it the run exits 2 before printing a result.

--trace 0 (end to end, no tracing): session start and input set-up, one
untimed warm-up unit, then timed units until --seconds have passed. Every
unit's output is checked, untimed. Metrics: setup_s, wall_s, docs_per_s,
pair_recall, pair_precision.

--trace 1 (per layer): same set-up and warm-up, then untraced and traced
units alternate. Traced units record spans around the program's public
functions (spans.py) and Spark task metrics from the local event log.
Metrics: `<module>.<function>.<stat>` medians over traced units, counts
and yields from the last traced unit's returned frames, the Spark-free
signature kernel rate, session start, peak RSS and the tracing overhead.

The last stdout line is the JSON result; lines before it starting with
`#` describe the run (stamps, per-unit walls, per-span table).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("dedup_small", "dedup_large", "dedup_checkpointed", "query_suite")
N_SETUPS = 3
# timed units per run at least: the first units after warm-up are still
# getting faster, so a steady median needs the same count in every run
MIN_UNITS = 2
UNIT_TIMEOUT_S = 90.0  # a unit slower than this counts as failed
DEADLINE_S = 140.0  # no unit starts that would end after this much of the run
KERNEL_DOCS = 2_000

# The per-layer list is capped at 128 names. spill_mb is kept for the
# spans that run the big shuffles, task_skew for the spans that ran Spark
# jobs when the benchmark was defined (the others only build plans).
SPILL_SPANS = {
    "pipeline.run_dedup", "checkpoint.StageRunner.run", "candidates.materialize_pairs",
    "scoring.name_pass_edges", "substring.substring_edges",
}
PLAN_ONLY_SPANS = {
    "pipeline.prepare", "pipeline.minhash_edges", "exact.exact_edges",
    "signatures.with_signatures", "cluster.cluster_stats", "partitioning.spread_small",
}
# the benchmark's root span around one unit: time and work outside every
# module span, and the unit's totals
UNIT = [
    ("unit.wall_s", "s"), ("unit.self_frac", "ratio"), ("unit.jobs_total", "count"),
    ("unit.tasks_total", "count"), ("unit.shuffle_write_mb_total", "MB"),
]
COUNTS = [
    ("candidates.lsh_pairs", "count"), ("pipeline.text_edges", "count"),
    ("pipeline.text_yield", "ratio"), ("exact.edges", "count"),
    ("signatures.simhash_edges_n", "count"), ("substring.edges", "count"),
    ("scoring.name_edges_raw", "count"), ("cluster.name_yield", "ratio"),
    ("cluster.edges_in", "count"), ("cluster.clusters", "count"),
    ("checkpoint.write_mb", "MB"), ("signatures.kernel_docs_per_s", "docs/s"),
    ("session.start_s", "s"), ("session.peak_rss_mb", "MB"),
    ("trace.overhead_frac", "ratio"),
]
# a span's time is reported as its share of the unit's wall time, which
# reads 0 (not a constant 0 s) for spans a workload never enters
STAT_UNITS = {
    "self_frac": "ratio", "calls": "count", "jobs": "count", "tasks": "count",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "task_skew": "ratio",
}


def per_layer_names() -> list[tuple[str, str]]:
    from spans import SPAN_NAMES, STATS

    names = [
        (f"{span}.{stat}", STAT_UNITS[stat])
        for span in SPAN_NAMES
        for stat in STATS
        if stat in STAT_UNITS
        and (stat != "spill_mb" or span in SPILL_SPANS)
        and (stat != "task_skew" or span not in PLAN_ONLY_SPANS)
    ]
    return names + UNIT + COUNTS


def log(line: str) -> None:
    print(f"# {line}", flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_rev() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return "none"
    ref = open(head).read().strip()
    if ref.startswith("ref: "):
        path = os.path.join(ROOT, ".git", ref[5:])
        return open(path).read().strip() if os.path.exists(path) else ref[5:]
    return ref


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over this process and its descendants (the JVM, the
    Python workers): an upper bound on the joint peak."""
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
            for task in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{task}/children") as fh:
                    todo += [int(c) for c in fh.read().split()]
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total_kb / 1024


def configure_env(trace: bool) -> dict[str, str]:
    """Session settings for this box, through the env vars get_spark reads,
    plus the Spark conf the benchmark adds."""
    for sub in ("local", "tmp", "events"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_DRIVER_MEM": f"{max(1, min(4, int(mem_gb // 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
    })
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def import_program():
    """Import the program from ROOT only; exit 2 if it is not there."""
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import refine_spark
        from refine_spark import pipeline  # noqa: F401
    except ImportError as e:
        fail = f"program not importable from {ROOT}: {e}"
    else:
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(refine_spark.__file__)))
        if pkg_root == ROOT:
            return
        fail = f"refine_spark resolved outside {ROOT}"
    print(f"error: {fail}", file=sys.stderr)
    shutil.rmtree(WORK, ignore_errors=True)
    sys.exit(2)


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    def __init__(self, wl, t_start: float):
        self.wl = wl
        self.t_start = t_start
        self.attempted = 0
        self.failed = 0
        self.recall: list[float] = []
        self.precision: list[float] = []

    def timed_unit(self, tracer=None, index: int = 0) -> float | None:
        """Run, time and check one unit; None if it raised. With a tracer,
        the unit (not its check) is traced as unit `index`."""
        if tracer is not None:
            tracer.begin_unit(index)
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = self.wl.unit()
            else:
                with tracer.span("unit"):
                    out = self.wl.unit()
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.attempted += 1
            self.failed += 1
            return None
        finally:
            if tracer is not None:
                tracer.end_unit()
        wall = time.perf_counter() - t0
        try:
            ops, bad, rec, prec = self.wl.check(out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ops, bad, rec, prec = 1, 1, 0.0, 0.0
        bad += int(wall > UNIT_TIMEOUT_S)
        self.attempted += ops
        self.failed += min(ops, bad)
        self.recall.append(rec)
        self.precision.append(prec)
        return wall

    def done(self, units: int, t_measure: float, seconds: float, last: float) -> bool:
        """Stop after MIN_UNITS once the next unit would overrun `seconds`,
        and before a unit that would end past the deadline regardless."""
        now = time.perf_counter()
        if now - self.t_start + last > DEADLINE_S:
            return True
        return units >= MIN_UNITS and (now - t_measure) + last > seconds


def run_end_to_end(runner: Runner, seconds: float, setup_s: float) -> dict:
    wl = runner.wl
    walls: list[float] = []
    t_measure = time.perf_counter()
    units = 0
    while True:
        wall = runner.timed_unit()
        units += 1
        if wall is not None:
            walls.append(wall)
        if runner.done(units, t_measure, seconds, wall or 0.0):
            break
    log(f"walls_s {[round(w, 3) for w in walls]}")
    if hasattr(wl, "query_walls"):
        log("query_walls_s " + json.dumps(
            {q: [round(w, 3) for w in ws] for q, ws in wl.query_walls.items()}))
    if not walls:
        return {}
    wall_s = statistics.median(walls)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_s, "s"),
        "docs_per_s": (wl.n_docs / wall_s, "docs/s"),
        "pair_recall": (statistics.median(runner.recall), "ratio"),
        "pair_precision": (statistics.median(runner.precision), "ratio"),
    }
    metrics.update(wl.extra_metrics())
    return metrics


def count_probes(tracer, wl) -> dict[str, float]:
    """Counts and yields from the frames the last traced unit returned;
    their jobs run outside every span."""
    calls = tracer.calls

    def total(name: str, pick) -> int:
        try:
            return sum(pick(parent, args, out) for parent, args, out in calls.get(name, []))
        except Exception as e:  # a changed return shape must not end the run
            log(f"count of {name} failed: {e!r}")
            return 0

    with tracer.untraced_jobs():
        lsh = total("candidates.materialize_pairs",
                    lambda p, a, o: o[1] if p == "pipeline.minhash_edges" else 0)
        text = total("pipeline.minhash_edges", lambda p, a, o: o.count())
        raw = total("scoring.name_pass_edges", lambda p, a, o: o.count())
        kept = total("cluster.name_pass_clusters", lambda p, a, o: o[1].count())
        out = {
            "candidates.lsh_pairs": lsh,
            "pipeline.text_edges": text,
            "pipeline.text_yield": text / lsh if lsh else 0.0,
            "exact.edges": total("exact.exact_edges", lambda p, a, o: o.count()),
            "signatures.simhash_edges_n": total("signatures.simhash_edges", lambda p, a, o: o.count()),
            "substring.edges": total("substring.substring_edges", lambda p, a, o: o.count()),
            "scoring.name_edges_raw": raw,
            "cluster.name_yield": kept / raw if raw else 0.0,
            "cluster.edges_in": total("cluster.connected_components", lambda p, a, o: a[0].count()),
            "cluster.clusters": total(
                "cluster.connected_components",
                lambda p, a, o: o.select("cluster_id").distinct().count()),
        }
    out["checkpoint.write_mb"] = getattr(wl, "ckpt_mb", 0.0)
    return out


def kernel_docs_per_s(texts: list[str]) -> float:
    """The fused signature UDF's own function on the workload's texts, in
    this process: no Spark scheduling, one core."""
    import pandas as pd

    from refine_spark.config import DEFAULT
    from refine_spark.signatures import make_signatures_udf

    kernel = make_signatures_udf(DEFAULT).func
    batch = pd.Series(texts[:KERNEL_DOCS])
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        kernel(batch)
        times.append(time.perf_counter() - t0)
    return len(batch) / statistics.median(times)


def run_traced(runner: Runner, seconds: float, spark) -> tuple[dict, object]:
    from spans import Tracer

    tracer = Tracer(spark.sparkContext)
    tracer.install()
    plain: list[float] = []
    traced: list[float] = []
    t_measure = time.perf_counter()
    unit = 0
    while True:
        wall = runner.timed_unit()
        if wall is not None:
            plain.append(wall)
        wall = runner.timed_unit(tracer, unit)
        if wall is not None:
            traced.append(wall)
        unit += 1
        if runner.done(unit, t_measure, seconds, 2 * (wall or 0.0)):
            break
    tracer.uninstall()
    log(f"walls_s untraced {[round(w, 3) for w in plain]} traced {[round(w, 3) for w in traced]}")
    extra = count_probes(tracer, runner.wl)
    extra["signatures.kernel_docs_per_s"] = kernel_docs_per_s(runner.wl.texts())
    extra["session.peak_rss_mb"] = tree_peak_rss_mb()
    extra["unit.wall_s"] = statistics.median(traced) if traced else 0.0
    extra["trace.overhead_frac"] = (
        statistics.median(traced) / statistics.median(plain) - 1 if plain and traced else 0.0
    )
    return extra, tracer


def layer_metrics(tracer, extra: dict, start_s: float) -> dict | None:
    """None if the session's event log is missing or ambiguous: the Spark
    work of the spans would read as zero."""
    from spans import SPAN_NAMES, median_stats, parse_event_log, unit_stats

    logs = glob.glob(os.path.join(WORK, "events", "*"))
    if len(logs) != 1:
        print(f"error: expected one event log, found {len(logs)}", file=sys.stderr)
        return None
    per_unit = unit_stats(tracer.spans, parse_event_log(logs[0]))
    totals = {
        stat: [sum(row[stat] for row in per_unit[u].values()) for u in sorted(per_unit)]
        for stat in ("jobs", "tasks", "shuffle_write_mb")
    }
    log(f"jobs per traced unit {totals['jobs']}")
    stats = median_stats(per_unit, SPAN_NAMES + ["unit"])
    for stat, vals in totals.items():
        stats[f"unit.{stat}_total"] = float(statistics.median(vals))
    for name in SPAN_NAMES + ["unit"]:
        if stats[f"{name}.calls"]:
            log(f"span {name} " + " ".join(
                f"{k.rsplit('.', 1)[1]}={v:.4g}" for k, v in stats.items()
                if k.startswith(name + ".")))
    extra["session.start_s"] = start_s
    values = stats | extra
    return {name: (values[name], unit) for name, unit in per_layer_names()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    shutil.rmtree(WORK, ignore_errors=True)
    conf = configure_env(bool(args.trace))
    import_program()
    import workloads
    from refine_spark.session import get_spark

    log("env " + json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "git_rev": git_rev(), "nproc": nproc(),
        "loadavg": os.getloadavg(),
        **{k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS")},
    }))
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench_{args.workload}", extra_conf=conf)
    start_s = time.perf_counter() - t0
    try:
        wl = workloads.make(args.workload, ROOT, WORK)
        setups = []
        for _ in range(N_SETUPS):
            t0 = time.perf_counter()
            wl.setup(spark, args.seed)
            setups.append(time.perf_counter() - t0)
        setup_s = start_s + statistics.median(setups)
        log(f"session_start_s {start_s:.3f} input_setups_s {[round(s, 3) for s in setups]}")

        runner = Runner(wl, t_start)
        runner.timed_unit()  # warm-up: JIT, codegen, Python workers
        log(f"warmup attempted={runner.attempted} failed={runner.failed}")
        if args.trace:
            extra, tracer = run_traced(runner, args.seconds, spark)
        else:
            metrics = run_end_to_end(runner, args.seconds, setup_s)
    finally:
        stop_spark(spark)
    if args.trace:
        metrics = layer_metrics(tracer, extra, start_s)
    shutil.rmtree(WORK, ignore_errors=True)
    if metrics is None:
        return 1
    if not metrics:
        print("error: no unit completed", file=sys.stderr)
        return 1
    log(f"loadavg_end {os.getloadavg()} total_s {time.perf_counter() - t_start:.1f}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
