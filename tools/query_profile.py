#!/usr/bin/env python
"""Profile registered queries layer by layer, cold run next to warm best.

Each query runs the way bench.py times it: ``clearCache``, build, then
``.count()``; one cold run, then the best of 2 warm runs (3 when
sub-second). Every run is split into

- ``build_s``: Python-side construction, eager jobs included, and most of
  the query's analysis (PySpark analyzes each DataFrame as it is built);
- ``analysis_s``, ``optimization_s``, ``planning_s``: Catalyst's phases of
  the count plan, from its ``QueryPlanningTracker``; analysis covers only
  the ``groupBy().count()`` wrapper, the lazy phases the whole query;
- ``execution_s``: wall time of the action;
- ``python_ms``: Spark's ``pythonBootTime``, ``pythonInitTime`` and
  ``pythonTotalTime`` summed over the operators of the final (post-AQE)
  count plan; pipelined operators overlap, so a sum can exceed the wall;
- ``spark``: jobs, stages, tasks, executor run/CPU/GC, shuffle write,
  driver gap and max task share, from the run's window of the event log
  (``perfbench.tracing``), and ``stages``: one row per stage, tagged with
  the first job that lists it (Spark's status tracker).

Each query runs in its own Spark session (the JVM is shared), so its event
log holds only its own runs and the cold run pays the Python worker start.

Usage: python tools/query_profile.py --sf DIR [--out FILE] [--plans DIR] [NAME...]
With no names it profiles ``bench.BENCH_QUERIES``. One JSON record per
query goes to FILE (default: stdout); a summary line goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES  # noqa: E402
from dlp_rdb_bq_import_spark import harness  # noqa: E402
from dlp_rdb_bq_import_spark.session import get_spark  # noqa: E402
from perfbench.tracing import read_event_log, spark_metrics  # noqa: E402
from tools.window_domain_probe import _children, _metric, _unwrap  # noqa: E402

PHASES = ("analysis", "optimization", "planning")
PYTHON_METRICS = ("pythonBootTime", "pythonInitTime", "pythonTotalTime")
# per-stage task sums: field -> (path in "Task Metrics", scale to the field's unit)
TASK_SUMS = {
    "run_s": (("Executor Run Time",), 1e-3),
    "cpu_s": (("Executor CPU Time",), 1e-9),
    "gc_s": (("JVM GC Time",), 1e-3),
    "deserialize_s": (("Executor Deserialize Time",), 1e-3),
    "result_serialize_s": (("Result Serialization Time",), 1e-3),
    "fetch_wait_s": (("Shuffle Read Metrics", "Fetch Wait Time"), 1e-3),
    "shuffle_write_s": (("Shuffle Write Metrics", "Shuffle Write Time"), 1e-9),
    "shuffle_write_bytes": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
}


def _rounded(d: dict) -> dict:
    return {k: round(v, 4) if isinstance(v, float) else v for k, v in d.items()}


def python_ms(plan) -> dict[str, int]:
    """Python-worker time metrics (ms) summed over a physical plan; empty
    when no operator of the plan runs Python."""
    out: dict[str, int] = {}
    stack = [_unwrap(plan)]
    while stack:
        node = stack.pop()
        for key in PYTHON_METRICS:
            v = _metric(node, key)
            if v is not None:
                out[key] = out.get(key, 0) + v
        stack.extend(_unwrap(c) for c in _children(node))
    return out


def stage_jobs(sc) -> dict[int, int]:
    """Stage ID -> ID of the first job that lists it."""
    tracker = sc.statusTracker()
    out: dict[int, int] = {}
    for job in sorted(tracker.getJobIdsForGroup()):
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            out.setdefault(stage, job)
    return out


def stage_rows(events: list[dict], window: tuple[float, float], jobs: dict[int, int]) -> list[dict]:
    """One row per stage submitted inside ``window`` (epoch seconds)."""
    lo, hi = window[0] * 1e3, window[1] * 1e3
    infos, tasks = [], {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerStageCompleted":
            if lo <= e["Stage Info"].get("Submission Time", 0) <= hi:
                infos.append(e["Stage Info"])
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(e["Stage ID"], []).append(e)
    rows = []
    for info in sorted(infos, key=lambda i: i["Stage ID"]):
        ts = tasks.get(info["Stage ID"], [])
        launches = [t["Task Info"]["Launch Time"] for t in ts] or [0]
        row = {
            "job": jobs.get(info["Stage ID"]),
            "stage": info["Stage ID"],
            "name": info["Stage Name"].split(" at ")[0],
            "tasks": len(ts),
            "wall_s": (info.get("Completion Time", 0) - info["Submission Time"]) / 1e3,
            "launch_spread_s": (max(launches) - min(launches)) / 1e3,
        }
        for field, (path, unit) in TASK_SUMS.items():
            total = 0
            for t in ts:
                v = t.get("Task Metrics") or {}
                for key in path:
                    v = v.get(key, 0) if isinstance(v, dict) else 0
                total += v
            row[field] = total * unit
        rows.append(_rounded(row))
    return rows


def timed_run(spark, build, sf_dir: str) -> tuple[dict, object]:
    """One bench-method run; returns its layers and the count plan's
    QueryExecution. Engine metrics are added once the log is complete."""
    spark.catalog.clearCache()
    t0 = time.time()
    df = build(spark, sf_dir)
    t1 = time.time()
    counted = df.groupBy().count()
    qe = counted._jdf.queryExecution()
    qe.executedPlan()  # runs every phase before the action
    phases = qe.tracker().phases()
    t2 = time.time()
    rows = counted.collect()[0][0]
    t3 = time.time()
    run = {
        "total_s": t3 - t0,
        "build_s": t1 - t0,
        **{f"{p}_s": phases.get(p).get().durationMs() / 1e3 for p in PHASES},
        "execution_s": t3 - t2,
        "rows": rows,
        "window": (t0, t3),
    }
    run["python_ms"] = python_ms(qe.executedPlan())
    return run, qe


def profile(name: str, sf_dir: str, plans: str | None) -> dict:
    build = harness.queries()[name]
    with tempfile.TemporaryDirectory(prefix="profile_events_") as log_dir:
        spark = get_spark(
            app_name=f"profile_{name}",
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": Path(log_dir).as_uri(),
                "spark.eventLog.compress": "false",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        try:
            cpus = spark.sparkContext.defaultParallelism
            spark.range(1000).count()
            cold, _ = timed_run(spark, build, sf_dir)
            warm: list[dict] = []
            while len(warm) < 2 or (len(warm) < 3 and min(r["total_s"] for r in warm) < 1.0):
                run, qe = timed_run(spark, build, sf_dir)
                warm.append(run)
            if plans:
                text = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
                Path(plans, f"{name}.txt").write_text(text + "\n")
            jobs = stage_jobs(spark.sparkContext)
        finally:
            spark.stop()
        events = read_event_log(Path(log_dir))
    for run in [cold, *warm]:
        window = run.pop("window")
        run["spark"] = _rounded(spark_metrics(events, window))
        run["stages"] = stage_rows(events, window, jobs)
    best = min(warm, key=lambda r: r["total_s"])
    return {
        "query": name,
        "sf": os.path.basename(os.path.normpath(sf_dir)),
        "cpus": cpus,
        "warm_runs": len(warm),
        "cold": _rounded(cold),
        "warm": _rounded(best),
    }


def _summary(rec: dict) -> str:
    if "error" in rec:
        return f"{rec['query']}: ERROR {rec['error']}"
    cold, w = rec["cold"], rec["warm"]
    return (
        f"{rec['query']}: cold {cold['total_s']:.3f}s warm {w['total_s']:.3f}s (build "
        f"{w['build_s']:.3f} phases {sum(w[f'{p}_s'] for p in PHASES):.3f} exec "
        f"{w['execution_s']:.3f} jobs {w['spark']['jobs']} python ms {w['python_ms']})"
    )


def main() -> int:
    ap = argparse.ArgumentParser(description="Profile queries: build, Catalyst phases, execution.")
    ap.add_argument("--sf", required=True, metavar="DIR", help="fixtures of one scale factor")
    ap.add_argument("--out", metavar="FILE", help="JSON records, one a line")
    ap.add_argument("--plans", metavar="DIR", help="write executed plans to DIR/<name>.txt")
    ap.add_argument("names", nargs="*", metavar="NAME", help="default: bench.BENCH_QUERIES")
    args = ap.parse_args()
    names = args.names or BENCH_QUERIES
    unknown = sorted(set(names) - set(harness.queries()))
    if unknown:
        ap.error(f"not registered: {unknown}")
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    with open(args.out, "w") if args.out else nullcontext(sys.stdout) as out:
        for name in names:
            try:
                rec = profile(name, args.sf, args.plans)
            except Exception as e:  # one failing query must not end the sweep
                traceback.print_exc()
                rec = {"query": name, "error": f"{type(e).__name__}: {e}"}
            out.write(json.dumps(rec) + "\n")
            out.flush()
            print(_summary(rec), file=sys.stderr, flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
