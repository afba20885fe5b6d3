"""Per-layer numbers from Spark's own bookkeeping.

`summarize` reads an uncompressed, non-rolling Spark event log and sums task
metrics and SQL metrics over the jobs whose local properties match a
filter.  The benchmark tags every job it starts with `perfbench.*` local
properties (phase, query, step), which the event log records on each
`SparkListenerJobStart`, so one log splits into warm-up, timed and traced
passes, per-query steps and eager checkpoints without any change to the engine.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

_MB = 2**20
# SQL metric names of the Python crossing (MapInArrow, ArrowEvalPython)
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"
_PY_METRICS = (PY_RUN, PY_START, PY_INIT, PY_SENT, PY_BACK)
# SQL metric type -> factor to seconds or bytes
_SCALE = {"nsTiming": 1e-9, "timing": 1e-3, "size": 1.0, "sum": 1.0}


def _plan_metric_types(info: dict, out: dict) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = m["metricType"]
    for child in info.get("children", ()):
        _plan_metric_types(child, out)


def read(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


class Summary:
    """Totals over the selected jobs.  Times in s, sizes in MB."""

    def __init__(self):
        self.jobs = 0
        self.jobs_s = 0.0       # wall time with at least one job running
        self.stages = 0
        self.tasks = 0
        self.executor_cpu_s = 0.0
        self.executor_run_s = 0.0
        self.gc_s = 0.0
        self.shuffle_write_mb = 0.0
        self.spill_mb = 0.0
        self.input_mb = 0.0
        self.output_mb = 0.0
        self.python = {name: 0.0 for name in _PY_METRICS}
        self.task_skew = 0.0

    def as_dict(self) -> dict:
        d = {k: v for k, v in vars(self).items() if k != "python"}
        d["python_run_s"] = self.python[PY_RUN]
        d["python_start_s"] = self.python[PY_START] + self.python[PY_INIT]
        d["to_python_mb"] = self.python[PY_SENT] / _MB
        d["from_python_mb"] = self.python[PY_BACK] / _MB
        return d


def _union_ms(spans: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] intervals."""
    total, reach = 0, None
    for start, end in sorted(spans):
        if reach is None or start > reach:
            total += end - start
            reach = end
        elif end > reach:
            total += end - reach
            reach = end
    return total


def summarize(events: list[dict], **match: str) -> Summary:
    """Sum the jobs whose `perfbench.<key>` local properties equal every
    `key=value` in `match` (all jobs when `match` is empty)."""
    metric_type: dict[int, str] = {}
    selected_stages: set[int] = set()
    submitted: dict[int, int] = {}
    s = Summary()
    for e in events:
        kind = e["Event"]
        if "sparkPlanInfo" in e:
            _plan_metric_types(e["sparkPlanInfo"], metric_type)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ok = all(props.get(f"perfbench.{k}") == v
                     for k, v in match.items())
            if ok:
                s.jobs += 1
                selected_stages.update(e["Stage IDs"])
                submitted[e["Job ID"]] = e["Submission Time"]
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    stage_py_run: dict[int, float] = defaultdict(float)
    completed: set[int] = set()
    job_spans: list[tuple[int, int]] = []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobEnd" and e["Job ID"] in submitted:
            job_spans.append((submitted[e["Job ID"]], e["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in selected_stages:
                completed.add(sid)
        elif kind == "SparkListenerTaskEnd" and \
                e["Stage ID"] in selected_stages:
            sid = e["Stage ID"]
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            s.tasks += 1
            stage_tasks[sid].append(
                (info["Finish Time"] - info["Launch Time"]) / 1e3)
            s.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            s.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            s.gc_s += m.get("JVM GC Time", 0) / 1e3
            s.shuffle_write_mb += (m.get("Shuffle Write Metrics", {})
                                   .get("Shuffle Bytes Written", 0)) / _MB
            s.spill_mb += m.get("Disk Bytes Spilled", 0) / _MB
            s.input_mb += (m.get("Input Metrics", {})
                           .get("Bytes Read", 0)) / _MB
            s.output_mb += (m.get("Output Metrics", {})
                            .get("Bytes Written", 0)) / _MB
            for acc in info.get("Accumulables", ()):
                name = acc.get("Name")
                if name in s.python and "Update" in acc:
                    scale = _SCALE.get(metric_type.get(acc["ID"], ""), 1.0)
                    v = float(acc["Update"]) * scale
                    s.python[name] += v
                    if name == PY_RUN:
                        stage_py_run[sid] += v
    s.stages = len(completed)
    s.jobs_s = _union_ms(job_spans) / 1e3
    if stage_py_run:
        kernel = max(stage_py_run, key=stage_py_run.get)
        times = stage_tasks[kernel]
        med = statistics.median(times)
        s.task_skew = max(times) / med if med > 0 else 1.0
    return s

