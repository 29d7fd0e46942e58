"""Spark event-log parser: per-span engine counters.

A span is the job description the benchmark sets with
``SparkContext.setJobDescription`` around each call (``<workload>/<query>``
or ``<workload>/<layer>.<function>``). Every task is attributed to the
span of the first job that submitted its stage, and every SQL plan-node
metric a task reports is attributed to that task's span.

Reads an uncompressed log: either a single file or a rolling
``eventlog_v2_*`` directory of ``events_<n>_*`` parts.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

# plan nodes that run Python workers (pandas / Arrow UDF boundaries)
PY_NODES = {
    "MapInPandas", "MapInArrow", "PythonMapInArrow", "ArrowEvalPython",
    "BatchEvalPython", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas", "AggregateInPandas", "ArrowWindowPython",
    "WindowInPandas", "MapPartitionsInRWithArrow",
}
_ROW_METRICS = ("number of output rows", "records read")


@dataclass
class SpanStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    # (plan-node class, metric name) -> summed task updates
    nodes: dict = field(default_factory=lambda: defaultdict(float))
    # stage id -> task run times (s)
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))

    def node(self, node_class: str, metric: str) -> float:
        return self.nodes.get((node_class, metric), 0.0)

    @property
    def py_rows(self) -> int:
        return int(self.node("<python>", "input rows"))

    @property
    def py_bytes(self) -> int:
        return int(sum(self.node(n, "data sent to Python workers") for n in PY_NODES))

    @property
    def py_time_s(self) -> float:
        return sum(self.node(n, "time to run Python workers") for n in PY_NODES) / 1e3

    @property
    def max_task_share(self) -> float | None:
        """Skew signal: in the span's dominant stage (largest summed task
        run time) among stages with at least two tasks, the slowest
        task's run time ÷ the stage's summed task run time. Equal tasks
        give 1/n; one task doing all the work gives 1. None when no stage
        ran two tasks: a single task says nothing about skew."""
        multi = [ts for ts in self.stage_tasks.values() if len(ts) > 1 and sum(ts) > 0]
        if not multi:
            return None
        ts = max(multi, key=sum)
        return max(ts) / sum(ts)


def _metric_value(update) -> float:
    try:
        return float(update)
    except (TypeError, ValueError):
        return 0.0


def event_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def read_events(path: str):
    for f in event_files(path):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _first_rows_accum(plan: dict) -> int | None:
    """Accumulator of the nearest descendant that counts rows: the rows
    a Python node receives."""
    for child in plan.get("children", []):
        for m in child.get("metrics", []):
            if m["name"] in _ROW_METRICS:
                return m["accumulatorId"]
        found = _first_rows_accum(child)
        if found is not None:
            return found
    return None


def _register_plan(plan: dict, accums: dict) -> None:
    name = plan["nodeName"].split(" ")[0]
    for m in plan.get("metrics", []):
        accums.setdefault(m["accumulatorId"], set()).add((name, m["name"]))
    if name in PY_NODES:
        acc = _first_rows_accum(plan)
        if acc is not None:
            accums.setdefault(acc, set()).add(("<python>", "input rows"))
    for child in plan.get("children", []):
        _register_plan(child, accums)


def parse(path: str) -> tuple[dict[str, SpanStats], SpanStats]:
    """(per-span stats, totals over every task in the log)."""
    spans: dict[str, SpanStats] = defaultdict(SpanStats)
    total = SpanStats()
    stage_span: dict[int, str] = {}
    exec_span: dict[int, str] = {}
    accums: dict[int, set] = {}
    for e in read_events(path):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            span = props.get("spark.job.description", "")
            spans[span].jobs += 1
            total.jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_span.setdefault(sid, span)
            if "spark.sql.execution.id" in props:
                exec_span.setdefault(int(props["spark.sql.execution.id"]), span)
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _register_plan(e["sparkPlanInfo"], accums)
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            spans[stage_span.get(sid, "")].stages += 1
            total.stages += 1
        elif kind == "SparkListenerTaskEnd":
            span_name = stage_span.get(e["Stage ID"], "")
            _add_task(spans[span_name], e, accums)
            _add_task(total, e, accums)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            s = spans[exec_span.get(e["executionId"], "")]
            for acc_id, value in e.get("accumUpdates", []):
                for node, metric in accums.get(acc_id, []):
                    s.nodes[(node, metric)] += _metric_value(value)
                    total.nodes[(node, metric)] += _metric_value(value)
    return dict(spans), total


def _add_task(s: SpanStats, e: dict, accums: dict) -> None:
    m = e.get("Task Metrics") or {}
    s.tasks += 1
    run = m.get("Executor Run Time", 0) / 1e3
    s.run_s += run
    s.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    s.gc_s += m.get("JVM GC Time", 0) / 1e3
    rd = m.get("Shuffle Read Metrics") or {}
    s.shuffle_read_bytes += rd.get("Local Bytes Read", 0) + rd.get("Remote Bytes Read", 0)
    s.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    s.spill_bytes += m.get("Disk Bytes Spilled", 0)
    s.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    s.stage_tasks[e["Stage ID"]].append(run)
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        for node, metric in accums.get(acc.get("ID"), []):
            s.nodes[(node, metric)] += _metric_value(acc.get("Update"))


def merge(stats: list[SpanStats]) -> SpanStats:
    """Sum several spans (e.g. every query span of one pass)."""
    out = SpanStats()
    for s in stats:
        for f in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "output_bytes"):
            setattr(out, f, getattr(out, f) + getattr(s, f))
        for k, v in s.nodes.items():
            out.nodes[k] += v
        for sid, ts in s.stage_tasks.items():
            out.stage_tasks[sid].extend(ts)
    return out


def spark_counters(s: SpanStats) -> dict[str, float]:
    """The ``spark.*`` per-layer counters of one span (or merged spans)."""
    return {
        "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks,
        "run_s": s.run_s, "cpu_s": s.cpu_s, "gc_s": s.gc_s,
        "shuffle_read_bytes": s.shuffle_read_bytes,
        "shuffle_write_bytes": s.shuffle_write_bytes,
        "spill_bytes": s.spill_bytes, "py_rows": s.py_rows,
        "py_bytes": s.py_bytes, "py_time_s": s.py_time_s,
        "max_task_share": s.max_task_share,
    }
