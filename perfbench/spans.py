"""Spans around the benchmark's calls into each layer, and the Spark
metrics of the jobs each span launched.

A span sets a Spark job group named after itself, so every job it
launches is tagged. After the session stops, the uncompressed event log
is read back: each stage belongs to the group of the first job that
listed it, and its task accumulables (executorRunTime, executorCpuTime,
jvmGCTime, shuffle, spill, input) and SQL metrics (per plan node, from
the SQL execution events) are summed into that span. Spans stay in
memory until the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# task metric accumulables → (span metric, scale to its unit)
_TASK_METRICS = {
    "internal.metrics.executorRunTime": ("task_s", 1e-3),
    "internal.metrics.executorCpuTime": ("task_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "internal.metrics.input.recordsRead": ("input_records", 1),
}
_SQL_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}
_SQL_PREFIX = "org.apache.spark.sql.execution.ui."


@dataclass
class Span:
    name: str
    pass_id: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    error: str | None = None
    counts: dict = field(default_factory=dict)   # measured at the boundary
    spark: dict = field(default_factory=dict)    # filled from the event log

    @property
    def group(self) -> str:
        return f"perfbench-{self.span_id}-{self.name}"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, pass_id: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, pass_id, len(self.spans),
                  parent.span_id if parent else None, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, sp.group)
        try:
            yield sp
        except BaseException as ex:
            sp.error = type(ex).__name__
            raise
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.group)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_time(self, sp: Span) -> float:
        kids = sum(c.end - c.start for c in self.spans if c.parent == sp.span_id)
        return (sp.end - sp.start) - kids

    def attach_event_log(self, log_dir: str) -> None:
        by_group = read_event_log(log_dir)
        for sp in self.spans:
            sp.spark = by_group.get(sp.group, {})

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [{"name": s.name, "pass": s.pass_id, "id": s.span_id,
                 "parent": s.parent, "start_s": s.start - t0,
                 "end_s": s.end - t0, "self_s": self.self_time(s),
                 "error": s.error, "counts": s.counts, "spark": s.spark}
                for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def _plan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = (info["nodeName"], m["name"], m["metricType"])
    for child in info.get("children", ()):
        _plan_metrics(child, out)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Event log → {job group: summed stage metrics}.

    Per group: ``jobs``, every task metric of _TASK_METRICS, and
    ``sql`` = {"<plan node>/<metric name>": value in its unit}."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(files[0]) as f:
        events = [json.loads(line) for line in f]
    # AQE re-plans announce a node's metric ids after its stages may
    # already have completed, so map every id before summing stages
    sql_ids: dict[int, tuple] = {}
    for ev in events:
        if ev["Event"] in (_SQL_PREFIX + "SparkListenerSQLExecutionStart",
                           _SQL_PREFIX + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev["sparkPlanInfo"], sql_ids)
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            acc = out.setdefault(group, {"jobs": 0, "sql": {}})
            acc["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None:
                continue
            acc = out[group]
            for a in info.get("Accumulables", ()):
                name, value = a.get("Name"), a.get("Value")
                if not isinstance(value, (int, float)):
                    try:
                        value = float(value)
                    except (TypeError, ValueError):
                        continue
                if name in _TASK_METRICS:
                    key, scale = _TASK_METRICS[name]
                    acc[key] = acc.get(key, 0) + value * scale
                elif a["ID"] in sql_ids:
                    node, mname, mtype = sql_ids[a["ID"]]
                    k = f"{node}/{mname}"
                    acc["sql"][k] = acc["sql"].get(k, 0) + value * _SQL_SCALE.get(mtype, 1)
    return out
