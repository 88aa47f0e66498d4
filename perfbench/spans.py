"""Spans recorded around the benchmark's own calls into the engine, and the
Spark event-log reader that attributes job, task and SQL metrics to them.

A span is (id, name, parent, start, end). While a span is open on the driver
thread, Spark jobs started from that thread carry its id as their job group,
so every job, task and SQL execution in the event log maps back to the
innermost open span.

Spans stay in memory and are written once, by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

# SQL metric names as Spark 4.1 registers them (PythonSQLMetrics and
# WholeStageCodegenExec.pipelineTime); both are "timing" metrics in ms
PYTHON_TIME = "time to run Python workers"
CODEGEN_TIME = "duration"
_SORT_ORDER = re.compile(r" (ASC|DESC) NULLS (FIRST|LAST)$")


class Tracer:
    """Records spans; once ``spark`` is set, also tags jobs with span ids."""

    def __init__(self):
        self.spark = None
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = f"s{len(self.spans)}"
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self._set_group(parent, self.by_id(parent)["name"])
            else:
                self._set_group(None, None)

    def _set_group(self, sid, name):
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(sid, name)

    def span_of(self, group_id: str) -> str | None:
        """The span id a job group belongs to, or None for foreign groups."""
        if re.fullmatch(r"s\d+", group_id) and int(group_id[1:]) < len(self.spans):
            return group_id
        return None

    def by_id(self, sid: str) -> dict:
        return self.spans[int(sid[1:])]

    def seconds(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def descendants(self, sid: str) -> set[str]:
        out, frontier = {sid}, [sid]
        while frontier:
            cur = frontier.pop()
            for s in self.spans:
                if s["parent"] == cur and s["id"] not in out:
                    out.add(s["id"])
                    frontier.append(s["id"])
        return out

    def dump(self, path: str, spark_by_span: dict | None = None) -> None:
        spans = [dict(s, spark=(spark_by_span or {}).get(s["id"])) for s in self.spans]
        with open(path, "w") as fh:
            json.dump(spans, fh, indent=1)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session config that writes one uncompressed JSON event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _event_logs(log_dir: str) -> list[str]:
    """One event-log file per SparkContext the run started."""
    return [p for p in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True))
            if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))]


def _events(path: str):
    with open(path) as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def _walk(node):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


def _first_arg(text: str) -> str:
    """The first top-level argument of a call whose ``(`` precedes ``text``."""
    depth = 0
    for i, ch in enumerate(text):
        if ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                return text[:i]
            depth -= 1
        elif ch == "," and depth == 0:
            return text[:i]
    return text


def _unpartitioned_windows(plan: dict) -> int:
    """Window operators whose window spec has no partition expressions: in
    ``windowspecdefinition(part..., order..., frame)`` the first argument is
    then a sort order or the frame itself."""
    n = 0
    for node in _walk(plan):
        if node.get("nodeName") != "Window":
            continue
        text = node.get("simpleString", "")
        at = text.find("windowspecdefinition(")
        if at < 0:
            continue
        first = _first_arg(text[at + len("windowspecdefinition("):]).strip()
        if first.startswith(("specifiedwindowframe", "unspecifiedframe")) or _SORT_ORDER.search(first):
            n += 1
    return n


def spark_metrics_by_group(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, failed task attempts, Python and codegen
    time (SQL metrics), shuffle-write and spill bytes, GC time, and executed
    Window operators with no partition spec (from each execution's final
    adaptive plan). Stage and execution ids restart with every SparkContext,
    so each event log is read on its own."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in _event_logs(log_dir):
        _read_log(path, out)
    return {g: dict(v) for g, v in out.items()}


def _read_log(path: str, out) -> None:
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    for ev in _events(path):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            acc = out[group]
            acc["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                acc["task_failures"] += 1
            tm = ev.get("Task Metrics") or {}
            acc["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            acc["spill_bytes"] += tm.get("Memory Bytes Spilled", 0)
            acc["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Name") == PYTHON_TIME:
                    acc["python_s"] += float(a.get("Update", 0)) / 1000.0
                elif a.get("Name") == CODEGEN_TIME:
                    acc["codegen_s"] += float(a.get("Update", 0)) / 1000.0
        elif kind.endswith("SQLExecutionStart"):
            group = ev.get("jobGroupId")
            if group is not None:
                exec_group[ev["executionId"]] = group
                exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            if ev["executionId"] in exec_plan:
                exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]
    for eid, plan in exec_plan.items():
        out[exec_group[eid]]["single_partition_windows"] += _unpartitioned_windows(plan)


def rollup_to_spans(tracer: Tracer, by_group: dict) -> dict[str, dict[str, float]]:
    """Inclusive per-span totals: a span's own groups plus its descendants'."""
    own: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for group, vals in by_group.items():
        sid = tracer.span_of(group)
        if sid is None:
            continue
        for k, v in vals.items():
            own[sid][k] += v
    incl = {}
    for s in tracer.spans:
        tot: dict[str, float] = defaultdict(float)
        for d in tracer.descendants(s["id"]):
            for k, v in own.get(d, {}).items():
                tot[k] += v
        incl[s["id"]] = dict(tot)
    return incl


def per_span_mean(tracer: Tracer, by_span: dict, name: str) -> dict[str, float]:
    """Mean of the inclusive Spark totals over every span called ``name``."""
    recs = [s["id"] for s in tracer.spans if s["name"] == name]
    tot: dict[str, float] = defaultdict(float)
    for sid in recs:
        for k, v in by_span.get(sid, {}).items():
            tot[k] += v
    return {k: v / len(recs) for k, v in tot.items()} if recs else {}


def spark_layers(totals: dict[str, float]) -> dict[str, float]:
    """The ``spark.*`` and ``plan.*`` per-layer metrics from span totals."""
    out = {f"spark.{k}": totals.get(k, 0.0) for k in (
        "jobs", "tasks", "task_failures", "python_s", "codegen_s",
        "shuffle_bytes", "spill_bytes", "gc_s")}
    out["plan.single_partition_windows"] = totals.get("single_partition_windows", 0.0)
    return out
