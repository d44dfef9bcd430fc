"""Spans recorded around calls into the engine's layers, and the event log.

A disabled ``Tracer`` (the untraced runs) records nothing; the traced run
enables it. An enabled tracer keeps spans (name, start, end, parent, operation id)
in memory, tags every Spark job started inside a span with the span id as
its job group, and writes the spans out when the run ends. The Spark event
log (enabled through the session conf) is parsed afterwards so task,
stage and scan metrics can be attributed to spans.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict


def median0(xs) -> float:
    """Median of the samples, 0 when a workload produced none."""
    return statistics.median(xs) if xs else 0.0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._spark = None

    def bind(self, spark) -> None:
        self._spark = spark

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        """Times the enclosed call as one span; a no-op when disabled."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": sid, "name": name, "parent": parent, "op": op,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self._spark.sparkContext if self._spark is not None else None
        if sc is not None:
            sc.setJobGroup(f"span-{sid}", name, False)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(f"span-{parent}", self.spans[parent]["name"], False)

    def self_times(self) -> dict[str, list[float]]:
        """Span name -> self times (duration minus the part covered by
        child spans; children never overlap in this closed loop)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            out[s["name"]].append(max(0.0, s["end"] - s["start"] - child[s["id"]]))
        return out

    def durations(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            out[s["name"]].append(s["end"] - s["start"])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --- event log ---------------------------------------------------------------

FILES_READ_METRIC = "number of files read"


def _plan_metric_ids(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for c in plan.get("children", []):
        _plan_metric_ids(c, out)


def parse_event_log(log_dir: str, spans: list[dict]) -> dict:
    """Aggregates task/stage/scan metrics per span kind.

    Returns ``{"by_kind": {kind: {metric: value}}, "files_read": {span_id:
    files}}`` where a span's kind is the ``kind`` attribute of its
    top-level ancestor span."""
    kind_of: dict[str, str] = {}
    for s in spans:
        root = s
        while root["parent"] is not None:
            root = spans[root["parent"]]
        kind_of[f"span-{s['id']}"] = root.get("kind", root["name"])
    files_read: dict[str, float] = defaultdict(float)
    agg: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    # one log per SparkContext; stage and execution ids restart in each
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                   if os.path.isfile(p))
    for path in paths:
        stage_group: dict[int, str] = {}
        stage_submit: dict[int, float] = {}
        exec_group: dict[int, str] = {}
        metric_names: dict[int, str] = {}
        pending: list[tuple] = []
        with open(path) as f:
            lines = f.readlines()
        for line in lines:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue  # the last line of a log still being written
            et = ev.get("Event", "")
            if et == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                grp = props.get("spark.jobGroup.id")
                for st in ev.get("Stage IDs", []):
                    if grp:
                        stage_group[st] = grp
                eid = props.get("spark.sql.execution.id")
                if grp and eid is not None:
                    exec_group[int(eid)] = grp
            elif et == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if "Submission Time" in info:
                    stage_submit[info["Stage ID"]] = info["Submission Time"]
            elif et == "SparkListenerTaskEnd":
                st = ev["Stage ID"]
                grp = stage_group.get(st)
                kind = kind_of.get(grp, "untraced") if grp else "untraced"
                a = agg[kind]
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                a["tasks"] += 1
                if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
                    a["task_failures"] += 1
                a["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
                a["gc_s"] += m.get("JVM GC Time", 0) / 1000
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                om = m.get("Output Metrics") or {}
                a["output_bytes"] += om.get("Bytes Written", 0)
                if st in stage_submit and "Launch Time" in info:
                    a["task_wait_s"] += max(0, info["Launch Time"] - stage_submit[st]) / 1000
            elif et.endswith("SparkListenerSQLExecutionStart") or et.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metric_ids(ev.get("sparkPlanInfo", {}), metric_names)
            elif et.endswith("SparkListenerDriverAccumUpdates"):
                # posted while planning, before the execution's first job
                # names its group: resolve after the whole log is read
                pending.extend((ev.get("executionId"), a, v)
                               for a, v in ev.get("accumUpdates", []))
        for eid, acc_id, value in pending:
            grp = exec_group.get(eid)
            if grp and metric_names.get(acc_id) == FILES_READ_METRIC:
                files_read[grp] += value
    return {"by_kind": {k: dict(v) for k, v in agg.items()}, "files_read": dict(files_read)}
