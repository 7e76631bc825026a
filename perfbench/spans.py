"""In-memory spans for the traced run, and the Spark event-log reader
that attributes jobs, tasks and SQL metrics to those spans.

A span wraps one call into the program (an operator call, a force, a
kernel call, an ablation step).  While a span is open its id is the
Spark job group, so every job the call triggers carries it in the event
log; :func:`read_event_log` adds task and SQL metrics up per span.
With tracing off, :meth:`Tracer.span` records nothing.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

# plan nodes that only wrap or rename rows between a refine filter and
# the Python eval feeding it
_PASS_THROUGH = ("Project", "InputAdapter", "WholeStageCodegen", "ColumnarToRow")


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = None  # SparkContext whose job group follows the open span
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{self.run_id}:{sid}", self.spans[sid]["name"])

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, sid: int) -> set[int]:
        out = {sid}
        for s in self.spans:  # appended parent-first
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its children cover (children of
        one span never overlap: the loop is single-threaded)."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def write(self, path: str) -> None:
        own = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": own[s["id"]]}) + "\n")


def _walk(node: dict, accum: dict[int, tuple[str, str]], refine: set[int],
          fed: set[int]) -> None:
    """Map accumulator ids to (node, metric); collect the row-count ids
    of each ``Filter`` over a Python eval (the refine) and of that eval
    (the candidates).  A Column refine has no such pair: Spark folds it
    into the join condition."""
    for m in node.get("metrics", []):
        accum[m["accumulatorId"]] = (node["nodeName"], m["name"])
    if node["nodeName"] == "Filter" and node.get("children"):
        child = node["children"][0]
        while child["nodeName"].startswith(_PASS_THROUGH) and child.get("children"):
            child = child["children"][0]
        if child["nodeName"] == "ArrowEvalPython":
            rows = lambda n: [m["accumulatorId"] for m in n.get("metrics", [])  # noqa: E731
                              if m["name"] == "number of output rows"]
            refine.update(rows(node))
            fed.update(rows(child))
    for c in node.get("children", []):
        _walk(c, accum, refine, fed)


def read_event_log(log_dir: str, run_id: str) -> dict[int, dict[str, float]]:
    """Per-span totals from an uncompressed, non-rolling event log.

    Keys: ``tasks``, ``failed_tasks``, ``executor_cpu_s``,
    ``executor_run_s``, ``gc_s``, ``spill_bytes``, ``shuffle_write_bytes``,
    ``shuffle_read_bytes``, ``python_worker_s``, ``broadcast_bytes``,
    ``refine_in_rows``, ``refine_out_rows`` and ``task_skew`` (max/median
    task run time of the span's longest stage).
    """
    stage_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    accum: dict[int, tuple[str, str]] = {}
    refine_in: set[int] = set()
    refine_out: set[int] = set()
    stage_tasks: dict[int, list[float]] = {}
    out: dict[int, dict[str, float]] = {}

    def add(sid: int, key: str, v: float) -> None:
        d = out.setdefault(sid, {})
        d[key] = d.get(key, 0.0) + v

    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            events.extend(json.loads(line) for line in f)
    for ev in events:
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            if not group.startswith(run_id + ":"):
                continue
            sid = int(group.rsplit(":", 1)[1])
            for st in ev.get("Stage IDs", []):
                stage_span[st] = sid
            if props.get("spark.sql.execution.id") is not None:
                exec_span.setdefault(int(props["spark.sql.execution.id"]), sid)
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            _walk(ev["sparkPlanInfo"], accum, refine_out, refine_in)
    for ev in events:
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerDriverAccumUpdates":
            sid = exec_span.get(ev["executionId"])
            for acc_id, value in ev["accumUpdates"]:
                if sid is not None and accum.get(acc_id) == ("BroadcastExchange", "data size"):
                    add(sid, "broadcast_bytes", value)
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev["Stage ID"])
            if sid is None:
                continue
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            add(sid, "tasks", 1)
            ok = not info.get("Failed") and ev.get("Task End Reason", {}).get("Reason") == "Success"
            add(sid, "failed_tasks", 0 if ok else 1)
            add(sid, "executor_cpu_s", tm.get("Executor CPU Time", 0) / 1e9)
            run_s = tm.get("Executor Run Time", 0) / 1e3
            add(sid, "executor_run_s", run_s)
            add(sid, "gc_s", tm.get("JVM GC Time", 0) / 1e3)
            add(sid, "spill_bytes",
                tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0))
            sw = tm.get("Shuffle Write Metrics") or {}
            add(sid, "shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0))
            sr = tm.get("Shuffle Read Metrics") or {}
            add(sid, "shuffle_read_bytes",
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
            for acc in info.get("Accumulables", []):
                upd = float(acc.get("Update") or 0)
                if acc.get("Name") == "time to run Python workers":
                    add(sid, "python_worker_s", upd / 1e3)
                elif acc.get("ID") in refine_in:
                    add(sid, "refine_in_rows", upd)
                elif acc.get("ID") in refine_out:
                    add(sid, "refine_out_rows", upd)
            stage_tasks.setdefault(ev["Stage ID"], []).append(run_s)

    longest: dict[int, tuple[float, float]] = {}
    for st, times in stage_tasks.items():
        sid = stage_span[st]
        times.sort()
        med = times[len(times) // 2]
        if sum(times) > longest.get(sid, (-1.0, 0.0))[0]:
            longest[sid] = (sum(times), times[-1] / med if med > 0 else 1.0)
    for sid, (_, skew) in longest.items():
        out.setdefault(sid, {})["task_skew"] = skew
    return out
