"""Benchmark-side tracing: spans around layer calls, Spark job groups,
event-log totals, and process memory.

Spans are recorded by the benchmark around its calls into each layer
(the program itself is not instrumented).  In a traced run every span
also opens its own Spark job group, so the event log attributes each
task to the layer call that launched it.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

_GROUP_SEP = "|"


class Tracer:
    """In-memory spans: name, start, end, parent, request id.

    Disabled, :meth:`span` only yields; enabled, each span sets a job
    group ``<name>|<index>`` for its duration (restoring the enclosing
    span's group on exit)."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _set_group(self, index: int | None) -> None:
        if index is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            name = self.spans[index]["name"]
            self.sc.setJobGroup(f"{name}{_GROUP_SEP}{index}", name)

    @contextlib.contextmanager
    def span(self, name: str, request_id: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        index = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(),
                           "end": None, "parent": parent,
                           "request_id": request_id})
        self._stack.append(index)
        self._set_group(index)
        try:
            yield
        finally:
            self.spans[index]["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def self_times(self) -> dict[str, float]:
        """name -> summed self time: each span's duration minus the part
        of it that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(
                    (s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(children.get(i, [])):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        """Spans as JSON lines, times relative to the first span."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "start": s["start"] - t0,
                                    "end": s["end"] - t0}) + "\n")


def event_log_conf(log_dir: str) -> dict:
    """Extra Spark conf that turns the event log on, as one uncompressed
    file."""
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def _empty_totals() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "output_mb": 0.0}


def event_log_totals(log_dir: str) -> dict[str, dict]:
    """Parse the (finished) event log in ``log_dir`` into totals per
    span name: jobs, stages, tasks, failed tasks, task run time, CPU, GC,
    shuffle bytes written, bytes spilled to disk and output bytes.
    Work outside any span is keyed by ``""``."""
    files = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {files}")
    stage_group: dict[int, str] = {}
    totals: dict[str, dict] = {}

    def bucket(group: str | None) -> dict:
        name = (group or "").split(_GROUP_SEP)[0]
        return totals.setdefault(name, _empty_totals())

    with open(os.path.join(log_dir, files[0]), encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                bucket(ev.get("Properties", {}).get("spark.jobGroup.id"))[
                    "jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                group = ev.get("Properties", {}).get("spark.jobGroup.id")
                stage_group[ev["Stage Info"]["Stage ID"]] = group
                bucket(group)["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                t = bucket(stage_group.get(ev["Stage ID"]))
                t["tasks"] += 1
                if ev["Task Info"].get("Failed"):
                    t["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                t["run_s"] += m.get("Executor Run Time", 0) / 1e3
                t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
                t["shuffle_write_mb"] += m.get(
                    "Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0) / 2**20
                t["output_mb"] += m.get("Output Metrics", {}).get(
                    "Bytes Written", 0) / 2**20
    return totals


def sum_totals(totals: dict[str, dict], prefix: str | None = None) -> dict:
    """Totals over every span name equal to or under ``prefix`` (every
    span, but not the work outside spans, when ``prefix`` is None)."""
    out = _empty_totals()
    for name, t in totals.items():
        if (name != "" if prefix is None
                else name == prefix or name.startswith(prefix + ".")):
            for k, v in t.items():
                out[k] += v
    return out


# -- memory ---------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of the JVM plus its live descendants (the Python
    workers), in MiB."""
    kb = _peak_rss_kb(jvm_pid) + sum(
        _peak_rss_kb(p) for p in descendants(jvm_pid))
    return kb / 1024
