"""Tracing from outside the engine: spans around public calls, the Spark
event log, and a resident-memory sampler.

A span tags every Spark job it starts with the local property
``perfbench.span``; the event log carries that property on each job, so
task metrics and the executed plans' SQL metrics can be summed per span
after the session stops. With tracing off a span is a no-op.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"


class Spans:
    """Nested named spans. A span's path joins the names of the open spans
    with '/', and every Spark job started inside it carries that path."""

    def __init__(self, sc=None):
        self.sc = sc  # None: tracing off
        self.records: list[tuple[str, float]] = []  # (path, seconds)
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield
            return
        self._stack.append(name)
        path = "/".join(self._stack)
        self.sc.setLocalProperty(SPAN_PROP, path)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.records.append((path, time.perf_counter() - t0))
            self._stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, "/".join(self._stack) or None)

    def seconds(self, path: str) -> list[float]:
        return [s for p, s in self.records if p == path]


def _tree_rss_bytes(root: int) -> int:
    """Summed RSS of `root` and its descendants, read from /proc.

    A java process whose parent is also java is the JVM's own fork that
    has not exec'd yet (Hadoop's local file system runs `chmod` and the
    like through fork); until it execs it maps the whole JVM, so counting
    it would add the JVM a second time. Such clones are skipped. (PSS from
    smaps_rollup would avoid the double count too, but one read walks the
    JVM's page tables for ~30 ms.)"""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [(root, "")]
    while todo:
        p, parent_exe = todo.pop()
        try:
            exe = os.readlink(f"/proc/{p}/exe")
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        if not (exe.endswith("/java") and parent_exe.endswith("/java")):
            total += rss
        todo.extend((k, exe) for k in kids.get(p, ()))
    return total


class RssSampler:
    """Background thread tracking the peak summed RSS of this process
    tree, driver JVM and Python workers included."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self):
        me = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(me))
            if self._stop.wait(self.period_s):
                return


# --------------------------------------------------------------- event log
class EventLog:
    """Jobs, stages, tasks and SQL metrics of one application's event log."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        # accumulator id -> (SQL execution, node name, metric name, scanned location)
        self.acc_def: dict[int, tuple[int, str, str, str]] = {}
        self.acc_val: dict[int, float] = {}
        files = []
        for base, _, names in os.walk(log_dir):
            files += [os.path.join(base, n) for n in names
                      if not n.startswith(("appstatus", "."))]
        for path in sorted(files):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _plan(self, exec_id: int, info: dict):
        loc = (info.get("metadata") or {}).get("Location", "")
        for m in info.get("metrics", ()):
            self.acc_def[m["accumulatorId"]] = (exec_id, info["nodeName"], m["name"], loc)
        for ch in info.get("children", ()):
            self._plan(exec_id, ch)

    def _event(self, e: dict):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "span": props.get(SPAN_PROP), "start": e["Submission Time"] / 1e3,
                "sql": int(sql) if sql is not None else None,
                "end": None, "stages": e["Stage IDs"]}
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = self.stages.setdefault(si["Stage ID"], {"tasks": []})
            st["start"] = si.get("Submission Time", 0) / 1e3
            st["end"] = si.get("Completion Time", 0) / 1e3
            for a in si.get("Accumulables", ()):
                try:
                    self.acc_val[a["ID"]] = max(self.acc_val.get(a["ID"], 0.0), float(a["Value"]))
                except (KeyError, TypeError, ValueError):
                    pass
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            om = m.get("Output Metrics") or {}
            self.stages.setdefault(e["Stage ID"], {"tasks": []})["tasks"].append({
                "run_s": m.get("Executor Run Time", 0) / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "out_bytes": om.get("Bytes Written", 0),
            })
        elif kind.endswith("SparkListenerSQLExecutionStart") or \
                kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, v in e["accumUpdates"]:
                self.acc_val[acc_id] = float(v)

    # ---------------------------------------------------------- queries
    def span_jobs(self, span: str) -> list[dict]:
        """Jobs started inside the span, nested spans included."""
        return [j for j in self.jobs.values()
                if j["span"] is not None and (j["span"] == span or j["span"].startswith(span + "/"))]

    def span_stages(self, span: str) -> list[dict]:
        ids = {s for j in self.span_jobs(span) for s in j["stages"]}
        # stages listed by a job but skipped (reused shuffle) never ran
        return [self.stages[s] for s in sorted(ids) if s in self.stages and "start" in self.stages[s]]

    def totals(self, span: str) -> dict:
        stages = self.span_stages(span)
        tasks = [t for s in stages for t in s["tasks"]]
        out = {k: sum(t[k] for t in tasks) for k in
               ("run_s", "cpu_s", "gc_s", "spill", "shuffle_write")}
        out.update(jobs=len(self.span_jobs(span)), stages=len(stages), tasks=len(tasks))
        return out

    def jobs_wall(self, span: str) -> float:
        """Wall time covered by the span's jobs (union of intervals)."""
        iv = sorted((j["start"], j["end"]) for j in self.span_jobs(span) if j["end"])
        total, cur0, cur1 = 0.0, None, None
        for a, b in iv:
            if cur1 is None or a > cur1:
                if cur1 is not None:
                    total += cur1 - cur0
                cur0, cur1 = a, b
            else:
                cur1 = max(cur1, b)
        return total + ((cur1 - cur0) if cur1 is not None else 0.0)

    def task_skew(self, span: str) -> float:
        """max / median task run time of the span's busiest stage."""
        stages = [s for s in self.span_stages(span) if s["tasks"]]
        if not stages:
            return 0.0
        busiest = max(stages, key=lambda s: sum(t["run_s"] for t in s["tasks"]))
        runs = [t["run_s"] for t in busiest["tasks"]]
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 1.0

    def write_stage_s(self, span: str) -> float:
        """Summed duration of the span's stages that wrote output files."""
        return sum(s["end"] - s["start"] for s in self.span_stages(span)
                   if any(t["out_bytes"] for t in s["tasks"]))

    def sql_metric(self, span: str, node_prefix: str, metric: str, location: str = "") -> float:
        """Sum of one SQL metric over the plan nodes named `node_prefix*`
        (scanning a path containing `location`) in the SQL executions
        whose jobs ran in the span."""
        execs = {j["sql"] for j in self.span_jobs(span)} - {None}
        return sum(self.acc_val.get(a, 0.0) for a, (x, node, name, loc) in self.acc_def.items()
                   if x in execs and node.startswith(node_prefix) and name == metric
                   and location in loc)
