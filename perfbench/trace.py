"""Request timing, and in traced runs, per-layer spans.

Every request is timed by wall clock and by the CPU of the whole process
tree. A traced run (``--trace 1``) also records one span around each of
the benchmark's calls into a module of the engine. Each span sets its own
Spark job group; after the request, Spark's event log is read up to its
end and every job, stage and task is attributed to the span that started
it. Jobs on threads the engine owns (streaming micro-batches) carry
another group and are attributed by their submission time instead.
JVM counters are read between requests, never inside one.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench import host

MB = 1024 * 1024


class Request:
    """What one request cost: wall, tree CPU, spans and per-layer counts."""

    def __init__(self, kind: str):
        self.kind = kind
        self.wall_s = 0.0
        self.cpu_s = 0.0
        self.driver_cpu_s = 0.0
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)


class Tracer:
    def __init__(self, spark, traced: bool, event_dir: str | None):
        self.sc = spark.sparkContext
        self.traced = traced
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())
        self.event_dir = event_dir
        self._log = None
        self._log_pos = 0
        self._partial = b""
        self._accum_names: dict[int, str] = {}
        self._job_span: dict[int, dict] = {}
        self._stage_span: dict[int, dict] = {}
        self._stack: list[dict] = []
        self._by_group: dict[str, dict] = {}
        self._next = 0
        self.current: Request | None = None

    # -- the request and its spans ------------------------------------------
    @contextmanager
    def request(self, kind: str):
        req = Request(kind)
        self.current = req
        drv0, jvm0 = host.proc_cpu_s(os.getpid()), host.tree_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            yield req
        finally:
            req.wall_s = time.perf_counter() - t0
            req.driver_cpu_s = host.proc_cpu_s(os.getpid()) - drv0
            req.cpu_s = req.driver_cpu_s + host.tree_cpu_s(self.jvm_pid) - jvm0
            self.current = None

    @contextmanager
    def span(self, layer: str):
        """Time one call into ``layer``; a no-op outside traced runs."""
        if not self.traced:
            yield
            return
        self._next += 1
        group = f"perfbench-{self._next}"
        rec = {"layer": layer, "group": group, "t0": time.time(),
               "depth": len(self._stack), "jobs": []}
        self._stack.append(rec)
        self._by_group[group] = rec
        self.sc.setJobGroup(group, layer)
        try:
            yield
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["layer"])
            else:
                self.sc.setJobGroup("perfbench-idle", "idle")
            self.current.spans.append(rec)

    # -- JVM counters, read between requests --------------------------------
    def jvm_counters(self) -> dict[str, float]:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        gc_ms = sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans())
        codegen = self.sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return {
            "jit_ms": float(mf.getCompilationMXBean().getTotalCompilationTime()),
            "gc_s": gc_ms / 1000.0,
            "compiles": float(codegen.METRIC_COMPILATION_TIME().getCount()),
            "jvm_cpu_s": host.proc_cpu_s(self.jvm_pid),
            "tree_cpu_s": host.tree_cpu_s(self.jvm_pid),
        }

    # -- folding Spark's event log ------------------------------------------
    def fold(self, req: Request) -> None:
        """Attribute the events the request produced to its spans."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        for ev in self._new_events():
            self._fold_event(ev, req)
        for s in req.spans:
            busy = _union([(max(a, s["t0"]), min(b, s["t1"])) for a, b in s["jobs"]])
            s["outside_jobs_s"] = max(0.0, (s["t1"] - s["t0"]) - busy)

    def _new_events(self):
        if self._log is None:
            names = [n for n in os.listdir(self.event_dir) if not n.startswith(".")]
            if not names:
                return
            self._log = os.path.join(self.event_dir, names[0])
        with open(self._log, "rb") as f:
            f.seek(self._log_pos)
            chunk = f.read()
        self._log_pos += len(chunk)
        lines = (self._partial + chunk).split(b"\n")
        self._partial = lines.pop()
        for line in lines:
            if line.strip():
                yield json.loads(line)

    def _span_for(self, group: str | None, t_ms: float, req: Request):
        span = self._by_group.get(group or "")
        if span is not None:
            return span
        t = t_ms / 1000.0
        inside = [s for s in req.spans if s["t0"] <= t <= s.get("t1", t)]
        return max(inside, key=lambda s: s["depth"]) if inside else None

    def _fold_event(self, ev: dict, req: Request) -> None:
        kind = ev["Event"]
        c = req.counts
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            span = self._span_for(group, ev["Submission Time"], req)
            if span is None:
                return
            self._job_span[ev["Job ID"]] = span
            span["jobs"].append([ev["Submission Time"] / 1000.0, None])
            c[f"{span['layer']}.jobs"] += 1
            for sid in ev["Stage IDs"]:
                self._stage_span.setdefault(sid, span)
            c["spark.jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            span = self._job_span.pop(ev["Job ID"], None)
            if span is not None:
                for iv in span["jobs"]:
                    if iv[1] is None:
                        iv[1] = ev["Completion Time"] / 1000.0
                        break
        elif kind == "SparkListenerStageCompleted":
            if ev["Stage Info"]["Stage ID"] in self._stage_span:
                c["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            if ev["Stage ID"] not in self._stage_span:
                return
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            c["spark.tasks"] += 1
            c["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["spark.shuffle_read_mb"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            ) / MB
            c["spark.shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / MB
            c["spark.spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / MB
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _collect_metric_names(ev.get("sparkPlanInfo") or {}, self._accum_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev["accumUpdates"]:
                if self._accum_names.get(acc_id) == "number of files read":
                    c["files_read"] += value
                    c["scans"] += 1
        elif kind.endswith("QueryProgressEvent"):
            c["streaming.batches"] += 1
            c["streaming.batch_s"] += ev["progress"]["batchDuration"] / 1000.0


def _collect_metric_names(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", ()):
        _collect_metric_names(child, out)


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted((a, b) for a, b in intervals if b is not None and b > a):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
