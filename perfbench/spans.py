"""Spans around the program's public entry points, and the Spark counters
attributed to them.

Only the traced run installs the wrappers; the untraced run measures the
program as it is. A span records name, start, end, parent span and a
request id (batch id, lookup number or query entry). Spans that can run
Spark jobs set their own job group, so the task metrics in Spark's event
log sum per span; the JVM and Python-worker CPU comes from /proc deltas.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

CODEGEN_FALLBACK = "Whole-stage codegen disabled"
JOB_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description")


class Tracer:
    def __init__(self, spark, procs, driver_log: str):
        self.sc = spark.sparkContext
        self.procs = procs
        self.driver_log = driver_log
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._installed: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans --

    @contextmanager
    def span(self, name: str, request=None, spark_jobs: bool = True):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent or {}).get("request"),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if spark_jobs:
            prev = [self.sc.getLocalProperty(k) for k in JOB_GROUP_KEYS]
            rec["group"] = f"pb-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
            rec["jvm_cpu0"] = self.procs.jvm_cpu_s()
            rec["py_cpu0"] = self.procs.pyworker_cpu_s()
            rec["log0"] = os.path.getsize(self.driver_log)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if spark_jobs:
                rec["jvm_cpu_s"] = self.procs.jvm_cpu_s() - rec.pop("jvm_cpu0")
                rec["pyworker_cpu_s"] = self.procs.pyworker_cpu_s() - rec.pop("py_cpu0")
                rec["log1"] = os.path.getsize(self.driver_log)
                for k, v in zip(JOB_GROUP_KEYS, prev):
                    self.sc.setLocalProperty(k, v)  # None clears the property
            self._stack.pop()

    def current(self) -> dict:
        return self._stack[-1]

    def wrap(self, owner, attr: str, name: str, spark_jobs: bool = True, after=None):
        """Replace ``owner.attr`` with a wrapper that records a span per
        call; ``after(rec, args, result)`` may add counts to the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, spark_jobs=spark_jobs) as rec:
                result = orig(*args, **kwargs)
            if after is not None:
                after(rec, args, result)
            return result

        setattr(owner, attr, wrapper)
        self._installed.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._installed):
            setattr(owner, attr, orig)
        self._installed.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # ------------------------------------------------------- derived --

    def children_of(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                out.setdefault(s["parent"], []).append(s)
        return out

    def self_time(self, s: dict, kids: dict[int, list[dict]]) -> float:
        """Span duration minus the union of its children's intervals."""
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            if cur_end is None or c["start"] > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = c["start"], c["end"]
            else:
                cur_end = max(cur_end, c["end"])
        if cur_end is not None:
            covered += cur_end - cur_start
        return (s["end"] - s["start"]) - covered

    def subtree_groups(self, s: dict, kids: dict[int, list[dict]]) -> list[str]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            if "group" in x:
                out.append(x["group"])
            todo.extend(kids.get(x["id"], []))
        return out

    def codegen_fallbacks(self, s: dict) -> int:
        return count_in_log(self.driver_log, s["log0"], s["log1"])


def count_in_log(path: str, start: int, end: int | None = None) -> int:
    with open(path, "rb") as f:
        f.seek(start)
        data = f.read() if end is None else f.read(max(0, end - start))
    return data.count(CODEGEN_FALLBACK.encode())


def read_event_log(log_dir: str, app_id: str) -> dict[str, dict]:
    """Sum TaskEnd metrics per job group from an uncompressed, unrolled
    event log. Returns {group: {tasks, jobs, cpu_s, gc_s, shuffle_write_mb,
    shuffle_read_mb, spill_mb, output_mb}}."""
    path = os.path.join(log_dir, app_id)
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def slot(g: str) -> dict:
        return out.setdefault(
            g,
            {"tasks": 0, "jobs": 0, "cpu_s": 0.0, "gc_s": 0.0,
             "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
             "spill_mb": 0.0, "output_mb": 0.0},
        )

    mb = 1024.0 * 1024.0
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                slot(g)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                s = slot(stage_group.get(ev.get("Stage ID"), ""))
                s["tasks"] += 1
                s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                s["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
                sr = m.get("Shuffle Read Metrics") or {}
                s["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / mb
                s["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / mb
                s["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / mb
    return out
