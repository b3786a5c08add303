"""Spans recorded by the benchmark around its calls into each layer, and
Spark task metrics read back from the event log.

Spans stay in memory and are written out once, at the end of a traced
run.  Each span carries its name, start and end (seconds since the run
began), its parent span and the id of the workload iteration it belongs
to.  Every span also sets the Spark job group, so the event log's task
metrics can be attributed to the same layer.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, iteration: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if iteration is None and parent is not None:
            iteration = self.spans[parent]["iteration"]
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "iteration": iteration,
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]] if self._stack
                            else None)

    def _set_group(self, rec: dict | None) -> None:
        """Job group ``<span name>#<iteration>`` for the event log."""
        if self.sc is None:
            return
        group = "" if rec is None else f"{rec['name']}#{rec['iteration']}"
        self.sc.setJobGroup(group, group)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class NullTracer:
    """Untraced runs: same interface, records nothing, sets no job group."""

    @contextmanager
    def span(self, name: str, iteration: int | None = None):
        yield None


# -- Spark event log -------------------------------------------------------

def _event_log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {sorted(files)}")
    return files[0]


def task_metrics(log_dir: str) -> list[dict]:
    """Every finished task: its job group and stage, run/cpu/gc seconds,
    shuffle read/write and spill bytes."""
    stage_group: dict[int, str] = {}
    out: list[dict] = []
    with open(_event_log_file(log_dir)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id", "")
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                out.append({
                    "group": stage_group.get(ev["Stage ID"], ""),
                    "stage": ev["Stage ID"],
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_read": (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                })
    return out


def in_span(tasks: list[dict], name: str) -> list[dict]:
    """Tasks whose job group was set by spans called ``name``."""
    return [t for t in tasks if t["group"].split("#")[0] == name]


def straggler_ratio(tasks: list[dict]) -> float:
    """Max over median task run time in the stage that did the most
    work: how long the slowest part kept the result waiting."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    if not by_stage:
        return 0.0
    runs = max(by_stage.values(), key=sum)
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 0.0
