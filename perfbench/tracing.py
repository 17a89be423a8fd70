"""Spans, process counters and Spark event-log folding for the benchmark.

Spans are recorded by the benchmark around each public engine call
(name, start, end, parent, op id), kept in memory and written out once
at the end. A layer's self time is its duration minus the part of it
that its child spans cover.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_op = 0

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    @contextmanager
    def span(self, name: str, op: int = 0):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str) -> float:
        """Seconds spent in spans called ``name``."""
        return sum(
            s["end"] - s["start"] for s in self.spans if s["name"] == name
        )

    def tree(self) -> list[str]:
        """Indented span tree with each name collapsed per parent path:
        ``count  total_s  self_s  path``."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        agg: dict[tuple, list] = {}
        paths: list[tuple] = []
        for s, c in zip(self.spans, child):
            p = (paths[s["parent"]] if s["parent"] is not None else ()) + (
                s["name"],
            )
            paths.append(p)
            a = agg.setdefault(p, [0, 0.0, 0.0])
            a[0] += 1
            a[1] += s["end"] - s["start"]
            a[2] += s["end"] - s["start"] - c
        return [
            f"{n:5d} {tot:9.3f}s {slf:9.3f}s  {'  ' * (len(p) - 1)}{p[-1]}"
            for p, (n, tot, slf) in sorted(agg.items())
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- process counters (/proc) ------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def jvm_pid(parent: int) -> int | None:
    """The java child of ``parent`` (the Spark driver JVM)."""
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(stat[: -len("stat")] + "cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if int(fields[1]) == parent and b"java" in cmd.split(b"\0")[0]:
            return int(stat.split("/")[2])
    return None


def cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid``."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _CLK


def peak_rss_mb(pid: int) -> float:
    """Kernel-kept RSS high-water mark (VmHWM) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# -- Spark event log ---------------------------------------------------

SPARK_KEYS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.spill_bytes",
)


def fold_event_log(log_dir: str, t0_ms: float, t1_ms: float) -> dict:
    """Sum task metrics of the jobs, stages and tasks that finished
    inside the wall-clock window [t0_ms, t1_ms] (epoch milliseconds)."""
    out = dict.fromkeys(SPARK_KEYS, 0.0)
    paths = [
        os.path.join(d, f)
        for d, _, files in os.walk(log_dir)
        for f in files
        if f.startswith("events_")
    ]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobEnd":
                    if t0_ms <= ev.get("Completion Time", 0) <= t1_ms:
                        out["spark.jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if t0_ms <= info.get("Completion Time", 0) <= t1_ms:
                        out["spark.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    if not t0_ms <= ev["Task Info"]["Finish Time"] <= t1_ms:
                        continue
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    out["spark.tasks"] += 1
                    out["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    out["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    out["spark.shuffle_read_bytes"] += sr.get(
                        "Remote Bytes Read", 0
                    ) + sr.get("Local Bytes Read", 0)
                    out["spark.spill_bytes"] += m.get(
                        "Memory Bytes Spilled", 0
                    ) + m.get("Disk Bytes Spilled", 0)
    return out
