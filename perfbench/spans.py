"""Spans, py4j round-trip counts and peak RSS for the benchmark.

Spans are recorded from the benchmark's own files, around each call into a
layer of the engine: name, start, end and parent, kept in memory and
written out when the run ends. With tracing on, every span also becomes
the Spark job group of the jobs it starts (so the event log can be folded
back onto spans) and every py4j command the driver sends is counted.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, enabled: bool, log_path: str | None = None):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.log_path = log_path
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.on = True              # tracing on for the spans opened now
        self.fallbacks: dict[str, int] = {}
        self.py4j_calls = 0
        self._counting = True
        if enabled:
            client = self.sc._gateway._gateway_client
            send = client.send_command

            def counted(*args, **kwargs):
                if self._counting:
                    self.py4j_calls += 1
                return send(*args, **kwargs)

            # JavaObjects look send_command up on the shared client
            # instance, so one instance attribute sees every round trip
            client.send_command = counted

    def _set_group(self, group: str | None) -> None:
        self._counting = False
        try:
            self.sc.setLocalProperty(_GROUP, group)
        finally:
            self._counting = True

    @contextmanager
    def span(self, name: str, op: bool = False):
        """Time one call; yields the span record (fields filled on exit).

        A traced span (tracing enabled and `on`) sets its job group and is
        folded onto the event log; children inherit their parent's state.
        A traced run switches `on` off for a first timed window and on for
        a second, and the difference of the two is the tracing overhead."""
        parent = self._stack[-1] if self._stack else None
        traced = self.enabled and (self.spans[parent]["traced"]
                                   if parent is not None else self.on)
        group = f"{name}#{len(self.spans)}"
        if parent is not None:
            group = self.spans[parent]["group"] + "/" + group
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "group": group, "op": op, "traced": traced}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if traced:
            self._set_group(group)
        calls0 = self.py4j_calls
        cpu0 = tree_cpu_s(os.getpid()) if op else 0.0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if op:
                rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
            rec["py4j_calls"] = self.py4j_calls - calls0
            self._stack.pop()
            if traced:
                self._set_group(self.spans[parent]["group"]
                                if parent is not None
                                and self.spans[parent]["traced"] else None)

    def log_mark(self) -> int:
        return os.path.getsize(self.log_path) if self.log_path else 0

    def count_fallbacks(self, name: str, mark: int) -> None:
        """Count codegen compile failures the JVM logged since `mark`."""
        if not self.log_path:
            return
        with open(self.log_path, "rb") as f:
            f.seek(mark)
            n = f.read().lower().count(b"failed to compile")
        self.fallbacks[name] = self.fallbacks.get(name, 0) + n

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and "end" in s]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" in s:
                out[s["name"]] = out.get(s["name"], 0.0) + (
                    s["end"] - s["start"] - child[s["id"]])
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by `root` and all its descendants: the driver, the JVM and the Python
    workers. Unlike wall time it does not grow when the host steals the
    CPU from the box."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / _TICK


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def peak_rss_mb(pid: int) -> float:
    """The kernel's resident-memory high-water mark (VmHWM) of one process."""
    with open(f"/proc/{pid}/status", encoding="utf-8") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0
