"""Tracing for the benchmark's traced runs: in-memory layer spans, Spark
event-log aggregation by job group, and the peak-RSS sampler.

Spans are recorded around calls into ``aide_spark``'s public entry points
from the benchmark's own code; nothing inside the package is instrumented.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import statistics
import threading
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory (name, start, end, parent, run id), written out
    once when the run ends."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.time()}
        self._stack.append(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class GroupStats:
    """Task metrics of every job run under one job group."""

    def __init__(self) -> None:
        self.tasks = 0
        self.run_ms = 0
        self.gc_ms = 0
        self.spill_bytes = 0
        self.shuffle_read = 0
        self.shuffle_write = 0
        self.stage_run_ms: dict[int, list[int]] = defaultdict(list)
        self.shuffle_stages: set[int] = set()

    def skew(self) -> float:
        """max/median task time of the group's heaviest stage."""
        if not self.stage_run_ms:
            return 1.0
        times = max(self.stage_run_ms.values(), key=sum)
        med = statistics.median(times)
        return max(times) / med if med > 0 else 1.0


def read_event_log(events_dir: str, app_id: str) -> dict[str, GroupStats]:
    """Aggregate a finished application's event log by ``spark.jobGroup.id``.
    Call after the SparkContext has stopped, when the log is complete."""
    (path,) = [p for p in glob.glob(os.path.join(events_dir, f"{app_id}*"))
               if not p.endswith(".inprogress")]
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if group is None or m is None:
                    continue
                g = groups[group]
                g.tasks += 1
                g.run_ms += m["Executor Run Time"]
                g.gc_ms += m["JVM GC Time"]
                g.spill_bytes += m["Disk Bytes Spilled"]
                rd = m["Shuffle Read Metrics"]
                g.shuffle_read += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                wr = m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                g.shuffle_write += wr
                if wr or m["Shuffle Write Metrics"]["Shuffle Records Written"]:
                    g.shuffle_stages.add(ev["Stage ID"])
                g.stage_run_ms[ev["Stage ID"]].append(m["Executor Run Time"])
    return groups


def _stat(pid: int) -> list[str] | None:
    """The fields of /proc/<pid>/stat after the command name, or None if
    the process is gone: [0] is the state, [1] the parent pid, [19] the
    start time."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root: int) -> dict[int, str]:
    """pid → start time of every running descendant of ``root`` (the
    driver JVM and the Python workers it forks), excluding ``root`` itself."""
    children, start = defaultdict(list), {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        pid = int(path.split("/")[2])
        fields = _stat(pid)
        if fields is None or fields[0] == "Z":
            continue
        children[int(fields[1])].append(pid)
        start[pid] = fields[19]
    out, todo = {}, list(children[root])
    while todo:
        pid = todo.pop()
        out[pid] = start[pid]
        todo.extend(children[pid])
    return out


def end_processes(procs: dict[int, str], timeout: float = 30.0) -> None:
    """Wait until every process of ``procs`` (pid → start time) has ended;
    SIGKILL those still running after ``timeout`` seconds and wait up to
    ten seconds more for them. A start time that differs means the pid was
    reused."""

    def running():
        return [p for p, st in procs.items()
                if (f := _stat(p)) is not None and f[0] != "Z" and f[19] == st]

    deadline, killed = time.monotonic() + timeout, False
    while left := running():
        if killed and time.monotonic() > deadline + 10:
            return
        if not killed and time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.05)


def _process_tree_rss_kb(root: int) -> int:
    """Summed VmRSS of every descendant of ``root``, excluding ``root``."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """A sleeping thread that records the peak summed RSS of this process's
    descendants."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _process_tree_rss_kb(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
