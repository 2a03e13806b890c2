"""Measurement plumbing for the pipeline benchmark.

- :class:`RssSampler`: one thread outside Spark that samples the summed
  proportional set size (resident memory, shared pages split between
  the processes sharing them) of every descendant process -- the
  driver JVM and its Python workers -- from ``/proc`` and keeps the
  peak of a window.
- :class:`Tracer`: in-memory spans (name, start, end, parent, Spark
  job group) written out as JSON when the run ends.
- :func:`span_task_metrics`: reads a Spark event log and attributes
  task CPU, GC, shuffle and spill bytes, task record counts and
  Python-worker bytes to each job group, i.e. to each span.
- :func:`descendants_cpu_s`: CPU seconds of the same process tree.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, bytes]]:
    """pid -> (parent pid, command name) for every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        close = stat.rindex(b")")
        comm = stat[stat.index(b"(") + 1 : close]
        table[int(name)] = (int(stat[close + 2 :].split()[1]), comm)
    return table


def _descendants(root_pid: int) -> list[int]:
    """Descendant pids, leaving out a JVM's children that still run as
    ``java``: those are forks on their way to exec a helper, which
    share the JVM's memory for that instant."""
    table = _proc_table()
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, comm) in table.items():
        if not (comm == b"java" and table.get(ppid, (0, b""))[1] == b"java"):
            kids[ppid].append(pid)
    out, todo = [], list(kids.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        out.append(pid)
    return out


def descendants_pss_bytes(root_pid: int) -> int:
    """Proportional set size of the descendants: pages a forked Python
    worker still shares with its parent count once, not per process."""
    total = 0
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                for line in fh:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def descendants_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by every descendant (the JVM and the
    Python workers), including children they have reaped."""
    total = 0
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2 :].split()
        # utime, stime, cutime, cstime (fields 14-17 of proc(5))
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


class RssSampler:
    """Samples descendant memory every ``interval`` seconds on a daemon
    thread; :meth:`window` yields a dict whose ``peak_bytes`` is the
    highest sample taken while the window was open."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self._pid = os.getpid()
        self._lock = threading.Lock()
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            rss = descendants_pss_bytes(self._pid)
            with self._lock:
                self._peak = max(self._peak, rss)

    @contextmanager
    def window(self):
        with self._lock:
            self._peak = descendants_pss_bytes(self._pid)
        out = {"peak_bytes": 0}
        try:
            yield out
        finally:
            rss = descendants_pss_bytes(self._pid)
            with self._lock:
                out["peak_bytes"] = max(self._peak, rss)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """Spans kept in memory; each span tags its Spark jobs with a job
    group so the event log can attribute task metrics to it."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"pb-{sid}-{name}",
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


# SQL metric names of the Arrow Python evaluator (PythonSQLMetrics)
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _event_log_files(log_dir: str) -> list[str]:
    out = []
    for root, _, files in os.walk(log_dir):
        out.extend(
            os.path.join(root, f)
            for f in files
            if not f.startswith(".") and not f.endswith(".crc")
        )
    return sorted(out)


def span_task_metrics(log_dir: str) -> dict[str, dict]:
    """Per job group: summed task metrics and per-stage task record
    counts (for skew), parsed from the uncompressed JSON event log."""
    stage_group: dict[int, str] = {}
    acc: dict[str, dict] = defaultdict(
        lambda: defaultdict(float, stage_rows=defaultdict(list))
    )
    for path in _event_log_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id"
                    )
                    if group:
                        for sid in ev.get("Stage IDs", ()):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    _add_task(acc[group], ev)
    return acc


def _add_task(a: dict, ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    inp = tm.get("Input Metrics") or {}
    a["tasks"] += 1
    a["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    a["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
        "Disk Bytes Spilled", 0
    )
    a["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
    rows = inp.get("Records Read", 0) + sr.get("Total Records Read", 0)
    a["stage_rows"][ev.get("Stage ID")].append(rows)
    for item in (ev.get("Task Info") or {}).get("Accumulables", ()):
        if item.get("Name") in (_PY_SENT, _PY_RECV):
            a["arrow_bytes"] += float(item.get("Update") or 0)


def task_skew(stage_rows: dict[int, list]) -> float:
    """max / median task rows on the stage that read the most rows."""
    if not stage_rows:
        return 0.0
    rows = max(stage_rows.values(), key=sum)
    med = statistics.median(rows)
    return max(rows) / med if med else 0.0
