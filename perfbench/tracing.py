"""Spans, Spark event-log aggregation and process-tree RSS sampling.

A span is one call from the benchmark into an engine layer. ``Spans`` times
it on the Spark driver and tags every Spark job the call launches with the
local property ``SPAN_KEY``; Spark copies local properties into each job's
``SparkListenerJobStart.Properties``, so the uncompressed event log
attributes tasks to spans without any change to the engine. The property is
the benchmark's own key, not the job description, so attribution survives
engine code that sets job descriptions itself.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

SPAN_KEY = "linkforge.bench.span"

#: task-metric totals kept per span, in the order they are reported
TASK_FIELDS = (
    "jobs",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)


class Spans:
    """Driver-side walls of one repetition, keyed by span name. Jobs are
    tagged ``<span>/<rep>``; with a ``sampler``, the RSS sampler is armed
    inside every span."""

    def __init__(self, spark, rep: str, sampler: "RssSampler | None" = None):
        self._sc = spark.sparkContext
        self._rep = rep
        self._sampler = sampler
        self.walls: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        self._sc.setLocalProperty(SPAN_KEY, f"{name}/{self._rep}")
        armed = self._sampler.armed() if self._sampler else nullcontext()
        t0 = time.perf_counter()
        try:
            with armed:
                yield
        finally:
            self.walls[name] = self.walls.get(name, 0.0) + time.perf_counter() - t0
            self._sc.setLocalProperty(SPAN_KEY, None)


def _event_files(log_dir: str) -> list[str]:
    """Event-log files in write order (rolling logs number their parts)."""
    files = []
    for root, _dirs, names in os.walk(log_dir):
        for name in names:
            if name.startswith(".") or name.endswith(".inprogress"):
                continue
            m = re.match(r"events_(\d+)_", name)
            files.append((int(m.group(1)) if m else 0, os.path.join(root, name)))
    return [path for _, path in sorted(files)]


def span_task_totals(log_dir: str) -> dict[tuple[str, str], dict[str, float]]:
    """Sum the task metrics of every job tagged with ``SPAN_KEY``, per
    (span, repetition).

    A stage shared by several jobs counts toward the first job that lists it.
    Times are milliseconds and sizes bytes; spill is what went to disk.
    Executor times are JVM-side: Python worker CPU is not in them.
    """
    stage_span: dict[int, tuple[str, str]] = {}
    totals: dict[tuple[str, str], dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(TASK_FIELDS, 0)
    )
    files = _event_files(log_dir)
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tag = (ev.get("Properties") or {}).get(SPAN_KEY)
                    if tag is None:
                        continue
                    span = tuple(tag.rsplit("/", 1))
                    totals[span]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_span.setdefault(sid, span)
                elif kind == "SparkListenerTaskEnd":
                    span = stage_span.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if span is None or tm is None:
                        continue
                    t = totals[span]
                    t["tasks"] += 1
                    t["executor_run_ms"] += tm.get("Executor Run Time", 0)
                    t["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    t["gc_ms"] += tm.get("JVM GC Time", 0)
                    t["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    rd = tm.get("Shuffle Read Metrics") or {}
                    t["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    wr = tm.get("Shuffle Write Metrics") or {}
                    t["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
    return dict(totals)


def _proc_fields(pid) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state is [0],
    parent pid [1]); None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            # the command name may contain spaces and parentheses
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root_pid: int) -> list[int]:
    """Every live process below ``root_pid``."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _proc_fields(entry)
            if fields is not None:
                children[int(fields[1])].append(int(entry))
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    fields = _proc_fields(pid)
    return fields is not None and fields[0] != "Z"


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii", errors="replace") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


def _tree_rss_bytes(root_pid: int, page: int) -> int:
    """RSS of the JVM ``root_pid`` plus its Python workers. Other children
    (short-lived helpers the JVM spawns for file-system calls) are left out:
    until they exec they report the JVM's whole RSS a second time."""
    total = 0
    for pid in [root_pid, *filter(_is_python, descendants(root_pid))]:
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds while armed
    and keeps the peak. Use as a context manager; ``armed()`` brackets the
    timed sections."""

    def __init__(self, root_pid: int, interval: float = 0.05):
        self._pid = root_pid
        self._interval = interval
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak_bytes = 0

    def _sample(self) -> None:
        rss = _tree_rss_bytes(self._pid, self._page)
        with self._lock:
            self.peak_bytes = max(self.peak_bytes, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            if self._armed.is_set():
                self._sample()

    @contextmanager
    def armed(self):
        self._armed.set()
        try:
            yield
        finally:
            self._armed.clear()
            self._sample()  # the tail of a short section

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
