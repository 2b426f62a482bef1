"""Spans, layer probes and the Spark event-log reader.

A span is (name, start, end, parent, run_id). Spans live in memory
and are only summarised when the run ends. A layer's self time is its
span minus the part of that interval its child spans cover.

Layer probes wrap, from outside, the module functions through which a
program calls each layer (the program's source is not touched). Spark evaluates lazily, so most of a
layer's work runs after its function has returned, when the next
action fires. A top-level probe therefore opens a *sticky* segment: it
sets the Spark job group to the layer's name, and the segment stays
open until the next top-level probe or the end of the traced call. A
probe called from inside another probe records a nested span and
restores the outer job group on return.

The Spark event log (enabled for the benchmark's own session only)
attributes executor CPU, shuffle bytes, spill and the Arrow bytes
crossing the Python boundary to each job group.
"""

from __future__ import annotations

import functools
import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(spans: list[Span], idx: int) -> float:
    """Span ``idx``'s duration minus the time its direct children cover."""
    s = spans[idx]
    kids = [(c.start, c.end) for c in spans if c.parent == idx and c.end is not None]
    return s.duration - covered(kids, s.start, s.end)


class Tracer:
    """In-memory span recorder with sticky job-group segments."""

    def __init__(self, sc, run_id: str, clock=time.perf_counter):
        self.sc = sc
        self.run_id = run_id
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []  # open spans, innermost last
        self._root: int | None = None
        self._segment: int | None = None  # open sticky top-level segment
        self._group_name: str | None = None

    def _open(self, name: str, parent: int | None) -> int:
        self.spans.append(Span(name, self.clock(), None, parent, self.run_id))
        return len(self.spans) - 1

    def _close(self, idx: int | None) -> None:
        if idx is not None and self.spans[idx].end is None:
            self.spans[idx].end = self.clock()

    def _group(self, name: str | None) -> None:
        self._group_name = name
        if self.sc is None:
            return
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextmanager
    def root(self, name: str):
        """The traced call; everything inside it is attributed."""
        self._root = self._open(name, None)
        try:
            yield self._root
        finally:
            self._close(self._segment)
            self._close(self._root)
            self._segment = self._root = None
            self._group(None)

    @contextmanager
    def span(self, name: str):
        """A nested span with its own job group, restored on exit."""
        if self._stack:
            parent = self._stack[-1]
        elif self._segment is not None:
            parent = self._segment
        else:
            parent = self._root
        idx = self._open(name, parent)
        outer = self._group_name
        self._stack.append(idx)
        self._group(name)
        try:
            yield idx
        finally:
            self._stack.pop()
            self._close(idx)
            self._group(outer)

    def switch(self, name: str) -> None:
        """Close the open top-level segment and open one for ``name``."""
        self._close(self._segment)
        self._segment = self._open(name, self._root)
        self._group(name)

    def wrap(self, name: str, fn, sticky: bool = True):
        @functools.wraps(fn)
        def probe(*args, **kwargs):
            if self._root is None:
                return fn(*args, **kwargs)
            if sticky and not self._stack:
                self.switch(name)
                self._stack.append(self._segment)
                try:
                    return fn(*args, **kwargs)
                finally:
                    self._stack.pop()
            with self.span(name):
                return fn(*args, **kwargs)

        return probe

    @contextmanager
    def probes(self, targets):
        """Install probes given as (module, attribute, layer name,
        sticky); the original functions are put back on exit."""
        saved = []
        try:
            for mod, attr, name, sticky in targets:
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self.wrap(name, orig, sticky))
            yield
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    def _is_segment(self, i: int) -> bool:
        p = self.spans[i].parent
        return p is not None and self.spans[p].parent is None

    def _under(self, i: int, root_name: str | None) -> bool:
        while self.spans[i].parent is not None:
            i = self.spans[i].parent
        return root_name is None or self.spans[i].name == root_name

    def segment_self_times(self, root_name: str | None = None) -> dict[str, float]:
        """Self seconds of the top-level segments, summed by name."""
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if self._is_segment(i) and self._under(i, root_name):
                out[s.name] += self_time(self.spans, i)
        return dict(out)

    def nested_times(self, root_name: str | None = None) -> dict[str, float]:
        """Seconds of nested (non-segment, non-root) spans, by name."""
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if (s.parent is not None and not self._is_segment(i)
                    and self._under(i, root_name)):
                out[s.name] += s.duration
        return dict(out)

    def segment_order(self, root_name: str) -> list[str]:
        """Names of the segments under each root called ``root_name``,
        in the order they were opened."""
        roots = {i for i, s in enumerate(self.spans)
                 if s.parent is None and s.name == root_name}
        return [s.name for s in self.spans if s.parent in roots]

    def root_self_time(self, root_name: str) -> float:
        return sum(self_time(self.spans, i) for i, s in enumerate(self.spans)
                   if s.parent is None and s.name == root_name)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

ARROW_IN = "data sent to Python workers"
ARROW_OUT = "data returned from Python workers"


@dataclass
class GroupMetrics:
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    arrow_bytes_in: int = 0
    arrow_bytes_out: int = 0
    python_stage_s: float = 0.0
    python_stage_cpu_s: float = 0.0
    other_stage_s: float = 0.0


def parse_event_log(path: str) -> dict[str, GroupMetrics]:
    """Per job group metrics from an uncompressed Spark event log."""
    stage_group: dict[int, str] = {}
    python_stages: set[int] = set()
    stage_wall: dict[int, float] = {}
    task_cpu: dict[int, float] = defaultdict(float)
    groups: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    pending_tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    for sid in e.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                pending_tasks.append(e)
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                sid = si["Stage ID"]
                if si.get("Submission Time") and si.get("Completion Time"):
                    stage_wall[sid] = stage_wall.get(sid, 0.0) + (
                        si["Completion Time"] - si["Submission Time"]) / 1000.0
                if any(a.get("Name") == ARROW_IN for a in si.get("Accumulables", [])):
                    python_stages.add(sid)
    for e in pending_tasks:
        sid = e["Stage ID"]
        g = stage_group.get(sid)
        if g is None:
            continue
        m = groups[g]
        tm = e.get("Task Metrics") or {}
        cpu = tm.get("Executor CPU Time", 0) / 1e9
        m.cpu_s += cpu
        task_cpu[sid] += cpu
        sw = tm.get("Shuffle Write Metrics") or {}
        m.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
        m.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            name, upd = acc.get("Name"), acc.get("Update")
            if name == ARROW_IN:
                m.arrow_bytes_in += int(upd)
            elif name == ARROW_OUT:
                m.arrow_bytes_out += int(upd)
    for sid, g in stage_group.items():
        if sid not in stage_wall or g not in groups:
            continue
        if sid in python_stages:
            groups[g].python_stage_s += stage_wall[sid]
            groups[g].python_stage_cpu_s += task_cpu.get(sid, 0.0)
        else:
            groups[g].other_stage_s += stage_wall[sid]
    return dict(groups)


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".") and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]


# ---------------------------------------------------------------------------
# process tree: peak RSS and CPU seconds, read from /proc
# ---------------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is field 3 (state): ppid=4, utime..cstime=14..17, rss=24
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _CLK
    rss = int(fields[21]) * _PAGE
    return ppid, cpu, rss


def process_tree(root: int) -> dict[int, tuple[float, int]]:
    """pid -> (cpu seconds, rss bytes) for ``root`` and its descendants."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                stats[int(d)] = st
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _, _) in stats.items():
        kids[ppid].append(pid)
    out, todo = {}, [root]
    while todo:
        p = todo.pop()
        if p in stats:
            out[p] = stats[p][1:]
            todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s(root: int) -> float:
    return sum(cpu for cpu, _ in process_tree(root).values())


class RssSampler:
    """Samples the process tree's total RSS on a background thread."""

    def __init__(self, root: int, period_s: float = 0.2):
        self.root = root
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = sum(r for _, r in process_tree(self.root).values())
            self.peak_bytes = max(self.peak_bytes, rss)
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
