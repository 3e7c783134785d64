"""Out-of-program instrumentation for the traced run.

Nothing here edits the engine: spans come from wrapping the public
functions of engine modules from the outside, job facts from the
Spark event log (parsed after the session stops), process facts
from ``/proc``.

- :class:`Tracer` wraps functions so each call records a span (name,
  parent, start, end) in memory and runs under its own Spark job
  group, so every job is attributed to the innermost span that
  launched it.
- :func:`parse_event_log` reads job intervals, stage and task counts
  per job group.
- :class:`RssSampler` samples the summed RSS of the driver, the JVM
  and the JVM's Python workers.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
import types
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    group: str
    t0: float
    t1: float = 0.0
    children: list[int] = field(default_factory=list)


class Tracer:
    """Spans around wrapped functions, kept in memory.

    ``begin_op`` / ``end_op`` bracket one benchmark operation: the op
    is the root span and sets the job group ``op<N>``; each wrapped
    call inside it opens a child span with group ``op<N>.<sid>``.
    ``overhead_s`` accumulates the time spent in this bookkeeping.
    """

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.overhead_s = 0.0

    def _open(self, name: str, group: str | None = None) -> Span:
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        sp = Span(sid, parent.sid if parent else None, name,
                  group or f"{parent.group}.{sid}", time.time())
        if parent is not None:
            parent.children.append(sid)
        self.spans.append(sp)
        self.stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        return sp

    def _close(self, sp: Span) -> None:
        sp.t1 = time.time()
        self.stack.pop()
        if self.stack:
            self.sc.setJobGroup(self.stack[-1].group, self.stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def begin_op(self, index: int, name: str) -> Span:
        t = time.perf_counter()
        sp = self._open(name, f"op{index}")
        self.overhead_s += time.perf_counter() - t
        return sp

    def end_op(self, sp: Span) -> None:
        t = time.perf_counter()
        self._close(sp)
        self.overhead_s += time.perf_counter() - t

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.stack:  # outside any op (setup): untraced
                return fn(*args, **kwargs)
            t = time.perf_counter()
            sp = tracer._open(name)
            tracer.overhead_s += time.perf_counter() - t
            try:
                return fn(*args, **kwargs)
            finally:
                t = time.perf_counter()
                tracer._close(sp)
                tracer.overhead_s += time.perf_counter() - t

        return traced

    def instrument(self, module, layer: str, names=None) -> None:
        """Wrap ``module``'s public functions (or ``names``) as spans
        ``<layer>.<fn>``, rebinding every reference held by a loaded
        module of the same package."""
        pkg = module.__name__.split(".")[0]
        if names is None:
            names = [
                n for n, v in vars(module).items()
                if not n.startswith("_") and isinstance(v, types.FunctionType)
                and v.__module__ == module.__name__
            ]
        for n in names:
            fn = getattr(module, n)
            traced = self.wrap(fn, f"{layer}.{n}")
            for mod in list(sys.modules.values()):
                if mod is None or not getattr(mod, "__name__", "").startswith(pkg):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, attr, traced)

    def subtree(self, sid: int) -> list[Span]:
        out, todo = [], [sid]
        while todo:
            sp = self.spans[todo.pop()]
            out.append(sp)
            todo.extend(sp.children)
        return out


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(tracer: Tracer, sp: Span) -> float:
    kids = [(tracer.spans[c].t0, tracer.spans[c].t1) for c in sp.children]
    return (sp.t1 - sp.t0) - union_length(kids)


@dataclass
class Job:
    group: str | None
    t0: float
    t1: float
    stages: int = 0
    tasks: int = 0


def parse_event_log(log_dir: str) -> list[Job]:
    """Jobs (group, interval in epoch seconds, completed stages and
    their tasks) from the one application event log in ``log_dir``
    (rolling ``eventlog_v2_*/events_<n>_*`` files, read in order)."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda f: int(os.path.basename(f).split("_")[1]),
    )
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(props.get("spark.jobGroup.id"), ev["Submission Time"] / 1e3, 0.0)
                    jobs[ev["Job ID"]] = j
                    for s in ev.get("Stage IDs", []):
                        stage_job[s] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].t1 = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    j = jobs.get(stage_job.get(info["Stage ID"]))
                    if j is not None:
                        j.stages += 1
                        j.tasks += info.get("Number of Tasks", 0)
    return [j for j in jobs.values() if j.t1 >= j.t0]


def _read_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _parent(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().rsplit(")", 1)[1].split()[1])
    except OSError:
        return None


def descendants(pid: int) -> list[int]:
    """``pid``'s live descendant processes, from ``/proc/*/stat``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            pp = _parent(int(d))
            if pp is not None:
                parent[int(d)] = pp
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of this process (the driver), its JVM child and
    the JVM's Python workers, sampled every ``interval`` seconds; also
    the peak of each part."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = {"total": 0, "driver": 0, "jvm": 0, "workers": 0}
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        me = os.getpid()
        kids = descendants(me)
        # the JVM is the driver's child; everything below it is a worker
        jvm = [p for p in kids if _parent(p) == me]
        parts = {
            "driver": _read_rss_kb(me),
            "jvm": sum(_read_rss_kb(p) for p in jvm),
            "workers": sum(_read_rss_kb(p) for p in kids if p not in jvm),
        }
        parts["total"] = sum(parts.values())
        for k, v in parts.items():
            self.peak_kb[k] = max(self.peak_kb[k], v)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def proc_io(pid: int) -> dict[str, int]:
    """``/proc/<pid>/io`` counters (bytes read and written by storage
    I/O); empty when the file is unreadable."""
    out = {}
    try:
        with open(f"/proc/{pid}/io") as fh:
            for line in fh:
                k, v = line.split(":")
                out[k.strip()] = int(v)
    except OSError:
        pass
    return out
