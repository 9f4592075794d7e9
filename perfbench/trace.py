"""The traced run's instruments.

- `Tracer.wrap` replaces a package function, in its defining module and in
  every module that imported it by name, with a wrapper that records a span
  (name, start, end, parent) around each call. Nothing in the package
  changes on disk; `restore()` puts the originals back.
- `Tracer.plan` forces Catalyst planning (`executedPlan()`) of a row's
  plan and of its count inside its own span before the actions, so
  planning and execution separate.
- `read_jobs` parses the Spark event log of the run: per job its submit and
  end time, task count and shuffle bytes written.
- Each job is attributed to the innermost span open when it was submitted;
  the driver gap of an interval is its wall-clock not covered by any job.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "t0", "t1", "parent", "depth", "jobs")

    def __init__(self, name: str, t0: float, parent, depth: int):
        self.name, self.t0, self.t1, self.parent, self.depth = name, t0, None, parent, depth
        self.jobs: list = []

    @property
    def dur(self) -> float:
        return (self.t1 or time.time()) - self.t0

    def contains(self, other: "Span") -> bool:
        s = other
        while s is not None:
            if s is self:
                return True
            s = s.parent
        return False


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent, len(self._stack))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str, *importers) -> None:
        """Record a span named `name` around every call of module.attr."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        for mod in (module, *importers):
            if getattr(mod, attr, None) is orig:
                self._patched.append((mod, attr, orig))
                setattr(mod, attr, traced)

    def restore(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def plan(self, df, label: str):
        """Plan `df` and the count of `df`; returns the count Dataset, whose
        collect() is what df.count() runs."""
        with self.span(f"catalyst.plan:{label}"):
            cnt = df.groupBy().count()
            df._jdf.queryExecution().executedPlan()
            cnt._jdf.queryExecution().executedPlan()
        return cnt

    # -------------------------------------------------------------- jobs

    def attribute(self, jobs: list[dict]) -> None:
        """Give every job to the innermost span open at its submission."""
        spans = sorted(self.spans, key=lambda s: s.t0)
        for j in jobs:
            best = None
            for s in spans:
                if s.t0 > j["submit"]:
                    break
                if s.t1 is not None and s.t1 >= j["submit"] and (best is None or s.depth >= best.depth):
                    best = s
            if best is not None:
                best.jobs.append(j)

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name == prefix or s.name.startswith(prefix + ":")]


def jobs_within(span: Span, spans: list[Span]) -> list[dict]:
    """Jobs attributed to `span` or to any span nested in it."""
    return [j for s in spans if span.contains(s) for j in s.jobs]


def self_time(span: Span, spans: list[Span]) -> float:
    return span.dur - sum(s.dur for s in spans if s.parent is span)


def gap(span: Span, jobs: list[dict]) -> float:
    """Wall-clock of the span not covered by any job interval."""
    iv = sorted(
        (max(j["submit"], span.t0), min(j["end"], span.t1))
        for j in jobs
        if j["end"] > span.t0 and j["submit"] < span.t1
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in iv:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return max(0.0, span.dur - covered)


def read_jobs(eventlog_dir: str) -> list[dict]:
    """Jobs from the Spark event logs under `eventlog_dir`."""
    jobs: dict[tuple[str, int], dict] = {}
    stage_job: dict[tuple[str, int], tuple[str, int]] = {}
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        app = os.path.dirname(path) if "eventlog_v2_" in path else path
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = (app, ev["Job ID"])
                    jobs[key] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "tasks": 0,
                        "shuffle_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[(app, sid)] = key
                elif kind == "SparkListenerJobEnd":
                    key = (app, ev["Job ID"])
                    if key in jobs:
                        jobs[key]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    key = stage_job.get((app, ev.get("Stage ID")))
                    if key is None or key not in jobs:
                        continue
                    jobs[key]["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    jobs[key]["shuffle_bytes"] += int(sw.get("Shuffle Bytes Written", 0))
    return [j for j in jobs.values() if j["end"] is not None]
