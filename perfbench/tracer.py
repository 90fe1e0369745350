"""Spans and Spark job/stage counts, recorded from outside the program.

A span wraps one call into a public function of the engine. Each span
gets its own Spark job group (``setJobGroup`` with a fresh id), so the
jobs it launched are read back through ``statusTracker`` without
accumulating across calls. Nested spans restore their parent's group on
exit, so a parent's own jobs and its children's jobs stay separate and
the parent's total is own + children.

``instrument`` swaps a class or module attribute for a wrapper that
opens a span around the original; ``restore`` puts the originals back.
``traced`` marks a traced run; an untraced run installs no wrappers
and opens no spans. Each span also times the tracer's own bookkeeping
(job-group switches and status reads), which gives the tracing
overhead.
"""

from __future__ import annotations

import functools
import itertools
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.traced:
            yield None
            return
        t_enter = time.perf_counter()
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "id": sid,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{os.getpid()}-{sid}",
        }
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setJobGroup(None, None)
            tracker = self.sc.statusTracker()
            jobs = list(tracker.getJobIdsForGroup(rec["group"]))
            stages = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                stages += len(info.stageIds) if info is not None else 0
            rec["own_jobs"], rec["own_stages"] = len(jobs), stages
            # the tracer's own bookkeeping around this call
            rec["overhead_s"] = (rec["start"] - t_enter) + (time.perf_counter() - rec["end"])
            self.spans.append(rec)

    def instrument(self, owner, attr: str, name: str, after=None) -> None:
        """Wrap ``owner.attr`` in a span named ``name``. ``after(rec,
        args, result)`` may add attributes once the call returned."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                result = original(*args, **kwargs)
                if after is not None:
                    after(rec, args, result)
                return result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # ------------------------------------------------------ read-back

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def total_jobs(self, rec: dict) -> tuple[int, int]:
        jobs, stages = rec["own_jobs"], rec["own_stages"]
        for c in self.children(rec):
            j, s = self.total_jobs(c)
            jobs += j
            stages += s
        return jobs, stages

    def overhead_pct(self) -> float:
        """Tracer bookkeeping as a share of the traced top-level wall
        time. Bookkeeping of a nested span falls inside its parent's
        interval and is counted once, in the numerator."""
        top = sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None)
        return sum(s["overhead_s"] for s in self.spans) / top * 100

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def descendants(self, rec: dict, name: str) -> list[dict]:
        out = []
        for c in self.children(rec):
            if c["name"] == name:
                out.append(c)
            out.extend(self.descendants(c, name))
        return out

    def export(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = []
        for s in sorted(self.spans, key=lambda s: s["start"]):
            jobs, stages = self.total_jobs(s)
            rec = {
                k: v for k, v in s.items()
                if k not in ("group", "start", "end", "own_jobs", "own_stages")
            }
            rec.update(
                start_s=round(s["start"] - t0, 6),
                dur_s=round(s["end"] - s["start"], 6),
                jobs=jobs,
                stages=stages,
            )
            out.append(rec)
        return out

