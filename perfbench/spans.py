"""In-memory spans around calls into the program, with Spark jobs and
stages attributed to them.

A span records name, start, end and its parent span. ``Tracer.wrap``
replaces a module attribute with a wrapper that opens a span per call, so
it only sees calls that resolve the attribute at call time. Spark jobs are
attributed after the run: a job belongs to every span open when it was
submitted (its submission time, read from the status store, falls inside
the span), and a span's stage metrics sum the stages of its jobs. Nothing
is written until ``dump``.
"""

from __future__ import annotations

import functools
import json
import math
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # set once a SparkContext exists

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append({"name": name, "parent": self._stack[-1] if self._stack else None,
                           "start": time.time(), "end": None, "rows": 0, "bytes": 0})
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def current(self) -> dict | None:
        return self.spans[self._stack[-1]] if self._stack else None

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``after(span,
        args, kwargs, result)`` runs inside the span once the call returns."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                result = fn(*args, **kwargs)
                if after is not None:
                    after(sp, args, kwargs, result)
                return result

        setattr(owner, attr, wrapper)

    def resolve(self) -> None:
        """Attach job ids and stage metrics (from the Spark status store)
        to every span. Call once, after the traced work."""
        for sp in self.spans:
            sp.update(jobs=[], stages=0, task_cpu_s=0.0, shuffle_write_bytes=0, spill_bytes=0)
        if self.sc is None:
            return
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        jobs = store.jobsList(None)
        job_stages: dict[int, tuple[int, list[int]]] = {}  # id -> submitted (ms), stages
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if not j.submissionTime().isDefined():
                continue
            ids = [int(s) for s in j.stageIds().mkString(",").split(",") if s]
            job_stages[int(j.jobId())] = (j.submissionTime().get().getTime(), ids)
        stages = store.stageList(None, False, False,
                                 self.sc._gateway.new_array(jvm.double, 0),
                                 jvm.java.util.ArrayList())
        metrics: dict[int, list] = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.status().toString() != "COMPLETE":
                continue  # skipped (exchange reused) or failed attempt
            metrics.setdefault(int(s.stageId()), []).append(
                (s.executorCpuTime() / 1e9, int(s.shuffleWriteBytes()),
                 int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())))
        for sp in self.spans:
            lo, hi = math.floor(sp["start"] * 1000), math.ceil(sp["end"] * 1000)
            mine = sorted(j for j, (t, _) in job_stages.items() if lo <= t <= hi)
            seen = {s for j in mine for s in job_stages[j][1] if s in metrics}
            sp["jobs"] = mine
            sp["stages"] = sum(len(metrics[s]) for s in seen)
            for s in seen:
                for cpu, shuffle, spill in metrics[s]:
                    sp["task_cpu_s"] += cpu
                    sp["shuffle_write_bytes"] += shuffle
                    sp["spill_bytes"] += spill

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_time(spans: list[dict], idx: int) -> float:
    """Span duration minus the part of it its direct children cover."""
    sp = spans[idx]
    kids = sum(s["end"] - s["start"] for s in spans if s["parent"] == idx)
    return (sp["end"] - sp["start"]) - kids
