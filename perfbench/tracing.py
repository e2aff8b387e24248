"""Per-layer tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's side of each call into a layer:
:meth:`Tracer.wrap` swaps a public engine function or method for a
wrapper that times it.  Every span also sets the Spark job group to
``workload|op|layer`` so each job the engine launches is attributable:
``statusTracker`` counts the jobs per op, and the job intervals come from
the Spark event log that :func:`common.start_spark` enables for the traced
run only.  Spans stay in memory and are written out once, at the end.

The untraced run uses :class:`NullTracer`, which records nothing and
wraps nothing, so end-to-end metrics are measured without tracing cost.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict


class NullTracer:
    enabled = False

    def begin_op(self, op: str) -> None:
        pass

    def end_op(self) -> None:
        pass

    def span(self, name: str):
        return contextlib.nullcontext()

    def count(self, name: str, value: float = 1.0) -> None:
        pass

    def wrap(self, owner, attr: str, name: str, on_result=None, force=False) -> None:
        pass

    def unwrap_all(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, sc, workload: str) -> None:
        self.sc = sc
        self.workload = workload
        self.op = "setup"
        #: [name, op, start, end, parent index]
        self.spans: list[list] = []
        #: (op, counter name) -> value
        self.counts: dict[tuple[str, str], float] = defaultdict(float)
        #: op -> (start, end) wall window
        self.windows: dict[str, tuple[float, float]] = {}
        #: op -> job groups set while it ran
        self.groups: dict[str, set[str]] = defaultdict(set)
        #: op -> jobs counted by statusTracker at the end of the op
        self.tracker_jobs: dict[str, int] = {}
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._op_t0 = time.time()

    # -- ops (one epoch, batch or query) ------------------------------------
    def _set_group(self, layer: str) -> None:
        group = f"{self.workload}|{self.op}|{layer}"
        self.groups[self.op].add(group)
        self.sc.setJobGroup(group, group)

    def begin_op(self, op: str) -> None:
        self.op = op
        self._op_t0 = time.time()
        self._set_group("-")

    def end_op(self) -> None:
        self.windows[self.op] = (self._op_t0, time.time())
        tracker = self.sc.statusTracker()
        self.tracker_jobs[self.op] = sum(
            len(tracker.getJobIdsForGroup(g)) for g in self.groups[self.op]
        )

    # -- spans and counts -----------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, self.op, time.time(), None, parent])
        self._stack.append(idx)
        self._set_group(name)
        try:
            yield
        finally:
            self.spans[idx][3] = time.time()
            self._stack.pop()
            self._set_group(self.spans[parent][0] if parent is not None else "-")

    def count(self, name: str, value: float = 1.0) -> None:
        self.counts[(self.op, name)] += value

    def current(self) -> str | None:
        """Name of the innermost open span."""
        return self.spans[self._stack[-1]][0] if self._stack else None

    def wrap(self, owner, attr: str, name: str, on_result=None, force=False) -> None:
        """Time every call of ``owner.attr`` as span ``name``;
        ``on_result(tracer, args, kwargs, result)`` may record counts.
        With ``force`` the call returns a lazy DataFrame, which the span
        also evaluates in full (a ``noop`` write), so the span holds the
        work and not only the plan construction."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
                if force:
                    out.write.format("noop").mode("overwrite").save()
            if on_result is not None:
                on_result(tracer, args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- summaries -------------------------------------------------------------
    def span_seconds(self, name: str, ops: list[str], outside: str | None = None) -> float:
        """Mean seconds per op spent in spans called ``name``, leaving out
        those called directly from a span called ``outside``."""
        total = sum(
            s[3] - s[2]
            for s in self.spans
            if s[0] == name and s[1] in ops
            and (outside is None or s[4] is None or self.spans[s[4]][0] != outside)
        )
        return total / max(1, len(ops))

    def counter(self, name: str, ops: list[str]) -> float:
        """Mean per op of a counter."""
        return sum(self.counts.get((op, name), 0.0) for op in ops) / max(1, len(ops))

    def unattributed(self, ops: list[str]) -> float:
        """Mean per op of the wall no top-level span covers."""
        out = 0.0
        for op in ops:
            t0, t1 = self.windows[op]
            top = [(s[2], s[3]) for s in self.spans if s[1] == op and s[4] is None]
            out += (t1 - t0) - _union(top, t0, t1)
        return out / max(1, len(ops))

    def spark_split(self, event_log_dir: str, ops: list[str]) -> dict:
        """Per-op means of jobs, job-covered wall and driver gap, from the
        event log (read after the session stopped, which flushes it)."""
        intervals = _job_intervals(event_log_dir)
        jobs = job_s = gap_s = 0.0
        for op in ops:
            t0, t1 = self.windows[op]
            mine = [
                (a, b) for g, a, b in intervals
                if g is not None and g.split("|")[1:2] == [op]
            ]
            covered = _union(mine, t0, t1)
            jobs += len(mine)
            job_s += covered
            gap_s += (t1 - t0) - covered
        n = max(1, len(ops))
        return {
            "spark.jobs": jobs / n,
            "spark.job_s": job_s / n,
            "driver.gap_s": gap_s / n,
            "spark.tracker_jobs": sum(self.tracker_jobs.get(op, 0) for op in ops) / n,
        }

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"name": s[0], "op": s[1], "start": s[2], "end": s[3],
                         "parent": s[4]}
                        for s in self.spans
                    ],
                    "counts": [
                        {"op": op, "name": name, "value": v}
                        for (op, name), v in sorted(self.counts.items())
                    ],
                    "windows": self.windows,
                },
                f,
            )


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
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


def _job_intervals(event_log_dir: str) -> list[tuple[str | None, float, float]]:
    """(job group, start s, end s) of every job in the event log."""
    starts: dict[int, tuple[str | None, float]] = {}
    out = []
    paths = glob.glob(os.path.join(event_log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as f:
            for line in f:
                if '"SparkListenerJob' not in line[:40]:
                    continue
                ev = json.loads(line)
                if ev["Event"] == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    starts[ev["Job ID"]] = (group, ev["Submission Time"] / 1000.0)
                elif ev["Event"] == "SparkListenerJobEnd" and ev["Job ID"] in starts:
                    group, t0 = starts.pop(ev["Job ID"])
                    out.append((group, t0, ev["Completion Time"] / 1000.0))
    return out
