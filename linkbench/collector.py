"""Per-layer collector: spans plus Spark's own job and stage accounting.

Measured from outside the package.  Each call into a layer's public
function runs under its own Spark job group; when it returns, the
collector waits for the listener bus to drain and reads every job the call
submitted from ``sc.statusTracker()`` and the status store
(``statusStore().job(id)`` / ``lastStageAttempt(sid)``), which are populated
with the UI off.

Jobs are attributed by id range, not only by group: the benchmark is one
closed-loop client, so every job submitted between a call's start and end
belongs to it.  That also catches jobs that carry no group (the package's
own thread pools, the streaming query thread).

Spans (name, start, end, parent) are kept in memory and written out once, as
JSON lines, when the run ends.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

LAYER_FIELDS = ("wall_s", "jobs", "stages", "shuffle_bytes", "executor_s", "driver_s")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    kind: str = "op"  # workload | pass | op | layer
    attrs: dict = field(default_factory=dict)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Records spans and per-layer Spark accounting when ``enabled``;
    otherwise every method is a pass-through that only times the call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_job = 0
        self._sc = None
        self.overhead_s = 0.0  # collector time spent outside the traced calls

    # -- session binding ---------------------------------------------------
    def bind(self, spark) -> None:
        """Attach to a (new) SparkContext, or detach with None; job ids
        restart at 0 with each context."""
        self._sc = spark.sparkContext if spark is not None else None
        self._next_job = 0

    # -- spans -------------------------------------------------------------
    def open(self, name: str, kind: str, **attrs) -> int:
        if not self.enabled:
            return -1
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent=parent, kind=kind, attrs=attrs))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def close(self, idx: int, **attrs) -> None:
        if not self.enabled:
            return
        span = self.spans[idx]
        span.end = time.time()
        span.attrs.update(attrs)
        self._stack.pop()

    # -- layer calls ---------------------------------------------------------
    def layer(self, name: str, fn, *args, **kwargs):
        """Run ``fn(*args, **kwargs)`` as a call into layer ``name``.
        Returns (result, record) where record holds the LAYER_FIELDS."""
        if not self.enabled:
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            return out, {"wall_s": time.perf_counter() - t0}
        sc = self._sc
        self._advance()
        idx = self.open(name, "layer")
        if sc is not None:
            sc.setJobGroup(f"linkbench:{name}:{idx}", name)
        start = time.time()
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        finally:
            wall = time.perf_counter() - t0
            end = time.time()
            c0 = time.perf_counter()
            rec = {"wall_s": wall}
            rec.update(self._read_jobs(start, end))
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.close(idx, **rec)
            self.spans[idx].end = end
            self.overhead_s += time.perf_counter() - c0
        return out, rec

    def _read_jobs(self, start: float, end: float) -> dict:
        rec = {"jobs": 0, "stages": 0, "shuffle_bytes": 0, "executor_s": 0.0,
               "driver_s": end - start}
        sc = self._sc
        if sc is None:
            return rec
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        intervals = []
        jid = self._next_job
        while True:
            info = tracker.getJobInfo(jid)
            if info is None:
                break
            rec["jobs"] += 1
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                t_end = done.get().getTime() / 1000.0 if done.isDefined() else end
                intervals.append((sub.get().getTime() / 1000.0, t_end))
            for sid in info.stageIds:
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                rec["executor_s"] += st.executorRunTime() / 1000.0
            jid += 1
        self._next_job = jid
        rec["driver_s"] = (end - start) - _covered(intervals, start, end)
        return rec

    def _advance(self) -> None:
        """Skip jobs run outside any layer call (set-up reads, output
        checks), so the next call does not claim them."""
        if self._sc is None:
            return
        c0 = time.perf_counter()
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        while tracker.getJobInfo(self._next_job) is not None:
            self._next_job += 1
        self.overhead_s += time.perf_counter() - c0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "kind": s.kind, "start": s.start,
                    "end": s.end, "parent": s.parent, **s.attrs,
                }) + "\n")
