"""In-memory span tracer for the benchmark's layer boundaries.

A span records name, layer, start, end and parent; every span of one
benchmark run shares the run id.  Spans are opened from the benchmark's
own code around each call into a layer of the package, never inside the
package.  Each span runs under its own Spark job group, so the jobs,
stages and tasks Spark ran for that call are counted from
``SparkContext.statusTracker()`` when the span closes.

Spans stay in memory; :meth:`Tracer.dump` writes them out once, at the
end of the run.  A layer's self time is the span's duration minus the
time its child spans cover.
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """Collects spans of one run.  ``enabled=False`` makes every span a
    no-op, so untraced runs pay one attribute check per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself
        self._local = threading.local()
        self._lock = threading.Lock()
        self._sc = None

    def bind(self, sc) -> None:
        """Attach the live SparkContext used for job groups and counts."""
        self._sc = sc

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: dict | None = None):
        """Time the enclosed block as span ``name``; its layer is the part
        before the first dot.  ``parent`` links a span opened on another
        thread (a streaming batch callback) to its cause."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        par = parent if parent is not None else (stack[-1] if stack else None)
        sp = dict(
            id=uuid.uuid4().hex[:12], run=self.run_id, name=name,
            layer=name.split(".", 1)[0], parent=par["id"] if par else None,
            start=0.0, end=0.0, jobs=0, stages=0, tasks=0,
        )
        stack.append(sp)
        if self._sc is not None:
            self._sc.setJobGroup(sp["id"], name)
        self._charge(time.perf_counter() - t0)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            t1 = time.perf_counter()
            stack.pop()
            if self._sc is not None:
                self.count_jobs(sp, sp["id"])
                if stack:
                    self._sc.setJobGroup(stack[-1]["id"], stack[-1]["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(sp)
            self._charge(time.perf_counter() - t1)

    def _charge(self, dt: float) -> None:
        with self._lock:
            self.bookkeeping_s += dt

    def count_jobs(self, sp: dict, group: str) -> None:
        """Add the jobs, stages and tasks Spark ran under ``group``."""
        tracker = self._sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            sp["jobs"] += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    sp["stages"] += 1
                    sp["tasks"] += st.numTasks

    # --- views -----------------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Self time per span id: duration minus the union of the
        children's intervals (children of one span may overlap when they
        run on other threads)."""
        kids: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def descendants(self, root: dict) -> list[dict]:
        ids, out = {root["id"]}, []
        for s in sorted(self.spans, key=lambda s: s["start"]):
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def layer_self(self) -> dict[str, float]:
        """Self time summed per layer over every span."""
        st = self.self_times()
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
        return out

    def dump(self, path: str) -> None:
        """Write every span once, as JSON lines, times relative to the
        first span's start."""
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(dict(s, start=s["start"] - t0, end=s["end"] - t0)) + "\n")
