"""Spans around calls into the program's layers, with Spark counters.

A span records name, start, end, parent and run id. Spans live in
memory and are written out once, when the run ends. Each traced span
runs its Spark jobs under a job group of its own, so after the run the
engine's status store attributes every job, and the stages it ran, to
exactly one span. Counters are read once, at the end, so the measured
passes pay only for ``setJobGroup`` and a clock read per span.

A span's layer is the first dotted part of its name (``plans`` in
``plans.write_star_schema``); names outside the program's layers (such
as ``bench.pass``) group other spans and carry no layer.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
import uuid

LAYERS = ("session", "sources", "plans", "operators", "queries")
COUNTERS = ("exec_run_s", "exec_cpu_s", "gc_s", "input_mb", "output_mb",
            "shuffle_write_mb", "spill_mb", "tasks", "failed_tasks", "jobs")
MB = 1024.0 * 1024.0


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "group", "attrs", "counters")

    def __init__(self, sid: int, name: str, parent: int | None, group: str | None):
        self.id, self.name, self.parent, self.group = sid, name, parent, group
        self.start = time.perf_counter()
        self.end = self.start
        self.attrs: dict[str, object] = {}
        self.counters: dict[str, float] = {}

    @property
    def layer(self) -> str | None:
        head = self.name.split(".", 1)[0]
        return head if head in LAYERS else None

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - covered(children.get(s.id, []), s.start, s.end)
            for s in spans}


class Tracer:
    """Collects spans; ``enabled=False`` makes ``span`` a bare timer with
    no job groups and no records, which is how the untraced runs time."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._sc = None

    @contextlib.contextmanager
    def paused(self):
        """Time without recording, as an untraced run does."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    @contextlib.contextmanager
    def span(self, name: str, parent: Span | None = None, **attrs):
        """Time a block. ``parent`` overrides the thread's current span
        (client threads hang their requests under the pass that spawned
        them)."""
        if not self.enabled:
            s = Span(-1, name, None, None)
            try:
                yield s
            finally:
                s.end = time.perf_counter()
            return
        st = self._stack()
        par = parent if parent is not None else (st[-1] if st else None)
        with self._lock:
            sid = len(self.spans)
            s = Span(sid, name, par.id if par else None, f"{self.run_id}-{sid}")
            self.spans.append(s)
        s.attrs.update(attrs)
        st.append(s)
        self._set_group(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            st.pop()
            outer = st[-1] if st else par
            self._set_group(outer.group if outer else None, outer.name if outer else "")

    def _set_group(self, group: str | None, desc: str) -> None:
        if self._sc is None:
            return
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, desc)

    # ---- counters --------------------------------------------------------
    def collect_counters(self) -> None:
        """Read the engine's per-stage metrics for every span's job group.
        Waits up to 30 s in all for the status store to see jobs finish."""
        if not self.enabled or self._sc is None:
            return
        sc = self._sc
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        empty_list = jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        deadline = time.time() + 30.0
        for s in self.spans:
            c = dict.fromkeys(COUNTERS, 0.0)
            for job_id in tracker.getJobIdsForGroup(s.group) or []:
                info = tracker.getJobInfo(job_id)
                while info is not None and info.status == "RUNNING" and time.time() < deadline:
                    time.sleep(0.05)
                    info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                c["jobs"] += 1
                for sid in info.stageIds:
                    it = store.stageData(sid, False, empty_list, False, no_quantiles).iterator()
                    while it.hasNext():
                        sd = it.next()
                        if sd.status().toString() == "SKIPPED":
                            continue
                        c["exec_run_s"] += sd.executorRunTime() / 1e3
                        c["exec_cpu_s"] += sd.executorCpuTime() / 1e9
                        c["gc_s"] += sd.jvmGcTime() / 1e3
                        c["input_mb"] += sd.inputBytes() / MB
                        c["output_mb"] += sd.outputBytes() / MB
                        c["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                        c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
                        c["tasks"] += sd.numTasks()
                        c["failed_tasks"] += sd.numFailedTasks()
            s.counters = c

    # ---- aggregation -----------------------------------------------------
    def layer_metrics(self, nproc: int) -> dict[str, float]:
        """``<layer>.<counter>`` over every span of the layer. ``wall_s``
        sums the spans that have no ancestor in the same layer, so nested
        calls are not counted twice; counters sum each span's own jobs."""
        by_id = {s.id: s for s in self.spans}
        selfs = self_times(self.spans)
        out: dict[str, float] = {}
        for layer in LAYERS:
            mine = [s for s in self.spans if s.layer == layer]
            top = [s for s in mine if not _has_ancestor_in(s, layer, by_id)]
            agg = dict.fromkeys(COUNTERS, 0.0)
            for s in mine:
                for k, v in s.counters.items():
                    agg[k] += v
            wall = sum(s.duration for s in top)
            out[f"{layer}.calls"] = float(len(mine))
            out[f"{layer}.wall_s"] = wall
            out[f"{layer}.self_s"] = sum(selfs[s.id] for s in mine)
            for k in COUNTERS:
                out[f"{layer}.{k}"] = agg[k]
            out[f"{layer}.slot_busy_frac"] = (agg["exec_run_s"] / (wall * nproc)
                                              if wall > 0 else 0.0)
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        selfs = self_times(self.spans)
        rows = [{
            "run_id": self.run_id, "id": s.id, "name": s.name, "parent": s.parent,
            "start": s.start, "end": s.end, "self_s": selfs[s.id],
            "attrs": s.attrs, "counters": s.counters,
        } for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": rows, **(extra or {})}, fh)


def _has_ancestor_in(s: Span, layer: str, by_id: dict[int, Span]) -> bool:
    p = s.parent
    while p is not None:
        anc = by_id[p]
        if anc.layer == layer:
            return True
        p = anc.parent
    return False
