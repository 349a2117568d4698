"""Spans recorded from outside the program, plus Spark event-log parsing.

Nothing here edits the program. ``Tracer.wrap`` replaces a module or
class attribute with a timing wrapper; the program keeps calling the
same name and lands in the wrapper. Spans live in memory until the
benchmark asks for them.

A span is (layer, name, thread id, start, end) in ``time.perf_counter``
seconds. On Linux that clock is CLOCK_MONOTONIC, shared by every
process on the host, so client-side and server-side times compare
directly.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time


class Tracer:
    """In-memory span store. ``enabled`` turns recording on and off
    without unwrapping, so one process can run an untraced and a traced
    phase back to back."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list = []
        self._lock = threading.Lock()

    def record(self, layer: str, name: str, t0: float, t1: float) -> None:
        with self._lock:
            self.spans.append((layer, name, threading.get_ident(), t0, t1))

    def wrap(self, owner, attr: str, layer: str, name: str | None = None) -> None:
        fn = getattr(owner, attr)
        label = name or attr

        @functools.wraps(fn)
        def timed(*a, **kw):
            if not self.enabled:
                return fn(*a, **kw)
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.record(layer, label, t0, time.perf_counter())

        setattr(owner, attr, timed)


def wrap_dataframe_collect(tracer: Tracer, spark) -> None:
    """Split every ``DataFrame.collect`` into planning and execution.

    ``queryExecution().executedPlan()`` forces physical planning and
    caches the plan, so the collect that follows does not plan again.
    """
    DataFrame = type(spark.range(0))  # the concrete (classic) class
    collect = DataFrame.collect

    @functools.wraps(collect)
    def timed(self):
        if not tracer.enabled:
            return collect(self)
        t0 = time.perf_counter()
        self._jdf.queryExecution().executedPlan()
        t1 = time.perf_counter()
        try:
            return collect(self)
        finally:
            t2 = time.perf_counter()
            tracer.record("spark.plan", "collect", t0, t1)
            tracer.record("spark.collect", "collect", t1, t2)

    DataFrame.collect = timed


def exclusive_times(spans: list, t0: float, t1: float) -> dict:
    """Attribute every instant of [t0, t1] to one layer.

    An instant belongs to the innermost span active at it; a span's
    depth is the number of other spans that contain it, from any
    thread (a shard fan-out's spans sit inside the engine call that
    started them). Instants no span covers go to ``"server"``. The
    result's values add up to ``t1 - t0`` exactly, so a layer's entry
    is its self time: its spans' duration minus what children cover.
    """
    spans = [s for s in spans if s[4] > s[3]]
    depth = []
    for i, a in enumerate(spans):
        d = 0
        for j, b in enumerate(spans):
            if i != j and b[3] <= a[3] and a[4] <= b[4] and (
                (b[3], -b[4], j) < (a[3], -a[4], i)
            ):
                d += 1
        depth.append(d)
    cuts = sorted({t0, t1, *(min(max(s[3], t0), t1) for s in spans),
                   *(min(max(s[4], t0), t1) for s in spans)})
    out: dict = {}
    for lo, hi in zip(cuts, cuts[1:]):
        mid = (lo + hi) / 2
        best = None
        for s, d in zip(spans, depth):
            if s[3] <= mid < s[4] and (best is None or d > best[1]):
                best = (s[0], d)
        layer = best[0] if best else "server"
        out[layer] = out.get(layer, 0.0) + (hi - lo)
    return out


# -- Spark event log --------------------------------------------------------

_PY_NODES = ("Python", "Pandas", "Arrow")


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks from an uncompressed event log directory.

    Times are epoch milliseconds as Spark writes them. Returns
    ``{"jobs": [...], "stages": {id: {...}}}`` where each job carries
    its submit time, job group and stage ids, and each stage its
    submit time, Python flag and summed task metrics.
    """
    jobs, stages = [], {}
    files = sorted(
        os.path.join(d, name)
        for d, _dirs, names in os.walk(log_dir) for name in names
        # skip the rolling log's status marker and checksum files
        if not name.startswith(("appstatus", "."))
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append({
                        "id": ev["Job ID"],
                        "submit_ms": ev.get("Submission Time", 0),
                        "group": props.get("spark.jobGroup.id"),
                        "stages": list(ev.get("Stage IDs", [])),
                    })
                elif kind in ("SparkListenerStageSubmitted",
                              "SparkListenerStageCompleted"):
                    info = ev["Stage Info"]
                    st = _stage(stages, info["Stage ID"])
                    if info.get("Submission Time"):
                        st["submit_ms"] = info["Submission Time"]
                    for rdd in info.get("RDD Info", []):
                        scope = rdd.get("Scope") or ""
                        if any(n in scope or n in rdd.get("Name", "")
                               for n in _PY_NODES):
                            st["python"] = True
                elif kind == "SparkListenerTaskEnd":
                    st = _stage(stages, ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    st["tasks"] += 1
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    st["deser_ms"] += m.get("Executor Deserialize Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0))
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill"] += (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0))
                    st["launch_ms"].append(info.get("Launch Time", 0))
    return {"jobs": jobs, "stages": stages}


def _stage(stages: dict, sid: int) -> dict:
    if sid not in stages:
        stages[sid] = {
            "submit_ms": 0, "python": False, "tasks": 0, "run_ms": 0,
            "cpu_ms": 0.0, "deser_ms": 0, "shuffle_read": 0,
            "shuffle_write": 0, "spill": 0, "launch_ms": [],
        }
    return stages[sid]


def stage_totals(log: dict, jobs: list) -> dict:
    """Summed task metrics over the (distinct) stages of ``jobs``."""
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "run_ms": 0.0,
           "cpu_ms": 0.0, "deser_ms": 0.0, "py_gap_ms": 0.0,
           "shuffle_bytes": 0, "shuffle_write": 0, "spill": 0,
           "sched_wait_ms": 0.0}
    seen = set()
    for j in jobs:
        for sid in j["stages"]:
            st = log["stages"].get(sid)
            if sid in seen or st is None or st["tasks"] == 0:
                continue  # skipped stages (reused shuffle) run no task
            seen.add(sid)
            out["stages"] += 1
            out["tasks"] += st["tasks"]
            out["run_ms"] += st["run_ms"]
            out["cpu_ms"] += st["cpu_ms"]
            out["deser_ms"] += st["deser_ms"]
            if st["python"]:
                out["py_gap_ms"] += max(0.0, st["run_ms"] - st["cpu_ms"])
            out["shuffle_bytes"] += st["shuffle_read"] + st["shuffle_write"]
            out["shuffle_write"] += st["shuffle_write"]
            out["spill"] += st["spill"]
            if st["submit_ms"]:
                out["sched_wait_ms"] += sum(
                    max(0, t - st["submit_ms"]) for t in st["launch_ms"]
                )
    return out
