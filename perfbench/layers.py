"""Per-layer tables of a traced run, from spans and the Spark event log.

Every per-layer metric is printed on every workload; a layer the
workload does not exercise reads 0 (the prediction README.md makes
for it there).
"""

from __future__ import annotations

import statistics

from perfbench.trace import exclusive_times, read_event_log, stage_totals

# exclusive-time keys -> metric names; they add up to the client wall
SELF_TIMES = {
    "server": "server.self_ms",
    "engine": "engine.self_ms",
    "wand": "wand.self_ms",
    "ranker": "ranker.self_ms",
    "simsearch": "simsearch.self_ms",
    "spark.plan": "spark.plan_ms",
    "spark.collect": "spark.collect_ms",
}
SERVING = [
    *SELF_TIMES.values(), "engine.call_ms",
    "spark.jobs_per_req", "spark.stages_per_req", "spark.tasks_per_req",
    "spark.task_run_ms", "spark.task_cpu_ms", "spark.task_deser_ms",
    "spark.py_gap_ms", "spark.shuffle_bytes_per_req", "spark.orphan_jobs",
    "spark.loaded_sched_wait_ms", "trace.overhead_ms",
]
PHASES = ("build", "save", "save_blocked", "publish")
BUILD = [
    "engine.build_s", "engine.save_s", "engine.save_blocked_s", "pagerank.s",
    "indexer.tokenize_s", "compression.numbering_s", "compression.encode_s",
    *(f"spark.{p}.{m}" for p in PHASES
      for m in ("task_cpu_s", "py_gap_s", "shuffle_write_bytes", "spill_bytes")),
    "index.flat_bytes", "index.blocks_bytes", "index.sidecar_bytes",
    "index.bytes_per_doc",
]
UNITS = {"_ms": "ms", "_s": "s", ".s": "s", "_bytes": "B", "_mb": "MB",
         "bytes_per_req": "B", "bytes_per_doc": "B/doc"}


def unit(name: str) -> str:
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def as_metrics(values: dict) -> dict:
    return {
        name: (float(values.get(name, 0.0)), unit(name))
        for name in SERVING + BUILD
    }


def event_log(log_dir: str, clock) -> dict:
    """The run's event log with job submit times on the span clock."""
    log = read_event_log(log_dir)
    shift = clock[0] - clock[1]
    for j in log["jobs"]:
        j["t"] = j["submit_ms"] / 1000.0 - shift
    return log


def serving_layers(phases: dict, spans: dict, log_dir: str, report: dict) -> dict:
    """Mean per-request layer times over the traced 1-client phase."""
    log = event_log(log_dir, spans["clock"])
    all_spans = [tuple(s) for s in spans["spans"]]
    records = [r for r in phases["single"][0] if r[2] and r[8]]
    grouped: dict = {}
    for j in log["jobs"]:
        grouped.setdefault(j["group"], []).append(j)
    loose = grouped.get(None, [])

    rows, by_kind = [], {}
    for kind, _path, _ok, wall, t0, t1, _body, rid, _traced in records:
        inside = [s for s in all_spans if s[3] >= t0 and s[4] <= t1]
        excl = exclusive_times(inside, t0, t1)
        engine = [s for s in inside if s[0] == "engine"]
        top = [s for s in engine if not any(
            o is not s and o[3] <= s[3] and s[4] <= o[4] for o in engine
        )]
        # only one request is in flight at one client, so a job with no
        # group inside its window is its own (a fan-out pool thread's)
        orphans = [j for j in loose if t0 <= j["t"] <= t1]
        st = stage_totals(log, grouped.get(rid, []) + orphans)
        row = {SELF_TIMES[k]: v * 1000 for k, v in excl.items()}
        row.update({
            "wall_ms": wall * 1000,
            "engine.call_ms": sum(s[4] - s[3] for s in top) * 1000,
            "spark.jobs_per_req": st["jobs"],
            "spark.stages_per_req": st["stages"],
            "spark.tasks_per_req": st["tasks"],
            "spark.task_run_ms": st["run_ms"],
            "spark.task_cpu_ms": st["cpu_ms"],
            "spark.task_deser_ms": st["deser_ms"],
            "spark.py_gap_ms": st["py_gap_ms"],
            "spark.shuffle_bytes_per_req": st["shuffle_bytes"],
            "spark.orphan_jobs": len(orphans),
        })
        rows.append(row)
        by_kind.setdefault(kind, []).append(row)

    def mean(rs, key):
        return statistics.fmean(r.get(key, 0.0) for r in rs) if rs else 0.0

    keys = sorted({k for r in rows for k in r})
    report["layers"] = {
        kind: {"n": len(rs), **{k: mean(rs, k) for k in keys},
               "self_sum_ms": sum(mean(rs, k) for k in SELF_TIMES.values())}
        for kind, rs in sorted(by_kind.items())
    }
    values = {k: mean(rows, k) for k in keys}
    values["spark.orphan_jobs"] = sum(r["spark.orphan_jobs"] for r in rows)
    loaded = [r for r in phases["loaded"][0] if r[2]]
    values["spark.loaded_sched_wait_ms"] = statistics.fmean(
        stage_totals(log, grouped.get(r[7], []))["sched_wait_ms"] for r in loaded
    ) if loaded else 0.0
    walls = {
        tr: [r[3] * 1000 for r in phases["single"][0] if r[2] and r[8] == tr]
        for tr in (True, False)
    }
    values["trace.overhead_ms"] = (
        statistics.median(walls[True]) - statistics.median(walls[False])
    )
    report["layers"]["all"] = values
    return as_metrics(values)


def build_layers(res: dict, log_dir: str, report: dict) -> dict:
    """Phase spans plus event-log task metrics per build phase.

    A job belongs to the innermost span active when it was submitted.
    """
    log = event_log(log_dir, res["clock"])
    spans = [tuple(s) for s in res["spans"]]

    def total(layer, name, phase):
        """Summed wall of ``layer.name`` spans inside the ``phase`` span."""
        win = [s for s in spans if s[0] == "phase" and s[1] == phase]
        return sum(
            s[4] - s[3] for s in spans
            if s[0] == layer and s[1] == name
            and any(w[3] <= s[3] and s[4] <= w[4] for w in win)
        )

    owner: dict = {}
    for j in log["jobs"]:
        live = [s for s in spans if s[3] <= j["t"] <= s[4]]
        if live:
            inner = min(live, key=lambda s: s[4] - s[3])
            owner.setdefault(inner[1], []).append(j)
    phase_jobs: dict = {}
    for j in log["jobs"]:
        for s in spans:
            if s[0] == "phase" and s[3] <= j["t"] <= s[4]:
                phase_jobs.setdefault(s[1], []).append(j)
    report["by_innermost_span"] = {
        name: stage_totals(log, jobs) for name, jobs in owner.items()
    }

    values = {
        "engine.build_s": total("engine", "build", "build"),
        "engine.save_s": total("engine", "save", "save"),
        "engine.save_blocked_s": total("engine", "save_blocked", "save_blocked"),
        "pagerank.s": total("pagerank", "pagerank", "build"),
        "compression.numbering_s": total("compression", "numbering",
                                         "save_blocked"),
    }
    values["indexer.tokenize_s"] = values["engine.build_s"] - values["pagerank.s"]
    values["compression.encode_s"] = (
        values["engine.save_blocked_s"] - values["compression.numbering_s"]
    )
    for p in PHASES:
        st = stage_totals(log, phase_jobs.get(p, []))
        values[f"spark.{p}.task_cpu_s"] = st["cpu_ms"] / 1000
        values[f"spark.{p}.py_gap_s"] = st["py_gap_ms"] / 1000
        values[f"spark.{p}.shuffle_write_bytes"] = st["shuffle_write"]
        values[f"spark.{p}.spill_bytes"] = st["spill"]
    sz = res["sizes"]
    values.update({
        "index.flat_bytes": sz["flat"],
        "index.blocks_bytes": sz["blocks"],
        "index.sidecar_bytes": sz["sidecars"],
        "index.bytes_per_doc": (sz["blocks"] + sz["sidecars"]) / res["n_docs"],
    })
    report["layers"] = values
    return as_metrics(values)

