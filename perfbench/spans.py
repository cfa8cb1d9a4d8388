"""Spans recorded by the benchmark, and Spark's event log turned into layers.

A span is (id, name, layer, start, end, parent, attrs) with epoch-second
times, so spans line up with the millisecond timestamps in Spark's event
log. Spans are kept in memory and written out once, at the end of a run.

`spark_layers` attributes the event log's jobs to the benchmark's
operations (an HTTP request or a declared query):
- a job that carries a job group (the server's per-request
  `graft-http-N`) goes to a grouped operation whose interval holds the
  whole group, the latest-started one when several do;
- a job without a group goes to the ungrouped operation (a DML request
  or a batch query; these never overlap each other) running when the
  job was submitted.
From that it derives the per-operation split between time covered by
Spark jobs (`spark`) and the rest (`driver`: dispatch, compile, planning
and result handling), plus the task-level counters.
"""
import itertools
import json
import math
from pathlib import Path

SLACK_S = 0.005  # HTTP timing and Spark timestamps come from different clocks' reads


class Tracer:
    def __init__(self, enabled):
        self.enabled = enabled
        self.spans = []
        self._ids = itertools.count(1)

    def span(self, name, layer, start, end, parent=None, **attrs):
        if not self.enabled:
            return None
        sid = next(self._ids)
        self.spans.append({"id": sid, "name": name, "layer": layer, "start": start,
                           "end": end, "parent": parent, "attrs": attrs})
        return sid

    def write(self, path):
        if self.enabled:
            Path(path).parent.mkdir(parents=True, exist_ok=True)
            Path(path).write_text(json.dumps(self.spans))


def self_times(spans):
    """Per-layer self time (s): span duration minus the union its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_len([(max(c["start"], s["start"]), min(c["end"], s["end"]))
                             for c in kids.get(s["id"], [])])
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def union_len(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(log_dir):
    """Jobs and tasks from every Spark event log file under log_dir."""
    jobs, stages, tasks = {}, {}, []
    # one file per application, or (rolling v2 logs) one directory per
    # application holding events_<n>_* parts
    for f in sorted(p for p in Path(log_dir).rglob("*") if p.is_file()):
        app = f.parent.name if f.parent != Path(log_dir) else f.name
        for line in f.read_text(errors="replace").splitlines():
            try:
                e = json.loads(line)
            except ValueError:
                continue  # the last line of a log cut by a kill
            if not isinstance(e, dict):
                continue
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                infos = e.get("Stage Infos") or [{}]
                jobs[(app, e["Job ID"])] = {
                    "submit": e["Submission Time"] / 1000.0, "end": None,
                    "group": props.get("spark.jobGroup.id"),
                    "site": infos[0].get("Stage Name", ""),
                    "stages": e.get("Stage IDs", [])}
            elif ev == "SparkListenerJobEnd":
                j = jobs.get((app, e["Job ID"]))
                if j:
                    j["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerStageSubmitted":
                si = e["Stage Info"]
                if "Submission Time" in si:
                    stages[(app, si["Stage ID"])] = si["Submission Time"] / 1000.0
            elif ev == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                im = tm.get("Input Metrics") or {}
                tasks.append({
                    "stage": (app, e["Stage ID"]), "launch": ti["Launch Time"] / 1000.0,
                    "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                    "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    + sw.get("Shuffle Bytes Written", 0),
                    "spill_b": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                    "input_b": im.get("Bytes Read", 0)})
    for (app, _), j in jobs.items():
        j["stages"] = [(app, s) for s in j["stages"]]
        if j["end"] is None:
            j["end"] = j["submit"]
    return list(jobs.values()), stages, tasks


def attribute(ops, jobs):
    """Map each job to an op index (ops: dicts with start, end, grouped)."""
    groups = {}
    for j in jobs:
        if j["group"]:
            g = groups.setdefault(j["group"], [j["submit"], j["end"], []])
            g[0], g[1] = min(g[0], j["submit"]), max(g[1], j["end"])
            g[2].append(j)
    owner = {}

    def pick(lo, hi, grouped):
        best = None
        for i, o in enumerate(ops):
            if o["grouped"] == grouped and o["start"] - SLACK_S <= lo and hi <= o["end"] + SLACK_S:
                if best is None or o["start"] > ops[best]["start"]:
                    best = i
        return best

    for lo, hi, js in groups.values():
        i = pick(lo, hi, True)
        for j in js:
            owner[id(j)] = i
    for j in jobs:
        if not j["group"]:  # the op running when the job was submitted
            owner[id(j)] = pick(j["submit"], j["submit"], False)
    return owner


def spark_layers(ops, log_dir, wall_s, tracer=None):
    """Generic per-layer metrics over `ops`, plus per-op job detail."""
    jobs, stage_submit, tasks = read_event_log(log_dir)
    owner = attribute(ops, jobs)
    per_op = [{"jobs": [], "stages": set()} for _ in ops]
    for j in jobs:
        i = owner.get(id(j))
        if i is not None:
            per_op[i]["jobs"].append(j)
            per_op[i]["stages"].update(j["stages"])
    stage_owner = {s: i for i, p in enumerate(per_op) for s in p["stages"]}
    for p in per_op:
        p["tasks"] = []
    for t in tasks:
        i = stage_owner.get(t["stage"])
        if i is not None:
            per_op[i]["tasks"].append(t)
    covered, driver = [], []
    for o, p in zip(ops, per_op):
        cov = union_len([(max(j["submit"], o["start"]), min(j["end"], o["end"]))
                         for j in p["jobs"]])
        p["spark_s"] = cov
        p["driver_s"] = max(0.0, (o["end"] - o["start"]) - cov)
        covered.append(cov)
        driver.append(p["driver_s"])
        if tracer is not None and o.get("span") is not None:
            for j in p["jobs"]:
                tracer.span("job", "spark", j["submit"], j["end"], parent=o["span"],
                            group=j["group"], site=j["site"])
    all_tasks = [t for p in per_op for t in p["tasks"]]
    delays = [t["launch"] - stage_submit[t["stage"]] for t in all_tasks
              if t["stage"] in stage_submit]
    n = max(1, len(ops))
    layers = {
        "driver.self_ms": 1000 * median(driver),
        "spark.job_ms": 1000 * median(covered),
        "spark.jobs_per_op": sum(len(p["jobs"]) for p in per_op) / n,
        "spark.stages_per_op": sum(len(p["stages"]) for p in per_op) / n,
        "spark.tasks_per_op": len(all_tasks) / n,
        "spark.scheduler_delay_ms": 1000 * median(delays),
        "spark.task_busy_ratio": sum(t["run_s"] for t in all_tasks) / max(wall_s, 1e-9),
        "spark.gc_s": sum(t["gc_s"] for t in all_tasks),
        "spark.shuffle_mb": sum(t["shuffle_b"] for t in all_tasks) / 1e6,
        "spark.spill_mb": sum(t["spill_b"] for t in all_tasks) / 1e6,
        "spark.input_mb": sum(t["input_b"] for t in all_tasks) / 1e6,
        "spark.unattributed_jobs": sum(1 for j in jobs if owner.get(id(j)) is None),
    }
    return layers, per_op


def median(xs):
    xs = sorted(xs)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


def quantile(xs, q):
    """Nearest-rank quantile (q in 0..1)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[max(0, math.ceil(q * len(xs)) - 1)]
