"""graft benchmark: one workload, one run, one JSON result line.

Usage (from the root of a graft checkout):
    python3 perfbench/run.py --workload serve|batch --seed N \
        --seconds S --trace 0|1

Builds the engine from source on first use (sbt, offline), generates the
workload's tables from the seed, runs the workload, checks every output,
and prints as its last stdout line
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1: Spark event log on, spans recorded). The
line before it is a `{"detail": ...}` object with the workload-specific
numbers (per-shape and per-query latencies, store size, ...). Read
perfbench/README.md for the workloads and the metric map.
"""
import argparse
import json
import signal
import sys
import time
import traceback
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing beside the benchmark's sources
sys.path.insert(0, str(Path(__file__).resolve().parent))

import engine  # noqa: E402
import spans  # noqa: E402

WORKLOADS = {"serve": "serve", "batch": "batch"}
RUN_LIMIT_S = 170


def spec():
    return json.loads((engine.ROOT / "BENCHMARK.json").read_text())


def tracing_overhead(workload, e2e):
    """Traced minus untraced end-to-end values, as % of the untraced median."""
    hist = engine.WORK / "results" / f"{workload}.jsonl"
    if not hist.is_file():
        return {}
    rows = [json.loads(ln) for ln in hist.read_text().splitlines() if ln.strip()]
    out = {}
    for k, v in e2e.items():
        base = spans.median([r[k] for r in rows if k in r])
        if base:
            out[f"trace_overhead.{k}_pct"] = 100.0 * (v - base) / base
    return out


def by_kind(ops, per_op):
    """Spark work and driver self time per operation kind (read, commit,
    query) and per shape (read shape, DML kind, or query name)."""
    out = {}
    for key in ("kind", "shape"):
        groups = {}
        for o, p in zip(ops, per_op):
            groups.setdefault(o[key], []).append(p)
        for g, ps in groups.items():
            n = len(ps)
            out[f"spark.jobs_per_op.{g}"] = sum(len(p["jobs"]) for p in ps) / n
            out[f"spark.tasks_per_op.{g}"] = sum(len(p["tasks"]) for p in ps) / n
            out[f"spark.shuffle_mb.{g}"] = sum(t["shuffle_b"] for p in ps for t in p["tasks"]) / 1e6
            out[f"spark.job_ms.{g}"] = 1000 * spans.median([p["spark_s"] for p in ps])
            out[f"driver.self_ms.{g}"] = 1000 * spans.median([p["driver_s"] for p in ps])
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    engine.require_checkout()
    s = spec()
    b = engine.build()
    signal.alarm(RUN_LIMIT_S)  # after the build, which may take minutes once
    mod = __import__(WORKLOADS[a.workload])
    tracer = spans.Tracer(bool(a.trace))
    event_dir = engine.temp_dir("events") if a.trace else None
    t0 = time.time()
    res = mod.run(b, a.seed, a.seconds, tracer, event_dir)
    e2e = res["metrics"]
    detail = dict(res["detail"], e2e=e2e)
    detail["run_s"] = time.time() - t0

    if a.trace:
        wall = a.seconds if a.workload == "serve" else detail["batch_s"]
        layers, per_op = spans.spark_layers(res["ops"], event_dir, wall, tracer)
        detail.update(by_kind(res["ops"], per_op))
        detail.update(tracing_overhead(a.workload, e2e))
        detail.update({f"self_s.{k}": v for k, v in spans.self_times(tracer.spans).items()})
        detail.update(layers)
        tracer.write(engine.WORK / "traces" / f"{a.workload}-{a.seed}.json")
        values, wanted = layers, s["per_layer"]
    else:
        hist = engine.WORK / "results" / f"{a.workload}.jsonl"
        hist.parent.mkdir(parents=True, exist_ok=True)
        with open(hist, "a") as f:
            f.write(json.dumps(e2e) + "\n")
        values, wanted = e2e, s["end_to_end"]

    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise engine.BenchError(f"workload produced no value for {missing}")
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


def _on_signal(signum, _frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGHUP, _on_signal)
    signal.signal(signal.SIGALRM, _on_signal)
    code = 0
    try:
        main()
    except engine.BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        code = 1
    except SystemExit as e:
        code = e.code if isinstance(e.code, int) else 2
    except BaseException:  # report, then still stop every child
        traceback.print_exc()
        code = 1
    finally:
        engine.stop_all()
        engine.cleanup_dirs()
    sys.exit(code)
