"""batch: one cold engine JVM runs a fixed list of declared queries once each.

Timing goes through `graft.Bench` (SPARK_GRAFT_BENCH_ONLY = the list,
SPARK_GRAFT_BENCH_PASSES=1, SPARK_GRAFT_BENCH_OUT = a file in the run
directory), so each query's number is a single cold run in list order and
layout builds stay in it; no minimum over passes is taken.

Outputs are checked through `graft.Verify` and `tools/check_oracle.py`
(the DuckDB oracle of `SparkEntry.oracleSql`) on a seed-chosen slice of
the list, rotating so that six consecutive seeds cover every query; a
query without an oracle is checked for rows only.
"""
import json
import re
import subprocess
import sys
import time

import pyarrow.parquet as pq

import engine
import gen_data
from spans import median, quantile, read_event_log

SF = 0.01
# (name, iterative?) in run order: GraphX and the DataFrame iterative
# operators first, then layouts, traversals, and the LLM-ops families
QUERIES = [
    ("connected_components", True),
    ("graph_hits", True),
    ("graph_lpa_modularity", True),
    ("graph_triangles", False),
    ("graph_clustering_top", False),
    ("match_2hop_revenue", False),
    ("asql_hop_chain", False),
    ("graphql_hop", False),
    ("dedup_minhash", False),
    ("sim_pq_topk", False),
    ("text_bm25", False),
    ("pipeline_quality_gate", False),
]
LLMOPS = ("dedup_minhash", "sim_pq_topk", "text_bm25", "pipeline_quality_gate")
CHECKED_PER_RUN = 2


def checked_slice(seed):
    names = [q for q, _ in QUERIES]
    start = (seed * CHECKED_PER_RUN) % len(names)
    return [names[(start + i) % len(names)] for i in range(CHECKED_PER_RUN)]


def bench(b, data_dir, out_json, extra_opts, timeout):
    names = ",".join(q for q, _ in QUERIES)
    env = engine.engine_env(SPARK_GRAFT_SF_DIR=data_dir, SPARK_GRAFT_BENCH_ONLY=names,
                            SPARK_GRAFT_BENCH_PASSES=1, SPARK_GRAFT_BENCH_OUT=out_json)
    t0 = time.time()
    p = engine.spawn(engine.java_cmd(b, "graft.Bench", [], extra_opts),
                     stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, env=env)
    rc, rss = engine.wait(p, timeout)
    t1 = time.time()
    if rc != 0:
        raise engine.BenchError(f"graft.Bench exited with {rc}")
    line = json.loads(open(out_json).read().splitlines()[0])
    return line, t0, t1, rss


def verify(b, data_dir, out_dir, names):
    """Return {query: problem or None} for the checked slice."""
    p = engine.spawn(engine.java_cmd(b, "graft.Verify", [str(data_dir), str(out_dir)] + names),
                     stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                     env=engine.engine_env())
    rc, _ = engine.wait(p, 60)
    if rc != 0:
        return {n: f"graft.Verify exited with {rc}" for n in names}
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    result = {}
    with_oracle = [n for n in names if n in oracle]
    if with_oracle:
        r = subprocess.run([sys.executable, str(engine.ROOT / "tools" / "check_oracle.py"),
                            str(data_dir), str(out_dir)] + with_oracle,
                           cwd=engine.ROOT, capture_output=True, text=True, timeout=60)
        for ln in r.stdout.splitlines():
            m = re.match(r"(\w+)\s+(\w+)", ln)
            if m and m.group(2) in with_oracle:
                result[m.group(2)] = None if m.group(1) == "OK" else ln.strip()
    for n in names:
        if n in oracle:
            result.setdefault(n, "no oracle verdict")
            continue
        files = sorted((out_dir / n).glob("*.parquet"))
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        result[n] = None if rows > 0 else "no rows"
    return result


def run(b, seed, seconds, tracer, event_dir):
    data_dir = engine.temp_dir("batch-data")
    gen_data.generate(str(data_dir), SF, seed)
    work = engine.temp_dir("batch-out")
    extra = engine.event_log_opts(event_dir)
    passes, rss, setups = [], 0.0, []
    while not passes or sum(sum(p[0]["queries"].values()) for p in passes) < seconds:
        out = work / f"bench-{len(passes)}.json"
        line, t0, t1, r = bench(b, str(data_dir), str(out), extra, timeout=120)
        passes.append((line, t0, t1))
        rss = max(rss, r)
        # set-up: JVM launch, session start and warm-up, and stop: all of the
        # launch that is not query time
        setups.append((t1 - t0) - sum(v for v in line["queries"].values() if v > 0))

    names = [q for q, _ in QUERIES]
    iterative = {q for q, it in QUERIES if it}
    attempted = failed = 0
    walls = {q: [] for q in names}
    for line, _, _ in passes:
        for q in names:
            attempted += 1
            v = line["queries"].get(q, -1.0)
            if v < 0:
                failed += 1
            else:
                walls[q].append(v)
    problems = verify(b, data_dir, work / "verify", checked_slice(seed))
    attempted += len(problems)
    failed += sum(1 for v in problems.values() if v)
    for q, v in problems.items():
        if v:
            print(f"[perfbench] wrong output: {q}: {v}", file=sys.stderr)

    every = [1000 * v for q in names for v in walls[q]]
    heavy = [1000 * v for q in iterative for v in walls[q]]
    if not heavy or len(every) == len(heavy):
        raise engine.BenchError("graft.Bench completed too few queries to measure")
    batch_s = sum(every) / 1000 / len(passes)
    metrics = {
        "setup_s": median(setups),
        "op_ms": sum(every) / len(every),
        "op_p90_ms": quantile(every, 0.90),
        "heavy_ms": sum(heavy) / len(heavy),
    }
    detail = {
        "batch_s": batch_s,
        "iterative_s": sum(sum(walls[q]) for q in iterative) / len(passes),
        "traversal_s": sum(sum(walls[q]) for q in ("match_2hop_revenue", "asql_hop_chain",
                                                   "graphql_hop")) / len(passes),
        "llmops_s": sum(sum(walls[q]) for q in LLMOPS) / len(passes),
        "op_p50_ms": median(every), "peak_rss_mb": rss,
        "passes": len(passes), "checked": problems,
    }
    for q in names:
        detail[f"queries.{q}.wall_s"] = median(walls[q])

    ops = []
    if tracer.enabled:
        jobs, _, _ = read_event_log(event_dir)
        for line, t0, t1 in passes:
            run_span = tracer.span("bench", "queries", t0, t1)
            # Bench times its queries back to back and its last Spark job is
            # the last query's write, so the queries' intervals are laid out
            # backwards from that job's end
            end = max(j["end"] for j in jobs if t0 <= j["submit"] <= t1)
            for q in reversed(names):
                v = line["queries"].get(q, -1.0)
                if v < 0:
                    continue
                sid = tracer.span(q, "operators" if q in iterative else "queries",
                                  end - v, end, parent=run_span)
                ops.append({"start": end - v, "end": end, "grouped": False, "span": sid,
                            "kind": "query", "shape": q})
                end -= v
    return {"metrics": metrics, "detail": detail, "ops": ops,
            "attempted": attempted, "failed": failed}

