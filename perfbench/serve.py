"""serve: closed-loop HTTP readers, then DML commits, on a fresh store.

Set-up builds the store from the seeded tables and serves it over HTTP in
one engine JVM (`graft.cli.Main create-serve <tables> <store> <port>`,
the reference's --create-start), timed from launch until
`/api/v1/ready` answers.

Then, on that server:
1. warm-up (untimed, WARMUP_S): four readers run the read mix;
2. read window (`--seconds`): four readers run closed loops, each sending
   its next request only after the reply to the previous one;
3. commits: one client sends the COMMITS statements to
   `/api/v1/command` one after another and reads each acknowledged write
   back once (checked, not timed). Each commit writes a store generation
   and reloads the served snapshot.

Readers deal request shapes from a shuffled deck that holds the mix in
exact proportion, with customer keys drawn uniformly; both come from the
seed. Every reply is compared with the answer computed from the same
tables.
"""
import http.client
import json
import random
import socket
import subprocess
import sys
import threading
import time
from pathlib import Path

import pyarrow.parquet as pq

import engine
import gen_data
from spans import median, quantile

SF = 0.01
CUSTOMER_OFF, ORDER_OFF = 1_000_000, 10_000_000
READERS = 4
WARMUP_S = 4.0
# the commit phase: an INSERT and a first UPDATE (checked, untimed: the
# first UPDATE of a run ran ~20% slower than the next ones), then
# TIMED_COMMITS UPDATEs, whose median is heavy_ms
COMMITS = ["insert", "update", "update", "update", "update", "update"]
TIMED_COMMITS = 4
# request shape -> cards per 20-card deck (30/15/20/15/10/10 %)
READ_MIX = {"point": 6, "gql_point": 3, "hop1_count": 4, "hop1_expand": 3,
            "match2": 2, "fulltext": 2}
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()


class Answers:
    """Expected replies, computed from the generated tables."""

    def __init__(self, data_dir):
        c = pq.read_table(Path(data_dir) / "customer.parquet").to_pydict()
        self.customers = {CUSTOMER_OFF + k: (n, a) for k, n, a in
                          zip(c["c_custkey"], c["c_name"], c["c_acctbal"])}
        self.keys = sorted(self.customers)
        o = pq.read_table(Path(data_dir) / "orders.parquet",
                          columns=["o_orderkey", "o_custkey"]).to_pydict()
        self.orders = {}
        for ok, ck in zip(o["o_orderkey"], o["o_custkey"]):
            self.orders.setdefault(CUSTOMER_OFF + ck, []).append(ORDER_OFF + ok)
        names = pq.read_table(Path(data_dir) / "part.parquet", columns=["p_name"]).column(0)
        self.part_names = sorted(names.to_pylist())
        self.terms = sorted(set(self.part_names))

    def containing(self, term):
        # CONTAINSTEXT is a case-sensitive substring match ('old' hits 'cold')
        return [n for n in self.part_names if term in n]


class Reader:
    """A seeded request stream: shapes from a shuffled exact-mix deck."""

    def __init__(self, rng, ans):
        self.rng, self.ans, self.deck = rng, ans, []

    def next(self):
        if not self.deck:
            self.deck = [s for s, n in READ_MIX.items() for _ in range(n)]
            self.rng.shuffle(self.deck)
        shape, ans = self.deck.pop(), self.ans
        k = self.rng.choice(ans.keys)
        name, bal = ans.customers[k]
        oids = sorted(ans.orders.get(k, []))
        if shape == "point":
            return shape, "sql", f"SELECT name, acctbal FROM Customer WHERE id = {k}", \
                [{"name": name, "acctbal": bal}]
        if shape == "gql_point":
            return shape, "graphql", f"{{ Customer(id: {k}) {{ name acctbal }} }}", \
                [{"name": name, "acctbal": bal}]
        if shape == "hop1_count":
            return shape, "sql", \
                f"SELECT out('PLACED').size() AS n FROM Customer WHERE id = {k}", [{"n": len(oids)}]
        if shape == "hop1_expand":
            return shape, "sql", f"SELECT expand(out('PLACED')) FROM Customer WHERE id = {k}", \
                ("id", oids)
        if shape == "match2":
            return shape, "sql", ("MATCH {type: Customer, as: c, where: (id = %d)}"
                                  ".out('PLACED'){as: o} RETURN o.id AS oid" % k), ("oid", oids)
        term = self.rng.choice(ans.terms)
        return shape, "sql", f"SELECT name FROM Part WHERE name CONTAINSTEXT '{term}'", \
            [{"name": n} for n in ans.containing(term)]


class Writer:
    """A seeded DML stream; remembers what each write should read back as."""

    def __init__(self, rng, ans, seed):
        self.rng, self.ans = rng, ans
        self.next_id = 1_999_000 + (seed * 7919) % 500

    def next(self, kind):
        """An "update" or "insert": (kind, statement, read-back query, expected rows)."""
        rng, ans = self.rng, self.ans
        if kind == "update":
            k = rng.choice(ans.keys)
            seg = f"{rng.choice(SEGMENTS)}-{rng.randrange(10**6)}"
            return kind, f"UPDATE Customer SET mktsegment = '{seg}' WHERE id = {k}", \
                f"SELECT mktsegment FROM Customer WHERE id = {k}", [{"mktsegment": seg}]
        k, self.next_id = self.next_id, self.next_id + 1
        bal, name = round(rng.uniform(-999, 9999), 2), f"Customer#bench{k}"
        return kind, ("INSERT INTO Customer (id, name, acctbal, mktsegment) "
                      f"VALUES ({k}, '{name}', {bal}, 'BUILDING')"), \
            f"SELECT name, acctbal FROM Customer WHERE id = {k}", \
            [{"name": name, "acctbal": bal}]


def matches(rows, expected):
    if isinstance(expected, tuple):  # (column, ids): an order-free id set
        col, ids = expected
        return sorted(r.get(col) for r in rows) == ids
    return sorted(rows, key=json.dumps) == sorted(expected, key=json.dumps)


class Client:
    def __init__(self, port, token):
        self.port, self.token = port, token
        self.conn = None

    def post(self, route, language, command):
        body = json.dumps({"language": language, "command": command})
        for attempt in (0, 1):
            if self.conn is None:
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
            try:
                self.conn.request("POST", f"/api/v1/{route}/graft", body, {
                    "Authorization": f"Bearer {self.token}", "Content-Type": "application/json"})
                r = self.conn.getresponse()
                return r.status, r.read()
            except (http.client.HTTPException, OSError):
                self.conn.close()
                self.conn = None
                if attempt:
                    return 0, b""

    def rows(self, language, command):
        status, data = self.post("query", language, command)
        if status != 200:
            return None
        try:
            return json.loads(data)["result"]
        except (ValueError, KeyError):
            return None


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def ready(port):
    try:
        c = http.client.HTTPConnection("127.0.0.1", port, timeout=5)
        c.request("GET", "/api/v1/ready")
        ok = c.getresponse().status == 204
        c.close()
        return ok
    except OSError:
        return False


def ready_ms(port, n=20):
    """Median round trip of GET /api/v1/ready: HTTP dispatch without Spark."""
    c = http.client.HTTPConnection("127.0.0.1", port, timeout=5)
    lat = []
    for _ in range(n):
        s = time.perf_counter()
        c.request("GET", "/api/v1/ready")
        c.getresponse().read()
        lat.append(1000 * (time.perf_counter() - s))
    c.close()
    return median(lat)


def start_server(b, data_dir, store, logdir, extra_opts):
    """Launch create-serve; return (proc, port, token, t_launch, t_ready, marks)."""
    port = free_port()
    out = open(logdir / "server.out", "w")
    t0 = time.time()
    p = engine.spawn(engine.java_cmd(b, "graft.cli.Main",
                                     ["create-serve", str(data_dir), str(store), str(port)],
                                     extra_opts),
                     stdout=subprocess.PIPE, stderr=open(logdir / "server.err", "w"),
                     env=engine.engine_env())
    marks, token = {}, []

    def pump():
        for line in p.stdout:
            line = line.decode(errors="replace")
            out.write(line)
            out.flush()
            if line.startswith("[graft] built graph store"):
                marks["created"] = time.time()
            elif line.startswith("[graft] serving") and "opened" not in marks:
                marks["opened"] = time.time()  # later ones are post-commit reloads
            elif "bearer token" in line:
                token.append(line.rsplit(" ", 1)[-1].strip())
    threading.Thread(target=pump, daemon=True).start()
    while not ready(port):
        if p.poll() is not None:
            raise engine.BenchError(f"server exited with {p.returncode}; see {logdir}")
        if time.time() > t0 + 100:
            raise engine.BenchError("server not ready within 100 s")
        time.sleep(0.05)
    t_ready = time.time()
    while not token and time.time() < t_ready + 10:
        time.sleep(0.02)
    if not token:
        raise engine.BenchError("server printed no admin token")
    return p, port, token[0], t0, t_ready, marks


class Load:
    """The clients of one run, and what they observed."""

    def __init__(self, port, token, ans, seed, seconds):
        self.port, self.token, self.ans, self.seed = port, token, ans, seed
        self.seconds = seconds
        self.lock = threading.Lock()
        self.reads, self.commits = [], []
        self.attempted = self.failed = 0
        self.errors = []
        self.warm_end = time.time() + WARMUP_S
        self.start = self.end = None
        self.barrier = threading.Barrier(READERS, action=self._open_window)
        self.writer = Writer(random.Random(f"{seed}:writer"), ans, seed)
        self.wclient = Client(port, token)

    def _open_window(self):
        # runs once every reader has finished its warm-up requests, so the
        # window never opens with a warm-up request in flight
        self.start = time.time()
        self.end = self.start + self.seconds

    def note(self, ok, what):
        with self.lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                print(f"[perfbench] failed or wrong: {what}", file=sys.stderr)

    def reader(self, i):
        stream = Reader(random.Random(f"{self.seed}:reader:{i}"), self.ans)
        cl = Client(self.port, self.token)
        measuring = False
        while True:
            if not measuring and time.time() >= self.warm_end:
                self.barrier.wait()
                measuring = True
            if measuring and time.time() >= self.end:
                return
            shape, lang, cmd, expected = stream.next()
            s, s_pc = time.time(), time.perf_counter()
            rows = cl.rows(lang, cmd)
            lat = time.perf_counter() - s_pc
            ok = rows is not None and matches(rows, expected)
            self.note(ok, f"{cmd} -> {str(rows)[:300]}")
            if measuring:
                with self.lock:
                    self.reads.append({"shape": shape, "start": s, "end": time.time(),
                                       "lat": lat, "ok": ok})

    def commit(self, kind):
        kind, cmd, check, expected = self.writer.next(kind)
        s, s_pc = time.time(), time.perf_counter()
        status, body = self.wclient.post("command", "sql", cmd)
        lat = time.perf_counter() - s_pc
        e = time.time()
        ok = status == 200 and b'"count":1' in body
        what = f"{cmd} -> {status} {body[:300]!r}"
        if ok:
            rows = self.wclient.rows("sql", check)
            ok = rows is not None and matches(rows, expected)
            what = f"read-back {check} -> {str(rows)[:300]}"
        self.note(ok, what)
        return {"kind": kind, "shape": kind, "start": s, "end": e, "lat": lat, "ok": ok}

    def guarded(self, fn, *args):
        try:
            fn(*args)
        except threading.BrokenBarrierError:
            pass
        except Exception as e:  # noqa: BLE001 - reported by run()
            self.errors.append(f"{type(e).__name__}: {e}")
            self.barrier.abort()

    def run(self):
        threads = [threading.Thread(target=self.guarded, args=(self.reader, i), daemon=True)
                   for i in range(READERS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=WARMUP_S + self.seconds + 60)
            if t.is_alive():
                raise engine.BenchError("a reader did not finish its last request in time")
        if self.errors:
            raise engine.BenchError("client error: " + "; ".join(self.errors))
        for kind in COMMITS:
            self.commits.append(self.commit(kind))


def run(b, seed, seconds, tracer, event_dir):
    data_dir = engine.temp_dir("serve-data")
    store = engine.temp_dir("serve-store") / "store"
    logdir = engine.WORK / "logs"  # kept after the run, for a failed server's output
    logdir.mkdir(parents=True, exist_ok=True)
    gen_data.generate(str(data_dir), SF, seed)
    ans = Answers(data_dir)
    extra = engine.event_log_opts(event_dir)
    p, port, token, t0, t_ready, marks = start_server(b, data_dir, store, logdir, extra)
    setup_span = tracer.span("setup", "load", t0, t_ready)
    if "created" in marks:
        tracer.span("create", "load", t0, marks["created"], parent=setup_span)
        if "opened" in marks:
            tracer.span("open", "server", marks["created"], marks["opened"], parent=setup_span)

    load = Load(port, token, ans, seed, seconds)
    load.run()
    dispatch_ms = ready_ms(port)
    store_mb = engine.dir_mb(store)
    generations = sum(1 for d in store.rglob("gen-*") if d.is_dir())
    rss_mb = engine.terminate(p)

    ok_reads = [r for r in load.reads if r["ok"]]
    lat_r = [1000 * r["lat"] for r in ok_reads]
    timed = [c for c in load.commits[len(COMMITS) - TIMED_COMMITS:] if c["ok"]]
    lat_c = [1000 * c["lat"] for c in timed]
    per_shape = {s: median([1000 * r["lat"] for r in ok_reads if r["shape"] == s])
                 for s in READ_MIX}
    metrics = {
        "setup_s": t_ready - t0,
        # mix-weighted mean of per-shape medians: robust to which shapes a
        # short window happened to draw and to a few outliers
        "op_ms": sum(per_shape[s] * n for s, n in READ_MIX.items()) / sum(READ_MIX.values()),
        "op_p90_ms": quantile(lat_r, 0.90),
        "heavy_ms": median(lat_c),
    }
    detail = {
        "read_p50_ms": median(lat_r), "read_p95_ms": quantile(lat_r, 0.95),
        "read_mean_ms": sum(lat_r) / max(1, len(lat_r)), "read_samples": len(lat_r),
        "reads_per_s": sum(1 for r in ok_reads if r["end"] <= load.end) / seconds,
        "commit_ms": {c["kind"]: round(1000 * c["lat"], 1) for c in load.commits[:-TIMED_COMMITS]},
        "update_commit_ms": lat_c, "store_mb": store_mb, "load.generations": generations,
        "server.ready_ms": dispatch_ms, "peak_rss_mb": rss_mb,
    }
    if "created" in marks:
        detail["load.create_s"] = marks["created"] - t0
        if "opened" in marks:
            detail["load.open_s"] = marks["opened"] - marks["created"]
    for s in READ_MIX:
        detail[f"server.latency_ms.{s}"] = per_shape[s]
        detail[f"server.samples.{s}"] = sum(1 for r in ok_reads if r["shape"] == s)

    ops = []
    if tracer.enabled:
        for r in load.reads:
            ops.append({**r, "grouped": True, "kind": "read",
                        "span": tracer.span("read:" + r["shape"], "server", r["start"], r["end"])})
        for c in load.commits:
            ops.append({**c, "grouped": False, "kind": "commit",
                        "span": tracer.span("commit:" + c["kind"], "load", c["start"], c["end"])})
    return {"metrics": metrics, "detail": detail, "ops": ops,
            "attempted": load.attempted, "failed": load.failed}
