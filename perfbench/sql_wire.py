"""``sql_wire``: SELECT traffic over the MySQL protocol.

The server (``wire_server.py``: ``SparrowServer`` over an ``Engine`` with
the fixture tables attached) runs in its own process. One client
process drives a closed loop over 2 connections: each connection sends
its next statement when the previous result has fully arrived.

The statement stream repeats a cycle of 30: each of the 20 SELECT
templates below once as COM_QUERY text, plus 10 COM_STMT_EXECUTE calls
of 6 prepared templates (a third of the stream). The cycle's order is
fixed and mixes the classes; the seed picks every literal and
parameter. Every text carries a leading ``/* op=... cls=... */``
comment, so no two texts are the same; prepared executions re-run one
prepared text with new parameters.

The run times whole cycles, one per 10 s of ``--seconds`` (at least
one), so every run does the same work whatever the host's speed: the
CPU the server spends per statement then does not depend on how many
statements a loaded host got through, nor on which of them.

After the timed region every statement is run again on DuckDB over the
same parquet files and the rows are compared.
"""

from __future__ import annotations

import datetime
import os
import random
import subprocess
import sys
import threading
import time

import check
from harness import HostMeter, Outcome, Recorder, RssSampler, environment
from mysql_client import Client, ServerError

CONNECTIONS = 2
CYCLE_SECONDS = 10  # one cycle takes about 9.5 s at sf0.1 on a calm 4-vCPU host

# class, SQL; {a}/{b}/... are filled from the seed.
TEXT = [
    ("point", "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders WHERE o_orderkey = {k}"),
    ("point", "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey = {c}"),
    ("point", "SELECT p_partkey, p_name, p_retailprice FROM part WHERE p_partkey = {p}"),
    ("point", "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem WHERE l_orderkey = {k}"),
    ("agg", "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q FROM lineitem WHERE l_shipdate < DATE '{d}' GROUP BY l_returnflag, l_linestatus"),
    ("agg", "SELECT o_orderpriority, count(*) AS n, avg(o_totalprice) AS a FROM orders WHERE o_orderdate >= DATE '{d}' AND o_orderdate < DATE '{d}' + INTERVAL 90 DAY GROUP BY o_orderpriority"),
    ("agg", "SELECT event_type, count(*) AS n, sum(value) AS s FROM events WHERE user_id BETWEEN {u} AND {u} + 50 GROUP BY event_type"),
    ("agg", "SELECT count(*) AS n, sum(l_extendedprice * l_discount) AS rev FROM lineitem WHERE l_discount BETWEEN {x} AND {x} + 0.02 AND l_quantity < {q}"),
    ("agg", "SELECT count(DISTINCT l_suppkey) AS n FROM lineitem WHERE l_partkey BETWEEN {p} AND {p} + 500"),
    ("agg", "SELECT p_brand, avg(p_retailprice) AS a, count(*) AS n FROM part WHERE p_size = {s} GROUP BY p_brand"),
    ("join", "SELECT n.n_name, count(*) AS n FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey WHERE c.c_acctbal > {b} GROUP BY n.n_name"),
    ("join", "SELECT r.r_name, sum(o.o_totalprice) AS s FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey JOIN nation n ON c.c_nationkey = n.n_nationkey JOIN region r ON n.n_regionkey = r.r_regionkey WHERE o.o_orderdate >= DATE '{d}' AND o.o_orderdate < DATE '{d}' + INTERVAL 30 DAY GROUP BY r.r_name"),
    ("join", "SELECT s.s_name, count(*) AS n FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey WHERE l.l_partkey BETWEEN {p} AND {p} + 20 GROUP BY s.s_name"),
    ("topn", "SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey BETWEEN {c} AND {c} + 200 ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    ("topn", "SELECT c_custkey, c_acctbal FROM customer WHERE c_mktsegment = '{g}' ORDER BY c_acctbal DESC, c_custkey LIMIT 20"),
    ("topn", "SELECT l_partkey, sum(l_quantity) AS q FROM lineitem WHERE l_shipdate >= DATE '{d}' AND l_shipdate < DATE '{d}' + INTERVAL 7 DAY GROUP BY l_partkey ORDER BY q DESC, l_partkey LIMIT 10"),
    ("window", "SELECT o_custkey, o_orderkey, o_totalprice, rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS r FROM orders WHERE o_custkey BETWEEN {c} AND {c} + 30"),
    ("window", "SELECT event_type, count(*) AS n FROM events WHERE ts >= TIMESTAMP '{t}' AND ts < TIMESTAMP '{t}' + INTERVAL 1 HOUR GROUP BY event_type"),
    ("large", "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey BETWEEN {k} AND {k} + 19999"),
    ("large", "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem WHERE l_shipdate >= DATE '{d}' AND l_shipdate < DATE '{d}' + INTERVAL 60 DAY"),
]

# class, SQL with ? markers, parameter names; executed 10 times a cycle.
PREPARED = [
    ("prep_point", "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders WHERE o_orderkey = ?", "k"),
    ("prep_point", "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey = ?", "c"),
    ("prep_point", "SELECT p_partkey, p_name, p_retailprice FROM part WHERE p_partkey = ?", "p"),
    ("prep_point", "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem WHERE l_orderkey = ?", "k"),
    ("prep_agg", "SELECT event_type, count(*) AS n, sum(value) AS s FROM events WHERE user_id BETWEEN ? AND ? GROUP BY event_type", "uu"),
    ("prep_topn", "SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey BETWEEN ? AND ? ORDER BY o_totalprice DESC, o_orderkey LIMIT 10", "cc"),
]
PREPARED_PER_CYCLE = [0, 1, 2, 3, 4, 5, 0, 3, 4, 5]
# One cycle: the texts in a fixed scrambled order, a prepared execution
# after every second text.
CYCLE = []
for _n, _i in enumerate(random.Random(0).sample(range(len(TEXT)), len(TEXT))):
    CYCLE.append(("text", _i))
    if _n % 2:
        CYCLE.append(("prep", PREPARED_PER_CYCLE[_n // 2]))
READ_CLASSES = sorted({c for c, _ in TEXT} | {c for c, _, _ in PREPARED})


class Stream:
    """The seeded statement stream, generated on demand."""

    def __init__(self, seed: int, rows: dict[str, int]):
        self.rng = random.Random(seed)
        self.rows = rows
        self.n = 0

    def _values(self) -> dict:
        r, n = self.rng, self.rows
        day = datetime.date(1995, 1, 1) + datetime.timedelta(days=r.randrange(2300))
        users = max(10, n["events"] // 66)
        return {
            "k": r.randrange(n["orders"]),
            "c": r.randrange(n["customer"]),
            "p": r.randrange(n["part"]),
            "u": r.randrange(users),
            "d": day.isoformat(),
            "x": r.randrange(0, 9) / 100,
            "q": r.randrange(10, 50),
            "s": r.randrange(1, 51),
            "b": round(r.uniform(0, 9000), 2),
            "g": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]),
            "t": (datetime.datetime(2024, 1, 1) + datetime.timedelta(
                minutes=r.randrange(29 * 24 * 60))).isoformat(sep=" "),
        }

    def next(self) -> tuple[str, str, str, int | None, list | None]:
        """(op id, class, SQL text, prepared template index, parameters);
        the last two are None for a COM_QUERY text."""
        kind, i = CYCLE[self.n % len(CYCLE)]
        op = f"w{self.n}"
        self.n += 1
        v = self._values()
        if kind == "text":
            cls, sql = TEXT[i]
            return op, cls, f"/* op={op} cls={cls} */ " + sql.format(**v), None, None
        cls, sql, names = PREPARED[i]
        if names == "uu":
            params = [v["u"], v["u"] + 50]
        elif names == "cc":
            params = [v["c"], v["c"] + 200]
        else:
            params = [v[names]]
        return op, cls, sql, i, params


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.9g}"
    return str(v)


def _rowset(rows) -> list[str]:
    return sorted("|".join(_canon(v) for v in r) for r in rows)


def _start_server(ctx, trace: bool):
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = [sys.executable, os.path.join(here, "wire_server.py"),
           "--data", ctx.data, "--work", ctx.work]
    if trace:
        cmd.append("--trace")
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                            text=True, bufsize=1)
    line = proc.stdout.readline()
    if not line.startswith("READY"):
        proc.kill()
        proc.wait()
        raise RuntimeError(f"server did not start: {line!r}")
    return proc, int(line.split()[1]), time.perf_counter() - t0


def _ask(proc, cmd: str) -> str:
    proc.stdin.write(cmd + "\n")
    proc.stdin.flush()
    return proc.stdout.readline().strip()


def run(ctx) -> Outcome:
    env = environment()
    proc, port, setup_s = _start_server(ctx, ctx.trace)
    try:
        return _drive(ctx, proc, port, setup_s, env)
    finally:
        if proc.poll() is None:
            try:
                _ask(proc, "QUIT")
                proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()


def _drive(ctx, proc, port, setup_s, env) -> Outcome:
    rss = RssSampler(proc.pid).start()
    env["calib_first_s"] = float(_ask(proc, "CALIB"))
    import pyarrow.parquet as pq

    rows = {t: pq.read_metadata(os.path.join(ctx.data, f"{t}.parquet")).num_rows
            for t in ("orders", "customer", "part", "events")}
    stream = Stream(ctx.seed, rows)
    lock = threading.Lock()
    rec = Recorder()
    done: list[tuple] = []  # (op, cls, sql, params, columns, rows, latency, sent)
    total = ctx.max_ops or max(1, int(ctx.seconds // CYCLE_SECONDS)) * len(CYCLE)
    meter = HostMeter(proc.pid)
    t0 = time.perf_counter()
    state = {"n": 0}

    def worker(conn_no: int):
        try:
            client = Client("127.0.0.1", port)
            stmts = [
                client.prepare(f"/* op=c{conn_no}p{i} cls={cls} */ {sql}")[0]
                for i, (cls, sql, _) in enumerate(PREPARED)
            ]
        except (ServerError, OSError) as e:
            with lock:
                rec.fail("connect", str(e))
            return
        execs = [0] * len(PREPARED)
        try:
            while True:
                with lock:
                    if state["n"] >= total:
                        return
                    state["n"] += 1
                    op, cls, sql, prep, params = stream.next()
                try:
                    t_epoch, ts = time.time(), time.perf_counter()
                    if prep is None:
                        res = client.query(sql)
                    else:
                        res = client.execute(stmts[prep], params)
                    lat = time.perf_counter() - ts
                except (ServerError, OSError) as e:
                    with lock:
                        rec.fail(cls, f"{sql}: {e}")
                    continue
                if prep is not None:
                    # the server names a prepared execution this way
                    op = f"c{conn_no}p{prep}.x{execs[prep]}"
                    execs[prep] += 1
                with lock:
                    rec.ok(cls, lat)
                    done.append((op, cls, sql, params, res[0], res[1], lat, t_epoch))
        finally:
            client.close()

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(CONNECTIONS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    timed_wall = time.perf_counter() - t0
    cpu_s, env["steal_frac"] = meter.stop()

    tracer = None
    if ctx.trace:
        tracer = _merge_trace(ctx, proc, done)
    _check(ctx, done, rec)
    env["calib_last_s"] = float(_ask(proc, "CALIB"))
    env["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
    peak = rss.stop()
    detail = {
        "connections": CONNECTIONS,
        "statements": len(done),
        "prepared_share": sum(d[3] is not None for d in done) / max(1, len(done)),
    }
    return Outcome(setup_s, timed_wall, cpu_s, rec, READ_CLASSES, peak, env, detail, tracer)


def _check(ctx, done, rec) -> None:
    con = check.duck(ctx.data)
    for op, cls, sql, params, cols, rows, _lat, _sent in done:
        try:
            res = con.execute(sql, params) if params is not None else con.execute(sql)
            want = res.fetchall()
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            rec.wrong(cls, f"{op}: duckdb error {e}")
            continue
        if cols == "ok":
            rec.wrong(cls, f"{op}: no result set")
        elif _rowset(rows) != _rowset(want):
            rec.wrong(cls, f"{op}: {len(rows)} rows vs duckdb {len(want)}: {sql[:80]}")
    con.close()


def _merge_trace(ctx, proc, done):
    """Server spans and counters (from DUMP) joined under one client.op
    span per statement; server.encode_s is what the client waited beyond
    the server's lock wait, Session.sql and materialization."""
    import json

    from tracing import Span, Tracer

    path = os.path.join(ctx.work, "server-trace.json")
    if _ask(proc, f"DUMP {path}") != "OK":
        raise RuntimeError("server trace dump failed")
    with open(path) as f:
        server = json.load(f)
    tracer = Tracer()
    tracer.overhead_s = server["overhead_s"]
    for op, counters in server["counters"].items():
        for k, v in counters.items():
            tracer.count(op, k, v)
    by_op: dict[str, list[dict]] = {}
    for s in server["spans"]:
        by_op.setdefault(s["op"], []).append(s)
    for op, cls, _sql, _params, _cols, _rows, lat, sent in done:
        tracer.set_class(op, cls)
        spans = by_op.get(op, [])
        ids = {}
        root = Span(len(tracer.spans), "client.op", op, sent, sent + lat)
        tracer.spans.append(root)
        tracer.by_op[op].append(root)
        for s in sorted(spans, key=lambda s: s["id"]):
            parent = ids.get(s["parent"], root) if s["parent"] is not None else root
            tracer.add_span(s["name"], op, s["start"], s["end"], parent, **s["attrs"])
            ids[s["id"]] = tracer.spans[-1]
        server_s = sum(s["end"] - s["start"] for s in spans
                       if s["name"] in ("server.lock_wait", "engine.sql", "spark.plan", "spark.action"))
        tracer.count(op, "server.encode_s", max(0.0, lat - server_s))
    return tracer
