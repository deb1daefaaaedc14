"""Launcher for the ``sql_wire`` workload's server process.

    python3 perfbench/wire_server.py --data DIR --work DIR [--trace]

Starts the engine (``sparrow_spark.server.SparrowServer`` over an
``engine.Engine`` with the fixture tables attached), runs three untimed
warm-up statements, prints ``READY <port>`` and then serves MySQL-protocol
clients on 127.0.0.1 while it reads commands from standard input, one per
line, each answered with one line on standard output:

    CALIB         run the load sentinel, answer its seconds
    DUMP <path>   (traced) write the server-side spans and counters
    QUIT          stop the server and the Spark session, then exit

With ``--trace`` the launcher wraps the server's lock, each session's
``sql``/``execute_prepared`` and the result materialization in spans.
The operation id comes from the leading ``/* op=... */`` comment of the
statement text (prepared executions add ``.x<n>``); each operation runs
under its own Spark job group.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import calibrate, start_spark  # noqa: E402

# Untimed warm-up statements (part of set-up): a scan, an aggregate
# over a join and a window, so the first timed statements do not pay
# the JVM's class loading and JIT.
WARMUP = [
    "SELECT count(*) FROM lineitem",
    "SELECT n.n_name, count(*) AS n FROM customer c JOIN nation n "
    "ON c.c_nationkey = n.n_nationkey GROUP BY n.n_name",
    "SELECT o_custkey, rank() OVER (PARTITION BY o_custkey ORDER BY "
    "o_totalprice) AS r FROM orders WHERE o_custkey < 20",
]

OP_RE = re.compile(r"^\s*/\*\s*op=([\w.-]+)\s+cls=([\w.-]+)\s*\*/")


class TimedLock:
    """Stand-in for ``SparrowServer.lock`` that times each wait for it.
    The wait is kept on the waiting thread until the statement it was
    for names its operation (see ``instrument``)."""

    def __init__(self, local: threading.local):
        self._lock = threading.Lock()
        self._local = local

    def __enter__(self):
        t0 = time.time()
        self._lock.acquire()
        self._local.wait = (t0, time.time())
        return self

    def __exit__(self, *exc):
        self._lock.release()


def instrument(engine, server, tracer):
    """Wrap the public calls of each layer the wire path goes through.
    Returns the per-operation DataFrames whose plans are read at DUMP."""
    from sparrow_spark import server as server_mod
    from tracing import instrument_catalog

    sc = engine.spark.sparkContext
    frames: dict[str, object] = {}
    local = threading.local()
    instrument_catalog(engine, tracer)
    server.lock = TimedLock(local)

    def begin(sql: str, suffix: str = ""):
        with tracer.overhead():
            return _begin(sql, suffix)

    def _begin(sql: str, suffix: str):
        m = OP_RE.match(sql)
        op = (m.group(1) + suffix) if m else f"anon-{time.time_ns()}"
        tracer.set_class(op, m.group(2) if m else "anon")
        sc.setJobGroup(op, op)
        local.op = op
        wait = getattr(local, "wait", None)
        if wait is not None:
            tracer.add_span("server.lock_wait", op, wait[0], wait[1], None)
            local.wait = None
        return op

    orig_new_session = engine.new_session

    def new_session():
        sess = orig_new_session()
        orig_sql, orig_exec = sess.sql, sess.execute_prepared
        executions: dict[int, int] = {}

        def sql(text):
            op = begin(text)
            with tracer.span("engine.sql", op):
                return orig_sql(text)

        def execute_prepared(stmt_id, params):
            n = executions.get(stmt_id, 0)
            executions[stmt_id] = n + 1
            op = begin(sess._stmt_cache.get(stmt_id, ""), f".x{n}")
            with tracer.span("engine.sql", op):
                return orig_exec(stmt_id, params)

        sess.sql, sess.execute_prepared = sql, execute_prepared
        return sess

    engine.new_session = new_session

    orig_mat = server_mod._Conn._materialize

    def materialize(result):
        op = getattr(local, "op", "")
        if result.kind != "resultset" or result.df is None:
            return orig_mat(result)
        frames[op] = result.df
        with tracer.span("spark.plan", op):
            result.df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.action", op):
            out = orig_mat(result)
        tracer.count(op, "server.rows_out", len(out[1]))
        tracer.count(op, "fetch.rows", len(out[1]))
        return out

    server_mod._Conn._materialize = staticmethod(materialize)

    orig_write = server_mod._Conn.write_packet

    def write_packet(self, payload):
        tracer.count(getattr(local, "op", ""), "server.bytes_out", len(payload) + 4)
        return orig_write(self, payload)

    server_mod._Conn.write_packet = write_packet
    return frames


def dump(tracer, probe, frames, path: str) -> None:
    from tracing import record_jobs

    for op in list(tracer.op_class):
        record_jobs(tracer, probe, op)
        if op in frames:
            sums, joins = probe.plan_metrics(frames[op]._jdf)
            for k, v in list(sums.items()) + list(joins.items()):
                tracer.count(op, k, v)
    with open(path, "w") as f:
        json.dump(
            {
                "spans": [s.__dict__ for s in tracer.spans],
                "counters": {k: dict(v) for k, v in tracer.counters.items()},
                "overhead_s": tracer.overhead_s,
            },
            f,
        )


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--data", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--trace", action="store_true")
    args = p.parse_args()

    t0 = time.perf_counter()
    spark = start_spark(args.work, "perfbench-wire")
    session_s = time.perf_counter() - t0
    from sparrow_spark.engine import Engine
    from sparrow_spark.server import SparrowServer

    engine = Engine(spark, os.path.join(args.work, "warehouse"))
    engine.attach_fixture(args.data)
    server = SparrowServer(engine)
    warm = engine.new_session()
    for sql in WARMUP:
        warm.sql(sql).df.collect()
    tracer = probe = frames = None
    if args.trace:
        from tracing import SparkProbe, Tracer

        tracer, probe = Tracer(), SparkProbe(spark)
        tracer.count("setup", "session.start_s", session_s)
        frames = instrument(engine, server, tracer)
    server.start()
    print(f"READY {server.port}", flush=True)

    for line in sys.stdin:
        cmd = line.split()
        if not cmd:
            continue
        if cmd[0] == "CALIB":
            print(f"{calibrate(spark):.6f}", flush=True)
        elif cmd[0] == "DUMP" and tracer is not None:
            dump(tracer, probe, frames, cmd[1])
            print("OK", flush=True)
        elif cmd[0] == "QUIT":
            break
        else:
            print("ERR", flush=True)
    server.stop()
    spark.stop()
    print("BYE", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
