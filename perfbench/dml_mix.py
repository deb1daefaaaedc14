"""``dml_mix``: one engine session writing beside reads.

Set-up seeds a fresh warehouse through ``engine.Session.sql``:
``pk_orders`` (primary key, one row per ``orders`` row), ``uq_cust``
(primary key plus a secondary UNIQUE key, one row per customer) and
``snap_stock`` (``ENGINE=SNAPSHOT``, one row per part).

The timed loop is one client, closed loop, repeating a fixed cycle of 20
statements: 13 writes (multi-row INSERT, INSERT IGNORE, ON DUPLICATE KEY
UPDATE, REPLACE, UPDATE and DELETE by key range, MERGE of 300 staged
rows, writes to the snapshot table) and 7 reads (35%: point and range
SELECTs on the same tables). The seed picks every key and value.

Every statement is mirrored in a plain-Python model of the three
tables. After the timed region the affected-row counts and read results
recorded during the loop, and the final contents of every table, are
compared with the model.
"""

from __future__ import annotations

import os
import random
import time

import pyarrow.parquet as pq

from harness import (
    HostMeter,
    Outcome,
    Recorder,
    RssSampler,
    calibrate,
    environment,
    process_age,
    start_spark,
)

CYCLE = [
    "sel_point", "insert", "update_range", "sel_email", "odku",
    "sel_point", "delete_range", "insert_ignore", "sel_range", "replace",
    "snap_update", "sel_point", "merge", "sel_email", "update_range",
    "snap_insert", "insert", "delete_range", "odku", "sel_snap",
]
READS = ["sel_point", "sel_range", "sel_email", "sel_snap"]
WRITES = sorted(set(CYCLE) - set(READS))
MERGE_ROWS = 300


def _r6(x):
    return None if x is None else round(float(x), 6)


class Model:
    """The three tables as Python dicts, and the statements that change
    them, generated from one seeded random stream."""

    def __init__(self, data_dir: str, seed: int):
        self.rng = random.Random(seed)
        o = pq.read_table(os.path.join(data_dir, "orders.parquet")).to_pydict()
        self.orders = {
            k: (c, s, p, pr)
            for k, c, s, p, pr in zip(o["o_orderkey"], o["o_custkey"],
                                      o["o_orderstatus"], o["o_totalprice"],
                                      o["o_orderpriority"])
        }
        self.next_key = max(self.orders) + 1
        c = pq.read_table(os.path.join(data_dir, "customer.parquet")).to_pydict()
        self.cust = {k: (f"c{k}@mail", b) for k, b in zip(c["c_custkey"], c["c_acctbal"])}
        self.next_cust = max(self.cust) + 1
        p = pq.read_table(os.path.join(data_dir, "part.parquet")).to_pydict()
        self.stock = {k: int(s) for k, s in zip(p["p_partkey"], p["p_size"])}
        self.next_part = max(self.stock) + 1

    # -- helpers ----------------------------------------------------------
    def _price(self) -> float:
        return round(self.rng.uniform(1000.0, 500000.0), 2)

    def _order_row(self, k: int) -> tuple:
        r = self.rng
        return (k, r.randrange(15000), r.choice("FOP"), self._price(),
                r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"]))

    @staticmethod
    def _values(rows) -> str:
        def lit(v):
            return f"'{v}'" if isinstance(v, str) else repr(v)
        return ", ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in rows)

    def _some_key(self) -> int:
        return self.rng.randrange(self.next_key)

    # -- statements: (sql, expected affected rows or expected result) ------
    def statement(self, kind: str):
        r = self.rng
        if kind == "sel_point":
            k = self._some_key()
            row = self.orders.get(k)
            exp = [] if row is None else [(k, row[0], row[1], _r6(row[2]))]
            return (f"SELECT o_orderkey, o_custkey, o_status, o_totalprice "
                    f"FROM pk_orders WHERE o_orderkey = {k}"), exp
        if kind == "sel_range":
            a = self._some_key()
            ks = [k for k in range(a, a + 1000) if k in self.orders]
            exp = [(len(ks), _r6(sum(self.orders[k][2] for k in ks)) if ks else None)]
            return (f"SELECT count(*) AS n, sum(o_totalprice) AS s FROM pk_orders "
                    f"WHERE o_orderkey BETWEEN {a} AND {a + 999}"), exp
        if kind == "sel_email":
            k = r.randrange(self.next_cust)
            row = self.cust.get(k)
            email = row[0] if row else f"c{k}@mail"
            exp = [(k, _r6(row[1]))] if row else []
            return f"SELECT c_id, bal FROM uq_cust WHERE email = '{email}'", exp
        if kind == "sel_snap":
            a = r.randrange(self.next_part)
            qs = [self.stock[k] for k in range(a, a + 100) if k in self.stock]
            exp = [(len(qs), sum(qs) if qs else None)]
            return (f"SELECT count(*) AS n, sum(qty) AS s FROM snap_stock "
                    f"WHERE k BETWEEN {a} AND {a + 99}"), exp
        if kind == "insert":
            rows = [self._order_row(self.next_key + i) for i in range(5)]
            self.next_key += 5
            for row in rows:
                self.orders[row[0]] = row[1:]
            return f"INSERT INTO pk_orders VALUES {self._values(rows)}", len(rows)
        if kind == "insert_ignore":
            old = [k for k in (self._some_key() for _ in range(6)) if k in self.orders][:2]
            rows = [self._order_row(k) for k in old]
            rows += [self._order_row(self.next_key + i) for i in range(3)]
            self.next_key += 3
            for row in rows[len(old):]:
                self.orders[row[0]] = row[1:]
            return f"INSERT IGNORE INTO pk_orders VALUES {self._values(rows)}", 3
        if kind == "replace":
            old = sorted({self._some_key() for _ in range(2)})
            rows = [self._order_row(k) for k in old] + [self._order_row(self.next_key)]
            self.next_key += 1
            for row in rows:
                self.orders[row[0]] = row[1:]
            return f"REPLACE INTO pk_orders VALUES {self._values(rows)}", len(rows)
        if kind == "update_range":
            a, d = self._some_key(), round(r.uniform(1.0, 100.0), 2)
            hit = [k for k in range(a, a + 50) if k in self.orders]
            for k in hit:
                c, s, p, pr = self.orders[k]
                self.orders[k] = (c, s, p + d, pr)
            return (f"UPDATE pk_orders SET o_totalprice = o_totalprice + {d} "
                    f"WHERE o_orderkey BETWEEN {a} AND {a + 49}"), len(hit)
        if kind == "delete_range":
            a = self._some_key()
            hit = [k for k in range(a, a + 20) if k in self.orders]
            for k in hit:
                del self.orders[k]
            return (f"DELETE FROM pk_orders WHERE o_orderkey BETWEEN {a} "
                    f"AND {a + 19}"), len(hit)
        if kind == "merge":
            keys = sorted({self._some_key() for _ in range(MERGE_ROWS - 50)})
            keys += range(self.next_key, self.next_key + MERGE_ROWS - len(keys))
            self.next_key = keys[-1] + 1
            rows = [self._order_row(k) for k in keys]
            matched = 0
            for k, c, s, p, pr in rows:
                if k in self.orders:
                    matched += 1
                    c0, s0, _, pr0 = self.orders[k]
                    self.orders[k] = (c0, s0, p, pr0)
                else:
                    self.orders[k] = (c, s, p, pr)
            return (
                "MERGE INTO pk_orders t USING (SELECT * FROM VALUES "
                f"{self._values(rows)} AS v(o_orderkey, o_custkey, o_status, "
                "o_totalprice, o_priority)) src ON t.o_orderkey = src.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET o_totalprice = src.o_totalprice "
                "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_status, "
                "o_totalprice, o_priority) VALUES (src.o_orderkey, src.o_custkey, "
                "src.o_status, src.o_totalprice, src.o_priority)"
            ), len(rows)
        if kind == "odku":
            old = sorted({r.randrange(self.next_cust) for _ in range(2)} & set(self.cust))
            new = [self.next_cust, self.next_cust + 1]
            self.next_cust += 2
            rows, aff = [], 0
            for k in old + new:
                v = round(r.uniform(1.0, 500.0), 2)
                if k in self.cust:
                    email, bal = self.cust[k]
                    self.cust[k] = (email, bal + v)
                    aff += 2
                else:
                    email = f"c{k}@mail"
                    self.cust[k] = (email, v)
                    aff += 1
                rows.append((k, email, v))
            return (f"INSERT INTO uq_cust VALUES {self._values(rows)} "
                    "ON DUPLICATE KEY UPDATE bal = bal + VALUES(bal)"), aff
        if kind == "snap_update":
            a = r.randrange(self.next_part)
            hit = [k for k in range(a, a + 10) if k in self.stock]
            for k in hit:
                self.stock[k] += 1
            return (f"UPDATE snap_stock SET qty = qty + 1 WHERE k BETWEEN {a} "
                    f"AND {a + 9}"), len(hit)
        if kind == "snap_insert":
            rows = [(self.next_part + i, r.randrange(1, 51)) for i in range(5)]
            self.next_part += 5
            for k, q in rows:
                self.stock[k] = q
            return f"INSERT INTO snap_stock VALUES {self._values(rows)}", len(rows)
        raise ValueError(kind)

    def contents(self) -> dict[str, set]:
        return {
            "pk_orders": {(k, c, s, _r6(p), pr) for k, (c, s, p, pr) in self.orders.items()},
            "uq_cust": {(k, e, _r6(b)) for k, (e, b) in self.cust.items()},
            "snap_stock": set(self.stock.items()),
        }


SCHEMA = [
    "CREATE DATABASE bench",
    "USE bench",
    "CREATE TABLE pk_orders (o_orderkey BIGINT, o_custkey BIGINT, o_status CHAR, "
    "o_totalprice DOUBLE, o_priority CHAR, PRIMARY KEY (o_orderkey))",
    "INSERT INTO pk_orders SELECT o_orderkey, o_custkey, o_orderstatus, "
    "o_totalprice, o_orderpriority FROM orders",
    "CREATE TABLE uq_cust (c_id BIGINT, email CHAR, bal DOUBLE, "
    "PRIMARY KEY (c_id), UNIQUE (email))",
    "INSERT INTO uq_cust SELECT c_custkey, concat('c', c_custkey, '@mail'), "
    "c_acctbal FROM customer",
    "CREATE TABLE snap_stock (k BIGINT, qty BIGINT, PRIMARY KEY (k)) ENGINE=SNAPSHOT",
    "INSERT INTO snap_stock SELECT p_partkey, CAST(p_size AS BIGINT) FROM part",
]
# Untimed warm-up reads (part of set-up), one per read shape, so the
# first timed reads do not pay the JVM's class loading and JIT.
WARMUP = [
    "SELECT o_orderkey, o_custkey, o_status, o_totalprice FROM pk_orders WHERE o_orderkey = 0",
    "SELECT count(*) AS n, sum(o_totalprice) AS s FROM pk_orders WHERE o_orderkey BETWEEN 0 AND 999",
    "SELECT c_id, bal FROM uq_cust WHERE email = 'c0@mail'",
    "SELECT count(*) AS n, sum(qty) AS s FROM snap_stock WHERE k BETWEEN 0 AND 99",
]
FINAL = {
    "pk_orders": "SELECT o_orderkey, o_custkey, o_status, o_totalprice, o_priority FROM pk_orders",
    "uq_cust": "SELECT c_id, email, bal FROM uq_cust",
    "snap_stock": "SELECT k, qty FROM snap_stock",
}


def _norm(row) -> tuple:
    return tuple(_r6(v) if isinstance(v, float) else v for v in row)


def run(ctx) -> Outcome:
    rss = RssSampler(os.getpid()).start()
    pre_s = process_age() - ctx.gen_s
    t_setup = time.perf_counter()
    spark = start_spark(ctx.work, "perfbench-dml")
    session_s = time.perf_counter() - t_setup
    from sparrow_spark.engine import Engine

    engine = Engine(spark, os.path.join(ctx.work, "warehouse"))
    engine.attach_fixture(ctx.data)
    session = engine.new_session()
    for stmt in SCHEMA:
        session.sql(stmt)
    for stmt in WARMUP:
        session.sql(stmt).df.collect()
    setup_s = pre_s + time.perf_counter() - t_setup

    env = environment()
    env["calib_first_s"] = calibrate(spark)
    model = Model(ctx.data, ctx.seed)
    tracer = probe = None
    if ctx.trace:
        from tracing import SparkProbe, Tracer, instrument_catalog

        tracer, probe = Tracer(), SparkProbe(spark)
        tracer.count("setup", "session.start_s", session_s)
        instrument_catalog(engine, tracer)

    sc = spark.sparkContext
    rec = Recorder()
    mismatches: list[tuple[str, str]] = []
    meter = HostMeter(os.getpid())
    t0 = time.perf_counter()
    n_ops = 0
    while not ctx.deadline_reached(t0, n_ops):
        kind = CYCLE[n_ops % len(CYCLE)]
        op = f"dml-{n_ops}"
        n_ops += 1
        sql, expected = model.statement(kind)
        sc.setJobGroup(op, kind)
        try:
            if tracer is None:
                ts = time.perf_counter()
                res = session.sql(sql)
                got = res.df.collect() if kind in READS else res.affected_rows
            else:
                ts = time.perf_counter()
                res, got, listing = _traced_op(tracer, probe, engine, session, sql, op, kind)
            lat = time.perf_counter() - ts
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            rec.fail(kind, f"{sql[:120]}: {e}")
            continue
        rec.ok(kind, lat)
        if tracer is not None:
            with tracer.overhead():
                _account(tracer, probe, engine, op, kind, res, got, listing, model)
        if kind in READS:
            got = sorted(_norm(r) for r in got)
            expected = sorted(_norm(r) for r in expected)
        if got != expected:
            mismatches.append((kind, f"{sql[:100]}: got {got!r:.120} expected {expected!r:.120}"))
    timed_wall = time.perf_counter() - t0
    cpu_s, env["steal_frac"] = meter.stop()
    sc.setJobGroup("perfbench-check", "checks")

    for kind, why in mismatches:
        rec.wrong(kind, why)
    want = model.contents()
    for table, sql in FINAL.items():
        have = {_norm(r) for r in session.sql(sql).df.collect()}
        if have != want[table]:
            rec.wrong("final", f"{table}: {len(have ^ want[table])} rows differ "
                      f"(e.g. {sorted(have ^ want[table])[:2]})")
    if tracer is not None:
        with tracer.overhead():
            _space(tracer, engine, model)
    env["calib_last_s"] = calibrate(spark)
    env["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
    peak = rss.stop()
    spark.stop()
    detail = {"cycle": CYCLE, "rows_final": {t: len(v) for t, v in want.items()}}
    return Outcome(setup_s, timed_wall, cpu_s, rec, READS, peak, env, detail, tracer, WRITES)


# -- traced run ----------------------------------------------------------
def _listing(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _traced_op(tracer, probe, engine, session, sql, op, kind):
    tracer.set_class(op, kind)
    with tracer.overhead():
        listing = None if kind in READS else _listing(engine.catalog.warehouse)
    with tracer.span("client.op", op):
        with tracer.span("engine.sql"):
            res = session.sql(sql)
        if kind in READS:
            with tracer.span("spark.plan"):
                res.df._jdf.queryExecution().executedPlan()
            with tracer.span("spark.action"):
                got = res.df.collect()
        else:
            got = res.affected_rows
    return res, got, listing


def _account(tracer, probe, engine, op, kind, res, got, listing, model) -> None:
    from tracing import record_jobs

    record_jobs(tracer, probe, op)
    if kind in READS:
        sums, joins = probe.plan_metrics(res.df._jdf)
        for k, v in list(sums.items()) + list(joins.items()):
            tracer.count(op, k, v)
        tracer.count(op, "fetch.rows", len(got))
        return
    after = _listing(engine.catalog.warehouse)
    written = [p for p, st in after.items() if listing.get(p) != st]
    tracer.count(op, "engine.files_written", len(written))
    tracer.count(op, "engine.bytes_written", sum(after[p][0] for p in written))
    table = "snap_stock" if kind.startswith("snap") else (
        "uq_cust" if kind == "odku" else "pk_orders")
    tracer.count(op, "engine.user_bytes_changed", got * _row_bytes(engine, table, model))


def _live_files(engine, table: str) -> list[str]:
    return [f.replace("file:", "", 1) for f in engine.spark.table(f"bench.{table}").inputFiles()]


def _row_bytes(engine, table: str, model) -> float:
    """Stored bytes per live row of ``table``: the size of the files a
    scan of it reads, over its row count in the model."""
    rows = len({"pk_orders": model.orders, "uq_cust": model.cust,
                "snap_stock": model.stock}[table]) or 1
    return sum(os.path.getsize(f) for f in _live_files(engine, table)) / rows


def _space(tracer, engine, model) -> None:
    """Bytes on disk per live byte, over the three tables."""
    for table in FINAL:
        root = engine.catalog.table_path("bench", table)
        total = sum(s for s, _ in _listing(root).values())
        live = sum(os.path.getsize(f) for f in _live_files(engine, table))
        tracer.count("run", "engine.table_bytes", total)
        tracer.count("run", "engine.live_bytes", live)
