"""The engine: MySQL-flavored session + catalog + DML semantics over
Spark SQL.

This is the Spark-native reimplementation of the reference's own code
(everything it does NOT delegate to its query engine): the statement
dispatcher (reference src/core/execution.rs:894-1280), DDL against a
self-hosted catalog (src/execute_impl/create_table.rs, drop_table.rs,
add_column.rs, drop_column.rs), INSERT with unique-key enforcement
(src/execute_impl/insert.rs:195-221), UPDATE/DELETE as query-then-
mutate (src/execute_impl/update.rs, delete.rs, via the rewrites in
src/core/core_util.rs:502-581), SHOW statements
(src/execute_impl/show_*.rs), session variables (src/variable/*), and
prepared statements (src/execute_impl/com_stmt_prepare.rs).

Design decisions vs the reference:
- Name resolution is delegated to Spark's session catalog (databases +
  external parquet tables) instead of a hand-rolled `fix_statement`
  qualifier — Spark's analyzer already resolves case-insensitively.
- Storage is columnar parquet per table (vectorized scans, partition
  parallelism) instead of cell-per-key KV (O(rows x cols) point gets,
  single partition — BASELINE.md).
- UPDATE/DELETE are copy-on-write rewrites (filter/union/overwrite +
  atomic-ish directory swap): the same "SELECT rowid then mutate" shape
  as the reference (SURVEY §3.3), done set-at-a-time. Non-transactional,
  like the reference (COMMIT is a no-op there:
  src/core/execution.rs:1265-1267).
- Every table carries a hidden `rowid` column (uuid at insert,
  reference src/physical_plan/insert.rs:33) stored in parquet but
  excluded from the logical schema.
"""

from __future__ import annotations

import fcntl
import functools
import itertools
import json
import os
import re
import shutil
import threading
import time
import uuid
import weakref
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from sparrow_spark.catalog import (
    MYSQL_TO_SPARK,
    ROWID,
    ColumnDef,
    EngineCatalog,
    TableDef,
    check_ident,
)
from sparrow_spark.dialect import (
    _split_quotes,
    first_words,
    split_statements,
    like_to_regex,
    split_top_level,
    strip_comments,
    strip_dual,
    substitute_variables,
)


class SparrowError(Exception):
    """Engine error with a MySQL-compatible code (the reference maps
    unsupported statements to 1105 and duplicate keys to 1062)."""

    def __init__(self, code: int, message: str):
        super().__init__(message)
        self.code = code


def _duplicate_entry(index_name: str, cols: list[str], row) -> SparrowError:
    """MySQL's duplicate-key error for `row`'s value of key `cols`."""
    key = "-".join(str(row[c]) for c in cols)
    return SparrowError(1062, f"Duplicate entry '{key}' for key '{index_name}'")


@dataclass
class Result:
    kind: str  # 'resultset' | 'ok'
    df: DataFrame | None = None
    affected_rows: int = 0

    def rows(self):
        return self.df.collect() if self.df is not None else []


DEFAULT_SYSTEM_VARS = {
    # Shape mirrors the reference's performance_schema.global_variables
    # bootstrap (src/meta/initial.rs); values are this engine's own.
    "version": "8.0.26-sparrow-spark-0.1",
    "version_comment": "sparrow_spark PySpark engine",
    "autocommit": "ON",
    "auto_increment_increment": "1",
    "character_set_client": "utf8mb4",
    "character_set_connection": "utf8mb4",
    "character_set_results": "utf8mb4",
    "collation_connection": "utf8mb4_general_ci",
    "max_allowed_packet": "67108864",
    "sql_mode": "ANSI",
    "transaction_isolation": "READ-COMMITTED",
    "lower_case_table_names": "1",
    "wait_timeout": "28800",
}

_INFO_SCHEMA_RE = re.compile(r"\binformation_schema\.([A-Za-z_]+)", re.I)
_PERF_SCHEMA_RE = re.compile(r"\bperformance_schema\.([A-Za-z_]+)", re.I)
_MYSQL_SCHEMA_RE = re.compile(r"\bmysql\.(users)\b", re.I)


def _take_paren_block(s: str, what: str) -> tuple[str, str]:
    """Consume a leading '(...)' group matched by depth (quote-aware);
    return (inner_sql, remainder). Raises 1064 if absent/unbalanced."""
    s = s.lstrip()
    if not s.startswith("("):
        raise SparrowError(1064, f"expected ( in {what}")
    depth = 0
    quote: str | None = None
    for i, ch in enumerate(s):
        if quote:
            if ch == quote:
                quote = None
        elif ch in ("'", '"', "`"):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return s[1:i], s[i + 1:]
    raise SparrowError(1064, f"unbalanced parens in {what}")


def _flock_until(fd: int, deadline: float) -> bool:
    """Take an exclusive flock(2) on `fd`, waiting until `deadline`
    (time.monotonic()). True: the caller holds the lock and owns `fd`.
    False: the wait timed out and `fd` now belongs to a helper thread,
    which closes it, dropping the lock, as soon as its flock returns.

    The wait is one blocking flock in the helper, so the kernel wakes
    this waiter the moment the holder lets go. A waiter that retried
    LOCK_NB on a timer lost every race to a writer that released and
    at once began its next statement, and starved to 1205."""
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        return True
    except BlockingIOError:
        pass
    cond = threading.Condition()
    state = {"done": False, "error": None, "abandoned": False}

    def wait():
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
        except OSError as e:
            state["error"] = e
        with cond:
            if state["abandoned"]:
                os.close(fd)
                return
            state["done"] = True
            cond.notify()

    threading.Thread(target=wait, name="write-lock-wait", daemon=True).start()
    with cond:
        cond.wait_for(
            lambda: state["done"], timeout=max(0.0, deadline - time.monotonic())
        )
        if not state["done"]:
            state["abandoned"] = True
            return False
    if state["error"] is not None:
        os.close(fd)
        raise state["error"]
    return True


class Session:
    """Per-connection session state over a shared Engine, mirroring the
    reference's per-client SessionContext (src/core/session_context.rs:6-44):
    each client owns its current schema, system/user variables and
    prepared-statement cache, while catalog + storage + SparkSession are
    global. Statements execute under the engine's single-threaded
    dispatch (the reference serializes on a global mutex the same way).
    """

    def __init__(self, engine: "Engine"):
        self._engine = engine
        self.db: str | None = None
        self.system_vars = dict(DEFAULT_SYSTEM_VARS)
        self.user_vars: dict[str, str] = {}
        self._stmt_cache: dict[int, str] = {}
        self._next_stmt_id = 1

    def sql(self, text: str) -> "Result":
        with self._engine.activate(self):
            return self._engine.sql(text)

    def script(self, text: str) -> list["Result"]:
        with self._engine.activate(self):
            return self._engine.script(text)

    def prepare(self, sql: str) -> tuple[int, int]:
        with self._engine.activate(self):
            return self._engine.prepare(sql)

    def execute_prepared(self, stmt_id: int, params: list) -> "Result":
        with self._engine.activate(self):
            return self._engine.execute_prepared(stmt_id, params)

    def close_prepared(self, stmt_id: int) -> None:
        with self._engine.activate(self):
            self._engine.close_prepared(stmt_id)


# The schema each SparkSession's current database and database() UDF
# were last pointed at. Every Engine on one SparkSession shares it, so
# one engine's switch is seen by the next statement of another.
_SYNCED_DB: "weakref.WeakKeyDictionary[SparkSession, str | None]" = (
    weakref.WeakKeyDictionary()
)
_UNSYNCED = object()


class Engine:
    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.catalog = EngineCatalog(warehouse_dir)
        # All per-connection state lives in Session objects; the engine
        # always executes on behalf of exactly one (its default session
        # when called directly, the activated one under Session.sql).
        self._default_session = Session(self)
        self._active = self._default_session
        # Injectable logical clock for SNAPSHOT manifest timestamps:
        # None -> wall clock. Tests / driver exercises set a callable
        # returning monotonically increasing epoch seconds so
        # TIMESTAMP AS OF becomes deterministic (oracle-able) — the
        # commit protocol itself never reads the clock for ordering
        # (version numbers do that), so this changes no semantics.
        self.snapshot_clock = None
        # database() UDF, mirroring the reference's only custom UDF
        # (src/core/execution.rs:135-156). The closure is pickled to the
        # workers at registration time, so it must capture a plain value
        # (not the engine — it holds the SparkContext) and be
        # re-registered whenever USE (or session switch) changes the
        # current schema.
        _SYNCED_DB.pop(spark, None)
        self._sync_spark_session_state()
        # `dual` as a real 1-row relation (reference: 1-row MemTable,
        # src/datafusion_impl/catalog/information_schema.rs:117-133).
        spark.sql("SELECT 1 AS dummy").createOrReplaceTempView("dual")
        # Re-register any tables persisted by a previous engine instance.
        for schema in self.catalog.schemas():
            self._spark_create_db(schema)
            for table in self.catalog.tables(schema):
                self._register_spark_table(self.catalog.load(schema, table))

    def new_session(self) -> Session:
        """One per client connection (reference src/main.rs:88-99 spawns
        one SessionContext per accepted socket)."""
        return Session(self)

    def attach_fixture(self, sf_dir: str) -> None:
        """Expose the analytics fixture tables (region..embeddings) as
        read-only relations queryable through any session / wire client
        — `SELECT ... FROM lineitem` works immediately (Spark resolves
        temp views ahead of catalog tables, so no USE is needed)."""
        from sparrow_spark.sources import register_views

        register_views(self.spark, sf_dir)

    @contextmanager
    def activate(self, session: Session):
        """Run statements under `session`'s state; restores the previous
        session afterwards. The Spark-side current database and
        database() UDF follow at the next statement (`sql`)."""
        prev = self._active
        self._active = session
        try:
            yield
        finally:
            self._active = prev

    def _sync_spark_session_state(self) -> None:
        """Point the SparkSession's current database and database() UDF
        at the active session's schema, unless they already are: each
        sync costs a UDF registration plus a catalog call (~7.5 ms CPU),
        which connections on one database need not pay per statement."""
        if _SYNCED_DB.get(self.spark, _UNSYNCED) == self._active.db:
            return
        self._register_database_udf()
        db = self._active.db
        try:
            self.spark.catalog.setCurrentDatabase(db if db else "default")
        except Exception:  # schema dropped since this session used it
            self.spark.catalog.setCurrentDatabase("default")

    # per-connection state, delegated to the active session ------------
    @property
    def system_vars(self) -> dict:
        return self._active.system_vars

    @property
    def user_vars(self) -> dict:
        return self._active.user_vars

    @property
    def _stmt_cache(self) -> dict:
        return self._active._stmt_cache

    @property
    def _next_stmt_id(self) -> int:
        return self._active._next_stmt_id

    @_next_stmt_id.setter
    def _next_stmt_id(self, value: int) -> None:
        self._active._next_stmt_id = value

    @property
    def current_schema(self) -> str | None:
        return self._active.db

    @current_schema.setter
    def current_schema(self, value: str | None) -> None:
        self._active.db = value
        self._register_database_udf()

    def _register_database_udf(self) -> None:
        db_val = self._active.db
        self.spark.udf.register("database", lambda: db_val)
        _SYNCED_DB[self.spark] = db_val

    # ------------------------------------------------------------------
    # public API
    # ------------------------------------------------------------------
    def script(self, text: str) -> list[Result]:
        """Execute a multi-statement script (top-level semicolons,
        quote-aware); statements run sequentially, first error aborts —
        matching per-statement COM_QUERY semantics."""
        return [self.sql(stmt) for stmt in split_statements(text)]

    def sql(self, text: str) -> Result:
        """Execute one statement (the COM_QUERY path, SURVEY §3.1)."""
        self._sync_spark_session_state()
        stmt = strip_comments(text)
        if not stmt:
            return Result("ok")
        words = first_words(stmt)
        head = words[0] if words else ""
        two = " ".join(words[:2])
        # Statement kind for snapshot-commit op metadata (best-effort
        # label, not control flow).
        self._stmt_kind = head.lower()

        if head in ("SELECT", "WITH", "VALUES", "TABLE"):
            return self._query(stmt)
        if head == "EXPLAIN":
            return self._explain(stmt)
        if head == "SHOW":
            return self._show(stmt)
        if head in ("DESCRIBE", "DESC"):
            # MySQL alias: DESCRIBE t == SHOW COLUMNS FROM t.
            target = stmt.split(None, 1)[1] if len(words) > 1 else ""
            return self._show(f"SHOW COLUMNS FROM {target}")
        if head == "USE":
            return self._use(stmt)
        if head == "SET":
            return self._set(stmt)
        if two in ("CREATE DATABASE", "CREATE SCHEMA"):
            return self._create_schema(stmt)
        if two in ("DROP DATABASE", "DROP SCHEMA"):
            return self._drop_schema(stmt)
        if two == "CREATE TABLE":
            return self._create_table(stmt)
        if two == "DROP TABLE":
            return self._drop_table(stmt)
        if two == "ALTER TABLE":
            return self._locked_dml(stmt, self._alter_table)
        if two == "RENAME TABLE":
            return self._rename_table(stmt)
        if head == "INSERT":
            return self._locked_dml(stmt, self._insert)
        if two == "TRUNCATE TABLE" or head == "TRUNCATE":
            return self._locked_dml(stmt, self._truncate)
        if head == "REPLACE":
            return self._locked_dml(stmt, self._replace)
        if head == "MERGE":
            return self._locked_dml(stmt, self._merge)
        if head == "UPDATE":
            return self._locked_dml(stmt, self._update)
        if head == "DELETE":
            return self._locked_dml(stmt, self._delete)
        if two == "DROP VIEW" or re.match(
            r"CREATE(\s+OR\s+REPLACE)?(\s+TEMPORARY)?\s+VIEW", stmt, re.I
        ):
            # Views: absent in the reference (SURVEY §2.1 "notable
            # absences"), a free superset on Spark — delegate after the
            # same dialect preprocessing as queries.
            return self._view_ddl(stmt)
        if two == "OPTIMIZE TABLE":
            return self._optimize_table(stmt)
        if two == "ANALYZE TABLE":
            return self._analyze_table(stmt)
        if two == "RESTORE TABLE":
            return self._locked_dml(stmt, self._restore_table)
        if head == "VACUUM":
            return self._locked_dml(stmt, self._vacuum)
        if head in ("COMMIT", "ROLLBACK", "BEGIN") or two == "START TRANSACTION":
            return Result("ok")  # no transactions, like the reference
        raise SparrowError(1105, f"Unknown error: unsupported statement: {stmt[:80]}")

    # -- prepared statements (S23) --------------------------------------
    def prepare(self, sql: str) -> tuple[int, int]:
        """Cache a statement with ? placeholders; returns (stmt_id,
        n_params) — reference src/execute_impl/com_stmt_prepare.rs:42-95."""
        n_params = 0
        depth_quote = None
        for ch in sql:
            if depth_quote:
                if ch == depth_quote:
                    depth_quote = None
            elif ch in ("'", '"'):
                depth_quote = ch
            elif ch == "?":
                n_params += 1
        stmt_id = self._next_stmt_id
        self._next_stmt_id += 1
        self._stmt_cache[stmt_id] = sql
        return stmt_id, n_params

    def execute_prepared(self, stmt_id: int, params: list) -> Result:
        """Bind positional params and run (reference substitutes values
        into the cached AST: src/core/core_util.rs:32-101)."""
        if stmt_id not in self._stmt_cache:
            raise SparrowError(1243, f"Unknown prepared statement handler ({stmt_id})")
        sql = self._stmt_cache[stmt_id]
        out: list[str] = []
        it = iter(params)
        quote = None
        for ch in sql:
            if quote:
                if ch == quote:
                    quote = None
                out.append(ch)
            elif ch in ("'", '"'):
                quote = ch
                out.append(ch)
            elif ch == "?":
                out.append(self._render_literal(next(it)))
            else:
                out.append(ch)
        return self.sql("".join(out))

    def close_prepared(self, stmt_id: int) -> None:
        self._stmt_cache.pop(stmt_id, None)

    @staticmethod
    def _render_literal(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, (int, float)):
            return repr(v)
        if isinstance(v, (bytes, bytearray)):
            # Binary parameter (e.g. streamed via SEND_LONG_DATA):
            # render as a hex literal, never a lossy text decode.
            return "X'" + bytes(v).hex() + "'"
        # Backslashes first: Spark SQL strings are backslash-escaped by
        # default, so a value ending in '\' would escape the closing
        # quote (malformed SQL / injection through the prepared path).
        return "'" + str(v).replace("\\", "\\\\").replace("'", "''") + "'"

    # ------------------------------------------------------------------
    # queries
    # ------------------------------------------------------------------
    def _view_ddl(self, stmt: str) -> Result:
        sql = substitute_variables(stmt, self.system_vars, self.user_vars)
        sql = strip_dual(sql)
        sql = self._rewrite_information_schema(sql)
        try:
            self.spark.sql(sql)
        except Exception as e:  # noqa: BLE001
            raise SparrowError(1064, f"view DDL failed: {e}") from e
        return Result("ok")

    def _query(self, stmt: str) -> Result:
        sql = substitute_variables(stmt, self.system_vars, self.user_vars)
        sql = strip_dual(sql)
        sql = self._rewrite_information_schema(sql)
        if re.search(r"VERSION\s+AS\s+OF", sql, re.I):
            sql = self._rewrite_version_as_of(sql)
        if re.search(r"TIMESTAMP\s+AS\s+OF", sql, re.I):
            sql = self._rewrite_timestamp_as_of(sql)
        if re.search(r"CHANGES\s+BETWEEN", sql, re.I):
            sql = self._rewrite_changes_between(sql)
        try:
            return Result("resultset", self.spark.sql(sql))
        except Exception as e:  # noqa: BLE001 — analyzer errors → MySQL-ish codes
            msg = str(e)
            code = 1146 if "TABLE_OR_VIEW_NOT_FOUND" in msg else 1105
            raise SparrowError(code, msg) from e

    def _explain(self, stmt: str) -> Result:
        # EXPLAIN [ANALYZE|VERBOSE] <query> rendered as a result set
        # (reference src/execute_impl/explain.rs:41-101).
        m = re.match(r"EXPLAIN\s+(ANALYZE\s+|VERBOSE\s+)?(.*)", stmt, re.I | re.S)
        mode = (m.group(1) or "").strip().upper()
        inner = m.group(2)
        inner = substitute_variables(inner, self.system_vars, self.user_vars)
        inner = self._rewrite_information_schema(strip_dual(inner))
        if mode == "ANALYZE":
            return self._explain_analyze(inner)
        spark_mode = {"VERBOSE": "EXTENDED", "": ""}[mode]
        return Result("resultset", self.spark.sql(f"EXPLAIN {spark_mode} {inner}"))

    def _explain_analyze(self, inner: str) -> Result:
        """EXPLAIN ANALYZE: execute the query and report per-operator
        runtime metrics (actual row counts, timings, shuffle/spill
        sizes), like the reference's plan-with-metrics renderer
        (src/execute_impl/explain.rs:41-101). Spark SQL has no native
        EXPLAIN ANALYZE, so we run the plan and walk the executed
        physical tree's SQLMetric registry."""
        try:
            df = self.spark.sql(inner)
            df.collect()  # execute so metrics are populated
            jplan = df._jdf.queryExecution().executedPlan()
        except Exception as e:  # noqa: BLE001
            msg = str(e)
            code = 1146 if "TABLE_OR_VIEW_NOT_FOUND" in msg else 1105
            raise SparrowError(code, msg) from e
        rows: list[tuple[str, str]] = []
        self._walk_executed_plan(jplan, 0, rows)
        out = self.spark.createDataFrame(rows, "operator string, metrics string")
        return Result("resultset", out)

    @staticmethod
    def _walk_executed_plan(node, depth: int, rows: list) -> None:
        """Depth-first render of an executed SparkPlan with metric
        values, unwrapping AQE wrappers (AdaptiveSparkPlanExec holds the
        runtime-final plan; QueryStageExec wraps materialized stages)."""
        name = node.nodeName()
        # AQE wrappers: descend into the runtime-final subplan.
        for unwrap in ("executedPlan", "plan"):  # Adaptive / QueryStage
            if name in ("AdaptiveSparkPlan", "BroadcastQueryStage",
                        "ShuffleQueryStage", "TableCacheQueryStage",
                        "ResultQueryStage"):
                try:
                    inner = getattr(node, unwrap)()
                    rows.append(("  " * depth + name, ""))
                    Engine._walk_executed_plan(inner, depth + 1, rows)
                    return
                except Exception:  # noqa: BLE001 — wrapper w/o that accessor
                    continue
        parts = []
        try:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                metric = kv._2()
                parts.append(f"{kv._1()}={metric.value()}")
        except Exception:  # noqa: BLE001 — metric-less node
            pass
        rows.append(("  " * depth + name, ", ".join(sorted(parts))))
        children = node.children()
        for i in range(children.size()):
            Engine._walk_executed_plan(children.apply(i), depth + 1, rows)

    # ------------------------------------------------------------------
    # session / schema statements
    # ------------------------------------------------------------------
    def _use(self, stmt: str) -> Result:
        db = check_ident(stmt.split(None, 1)[1])
        if not self.catalog.has_schema(db):
            raise SparrowError(1049, f"Unknown database '{db}'")
        self.current_schema = db
        self.spark.catalog.setCurrentDatabase(db)
        return Result("ok")

    def _create_schema(self, stmt: str) -> Result:
        m = re.match(
            r"CREATE\s+(?:DATABASE|SCHEMA)\s+(IF\s+NOT\s+EXISTS\s+)?(\S+)", stmt, re.I
        )
        if not m:
            raise SparrowError(1064, f"syntax error: {stmt}")
        db = check_ident(m.group(2))
        if self.catalog.has_schema(db):
            if m.group(1):
                return Result("ok")
            raise SparrowError(1007, f"Can't create database '{db}'; database exists")
        self.catalog.create_schema(db)
        self._spark_create_db(db)
        return Result("ok", affected_rows=1)

    def _drop_schema(self, stmt: str) -> Result:
        m = re.match(r"DROP\s+(?:DATABASE|SCHEMA)\s+(IF\s+EXISTS\s+)?(\S+)", stmt, re.I)
        if not m:
            raise SparrowError(1064, f"syntax error: {stmt}")
        db = check_ident(m.group(2))
        if not self.catalog.has_schema(db):
            if m.group(1):
                return Result("ok")
            raise SparrowError(1008, f"Can't drop database '{db}'; database doesn't exist")
        tables = self.catalog.tables(db)
        with self._write_locks((db, t) for t in tables):
            for t in tables:
                self.spark.sql(f"DROP TABLE IF EXISTS `{db}`.`{t}`")
            self.catalog.drop_schema(db)
        if self.current_schema == db:
            self.current_schema = None
            self.spark.catalog.setCurrentDatabase("default")
        self.spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")
        return Result("ok")

    # ------------------------------------------------------------------
    # DDL
    # ------------------------------------------------------------------
    def _resolve_table_name(self, raw: str) -> tuple[str, str]:
        parts = [p.strip().strip("`") for p in raw.strip().split(".")]
        if len(parts) == 2:
            return check_ident(parts[0]), check_ident(parts[1])
        if self.current_schema is None:
            raise SparrowError(1046, "No database selected")
        return self.current_schema, check_ident(parts[0])

    def _create_table_as(self, m: "re.Match[str]") -> Result:
        """CTAS — absent in the reference's surface, free on Spark: run
        the query through the normal dialect path, derive the table
        schema from the result, write data + catalog + registration.
        Data is written before the catalog entry so a failed query
        leaves no half-created table."""
        if_not_exists, name_raw, query_sql = m.group(1), m.group(2), m.group(3)
        schema, table = self._resolve_table_name(name_raw)
        if not self.catalog.has_schema(schema):
            raise SparrowError(1049, f"Unknown database '{schema}'")
        if self.catalog.has_table(schema, table):
            if if_not_exists:
                return Result("ok")
            raise SparrowError(1050, f"Table '{table}' already exists")
        df = self._query(query_sql).df
        bad = [f.name for f in df.schema.fields if re.search(r"[ ,;{}()\n\t=]", f.name)]
        if bad:
            raise SparrowError(
                1064, f"CTAS result columns need aliases (invalid names: {bad})"
            )
        tdef = TableDef(schema=schema, name=table)
        for i, f in enumerate(df.schema.fields):
            tdef.columns.append(
                ColumnDef(
                    name=f.name,
                    spark_type=f.dataType.simpleString(),
                    sql_type=f.dataType.simpleString().upper(),
                    nullable=f.nullable,
                    store_id=tdef.next_store_id,
                    ordinal_position=i + 1,
                )
            )
            tdef.next_store_id += 1
        with_rowid = df.select(F.expr("uuid()").alias(ROWID), "*")
        with_rowid.write.mode("overwrite").parquet(
            self.catalog.data_path(schema, table)
        )
        self.catalog.save(tdef)
        self._register_spark_table(tdef)
        return Result("ok")

    def _create_table(self, stmt: str) -> Result:
        ctas = re.match(
            r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w`.]+)\s+AS\s+"
            r"((?:SELECT|WITH|VALUES|TABLE)\b.*)$",
            stmt,
            re.I | re.S,
        )
        if ctas:
            return self._create_table_as(ctas)
        m = re.match(
            r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_`.][\w`.]*)\s*\(",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise SparrowError(1064, f"syntax error in CREATE TABLE: {stmt[:80]}")
        if_not_exists, name_raw = m.groups()
        # Split column body from tail clauses (ENGINE=, PARTITIONED BY)
        # by paren depth — a greedy regex would swallow a parenthesized
        # tail clause into the body.
        depth, i = 1, m.end()
        while i < len(stmt) and depth:
            if stmt[i] == "(":
                depth += 1
            elif stmt[i] == ")":
                depth -= 1
            i += 1
        if depth:
            raise SparrowError(1064, f"syntax error in CREATE TABLE: {stmt[:80]}")
        body, tail = stmt[m.end() : i - 1], stmt[i:].strip()
        schema, table = self._resolve_table_name(name_raw)
        if not self.catalog.has_schema(schema):
            raise SparrowError(1049, f"Unknown database '{schema}'")
        if self.catalog.has_table(schema, table):
            if if_not_exists:
                return Result("ok")
            raise SparrowError(1050, f"Table '{table}' already exists")

        tdef = TableDef(schema=schema, name=table)
        engine_m = re.search(r"ENGINE\s*=\s*(\w+)", tail or "", re.I)
        if engine_m:
            tdef.engine = engine_m.group(1).lower()
        part_m = re.search(
            r"PARTITION(?:ED)?\s+BY\s*\(([^)]*)\)", tail or "", re.I
        )
        if part_m:
            tdef.partition_by = [
                check_ident(c) for c in split_top_level(part_m.group(1))
            ]

        for item in split_top_level(body):
            up = item.upper()
            if up.startswith("PRIMARY KEY"):
                cols = re.search(r"\((.*)\)", item, re.S).group(1)
                tdef.primary_key = [check_ident(c) for c in split_top_level(cols)]
            elif up.startswith("UNIQUE"):
                cols = re.search(r"\((.*)\)", item, re.S).group(1)
                tdef.uniques.append([check_ident(c) for c in split_top_level(cols)])
            elif up.startswith(("KEY ", "INDEX ", "CONSTRAINT ")):
                # secondary indexes beyond uniqueness are not a thing in
                # the reference either (SURVEY §1.1) — accept and ignore
                continue
            else:
                tdef.columns.append(self._parse_column_def(item, tdef))
        if not tdef.columns:
            raise SparrowError(1113, "A table must have at least 1 column")
        for col in tdef.primary_key:
            cdef = tdef.column(col)
            if cdef is None:
                raise SparrowError(1072, f"Key column '{col}' doesn't exist in table")
            cdef.nullable = False
        for col in tdef.partition_by:
            if tdef.column(col) is None:
                raise SparrowError(
                    1072, f"Key column '{col}' doesn't exist in table"
                )
        self.catalog.save(tdef)
        self._register_spark_table(tdef)
        if tdef.engine == "snapshot":
            # v0 = the empty table, so history starts at creation.
            self._snapshot_commit(schema, table, tdef, op="create")
        return Result("ok")

    def _parse_column_def(self, item: str, tdef: TableDef) -> ColumnDef:
        m = re.match(r"[`\"]?(\w+)[`\"]?\s+([A-Za-z]+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)(.*)$",
                     item.strip(), re.S)
        if not m:
            raise SparrowError(1064, f"cannot parse column definition: {item!r}")
        name, sql_type, rest = m.groups()
        name = check_ident(name)
        base = sql_type.split("(")[0].strip().lower()
        if base in MYSQL_TO_SPARK:
            spark_type = MYSQL_TO_SPARK[base]
        elif base in ("decimal", "numeric"):
            spark_type = "decimal" + (
                "(" + sql_type.split("(", 1)[1] if "(" in sql_type else "(10,0)"
            )
        else:
            # Reference errors on unknown types (src/meta/meta_util.rs:553-561)
            raise SparrowError(1064, f"unsupported column type: {sql_type}")
        nullable = not re.search(r"NOT\s+NULL", rest, re.I)
        if re.search(r"PRIMARY\s+KEY", rest, re.I):
            tdef.primary_key = [name]
            nullable = False
        cdef = ColumnDef(
            name=name,
            spark_type=spark_type,
            sql_type=sql_type.strip().upper(),
            nullable=nullable,
            store_id=tdef.next_store_id,
            ordinal_position=len(tdef.columns) + 1,
        )
        tdef.next_store_id += 1
        return cdef

    def _drop_table(self, stmt: str) -> Result:
        m = re.match(r"DROP\s+TABLE\s+(IF\s+EXISTS\s+)?(.+)$", stmt, re.I)
        if_exists, names = m.groups()
        named = [self._resolve_table_name(raw) for raw in split_top_level(names)]
        with self._write_locks(named):
            # Validate every name before dropping any, so a typo in a
            # multi-table DROP doesn't leave partial effects.
            existing = [n for n in named if self.catalog.has_table(*n)]
            if len(existing) < len(named) and not if_exists:
                schema, table = next(n for n in named if n not in existing)
                raise SparrowError(1051, f"Unknown table '{schema}.{table}'")
            for schema, table in existing:
                self.catalog.drop_table(schema, table)
                self.spark.sql(f"DROP TABLE IF EXISTS `{schema}`.`{table}`")
        return Result("ok")

    def _rename_table(self, stmt: str) -> Result:
        """RENAME TABLE a TO b [, c TO d] — MySQL multi-pair rename.
        Each pair is one filesystem move of the table directory plus a
        Spark-catalog re-registration; all pairs are validated before
        any is applied (MySQL's all-or-nothing contract, which we can
        honor up front because validation is pure catalog metadata)."""
        body = re.sub(r"^RENAME\s+TABLE\s+", "", stmt.strip(), flags=re.I)
        pairs = []
        for clause in split_top_level(body):
            m = re.match(r"(\S+)\s+TO\s+(\S+)$", clause.strip(), re.I)
            if not m:
                raise SparrowError(
                    1064, f"syntax error in RENAME TABLE: {clause[:80]}"
                )
            src = self._resolve_table_name(m.group(1))
            dst = self._resolve_table_name(m.group(2))
            pairs.append((src, dst))
        with self._write_locks(name for pair in pairs for name in pair):
            return self._rename_pairs(pairs)

    def _rename_pairs(self, pairs) -> Result:
        """Validate and apply RENAME pairs; the caller holds the write
        lock of every table named. Each table's lock file moves with
        its directory, so the lock stays held under the new name."""
        renamed_away = set()
        created = set()
        for (ss, st), (ds, dt) in pairs:
            if (
                not self.catalog.has_table(ss, st) or (ss, st) in renamed_away
            ) and (ss, st) not in created:
                raise SparrowError(1146, f"Table '{ss}.{st}' doesn't exist")
            if not self.catalog.has_schema(ds):
                raise SparrowError(1049, f"Unknown database '{ds}'")
            if (
                self.catalog.has_table(ds, dt) and (ds, dt) not in renamed_away
            ) or (ds, dt) in created:
                raise SparrowError(1050, f"Table '{dt}' already exists")
            renamed_away.add((ss, st))
            created.add((ds, dt))
        for (ss, st), (ds, dt) in pairs:
            tdef = self.catalog.rename_table(ss, st, ds, dt)
            self.spark.sql(f"DROP TABLE IF EXISTS `{ss}`.`{st}`")
            self._register_spark_table(tdef)
        return Result("ok")

    def _alter_rename(self, stmt: str) -> Result | None:
        """ALTER TABLE t RENAME [TO|AS] u and ALTER TABLE t RENAME
        COLUMN a TO b (MySQL 8 surface). Returns None when the ALTER is
        not a rename form so _alter_table falls through to ADD/DROP."""
        m = re.match(
            r"ALTER\s+TABLE\s+(\S+)\s+RENAME\s+COLUMN\s+(\S+)\s+TO\s+(\S+)\s*$",
            stmt,
            re.I,
        )
        if m:
            name_raw, old_raw, new_raw = m.groups()
            schema, table = self._resolve_table_name(name_raw)
            tdef = self.catalog.load(schema, table)
            old, new = check_ident(old_raw), check_ident(new_raw)
            cdef = tdef.column(old)
            if not cdef:
                raise SparrowError(
                    1054, f"Unknown column '{old}' in '{table}'"
                )
            if tdef.column(new):
                raise SparrowError(1060, f"Duplicate column name '{new}'")
            if old in tdef.partition_by:
                # The column IS the directory layout (same constraint as
                # DROP COLUMN on a partition column).
                raise SparrowError(
                    3855,
                    f"Column '{old}' has a partitioning function "
                    "dependency and cannot be renamed",
                )
            # Parquet embeds column names per file, so a rename is a COW
            # rewrite with the column aliased — the same physical
            # primitive as DROP COLUMN, keeping old files unreadable
            # never: the rewrite replaces the data dir atomically.
            data = self._read_physical(schema, table, tdef)
            new_data = data.select(
                ROWID,
                *[
                    F.col(c.name).alias(new if c.name == old else c.name)
                    for c in tdef.columns
                ],
            )
            self._overwrite_data(schema, table, new_data)
            cdef.name = new
            tdef.primary_key = [new if c == old else c for c in tdef.primary_key]
            tdef.uniques = [
                [new if c == old else c for c in u] for u in tdef.uniques
            ]
            self.catalog.save(tdef)
            self._recreate_spark_table(tdef)
            return Result("ok")
        m = re.match(
            r"ALTER\s+TABLE\s+(\S+)\s+RENAME\s+(?:TO\s+|AS\s+)?(\S+)\s*$",
            stmt,
            re.I,
        )
        if m:
            src = self._resolve_table_name(m.group(1))
            dst = self._resolve_table_name(m.group(2))
            # ALTER TABLE already holds the source's write lock.
            return self._rename_pairs([(src, dst)])
        return None

    def _alter_table(self, stmt: str) -> Result:
        if re.match(r"ALTER\s+TABLE\s+\S+\s+RENAME\b", stmt, re.I):
            out = self._alter_rename(stmt)
            if out is not None:
                return out
        m = re.match(
            r"ALTER\s+TABLE\s+(\S+)\s+(ADD|DROP)\s+(?:COLUMN\s+)?(.*)$", stmt, re.I | re.S
        )
        if not m:
            raise SparrowError(1064, f"syntax error in ALTER TABLE: {stmt[:80]}")
        name_raw, action, rest = m.groups()
        schema, table = self._resolve_table_name(name_raw)
        tdef = self.catalog.load(schema, table)
        if action.upper() == "ADD":
            cdef = self._parse_column_def(rest, tdef)
            if tdef.column(cdef.name):
                raise SparrowError(1060, f"Duplicate column name '{cdef.name}'")
            tdef.columns.append(cdef)
            self.catalog.save(tdef)
            # parquet schema evolution: old files simply lack the column
            self.spark.sql(
                f"ALTER TABLE `{schema}`.`{table}` ADD COLUMNS (`{cdef.name}` {cdef.spark_type})"
            )
            return Result("ok")
        # DROP COLUMN: rewrite data without the column (the reference
        # rewrites catalog ordinals instead — src/execute_impl/drop_column.rs)
        col = check_ident(rest)
        if not tdef.column(col):
            raise SparrowError(1091, f"Can't DROP '{col}'; check that column exists")
        if col in tdef.partition_by:
            # The column IS the directory layout; dropping it would
            # orphan every <col>=<val>/ path (MySQL: error 3855).
            raise SparrowError(
                3855,
                f"Column '{col}' has a partitioning function dependency "
                "and cannot be dropped",
            )
        data = self._read_physical(schema, table, tdef)
        remaining = [c for c in tdef.columns if c.name != col]
        new_data = data.select(ROWID, *[F.col(c.name) for c in remaining])
        self._overwrite_data(schema, table, new_data)
        tdef.columns = remaining
        for i, c in enumerate(tdef.columns):
            c.ordinal_position = i + 1
        tdef.primary_key = [c for c in tdef.primary_key if c != col]
        tdef.uniques = [u for u in (
            [c for c in u if c != col] for u in tdef.uniques
        ) if u]
        self.catalog.save(tdef)
        self._recreate_spark_table(tdef)
        return Result("ok")

    # ------------------------------------------------------------------
    # DML
    # ------------------------------------------------------------------
    def _rows_from_select(self, name_raw: str, collist, query_sql: str):
        """Shared SELECT-source evaluation for INSERT [IGNORE] / ODKU:
        returns (schema, table, tdef, typed new_rows)."""
        schema, table = self._resolve_table_name(name_raw)
        tdef = self.catalog.load(schema, table)
        target_cols = (
            [check_ident(c) for c in split_top_level(collist)]
            if collist
            else [c.name for c in tdef.columns]
        )
        for c in target_cols:
            if not tdef.column(c):
                raise SparrowError(1054, f"Unknown column '{c}' in 'field list'")
        src = self._query(query_sql).df
        if len(src.columns) != len(target_cols):
            raise SparrowError(1136, "Column count doesn't match value count")
        new_rows = src.select(
            *[
                F.col(src.columns[i]).cast(tdef.column(c).spark_type).alias(c)
                for i, c in enumerate(target_cols)
            ]
        )
        for c in tdef.columns:
            if c.name not in target_cols:
                if not c.nullable:
                    raise SparrowError(
                        1364, f"Field '{c.name}' doesn't have a default value"
                    )
                new_rows = new_rows.withColumn(c.name, F.lit(None).cast(c.spark_type))
        return schema, table, tdef, new_rows.select(*[c.name for c in tdef.columns])

    def _insert_rows_any(self, insert_part: str):
        """Rows for INSERT INTO t [cols] (VALUES … | SELECT …):
        returns (schema, table, tdef, new_rows, from_values). INSERT,
        INSERT IGNORE and ON DUPLICATE KEY UPDATE all accept either
        source (MySQL does too)."""
        m = re.match(
            r"INSERT\s+INTO\s+([\w`.]+)\s*(\(([^)]*)\))?\s*VALUES\s*(.+)$",
            insert_part,
            re.I | re.S,
        )
        if m:
            schema, table, tdef, new_rows, _ = self._rows_from_values(m)
            return schema, table, tdef, new_rows, True
        sm = re.match(
            r"INSERT\s+INTO\s+([\w`.]+)\s*(\(([^)]*)\))?\s*"
            r"((?:SELECT|WITH|TABLE)\b.*)$",
            insert_part,
            re.I | re.S,
        )
        if sm:
            schema, table, tdef, new_rows = self._rows_from_select(
                sm.group(1), sm.group(3), sm.group(4)
            )
            return schema, table, tdef, new_rows, False
        raise SparrowError(1064, f"syntax error in INSERT: {insert_part[:80]}")

    def _replace(self, stmt: str) -> Result:
        """REPLACE INTO (MySQL upsert): delete stored rows that collide
        with the new rows on the primary or any unique key, then insert
        every new row. A front-end of the upsert core (_upsert)."""
        m = re.match(
            r"REPLACE\s+INTO\s+([\w`.]+)\s*(\(([^)]*)\))?\s*VALUES\s*(.+)$",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise SparrowError(1064, f"syntax error in REPLACE: {stmt[:80]}")
        schema, table, tdef, new_rows, n_rows = self._rows_from_values(m)
        key_sets = tdef.key_sets()
        if not key_sets:
            raise SparrowError(
                1062, "REPLACE requires a PRIMARY KEY or UNIQUE constraint"
            )
        # Intra-batch duplicates still error (matches INSERT semantics;
        # MySQL would keep the last row — stricter is safer here).
        for index_name, cols in key_sets:
            self._check_batch_key(new_rows, index_name, cols)

        def rewrite(stored: DataFrame) -> DataFrame:
            for _, cols in key_sets:
                stored = stored.join(new_rows.select(*cols), on=cols, how="left_anti")
            return stored.unionByName(
                new_rows.select(F.expr("uuid()").alias(ROWID), "*")
            )

        self._upsert(schema, table, tdef, self._key_match(key_sets, new_rows), rewrite)
        return Result("ok", affected_rows=n_rows)

    def _insert_ignore(self, stmt: str) -> Result:
        """INSERT IGNORE (MySQL): rows that would raise duplicate-key
        error 1062 — against stored rows OR earlier rows of the same
        batch (MySQL keeps the FIRST) — are silently skipped instead;
        affected_rows counts only what actually landed. Set-at-a-time:
        one occurrence rank per key set drops intra-batch later
        duplicates (NULL-keyed rows never conflict and all rank first),
        one anti-join per key set drops stored collisions (plain
        equality lets NULL keys through). Accepts a SELECT source as
        well as VALUES; a SELECT has no defined row order, so "first"
        among its in-batch duplicates is whichever row the scan yields
        first (MySQL without ORDER BY is equally unspecified)."""
        schema, table, tdef, new_rows, _ = self._insert_rows_any(stmt)
        key_sets = tdef.key_sets()
        col_names = [c.name for c in tdef.columns]
        if key_sets:
            # A VALUES batch is one partition in tuple order, so
            # monotonically_increasing_id preserves that order — the
            # "first row wins" MySQL contract needs it. (For a SELECT
            # source the id is per-partition monotonic: a deterministic
            # keeper per key, arbitrary order.)
            ordered = new_rows.withColumn("__ord", F.monotonically_increasing_id())
            for _, cols in key_sets:
                ordered = (
                    self._occurrence_rank(ordered, cols)
                    .filter(F.col("__rank") == 1)
                    .drop("__rank")
                )
            survivors = ordered.drop("__ord")
            existing = self._read_physical(schema, table, tdef)
            for _, cols in key_sets:
                survivors = survivors.join(
                    existing.select(*cols), on=cols, how="left_anti"
                )
            new_rows = survivors.select(*col_names)
        n_rows = self._replace_files(
            schema, table, [], new_rows.select(F.expr("uuid()").alias(ROWID), "*")
        )
        return Result("ok", affected_rows=n_rows)

    def _truncate(self, stmt: str) -> Result:
        """TRUNCATE [TABLE] t — MySQL's fast table reset. Same physical
        action as the unconditional DELETE (_truncate_data) but with
        MySQL's contract: affected_rows reports 0, not the removed row
        count."""
        m = re.match(r"TRUNCATE\s+(?:TABLE\s+)?([\w`.]+)\s*$", stmt, re.I)
        if not m:
            raise SparrowError(1064, f"syntax error in TRUNCATE: {stmt[:80]}")
        schema, table = self._resolve_table_name(m.group(1))
        self._truncate_data(schema, table, self.catalog.load(schema, table))
        return Result("ok", affected_rows=0)

    def _insert_odku(self, insert_part: str, assign_sql: str) -> Result:
        """INSERT ... ON DUPLICATE KEY UPDATE (MySQL upsert-in-place):
        rows that collide with a stored row on the primary or a unique
        key apply the assignment list to the EXISTING row — `VALUES(c)`
        inside an assignment refers to the incoming row's value, bare
        column names to the stored row (MySQL semantics) — and
        non-colliding rows insert normally. A front-end of the upsert
        core (_upsert), no per-row loop: per key set one join pairs
        stored rows with their incoming twin and the assignments
        evaluate set-at-a-time; the incoming rows left unpaired insert.
        affected_rows follows the MySQL convention: 1 per inserted row,
        2 per updated row.

        MySQL-semantics notes (also in README "Dialect compatibility"):
        NULLs never conflict in a unique index, so NULL-keyed incoming
        rows fall through to plain insert (plain-equality joins
        throughout — never eqNullSafe, which would pair NULL with NULL
        and double-write the stored row). An incoming row that collides
        with DIFFERENT stored rows on different indexes updates only
        the row matched by the FIRST key set in index order (MySQL
        updates one row per incoming row); the remaining collisions
        suppress the insert but apply no second update. Intra-batch
        duplicate keys fold sequentially like MySQL: the first
        occurrence of a key inserts (or updates the stored row), each
        later one applies the assignments to the ACCUMULATED row. The
        fold runs in occurrence-rank passes — pass i carries every
        key's i-th occurrence — so the pass count is the batch's max
        key multiplicity, one without duplicates. It is defined for a
        VALUES batch, a single key set and assignments that leave the
        key columns alone; outside that case (SELECT sources /
        multi-index / key-mutating duplicates) duplicates still error
        1062 (documented deviation — MySQL's own fold order is
        undefined or discouraged there).

        The reference only ERRORS on duplicates (error 1062,
        src/execute_impl/insert.rs:208); ODKU, REPLACE (_replace) and
        MERGE (_merge) are this engine's upsert supersets."""
        schema, table, tdef, new_rows, from_values = self._insert_rows_any(
            insert_part
        )
        key_sets = tdef.key_sets()
        if not key_sets:
            raise SparrowError(
                1062,
                "INSERT ... ON DUPLICATE KEY UPDATE requires a PRIMARY KEY "
                "or UNIQUE constraint",
            )
        # Parse the assignment list; VALUES(c) -> the incoming row's c.
        assigns: dict[str, str] = {}
        for part in split_top_level(assign_sql):
            am = re.match(r"\s*`?(\w+)`?\s*=\s*(.+)$", part, re.S)
            if not am:
                raise SparrowError(1064, f"bad assignment: {part[:60]}")
            cname = check_ident(am.group(1))
            if not tdef.column(cname):
                raise SparrowError(1054, f"Unknown column '{cname}' in 'field list'")
            assigns[cname] = re.sub(
                r"VALUES\s*\(\s*`?(\w+)`?\s*\)", r"`__new_\1`", am.group(2),
                flags=re.I,
            )
        col_names = [c.name for c in tdef.columns]
        key_cols = key_sets[0][1]
        passes = 1
        if from_values and len(key_sets) == 1 and not set(assigns) & set(key_cols):
            # A VALUES batch is one partition in tuple order, so
            # monotonically_increasing_id orders the occurrences.
            ranked = self._occurrence_rank(
                new_rows.withColumn("__ord", F.monotonically_increasing_id()),
                key_cols,
            )
            passes = ranked.agg(F.max("__rank")).first()[0]
        else:
            for index_name, cols in key_sets:
                self._check_batch_key(new_rows, index_name, cols)
        incoming_cols = [F.col(c).alias(f"__new_{c}") for c in col_names]
        assigned = [
            (
                F.expr(assigns[c]).cast(tdef.column(c).spark_type)
                if c in assigns
                else F.col(c)
            ).alias(c)
            for c in col_names
        ]
        affected = Observation()

        def fold(stored: DataFrame) -> DataFrame:
            # __aff is each row's share of affected_rows: 1 for an
            # insert, +2 per update applied to it.
            state = stored.withColumn("__aff", F.lit(0))
            for i in range(1, passes + 1):
                batch = new_rows if passes == 1 else ranked.filter(F.col("__rank") == i)
                incoming = batch.select(*incoming_cols, F.lit(True).alias("__hit"))
                untouched, out = state, []
                for _, cols in key_sets:
                    # Plain equality, NOT eqNullSafe: NULL-keyed incoming
                    # rows must never pair (NULLs don't conflict in
                    # unique indexes). A key set's keys are unique on both
                    # sides, so the left join pairs each stored row with
                    # at most one incoming row.
                    cond = [untouched[c] == incoming[f"__new_{c}"] for c in cols]
                    joined = untouched.join(incoming, on=cond, how="left")
                    pair = joined.filter(F.col("__hit").isNotNull())
                    out.append(
                        pair.select(
                            ROWID, *assigned, (F.col("__aff") + 2).alias("__aff")
                        )
                    )
                    # The paired stored rows leave `untouched` and the
                    # paired incoming rows are consumed, so a later key
                    # set cannot pair either again (MySQL updates one row
                    # per incoming row).
                    untouched = joined.filter(F.col("__hit").isNull()).select(
                        *state.columns
                    )
                    new_key = [f"__new_{c}" for c in cols]
                    incoming = incoming.join(
                        pair.select(*new_key), on=new_key, how="left_anti"
                    )
                # An unpaired incoming row inserts, unless a later key set
                # collides with a stored row an earlier key set paired.
                for _, cols in key_sets[1:]:
                    stored_key = [F.col(c).alias(f"__new_{c}") for c in cols]
                    incoming = incoming.join(
                        state.select(*stored_key),
                        on=[f"__new_{c}" for c in cols],
                        how="left_anti",
                    )
                out.append(
                    incoming.select(
                        F.expr("uuid()").alias(ROWID),
                        *[F.col(f"__new_{c}").alias(c) for c in col_names],
                        F.lit(1).alias("__aff"),
                    )
                )
                state = functools.reduce(DataFrame.unionByName, out, untouched)
                if i < passes:
                    # The next pass's plan holds several copies of this
                    # state: materialize it so the plan stays
                    # constant-sized and the inserted ROWIDs stay fixed.
                    state = state.localCheckpoint()
            return state.observe(affected, F.sum("__aff").alias("n")).drop("__aff")

        self._upsert(schema, table, tdef, self._key_match(key_sets, new_rows), fold)
        return Result("ok", affected_rows=affected.get["n"] or 0)

    def _merge(self, stmt: str) -> Result:
        """MERGE INTO target USING src ON cond
        [WHEN MATCHED THEN UPDATE SET c = expr, ... | DELETE]
        [WHEN NOT MATCHED THEN INSERT (cols) VALUES (exprs) | INSERT *]

        A front-end of the upsert core (_upsert), no per-row loop: the
        ON condition semi-joins the target to find the files to rewrite,
        matched target rows in them are rewritten (or dropped), and
        unmatched source rows are appended. The reference has no MERGE;
        this is the engine's upsert superset beyond REPLACE."""
        head_m = re.match(
            r"MERGE\s+INTO\s+([\w`.]+)(?:\s+AS\s+(\w+)|\s+(\w+))?\s+USING\s+",
            stmt,
            re.I | re.S,
        )
        if not head_m:
            raise SparrowError(1064, f"syntax error in MERGE: {stmt[:80]}")
        tname, ta1, ta2 = head_m.groups()
        rest = stmt[head_m.end():]
        # The USING source may be a parenthesized subquery with nested
        # parens (CAST(...), function calls) — match by depth, not regex.
        if rest.startswith("("):
            depth, i = 0, 0
            for i, ch in enumerate(rest):
                depth += ch == "("
                depth -= ch == ")"
                if depth == 0:
                    break
            if depth != 0:
                raise SparrowError(1064, "unbalanced parens in MERGE USING")
            src_sql, rest = rest[: i + 1], rest[i + 1:]
        else:
            sm = re.match(r"([\w`.]+)", rest)
            if not sm:
                raise SparrowError(1064, f"syntax error in MERGE: {stmt[:80]}")
            src_sql, rest = sm.group(1), rest[sm.end():]
        tail_m = re.match(
            r"(?:\s+AS\s+(\w+)|\s+(?!ON\b)(\w+))?\s+ON\s+(.+?)\s+(WHEN\s+.+)$",
            rest,
            re.I | re.S,
        )
        if not tail_m:
            raise SparrowError(1064, f"syntax error in MERGE: {stmt[:80]}")
        sa1, sa2, on_cond, clauses_sql = tail_m.groups()
        t_alias = ta1 or ta2 or "t"
        s_alias = sa1 or sa2 or "s"
        schema, table = self._resolve_table_name(tname)
        tdef = self.catalog.load(schema, table)

        upd_m = re.search(
            r"WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+(.+?)(?=\s+WHEN\s+|$)",
            clauses_sql, re.I | re.S,
        )
        del_m = re.search(r"WHEN\s+MATCHED\s+THEN\s+DELETE", clauses_sql, re.I)
        # INSERT column/VALUES lists are matched by paren depth (same as
        # the USING subquery above): [^)]* would truncate at the first
        # ')' inside CAST(...)/f(...) expressions.
        ins_head = re.search(
            r"WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s*", clauses_sql, re.I | re.S
        )
        ins_spec: tuple[str, str] | None = None  # (cols_sql, values_sql)
        ins_star = False
        if ins_head:
            after = clauses_sql[ins_head.end():]
            if after.lstrip().startswith("*"):
                ins_star = True
            else:
                cols_sql, after = _take_paren_block(after, "MERGE INSERT columns")
                vm = re.match(r"\s*VALUES\s*", after, re.I)
                if not vm:
                    raise SparrowError(1064, "MERGE INSERT expects VALUES (...)")
                vals_sql, _ = _take_paren_block(after[vm.end():], "MERGE INSERT VALUES")
                ins_spec = (cols_sql, vals_sql)
        has_insert = ins_star or ins_spec is not None
        if upd_m and del_m:
            raise SparrowError(1064, "MERGE supports one WHEN MATCHED action")
        if not (upd_m or del_m or has_insert):
            raise SparrowError(1064, "MERGE needs at least one WHEN clause")
        # The source is evaluated once: every join below reads the
        # materialized rows.
        src = (
            self._query(src_sql[1:-1]).df
            if src_sql.startswith("(")
            else self._query(f"SELECT * FROM {src_sql}").df
        ).localCheckpoint().alias(s_alias)
        cond = F.expr(substitute_variables(on_cond, self.system_vars, self.user_vars))
        tcols = [c.name for c in tdef.columns]
        assigns = {}
        if upd_m:
            for item in split_top_level(upd_m.group(1)):
                col, expr = item.split("=", 1)
                col = check_ident(col.strip().split(".")[-1])
                if not tdef.column(col):
                    raise SparrowError(1054, f"Unknown column '{col}' in MERGE SET")
                assigns[col] = expr.strip()
        inserted = Observation()

        def inserts(stored: DataFrame) -> DataFrame:
            """Source rows that match no stored row, as new table rows."""
            if ins_spec is not None:
                ins_cols = [check_ident(c) for c in split_top_level(ins_spec[0])]
                ins_exprs = split_top_level(ins_spec[1])
            else:  # INSERT *
                ins_cols, ins_exprs = tcols, [f"{s_alias}.{c}" for c in tcols]
            sel = []
            for c in tcols:
                if c in ins_cols:
                    e = ins_exprs[ins_cols.index(c)]
                    sel.append(F.expr(e).cast(tdef.column(c).spark_type).alias(c))
                elif not tdef.column(c).nullable:
                    raise SparrowError(1364, f"Field '{c}' doesn't have a default value")
                else:
                    sel.append(F.lit(None).cast(tdef.column(c).spark_type).alias(c))
            # Anti-join the source against only its matched target
            # rows: both joins then build on a batch-sized side.
            matched = stored.join(src, cond, "left_semi").alias(t_alias)
            return (
                src.join(matched, cond, "left_anti")
                .select(F.expr("uuid()").alias(ROWID), *sel)
                .observe(inserted, F.count(F.lit(1)).alias("n"))
            )

        def rewrite(stored: DataFrame) -> DataFrame:
            stored = stored.alias(t_alias)
            out = stored.join(src, cond, "left_anti")
            if upd_m:
                updated = stored.join(src, cond, "inner").select(
                    F.col(f"{t_alias}.{ROWID}").alias(ROWID),
                    *[
                        (
                            F.expr(assigns[c]).cast(tdef.column(c).spark_type)
                            if c in assigns
                            else F.col(f"{t_alias}.{c}")
                        ).alias(c)
                        for c in tcols
                    ],
                )
                # A target row matched by several source rows would be
                # written back as several copies (silent table growth) —
                # standard MERGE engines raise instead.
                if (
                    updated.groupBy(ROWID).count()
                    .filter(F.col("count") > 1).limit(1).collect()
                ):
                    raise SparrowError(
                        1062,
                        "MERGE: a target row matched multiple source rows "
                        "(non-deterministic UPDATE)",
                    )
                out = out.unionByName(updated)
            if has_insert:
                out = out.unionByName(inserts(stored))
            return out

        if upd_m or del_m:
            affected = self._upsert(
                schema,
                table,
                tdef,
                lambda d: d.alias(t_alias).join(src, cond, "left_semi"),
                rewrite,
            )
        else:
            # INSERT only: no stored row changes, so no file is rewritten.
            affected = 0
            target = self._read_physical(schema, table, tdef).alias(t_alias)
            self._replace_files(schema, table, [], inserts(target))
        if has_insert:
            affected += inserted.get["n"]
        return Result("ok", affected_rows=affected)

    def _insert(self, stmt: str) -> Result:
        ign = re.match(r"INSERT\s+IGNORE\s+(INTO\s+.+)$", stmt, re.I | re.S)
        if ign:
            return self._insert_ignore("INSERT " + ign.group(1))
        odku = re.match(
            r"(INSERT\s+INTO\s+[\w`.]+\s*(?:\([^)]*\))?\s*"
            r"(?:VALUES\s*|(?=SELECT\b|WITH\b|TABLE\b)).+?)"
            r"\s+ON\s+DUPLICATE\s+KEY\s+UPDATE\s+(.+)$",
            stmt,
            re.I | re.S,
        )
        if odku:
            return self._insert_odku(odku.group(1), odku.group(2))
        # VALUES, or SELECT — a superset of the reference's VALUES-only
        # surface with the same unique-key enforcement.
        schema, table, tdef, new_rows, _ = self._insert_rows_any(stmt)
        self._check_unique(tdef, new_rows)
        # assign rowids (reference: uuid per row, src/physical_plan/insert.rs:33)
        n_rows = self._replace_files(
            schema, table, [], new_rows.select(F.expr("uuid()").alias(ROWID), "*")
        )
        return Result("ok", affected_rows=n_rows)

    def _rows_from_values(self, m: "re.Match[str]"):
        """Shared VALUES evaluation for INSERT/REPLACE: returns
        (schema, table, tdef, typed new_rows, n_rows)."""
        name_raw, _, collist, values_part = m.groups()
        schema, table = self._resolve_table_name(name_raw)
        tdef = self.catalog.load(schema, table)
        target_cols = (
            [check_ident(c) for c in split_top_level(collist)]
            if collist
            else [c.name for c in tdef.columns]
        )
        for c in target_cols:
            if not tdef.column(c):
                raise SparrowError(1054, f"Unknown column '{c}' in 'field list'")

        tuples = split_top_level(values_part)
        n_rows = len(tuples)
        # Evaluate VALUES expressions with the full Spark expression
        # library (the reference evaluates each against an empty batch:
        # src/execute_impl/insert.rs:118-168 — same idea, set-at-a-time).
        values_sql = ",".join(tuples)
        aliases = ",".join(f"c{i}" for i in range(len(target_cols)))
        try:
            raw = self.spark.sql(f"SELECT * FROM (VALUES {values_sql}) AS v({aliases})")
        except Exception as e:  # noqa: BLE001
            raise SparrowError(1064, f"bad VALUES clause: {e}") from e
        exprs = []
        for i, cname in enumerate(target_cols):
            cdef = tdef.column(cname)
            exprs.append(F.col(f"c{i}").cast(cdef.spark_type).alias(cname))
        new_rows = raw.select(*exprs)
        # columns not in the target list are NULL
        for c in tdef.columns:
            if c.name not in target_cols:
                if not c.nullable:
                    raise SparrowError(
                        1364, f"Field '{c.name}' doesn't have a default value"
                    )
                new_rows = new_rows.withColumn(c.name, F.lit(None).cast(c.spark_type))
        # One partition, in tuple order: the statement-sized batch needs
        # no shuffle to group or rank, and lands as one file.
        new_rows = new_rows.select(*[c.name for c in tdef.columns]).coalesce(1)
        return schema, table, tdef, new_rows, n_rows

    def _check_unique(self, tdef: TableDef, new_rows: DataFrame) -> None:
        """Duplicate-key probe before insert — the reference probes its
        index keys per row (src/execute_impl/insert.rs:195-221); the
        set-based equivalent is an intra-batch group count plus a
        semi-join against the stored table."""
        key_sets = tdef.key_sets()
        if not key_sets:
            return
        existing = self._read_physical(tdef.schema, tdef.name, tdef)
        for index_name, cols in key_sets:
            self._check_batch_key(new_rows, index_name, cols)
            clash = (
                new_rows.join(existing.select(*cols), on=cols, how="left_semi")
                .limit(1)
                .collect()
            )
            if clash:
                raise _duplicate_entry(index_name, cols, clash[0])

    @staticmethod
    def _check_batch_key(rows: DataFrame, index_name: str, cols: list[str]) -> None:
        """Error 1062 when a key repeats within one statement's rows.
        NULLs never conflict in a unique index (MySQL), so rows with a
        NULL in the key are exempt."""
        dup = (
            rows.dropna(subset=cols).groupBy(*cols).count()
            .filter(F.col("count") > 1).limit(1).collect()
        )
        if dup:
            raise _duplicate_entry(index_name, cols, dup[0])

    @staticmethod
    def _occurrence_rank(rows: DataFrame, cols: list[str]) -> DataFrame:
        """Add __rank: the row's occurrence number, in __ord order, among
        the rows sharing its key (1 = first). A key with a NULL never
        conflicts, so such rows all rank 1."""
        has_null = F.lit(False)
        for c in cols:
            has_null = has_null | F.col(c).isNull()
        w = Window.partitionBy(*cols).orderBy("__ord")
        return rows.withColumn(
            "__rank", F.when(has_null, 1).otherwise(F.row_number().over(w))
        )

    def _update(self, stmt: str) -> Result:
        m = re.match(
            r"UPDATE\s+([\w`.]+)\s+SET\s+(.*?)(?:\s+WHERE\s+(.*))?$", stmt, re.I | re.S
        )
        if not m:
            raise SparrowError(1064, f"syntax error in UPDATE: {stmt[:80]}")
        name_raw, set_part, where = m.groups()
        schema, table = self._resolve_table_name(name_raw)
        tdef = self.catalog.load(schema, table)
        assignments: list[tuple[str, str]] = []
        for a in split_top_level(set_part):
            col, expr = a.split("=", 1)
            col = check_ident(col)
            if not tdef.column(col):
                raise SparrowError(1054, f"Unknown column '{col}' in 'field list'")
            assignments.append((col, expr.strip()))

        pred = F.expr(substitute_variables(where, self.system_vars, self.user_vars)) if where else F.lit(True)
        # File-level copy-on-write (Delta/Iceberg COW granularity): one
        # pass finds which parquet files contain matched rows AND the
        # matched count; only those files are rewritten — an UPDATE
        # hitting one file of a many-file table leaves the rest
        # untouched on disk. The reference rewrites per matched rowid
        # (src/execute_impl/update.rs:104-288); whole-table rewrite
        # would be the 100 TB anti-pattern.
        affected, touched = self._matched_files(
            schema, table, tdef, lambda d: d.filter(pred)
        )
        if not touched:
            return Result("ok", affected_rows=0)
        updated = self._read_files(
            tdef, touched, self.catalog.data_path(schema, table)
        )
        for col, expr in assignments:
            cdef = tdef.column(col)
            updated = updated.withColumn(
                col,
                F.when(pred, F.expr(expr).cast(cdef.spark_type)).otherwise(F.col(col)),
            )
        self._replace_files(schema, table, touched, updated)
        return Result("ok", affected_rows=affected)

    def _delete(self, stmt: str) -> Result:
        m = re.match(r"DELETE\s+FROM\s+([\w`.]+)(?:\s+WHERE\s+(.*))?$", stmt, re.I | re.S)
        if not m:
            raise SparrowError(1064, f"syntax error in DELETE: {stmt[:80]}")
        name_raw, where = m.groups()
        schema, table = self._resolve_table_name(name_raw)
        tdef = self.catalog.load(schema, table)
        if not where:
            # Unconditional DELETE = TRUNCATE that reports the row count.
            total = self._read_physical(schema, table, tdef).count()
            self._truncate_data(schema, table, tdef)
            return Result("ok", affected_rows=total)
        pred = F.expr(substitute_variables(where, self.system_vars, self.user_vars))
        # File-level copy-on-write, like UPDATE: rewrite only the files
        # that contain rows to delete (NULL predicate keeps the row,
        # matching SQL WHERE semantics).
        affected, touched = self._matched_files(
            schema, table, tdef, lambda d: d.filter(pred)
        )
        if not touched:
            return Result("ok", affected_rows=0)
        keep = self._read_files(
            tdef, touched, self.catalog.data_path(schema, table)
        ).filter(~pred | pred.isNull())
        self._replace_files(schema, table, touched, keep)
        return Result("ok", affected_rows=affected)

    # ------------------------------------------------------------------
    # concurrent-writer serialization
    # ------------------------------------------------------------------
    # Two Engine instances (or two processes) sharing one warehouse
    # directory must not interleave read-modify-write statements on the
    # same table: UPDATE/DELETE read the matched file list and then
    # swap files, so an unserialized concurrent writer could delete a
    # file between those steps (lost update / dangling read). Each
    # statement holds an exclusive flock(2) on <table_path>/.write.lock
    # for its whole run, and one that finds it taken waits in the
    # kernel (_flock_until) for up to _LOCK_TIMEOUT_S, then fails with
    # 1205; readers never take it (COW file swaps keep scans
    # consistent enough for the reference's non-transactional
    # contract). Within the serialized order the semantics are
    # last-writer-wins, exactly like the reference's KV store under its
    # global mutex (src/meta/meta_def.rs guards metadata, not data, the
    # same trade). The file is never removed and its content is never
    # read: the kernel releases the lock when the holder's descriptor
    # closes or its process dies, so there is no holder to probe and no
    # stale lock to break. flock, not POSIX record locks: those belong
    # to the process, and two Engines in one process must exclude each
    # other. The lock travels with the table directory on RENAME.
    _LOCK_TIMEOUT_S = 10.0

    _DML_TARGET_RE = re.compile(
        r"^(?:INSERT\s+(?:IGNORE\s+)?INTO|REPLACE\s+INTO|MERGE\s+INTO"
        r"|UPDATE|DELETE\s+FROM|ALTER\s+TABLE|RESTORE\s+TABLE|VACUUM"
        r"|TRUNCATE(?:\s+TABLE)?)"
        r"\s+([\w`.]+)",
        re.I,
    )

    def _locked_dml(self, stmt: str, fn) -> Result:
        m = self._DML_TARGET_RE.match(stmt)
        if not m:
            return fn(stmt)
        with self._write_lock(*self._resolve_table_name(m.group(1))):
            return fn(stmt)

    @contextmanager
    def _write_lock(self, schema: str, table: str):
        lock_path = os.path.join(
            self.catalog.table_path(schema, table), ".write.lock"
        )
        deadline = time.monotonic() + self._LOCK_TIMEOUT_S
        while True:
            try:
                fd = os.open(lock_path, os.O_CREAT | os.O_RDWR)
            except FileNotFoundError:
                # No such table (or dropped or renamed away while we
                # waited): the statement itself reports it.
                yield
                return
            if not _flock_until(fd, deadline):
                raise SparrowError(
                    1205,
                    "Lock wait timeout exceeded; try restarting "
                    f"transaction (table `{schema}`.`{table}`)",
                )
            # The holder we waited for may have dropped or renamed the
            # table: our lock is then on another path's file.
            try:
                if os.fstat(fd).st_ino == os.stat(lock_path).st_ino:
                    break
            except FileNotFoundError:
                pass
            os.close(fd)
        try:
            yield
        finally:
            os.close(fd)

    @contextmanager
    def _write_locks(self, tables):
        """Lock several tables in sorted order, so two statements
        naming the same tables cannot deadlock."""
        with ExitStack() as stack:
            for schema, table in sorted(set(tables)):
                stack.enter_context(self._write_lock(schema, table))
            yield

    # ------------------------------------------------------------------
    # physical helpers
    # ------------------------------------------------------------------
    @staticmethod
    def _physical_schema(tdef: TableDef) -> str:
        """DDL schema of the stored rows: hidden rowid + table columns."""
        return ", ".join(
            [f"`{ROWID}` string"] + [f"`{c.name}` {c.spark_type}" for c in tdef.columns]
        )

    def _read_physical(self, schema: str, table: str, tdef: TableDef) -> DataFrame:
        """Table data including the hidden rowid column."""
        path = self.catalog.data_path(schema, table)
        reader_schema = self._physical_schema(tdef)
        try:
            return self.spark.read.schema(reader_schema).parquet(path)
        except Exception:
            return self.spark.createDataFrame([], reader_schema)

    def _maintenance_targets(self, stmt: str, keyword: str) -> list[tuple[str, str]]:
        names = re.sub(rf"{keyword}\s+TABLE\s+", "", stmt, count=1, flags=re.I)
        out = []
        for raw in split_top_level(names):
            schema, table = self._resolve_table_name(raw)
            if not self.catalog.has_table(schema, table):
                raise SparrowError(1146, f"Table '{schema}.{table}' doesn't exist")
            # Dedupe resolved targets (OPTIMIZE TABLE t, t — or two
            # spellings resolving to one table): a duplicate would
            # rewrite the same table twice and, now that OPTIMIZE
            # locks per target, re-contend for a lock the statement
            # itself just held.
            if (schema, table) not in out:
                out.append((schema, table))
        return out

    def _zorder_sort(
        self, tdef: TableDef, data: DataFrame, zcols: list[str]
    ) -> DataFrame:
        """Order a compaction write along a Morton (Z-order) curve of
        the given columns — Delta Lake's OPTIMIZE ZORDER BY design:
        multi-column data clustering so parquet row-group min/max
        stats stay tight on EVERY zorder column at once, and zone-map
        skipping prunes on any of them (the single-column PK sort only
        helps PK predicates). Each column is min/max-normalized into
        2^bits range buckets (one 1-row broadcast aggregate for the
        whole column set), the bucket bits are interleaved
        (bit b of column i lands at position b*ncols + i), and the
        write sorts by the interleave. At cluster scale the coalesce
        becomes repartitionByRange on the z value — same curve, many
        z-contiguous files. Numeric, date, and timestamp columns only:
        a string axis needs range-id binning, refused with a clear
        error rather than hash-binned (hashing destroys the locality
        zordering exists to create)."""
        by_name = {c.name: c for c in tdef.columns}
        numeric = {
            "tinyint", "smallint", "int", "integer", "bigint", "long",
            "float", "double", "decimal",
        }
        keys = []
        for c in zcols:
            if c not in by_name:
                raise SparrowError(
                    1054, f"Unknown column '{c}' in ZORDER BY"
                )
            if c in (tdef.partition_by or []):
                raise SparrowError(
                    1105,
                    f"Unknown error: ZORDER BY column '{c}' is a "
                    "partition column — it is already a directory axis",
                )
            t = by_name[c].spark_type.lower().split("(")[0]
            if t in ("date", "timestamp"):
                keys.append(F.col(f"`{c}`").cast("timestamp").cast("double"))
            elif t in numeric:
                keys.append(F.col(f"`{c}`").cast("double"))
            else:
                raise SparrowError(
                    1105,
                    f"Unknown error: ZORDER BY column '{c}' has type "
                    f"{by_name[c].spark_type}; only numeric/date/"
                    "timestamp axes are supported",
                )
        n = len(zcols)
        bits = min(16, 62 // n)
        nb = 1 << bits
        # Helper columns must not shadow real table columns: a fixed
        # "_z"/"_zb0" name would silently REPLACE (withColumn) a user
        # column of the same name and then drop() would destroy its
        # data in the rewrite, while "_mn0"/"_mx0" collisions turn the
        # crossJoin into an ambiguous-name error. Suffix until free.
        existing = {c.name for c in tdef.columns}
        tag = "h"
        while any(
            f"_{p}{tag}{s}" in existing
            for p in ("z", "zb", "mn", "mx")
            for s in [""] + [str(i) for i in range(n)]
        ):
            tag += "h"
        zc, zbc = f"_z{tag}", f"_zb{tag}"
        mnc, mxc = f"_mn{tag}", f"_mx{tag}"
        aggs = []
        for i, k in enumerate(keys):
            aggs += [F.min(k).alias(f"{mnc}{i}"), F.max(k).alias(f"{mxc}{i}")]
        stats = data.agg(*aggs)
        out = data.crossJoin(F.broadcast(stats))
        for i, k in enumerate(keys):
            span = F.col(f"{mxc}{i}") - F.col(f"{mnc}{i}")
            bucket = F.when(
                k.isNull() | (span <= 0), F.lit(0)
            ).otherwise(
                F.least(
                    F.floor((k - F.col(f"{mnc}{i}")) / span * nb).cast("long"),
                    F.lit(nb - 1),
                )
            )
            out = out.withColumn(f"{zbc}{i}", bucket)
        terms = [
            f"((({zbc}{i} >> {b}) & 1) << {b * n + i})"
            for b in range(bits)
            for i in range(n)
        ]
        out = out.withColumn(zc, F.expr(" + ".join(terms)))
        helper = [f"{mnc}{i}" for i in range(n)] + [f"{mxc}{i}" for i in range(n)]
        # Lead the sort with the partition columns: the dynamic-
        # partition writer re-sorts unsorted input by partition keys
        # (an UNSTABLE sort that would scramble z within each
        # directory); input already ordered by them satisfies the
        # writer's required ordering, so the z order survives into
        # every partition's file.
        sort_cols = [
            F.col(f"`{c}`") for c in (tdef.partition_by or [])
        ] + [F.col(zc)]
        return (
            out.sortWithinPartitions(*sort_cols)
            .drop(zc, *helper, *[f"{zbc}{i}" for i in range(n)])
        )

    def _optimize_table(self, stmt: str) -> Result:
        """OPTIMIZE TABLE [MIN FILES k] [ZORDER BY (c1, ...)] (MySQL
        maintenance; superset — absent in the reference): compact the
        table's accumulated data files into one fresh write. The
        companion to append-only INSERT + file-level COW — at 100 TB
        this is the periodic small-file compaction every lakehouse
        table needs. ZORDER BY replaces the default PK sort with a
        Morton-curve sort over the named columns (see _zorder_sort).

        MIN FILES k is the compaction POLICY knob: a table currently
        holding fewer than k data files is skipped ("note" row, no
        rewrite). For ENGINE=SNAPSHOT tables this is what lets a
        scheduled OPTIMIZE compose with version history — compaction
        always renames files and therefore always commits a version,
        so an unconditional nightly OPTIMIZE would churn one no-op
        version per night; with the threshold, already-compact tables
        commit nothing (verified against the manifest log in tests).
        Default k=1 keeps the unconditional-rewrite behavior."""
        # The two optional clauses may appear in either order (both are
        # end-anchored, so strip in a loop until neither matches —
        # `... ZORDER BY (x) MIN FILES 3` previously left the ZORDER
        # text glued to the table name and silently ignored it).
        zcols: list[str] = []
        min_files = 1
        while True:
            mz = re.search(r"\s+ZORDER\s+BY\s*\(([^)]*)\)\s*$", stmt, re.I)
            if mz:
                zcols = [
                    c.strip().strip("`")
                    for c in mz.group(1).split(",")
                    if c.strip()
                ]
                if not zcols:
                    raise SparrowError(1064, "empty ZORDER BY column list")
                stmt = stmt[: mz.start()]
                continue
            m = re.search(r"\s+MIN\s+FILES\s+(\d+)\s*$", stmt, re.I)
            if m:
                min_files = max(1, int(m.group(1)))
                stmt = stmt[: m.start()]
                continue
            break
        if re.search(r"\bZORDER\b|\bMIN\s+FILES\b", stmt, re.I):
            raise SparrowError(
                1064,
                "malformed OPTIMIZE clause: ZORDER BY (...) and "
                "MIN FILES n must be trailing clauses",
            )
        rows = []
        # Per-table write lock: OPTIMIZE rewrites the data dir via the
        # same COW swap as UPDATE/DELETE, so an unlocked compaction
        # could interleave with a concurrent DML's _replace_files and
        # lose its writes. _locked_dml can't cover the multi-target
        # form, so each target locks here, one at a time.
        for schema, table in self._maintenance_targets(stmt, "OPTIMIZE"):
            with self._write_lock(schema, table):
                tdef = self.catalog.load(schema, table)
                if min_files > 1:
                    data_dir = self.catalog.data_path(schema, table)
                    n_files = 0
                    if os.path.isdir(data_dir):
                        for _root, _dirs, fns in os.walk(data_dir):
                            n_files += sum(
                                1 for fn in fns if fn.endswith(".parquet")
                            )
                    if n_files < min_files:
                        rows.append(
                            (
                                f"{schema}.{table}",
                                "optimize",
                                "note",
                                f"skipped: {n_files} file(s) < MIN FILES "
                                f"{min_files}",
                            )
                        )
                        continue
                data = self._read_physical(schema, table, tdef).coalesce(1)
                if zcols:
                    data = self._zorder_sort(tdef, data, zcols)
                elif tdef.primary_key:
                    # Sort by PK for range-scan locality: parquet
                    # row-group min/max stats then prune point/range
                    # predicates.
                    data = data.sortWithinPartitions(*tdef.primary_key)
                self._overwrite_data(schema, table, data)
                rows.append((f"{schema}.{table}", "optimize", "status", "OK"))
        df = self.spark.createDataFrame(
            rows, schema=["Table", "Op", "Msg_type", "Msg_text"]
        )
        return Result("resultset", df)

    def _analyze_table(self, stmt: str) -> Result:
        """ANALYZE TABLE (MySQL maintenance; superset): compute table
        statistics through Spark's ANALYZE so Catalyst's cost-based
        join planning sees real row counts/sizes."""
        rows = []
        for schema, table in self._maintenance_targets(stmt, "ANALYZE"):
            self.spark.sql(
                f"ANALYZE TABLE `{schema}`.`{table}` COMPUTE STATISTICS"
            )
            rows.append((f"{schema}.{table}", "analyze", "status", "OK"))
        df = self.spark.createDataFrame(
            rows, schema=["Table", "Op", "Msg_type", "Msg_text"]
        )
        return Result("resultset", df)

    def _sync_partitions(self, schema: str, table: str, tdef=None) -> None:
        """Refresh the Spark-catalog registration after a write. For
        partitioned tables the session catalog tracks partitions
        explicitly (REFRESH alone does not discover new directories —
        verified against the in-memory catalog), so recover them; at
        warehouse scale a metastore with partition management amortizes
        this to a per-partition upsert."""
        self.spark.sql(f"REFRESH TABLE `{schema}`.`{table}`")
        tdef = tdef or self.catalog.load(schema, table)
        if tdef.partition_by:
            self.spark.sql(f"MSCK REPAIR TABLE `{schema}`.`{table}`")
        if tdef.engine == "snapshot":
            # Every write path funnels through here; committing after
            # the physical write makes the manifest the durable record
            # of the new file set (no-op when the set is unchanged).
            self._snapshot_commit(schema, table, tdef)

    def _matched_files(self, schema, table, tdef, match) -> tuple[int, list[str]]:
        """One pass over the table: `match` maps the stored rows (hidden
        rowid included) to the ones a statement touches — a WHERE filter
        for UPDATE/DELETE, a semi-join on key sets or on the MERGE ON
        condition for the upserts — and the matched rows are counted
        per parquet file via input_file_name(). Returns (total matched
        rows, list of file URIs that must be rewritten). On a
        partitioned table a partition predicate prunes this discovery
        scan to matching directories (PartitionFilters — asserted in
        tests/test_engine_sql.py::test_partitioned_table_pruned_cow)."""
        data = self._read_physical(schema, table, tdef)
        per_file = (
            match(data.withColumn("__file", F.input_file_name()))
            .groupBy("__file")
            .count()
            .collect()
        )
        return sum(r["count"] for r in per_file), [r["__file"] for r in per_file]

    def _read_files(self, tdef: TableDef, files: list[str], base: str) -> DataFrame:
        """Read the given parquet files of a table whose partition
        directories sit under `base` (hidden rowid included)."""
        reader_schema = self._physical_schema(tdef)
        if not files:
            return self.spark.createDataFrame([], reader_schema)
        reader = self.spark.read.schema(reader_schema)
        if tdef.partition_by:
            # Reading leaf files directly skips partition discovery —
            # without basePath the <col>=<val>/ values would come back
            # NULL (and a COW rewrite would relocate every row to the
            # default partition).
            reader = reader.option("basePath", base)
        return reader.parquet(*files)

    @staticmethod
    def _key_match(key_sets, incoming: DataFrame):
        """_matched_files match for the key-based upserts: stored rows
        whose key equals an incoming row's on any key set. Plain
        equality, so a NULL key never matches (NULLs never conflict in
        a unique index)."""

        def match(stored: DataFrame) -> DataFrame:
            # Each key set semi-joins the rows no earlier set matched, so
            # a row matched on two key sets is counted once.
            hits = []
            for _, cols in key_sets:
                keys = incoming.select(*cols)
                hits.append(stored.join(keys, on=cols, how="left_semi"))
                stored = stored.join(keys, on=cols, how="left_anti")
            return functools.reduce(DataFrame.union, hits)

        return match

    def _upsert(self, schema, table, tdef, match, rewrite) -> int:
        """The upsert core behind REPLACE, ODKU and MERGE, on the same
        file-level copy-on-write as UPDATE/DELETE: `match` picks the
        stored rows that incoming rows collide with (_matched_files),
        only the files holding them are read, `rewrite` turns those
        files' rows into their replacement — matched rows deleted or
        reassigned, the remaining incoming rows appended — and one
        _replace_files commit swaps it in. Returns the matched
        stored-row count."""
        matched, touched = self._matched_files(schema, table, tdef, match)
        stored = self._read_files(tdef, touched, self.catalog.data_path(schema, table))
        self._replace_files(schema, table, touched, rewrite(stored))
        return matched

    def _stage(self, schema: str, table: str, tdef: TableDef, df: DataFrame) -> str:
        """Write df to a fresh staging dir beside the data dir; return
        its path. The table's hive partition layout applies: partition
        values become <col>=<val>/ directories, so a predicate on them
        prunes at directory level for BOTH the engine's own DML file
        discovery (_matched_files) and any scan."""
        staging = os.path.join(
            self.catalog.table_path(schema, table), f".staging-{uuid.uuid4().hex}"
        )
        w = df.write.mode("overwrite")
        if tdef.partition_by:
            w = w.partitionBy(*tdef.partition_by)
        w.parquet(staging)
        return staging

    def _replace_files(
        self, schema: str, table: str, old_files: list[str], new_data: DataFrame
    ) -> int:
        """File-level copy-on-write, the commit of every INSERT and
        row-level DML statement: stage the rewritten rows of old_files
        plus any inserted rows, move the staged part files into the
        data dir (part file names carry a fresh UUID — no collisions),
        then drop the superseded files. Returns the rows written; a
        write that replaces no file and adds no row commits nothing.
        Same non-transactional guarantees as _overwrite_data."""
        from urllib.parse import unquote, urlparse

        data_dir = self.catalog.data_path(schema, table)
        tdef = self.catalog.load(schema, table)
        written = Observation()
        staging = self._stage(
            schema,
            table,
            tdef,
            new_data.observe(written, F.count(F.lit(1)).alias("rows")),
        )
        n_rows = written.get["rows"]
        if not old_files and not n_rows:
            shutil.rmtree(staging, ignore_errors=True)
            return 0
        # Move staged part files preserving any <col>=<val>/ partition
        # subdirectories (an UPDATE that changes a partition-column
        # value relocates the row's file to the new directory).
        for root, _dirs, files in os.walk(staging):
            rel = os.path.relpath(root, staging)
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                dest_dir = (
                    data_dir if rel == "." else os.path.join(data_dir, rel)
                )
                os.makedirs(dest_dir, exist_ok=True)
                os.rename(os.path.join(root, fn), os.path.join(dest_dir, fn))
        shutil.rmtree(staging, ignore_errors=True)
        for uri in old_files:
            path = unquote(urlparse(uri).path)
            try:
                os.remove(path)
            except FileNotFoundError:
                pass
        self._sync_partitions(schema, table, tdef)
        return n_rows

    def _overwrite_data(self, schema: str, table: str, new_data: DataFrame) -> None:
        """Whole-table copy-on-write swap: stage the new data, then
        replace the data dir. Matches the reference's non-transactional
        guarantees (its KV mutations aren't atomic across keys either).
        Only for statements that replace every file: TRUNCATE and the
        unconditional DELETE (_truncate_data), ALTER TABLE, OPTIMIZE
        and RESTORE; row-level DML commits through _replace_files."""
        data_dir = self.catalog.data_path(schema, table)
        tdef = self.catalog.load(schema, table)
        staging = self._stage(schema, table, tdef, new_data)
        old = data_dir + f".old-{uuid.uuid4().hex}"
        os.rename(data_dir, old)
        os.rename(staging, data_dir)
        shutil.rmtree(old, ignore_errors=True)
        self._sync_partitions(schema, table, tdef)

    def _truncate_data(self, schema: str, table: str, tdef: TableDef) -> None:
        """TRUNCATE and the unconditional DELETE: swap in an empty dir."""
        self._overwrite_data(
            schema, table, self._read_physical(schema, table, tdef).limit(0)
        )

    # ------------------------------------------------------------------
    # snapshot versioning (ENGINE=SNAPSHOT) — a Delta-style commit log
    # over the existing COW primitives (design from the public Delta
    # Lake paper, Armbrust et al., VLDB 2020: immutable data files + an
    # ordered log of manifests, commit = one atomic small-file create).
    # The live read path (Spark-catalog parquet table over data/) is
    # unchanged; what SNAPSHOT adds is a consistent, immutable version
    # history: every write that changes the table's file set appends
    # manifest v{N+1} listing the files, with each file hard-linked
    # into an immutable pool so later COW deletes never destroy history.
    # Surface: SHOW VERSIONS FROM t, SELECT ... FROM t VERSION AS OF k,
    # RESTORE TABLE t TO VERSION k, VACUUM t [RETAIN n VERSIONS].
    # Scale: a manifest is O(#files) JSON and the commit is one
    # exclusive-create — on an object store the same design uses a
    # conditional put; data files are never copied, only linked.
    # ------------------------------------------------------------------
    def _snap_log_dir(self, schema: str, table: str) -> str:
        return os.path.join(self.catalog.table_path(schema, table), "_log")

    def _snap_pool_dir(self, schema: str, table: str) -> str:
        return os.path.join(self._snap_log_dir(schema, table), "pool")

    def _snap_versions(self, schema: str, table: str) -> list[int]:
        log_dir = self._snap_log_dir(schema, table)
        if not os.path.isdir(log_dir):
            return []
        out = []
        for fn in os.listdir(log_dir):
            m = re.match(r"v(\d{12})\.json$", fn)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def _snap_manifest(self, schema: str, table: str, v: int) -> dict:

        path = os.path.join(self._snap_log_dir(schema, table), f"v{v:012d}.json")
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            raise SparrowError(
                1105, f"Unknown error: version {v} of `{schema}`.`{table}` "
                "does not exist (vacuumed or never committed)"
            ) from None

    def _require_snapshot(self, schema: str, table: str) -> TableDef:
        tdef = self.catalog.load(schema, table)
        if tdef.engine != "snapshot":
            raise SparrowError(
                1105,
                f"Unknown error: `{schema}`.`{table}` is ENGINE="
                f"{tdef.engine}; versioning requires ENGINE=SNAPSHOT",
            )
        return tdef

    def _snapshot_commit(
        self, schema: str, table: str, tdef: TableDef, op: str | None = None
    ) -> None:
        """Append a manifest for the data dir's current file set. Files
        are hard-linked into the pool first (content survives COW
        deletes; the link is O(1), no copy). A commit that would repeat
        the previous file set is skipped, so refresh-only paths add no
        empty versions. The manifest create is O_EXCL-atomic; on a
        collision (concurrent committer — normally excluded by the
        write lock) the version number advances and retries."""
        data_dir = self.catalog.data_path(schema, table)
        pool = self._snap_pool_dir(schema, table)
        os.makedirs(pool, exist_ok=True)
        rels = []
        if os.path.isdir(data_dir):
            for root, _dirs, fns in os.walk(data_dir):
                for fn in fns:
                    if fn.endswith(".parquet"):
                        rels.append(
                            os.path.relpath(os.path.join(root, fn), data_dir)
                        )
        rels.sort()
        versions = self._snap_versions(schema, table)
        latest = versions[-1] if versions else None
        if latest is not None:
            if self._snap_manifest(schema, table, latest)["files"] == rels:
                return
        for rel in rels:
            dst = os.path.join(pool, rel)
            if not os.path.exists(dst):
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.link(os.path.join(data_dir, rel), dst)
        v = 0 if latest is None else latest + 1
        man = {
            "version": v,
            "op": op or getattr(self, "_stmt_kind", None) or "write",
            "ts": self.snapshot_clock() if self.snapshot_clock else time.time(),
            "files": rels,
        }
        while True:
            path = os.path.join(
                self._snap_log_dir(schema, table), f"v{v:012d}.json"
            )
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                v += 1
                man["version"] = v
                continue
            os.write(fd, json.dumps(man).encode())
            os.close(fd)
            return

    def _snap_read_files(
        self, schema: str, table: str, tdef: TableDef, rels: list[str]
    ) -> DataFrame:
        """Read the given pool-relative parquet paths with the table's
        schema (hidden rowid included). Partition-column values are
        recovered from the preserved <col>=<val>/ relative paths."""
        pool = self._snap_pool_dir(schema, table)
        return self._read_files(tdef, [os.path.join(pool, r) for r in rels], pool)

    def _snap_read(self, schema: str, table: str, v: int) -> DataFrame:
        """Snapshot-consistent read of version v from the immutable
        pool (includes the hidden rowid; callers drop it for user
        surfaces)."""
        tdef = self._require_snapshot(schema, table)
        man = self._snap_manifest(schema, table, v)
        return self._snap_read_files(schema, table, tdef, man["files"])

    def _snap_changes(
        self, schema: str, table: str, v_from: int, v_to: int
    ) -> DataFrame:
        """Change data feed between snapshot versions (exclusive of
        v_from's state, inclusive of v_to's): row-level insert / delete /
        update_preimage / update_postimage rows with a _commit_version
        column, like Delta Lake's table_changes (public design: CDF via
        per-commit file diffs). The reference engine has no version
        history at all; this extends the ENGINE=SNAPSHOT superset.

        Scale shape: data files are immutable, so a file present in
        both adjacent manifests cannot contain changes — each version
        step reads ONLY the files added or removed by that commit, and
        the per-step classification is one rowid-keyed full-outer join
        over those files' rows (keyed shuffle sized by the commit's
        churn, never the table). Rows rewritten by copy-on-write with
        unchanged content (COW rewrites whole files, so survivors of an
        UPDATE/DELETE travel with the rewritten file) are suppressed by
        a null-safe all-column compare — change volume tracks logical
        churn, not physical rewrite amplification. The Python loop is
        one iteration per commit in the range (bounded by VACUUM
        retention), each contributing one branch to a lazily-unioned
        plan; nothing executes per-iteration."""
        tdef = self._require_snapshot(schema, table)
        versions = self._snap_versions(schema, table)
        if v_from > v_to:
            raise SparrowError(
                1105,
                f"Unknown error: CHANGES BETWEEN {v_from} AND {v_to} is an "
                "empty range",
            )
        # Every version in the CLOSED range must survive, not just the
        # endpoints: commits are numbered densely (no-op commits do not
        # consume numbers), so a gap means VACUUM dropped a manifest —
        # and lumping its changes into the next surviving version would
        # misattribute commit provenance. Delta's table_changes errors
        # the same way on a vacuumed range. The check is O(|versions|)
        # — count the survivors inside the range, never materialize
        # range(v_from, v_to + 1): a bogus user-supplied bound (e.g.
        # BETWEEN 0 AND 10^14 — syntactically valid) must error fast,
        # not drive a 10^14-iteration driver loop. The first few gaps
        # are enumerated lazily for the message (each generator step is
        # either one of the <=10 emitted gaps or one of the <=|versions|
        # survivors, so it too is bounded by real history).
        vs = set(versions)
        span = v_to - v_from + 1
        present = sum(1 for v in vs if v_from <= v <= v_to)
        if present < span:
            shown = list(
                itertools.islice(
                    (v for v in range(v_from, v_to + 1) if v not in vs), 10
                )
            )
            n_missing = span - present
            more = (
                f" (+{n_missing - len(shown)} more)"
                if n_missing > len(shown)
                else ""
            )
            raise SparrowError(
                1105,
                f"Unknown error: version(s) {shown}{more} of "
                f"`{schema}`.`{table}` does not exist (vacuumed or never "
                f"committed) — CHANGES BETWEEN requires every version in "
                "the range",
            )
        cols = [c.name for c in tdef.columns]
        out_schema = ", ".join(
            [f"`{c.name}` {c.spark_type}" for c in tdef.columns]
            + ["`_change_type` string", "`_commit_version` bigint"]
        )
        parts: list[DataFrame] = []
        steps = [v for v in versions if v_from <= v <= v_to]
        for prev, cur in zip(steps, steps[1:]):
            man_prev = self._snap_manifest(schema, table, prev)
            man_cur = self._snap_manifest(schema, table, cur)
            removed = sorted(set(man_prev["files"]) - set(man_cur["files"]))
            added = sorted(set(man_cur["files"]) - set(man_prev["files"]))
            if not removed and not added:
                continue
            old = self._snap_read_files(schema, table, tdef, removed).alias("o")
            new = self._snap_read_files(schema, table, tdef, added).alias("n")
            j = old.join(new, F.col(f"o.{ROWID}") == F.col(f"n.{ROWID}"), "full")
            same = F.lit(True)
            for c in cols:
                same = same & F.col(f"o.`{c}`").eqNullSafe(F.col(f"n.`{c}`"))

            def _emit(side: str, rows: DataFrame, kind: str) -> DataFrame:
                return rows.select(
                    *[F.col(f"{side}.`{c}`").alias(c) for c in cols],
                    F.lit(kind).alias("_change_type"),
                    F.lit(cur).cast("bigint").alias("_commit_version"),
                )

            inserts = _emit("n", j.filter(F.col(f"o.{ROWID}").isNull()), "insert")
            deletes = _emit("o", j.filter(F.col(f"n.{ROWID}").isNull()), "delete")
            changed = j.filter(
                F.col(f"o.{ROWID}").isNotNull()
                & F.col(f"n.{ROWID}").isNotNull()
                & ~same
            )
            parts += [
                inserts,
                deletes,
                _emit("o", changed, "update_preimage"),
                _emit("n", changed, "update_postimage"),
            ]
        if not parts:
            return self.spark.createDataFrame([], out_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _show_versions(self, stmt: str) -> Result:
        m = re.match(
            r"SHOW\s+VERSIONS\s+(?:FROM|IN)\s+([\w`.]+)\s*$", stmt, re.I
        )
        if not m:
            raise SparrowError(1064, f"syntax error in SHOW VERSIONS: {stmt[:80]}")
        schema, table = self._resolve_table_name(m.group(1))
        self._require_snapshot(schema, table)
        import datetime

        pool = self._snap_pool_dir(schema, table)
        rows = []
        for v in self._snap_versions(schema, table):
            man = self._snap_manifest(schema, table, v)
            size = 0
            for rel in man["files"]:
                try:
                    size += os.path.getsize(os.path.join(pool, rel))
                except OSError:
                    pass  # pool file vacuumed concurrently — size is advisory
            rows.append(
                (
                    v,
                    str(man.get("op", "write")),
                    len(man["files"]),
                    size,
                    datetime.datetime.fromtimestamp(
                        man["ts"], datetime.timezone.utc
                    ).strftime("%Y-%m-%d %H:%M:%S"),
                )
            )
        df = self.spark.createDataFrame(
            rows,
            "version bigint, op string, n_files bigint, size_bytes bigint, "
            "committed_at string",
        )
        return Result("resultset", df)

    def _restore_table(self, stmt: str) -> Result:
        """RESTORE TABLE t TO VERSION k: rewrite the live table from
        the immutable snapshot (rows keep their rowids), committing the
        restore as a NEW version — history is append-only, like Delta's
        RESTORE."""
        m = re.match(
            r"RESTORE\s+TABLE\s+([\w`.]+)\s+TO\s+VERSION\s+(\d+)\s*$",
            stmt,
            re.I,
        )
        if not m:
            raise SparrowError(1064, f"syntax error in RESTORE: {stmt[:80]}")
        schema, table = self._resolve_table_name(m.group(1))
        self._require_snapshot(schema, table)
        snap = self._snap_read(schema, table, int(m.group(2)))
        self._stmt_kind = "restore"
        n = snap.count()
        self._overwrite_data(schema, table, snap)
        return Result("ok", affected_rows=n)

    def _vacuum(self, stmt: str) -> Result:
        """VACUUM t [RETAIN n VERSIONS] [DRY RUN] (default RETAIN 1):
        drop manifests older than the retained window and delete pool
        files no kept manifest references. Bounds history storage; the
        live data dir is untouched. DRY RUN (Delta parity) deletes
        nothing and returns the versions and pool files that a real
        VACUUM would remove — the look-before-you-leap step for a
        retention change, priced by SHOW VERSIONS' size_bytes."""
        m = re.match(
            r"VACUUM\s+([\w`.]+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS?)?"
            r"(\s+DRY\s+RUN)?\s*$",
            stmt,
            re.I,
        )
        if not m:
            raise SparrowError(1064, f"syntax error in VACUUM: {stmt[:80]}")
        schema, table = self._resolve_table_name(m.group(1))
        self._require_snapshot(schema, table)
        keep = max(1, int(m.group(2) or 1))
        dry = bool(m.group(3))
        versions = self._snap_versions(schema, table)
        kept, dropped = versions[-keep:], versions[:-keep]
        referenced: set[str] = set()
        for v in kept:
            referenced.update(self._snap_manifest(schema, table, v)["files"])
        log_dir = self._snap_log_dir(schema, table)
        pool = self._snap_pool_dir(schema, table)
        doomed: list[tuple[str, int]] = []
        for root, _dirs, fns in os.walk(pool, topdown=False):
            for fn in fns:
                rel = os.path.relpath(os.path.join(root, fn), pool)
                if rel not in referenced:
                    try:
                        size = os.path.getsize(os.path.join(root, fn))
                    except OSError:
                        size = 0
                    doomed.append((rel, size))
        if dry:
            df = self.spark.createDataFrame(
                [
                    (v, "manifest", f"v{v:012d}.json", 0)
                    for v in dropped
                ]
                + [(-1, "pool_file", rel, size) for rel, size in doomed],
                "version bigint, kind string, path string, size_bytes bigint",
            )
            return Result("resultset", df)
        for v in dropped:
            os.remove(os.path.join(log_dir, f"v{v:012d}.json"))
        removed = 0
        for root, _dirs, fns in os.walk(pool, topdown=False):
            for fn in fns:
                rel = os.path.relpath(os.path.join(root, fn), pool)
                if rel not in referenced:
                    os.remove(os.path.join(root, fn))
                    removed += 1
            if root != pool:
                try:
                    os.rmdir(root)
                except OSError:
                    pass
        return Result("ok", affected_rows=removed)

    @staticmethod
    def _literal_spans(sql: str) -> list[tuple[int, int]]:
        """Character spans of quoted string literals ('…' with '' and
        backslash escapes, "…") and SQL comments (-- …, /* … */), so
        the snapshot time-travel rewrites never fire inside them —
        `SELECT 'from t CHANGES BETWEEN 1 AND 2'` must stay a string,
        not get its contents rewritten into a temp-view reference."""
        spans: list[tuple[int, int]] = []
        i, n = 0, len(sql)
        while i < n:
            c = sql[i]
            if c in ("'", '"'):
                j = i + 1
                while j < n:
                    if sql[j] == "\\" and j + 1 < n:
                        j += 2
                        continue
                    if sql[j] == c:
                        if j + 1 < n and sql[j + 1] == c:  # '' escape
                            j += 2
                            continue
                        break
                    j += 1
                end = min(j + 1, n)
                spans.append((i, end))
                i = end
            elif sql.startswith("--", i):
                j = sql.find("\n", i)
                end = n if j == -1 else j
                spans.append((i, end))
                i = end
            elif sql.startswith("/*", i):
                j = sql.find("*/", i)
                end = n if j == -1 else j + 2
                spans.append((i, end))
                i = end
            else:
                i += 1
        return spans

    def _sub_outside_literals(self, pattern, repl, sql: str) -> str:
        """pattern.sub(repl, sql), skipping matches that START inside a
        string literal or comment (a match may legitimately CONTAIN a
        literal — TIMESTAMP AS OF '…' — so only the start matters)."""
        spans = self._literal_spans(sql)

        def guarded(m: "re.Match[str]") -> str:
            p = m.start()
            if any(a <= p < b for a, b in spans):
                return m.group(0)
            return repl(m)

        return pattern.sub(guarded, sql)

    _VERSION_AS_OF_RE = re.compile(
        r"(`?\w+`?(?:\s*\.\s*`?\w+`?)?)\s+VERSION\s+AS\s+OF\s+(\d+)", re.I
    )

    def _rewrite_version_as_of(self, sql: str) -> str:
        """SELECT ... FROM t VERSION AS OF k — time travel for SNAPSHOT
        tables: each versioned reference becomes a temp view over the
        manifest's pool files (Spark SQL has no v1 time-travel syntax,
        so the engine resolves it before the analyzer sees the text)."""
        def sub(m: "re.Match[str]") -> str:
            schema, table = self._resolve_table_name(m.group(1))
            v = int(m.group(2))
            df = self._snap_read(schema, table, v).drop(ROWID)
            view = f"__snapshot_{schema}_{table}_v{v}"
            df.createOrReplaceTempView(view)
            return view

        return self._sub_outside_literals(self._VERSION_AS_OF_RE, sub, sql)

    _TIMESTAMP_AS_OF_RE = re.compile(
        r"(`?\w+`?(?:\s*\.\s*`?\w+`?)?)\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'",
        re.I,
    )

    def _rewrite_timestamp_as_of(self, sql: str) -> str:
        """SELECT ... FROM t TIMESTAMP AS OF 'yyyy-mm-dd[ hh:mm:ss[.ffffff]]'
        — time travel by wall clock (Delta parity): resolves to the
        LATEST version whose manifest committed at or before the given
        instant, then reads like VERSION AS OF. Like Delta, a literal
        AFTER the latest commit is an error (asking for "the table as
        of tomorrow" is almost always a typo'd literal, and silently
        serving the live state would let it change retroactively).
        Deviation from Delta (documented in README): the literal is
        interpreted as UTC, not the session timezone — manifest
        timestamps are epoch seconds and this engine pins its session
        timezone to UTC throughout."""
        import datetime

        def sub(m: "re.Match[str]") -> str:
            schema, table = self._resolve_table_name(m.group(1))
            self._require_snapshot(schema, table)
            raw = m.group(2)
            ts = None
            for fmt in (
                "%Y-%m-%d %H:%M:%S.%f",
                "%Y-%m-%d %H:%M:%S",
                "%Y-%m-%d",
            ):
                try:
                    ts = (
                        datetime.datetime.strptime(raw, fmt)
                        .replace(tzinfo=datetime.timezone.utc)
                        .timestamp()
                    )
                    break
                except ValueError:
                    continue
            if ts is None:
                raise SparrowError(
                    1105, f"Unknown error: bad TIMESTAMP AS OF literal '{raw}'"
                )
            stamps = {
                v: self._snap_manifest(schema, table, v)["ts"]
                for v in self._snap_versions(schema, table)
            }
            cands = [v for v, t in stamps.items() if t <= ts]
            if not cands:
                raise SparrowError(
                    1105,
                    f"Unknown error: no version of `{schema}`.`{table}` "
                    f"committed at or before '{raw}'",
                )
            if stamps and ts > max(stamps.values()):
                raise SparrowError(
                    1105,
                    f"Unknown error: TIMESTAMP AS OF '{raw}' is after the "
                    f"latest commit of `{schema}`.`{table}` — use VERSION "
                    f"AS OF {max(stamps)} or no time-travel clause for the "
                    "live state",
                )
            v = max(cands)
            df = self._snap_read(schema, table, v).drop(ROWID)
            view = f"__snapshot_{schema}_{table}_v{v}"
            df.createOrReplaceTempView(view)
            return view

        return self._sub_outside_literals(self._TIMESTAMP_AS_OF_RE, sub, sql)

    _CHANGES_BETWEEN_RE = re.compile(
        r"(`?\w+`?(?:\s*\.\s*`?\w+`?)?)\s+CHANGES\s+BETWEEN\s+(\d+)\s+AND\s+(\d+)",
        re.I,
    )

    def _rewrite_changes_between(self, sql: str) -> str:
        """SELECT ... FROM t CHANGES BETWEEN a AND b — the change data
        feed for SNAPSHOT tables: each reference becomes a temp view
        over _snap_changes' per-commit file-diff plan (resolved before
        the analyzer, like VERSION AS OF)."""
        def sub(m: "re.Match[str]") -> str:
            schema, table = self._resolve_table_name(m.group(1))
            a, b = int(m.group(2)), int(m.group(3))
            df = self._snap_changes(schema, table, a, b)
            view = f"__changes_{schema}_{table}_v{a}_v{b}"
            df.createOrReplaceTempView(view)
            return view

        return self._sub_outside_literals(self._CHANGES_BETWEEN_RE, sub, sql)

    def _spark_create_db(self, schema: str) -> None:
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS `{schema}`")

    def _register_spark_table(self, tdef: TableDef) -> None:
        # Drop any stale registration first: the Spark session catalog
        # outlives engine instances (e.g. a previous engine with a
        # different warehouse), and OUR catalog is the source of truth.
        cols = ", ".join(f"`{c.name}` {c.spark_type}" for c in tdef.columns)
        path = self.catalog.data_path(tdef.schema, tdef.name)
        self.spark.sql(f"DROP TABLE IF EXISTS `{tdef.schema}`.`{tdef.name}`")
        part = ""
        if tdef.partition_by:
            part = (
                " PARTITIONED BY ("
                + ", ".join(f"`{c}`" for c in tdef.partition_by)
                + ")"
            )
        self.spark.sql(
            f"CREATE TABLE `{tdef.schema}`.`{tdef.name}` ({cols}) "
            f"USING PARQUET{part} LOCATION '{path}'"
        )
        if tdef.partition_by:
            # The session catalog tracks partitions of a datasource
            # table explicitly; recover any directories already on disk
            # (engine restart over an existing warehouse).
            self.spark.sql(
                f"MSCK REPAIR TABLE `{tdef.schema}`.`{tdef.name}`"
            )

    def _recreate_spark_table(self, tdef: TableDef) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS `{tdef.schema}`.`{tdef.name}`")
        self._register_spark_table(tdef)

    # ------------------------------------------------------------------
    # SHOW family + information_schema (S14-S20)
    # ------------------------------------------------------------------
    def _show(self, stmt: str) -> Result:
        up = stmt.upper()
        if up.startswith("SHOW DATABASES"):
            return self._show_databases()
        if re.match(r"SHOW\s+VERSIONS\s+(FROM|IN)\s+", stmt, re.I):
            return self._show_versions(stmt)
        if re.match(r"SHOW\s+(FULL\s+)?TABLES", stmt, re.I):
            return self._show_tables(stmt)
        if re.match(r"SHOW\s+(FULL\s+)?COLUMNS\s+FROM", stmt, re.I) or up.startswith(
            "SHOW FIELDS"
        ):
            return self._show_columns(stmt)
        if up.startswith("SHOW CREATE TABLE"):
            return self._show_create_table(stmt)
        if up.startswith("SHOW VARIABLES") or re.match(
            r"SHOW\s+(SESSION|GLOBAL)\s+VARIABLES", stmt, re.I
        ):
            return self._show_variables(stmt)
        if up.startswith("SHOW PROCESSLIST") or up.startswith("SHOW FULL PROCESSLIST"):
            # Single-process engine: one synthetic connection row (pools
            # and admin UIs probe this on connect).
            return self._const_df(
                ["Id", "User", "Host", "db", "Command", "Time", "State", "Info"],
                [(1, "root", "localhost", self.current_schema or "", "Query", 0,
                  "executing", "SHOW PROCESSLIST")],
            )
        if up.startswith("SHOW ENGINES"):
            return self._const_df(
                ["Engine", "Support", "Comment", "Transactions", "XA", "Savepoints"],
                [("PARQUET", "DEFAULT", "Columnar parquet storage via Spark", "NO", "NO", "NO")],
            )
        if up.startswith("SHOW CHARSET") or up.startswith("SHOW CHARACTER SET"):
            return self._const_df(
                ["Charset", "Description", "Default collation", "Maxlen"],
                [("utf8mb4", "UTF-8 Unicode", "utf8mb4_general_ci", 4)],
            )
        if up.startswith("SHOW COLLATION"):
            return self._const_df(
                ["Collation", "Charset", "Id", "Default", "Compiled", "Sortlen"],
                [("utf8mb4_general_ci", "utf8mb4", 45, "Yes", "Yes", 1)],
            )
        if re.match(r"SHOW\s+COUNT\(\*\)\s+(WARNINGS|ERRORS)", stmt, re.I):
            return self._const_df(["Count"], [(0,)])
        if up.startswith("SHOW WARNINGS") or up.startswith("SHOW ERRORS"):
            # Statements either succeed or raise (no warning queue, like
            # the reference); clients that poll after every statement
            # (e.g. mysql CLI with \W) expect an EMPTY result set with
            # MySQL's three-column shape, not an error.
            df = self.spark.createDataFrame(
                [], "Level string, Code int, Message string"
            )
            return Result("resultset", df)
        if up.startswith("SHOW GRANTS"):
            return self._const_df(
                ["Grants"], [("GRANT ALL PRIVILEGES ON *.* TO 'root'@'%'",)]
            )
        if up.startswith("SHOW PRIVILEGES"):
            return self._const_df(
                ["Privilege", "Context", "Comment"],
                [("Select", "Tables", "To retrieve rows from table"),
                 ("Insert", "Tables", "To insert data into tables"),
                 ("Update", "Tables", "To update existing rows"),
                 ("Delete", "Tables", "To delete existing rows")],
            )
        if up.startswith("SHOW TABLE STATUS"):
            return self._show_table_status(stmt)
        if re.match(r"SHOW\s+(INDEX|INDEXES|KEYS)\s+(FROM|IN)\s+", stmt, re.I):
            # MySQL SHOW INDEX shape from the engine's constraint
            # metadata (the reference persists the same rows in
            # information_schema.statistics, src/meta/meta_util.rs:591-678).
            name_raw = re.split(r"\s+(?:FROM|IN)\s+", stmt, flags=re.I)[1].strip()
            schema, table = self._resolve_table_name(name_raw)
            tdef = self.catalog.load(schema, table)
            rows = []
            for index_name, cols in tdef.key_sets():
                for seq, c in enumerate(cols, start=1):
                    rows.append((table, 0, index_name, seq, c, "BTREE"))
            return self._const_df(
                ["Table", "Non_unique", "Key_name", "Seq_in_index",
                 "Column_name", "Index_type"],
                rows or [(table, 1, "", 0, "", "")],
            )
        raise SparrowError(1105, f"unsupported SHOW statement: {stmt[:80]}")

    def _const_df(self, cols: list[str], rows: list[tuple]) -> Result:
        df = self.spark.createDataFrame(rows, schema=cols)
        return Result("resultset", df)

    def _show_databases(self) -> Result:
        rows = [(s,) for s in self.catalog.schemas()]
        df = self.spark.createDataFrame(rows or [("",)], schema=["Database"])
        if not rows:
            df = df.limit(0)
        return Result("resultset", df)

    def _show_tables(self, stmt: str) -> Result:
        m = re.match(
            r"SHOW\s+(FULL\s+)?TABLES(?:\s+(?:FROM|IN)\s+(\w+))?(?:\s+LIKE\s+'([^']*)')?",
            stmt,
            re.I,
        )
        full, db, like = m.groups()
        db = check_ident(db) if db else self.current_schema
        if db is None:
            raise SparrowError(1046, "No database selected")
        if not self.catalog.has_schema(db):
            raise SparrowError(1049, f"Unknown database '{db}'")
        names = self.catalog.tables(db)
        if like:
            rx = re.compile(like_to_regex(like))
            names = [n for n in names if rx.match(n)]
        colname = f"Tables_in_{db}"  # reference shape: show_tables.rs:94-99
        if full:
            rows = [(n, "BASE TABLE") for n in names]
            df = self.spark.createDataFrame(
                rows or [("", "")], schema=[colname, "Table_type"]
            )
        else:
            rows = [(n,) for n in names]
            df = self.spark.createDataFrame(rows or [("",)], schema=[colname])
        if not rows:
            df = df.limit(0)
        return Result("resultset", df)

    def _show_columns(self, stmt: str) -> Result:
        m = re.match(
            r"SHOW\s+(?:FULL\s+)?(?:COLUMNS|FIELDS)\s+FROM\s+([\w`.]+)(?:\s+(?:FROM|IN)\s+(\w+))?",
            stmt,
            re.I,
        )
        name_raw, db = m.groups()
        if db:
            schema, table = check_ident(db), check_ident(name_raw)
        else:
            schema, table = self._resolve_table_name(name_raw)
        tdef = self.catalog.load(schema, table)
        uniq_firsts = {u[0] for u in tdef.uniques}
        rows = []
        for c in tdef.columns:
            key = (
                "PRI"
                if c.name in tdef.primary_key
                else ("UNI" if c.name in uniq_firsts else "")
            )
            rows.append(
                (c.name, c.sql_type.lower(), "YES" if c.nullable else "NO", key, None, "")
            )
        df = self.spark.createDataFrame(
            rows, schema="Field string, Type string, Null string, Key string, "
            "Default string, Extra string"
        )
        return Result("resultset", df)

    def _show_create_table(self, stmt: str) -> Result:
        name_raw = re.match(r"SHOW\s+CREATE\s+TABLE\s+([\w`.]+)", stmt, re.I).group(1)
        schema, table = self._resolve_table_name(name_raw)
        tdef = self.catalog.load(schema, table)
        lines = [
            f"  `{c.name}` {c.sql_type.lower()}{'' if c.nullable else ' NOT NULL'}"
            for c in tdef.columns
        ]
        if tdef.primary_key:
            lines.append(
                "  PRIMARY KEY (" + ", ".join(f"`{c}`" for c in tdef.primary_key) + ")"
            )
        for u in tdef.uniques:
            lines.append("  UNIQUE KEY (" + ", ".join(f"`{c}`" for c in u) + ")")
        ddl = (
            f"CREATE TABLE `{table}` (\n" + ",\n".join(lines) + f"\n) ENGINE={tdef.engine.upper()}"
        )
        if tdef.partition_by:
            ddl += (
                " PARTITIONED BY ("
                + ", ".join(f"`{c}`" for c in tdef.partition_by)
                + ")"
            )
        df = self.spark.createDataFrame(
            [(table, ddl)], schema=["Table", "Create Table"]
        )
        return Result("resultset", df)

    def _show_variables(self, stmt: str) -> Result:
        # Desugars to a query over performance_schema.global_variables,
        # exactly like the reference (src/execute_impl/show_variables.rs:
        # 49-118 builds SELECT variable_name, variable_value FROM
        # performance_schema.global_variables [WHERE LIKE]). MySQL
        # filters LIKE on the NAME (the reference filters on the value —
        # a reference bug we don't reproduce).
        m = re.search(r"LIKE\s+'([^']*)'", stmt, re.I)
        # Escape like a literal (_render_literal convention): a pattern
        # ending in a backslash would otherwise escape the closing quote
        # of the generated statement.
        pat = m.group(1).replace("\\", "\\\\").replace("'", "''") if m else None
        where = f" WHERE variable_name LIKE '{pat}'" if m else ""
        return self._query(
            "SELECT variable_name AS Variable_name, variable_value AS Value "
            f"FROM performance_schema.global_variables{where} "
            "ORDER BY variable_name"
        )

    def _show_table_status(self, stmt: str) -> Result:
        m = re.search(r"(?:FROM|IN)\s+(\w+)", stmt, re.I)
        db = check_ident(m.group(1)) if m else self.current_schema
        if db is None:
            raise SparrowError(1046, "No database selected")
        rows = []
        for t in self.catalog.tables(db):
            tdef = self.catalog.load(db, t)
            rows.append((t, tdef.engine, "Dynamic"))
        df = self.spark.createDataFrame(
            rows or [("", "", "")], schema=["Name", "Engine", "Row_format"]
        )
        if not rows:
            df = df.limit(0)
        return Result("resultset", df)

    # -- SET ------------------------------------------------------------
    def _set(self, stmt: str) -> Result:
        body = stmt[3:].strip()
        if re.match(r"NAMES\b", body, re.I):
            return Result("ok")  # accepted and ignored, like the reference
        for assign in split_top_level(body):
            m = re.match(
                r"(?:(SESSION|GLOBAL)\s+)?(@{0,2})([A-Za-z_][\w.]*)\s*=\s*(.*)$",
                assign.strip(),
                re.I | re.S,
            )
            if not m:
                raise SparrowError(1064, f"syntax error in SET: {assign!r}")
            _scope, ats, name, value = m.groups()
            name = name.lower().removeprefix("session.").removeprefix("global.")
            val = value.strip().strip("'\"")
            if ats == "@":
                self.user_vars[name] = val
            else:
                self.system_vars[name] = val
        return Result("ok")

    # -- system schemas as queryable views (S14-S16 substrate) ----------
    def _rewrite_information_schema(self, sql: str) -> str:
        """Rewrite information_schema.* / performance_schema.* / mysql.*
        references to engine-maintained temp views (quote-aware: a string
        literal containing 'information_schema.tables' is untouched).
        The reference hosts these as real system tables
        (src/meta/def/{information_schema,performance_schema,mysql}.rs);
        here they are recomputed-on-read DataFrames."""
        info: set[str] = set()
        perf: set[str] = set()
        mysql: set[str] = set()
        pieces: list[str] = []
        for piece, quoted in _split_quotes(sql):
            if quoted:
                pieces.append(piece)
                continue
            info |= {m.group(1).lower() for m in _INFO_SCHEMA_RE.finditer(piece)}
            perf |= {m.group(1).lower() for m in _PERF_SCHEMA_RE.finditer(piece)}
            mysql |= {m.group(1).lower() for m in _MYSQL_SCHEMA_RE.finditer(piece)}
            piece = _INFO_SCHEMA_RE.sub(
                lambda m: f"information_schema_{m.group(1).lower()}", piece
            )
            piece = _PERF_SCHEMA_RE.sub(
                lambda m: f"performance_schema_{m.group(1).lower()}", piece
            )
            piece = _MYSQL_SCHEMA_RE.sub(
                lambda m: f"mysql_{m.group(1).lower()}", piece
            )
            pieces.append(piece)
        for n in info:
            self._register_info_view(n)
        for n in perf:
            self._register_perf_view(n)
        for n in mysql:
            self._register_mysql_view(n)
        return "".join(pieces)

    def _register_perf_view(self, name: str) -> None:
        # reference src/meta/def/performance_schema.rs:9-31
        # (VARIABLE_NAME CHAR PK, VARIABLE_VALUE CHAR). global_variables
        # and session_variables both reflect the active session's vars —
        # the reference keeps one global set; we scope per session.
        if name not in ("global_variables", "session_variables"):
            raise SparrowError(1109, f"Unknown table '{name}' in performance_schema")
        rows = sorted(self.system_vars.items())
        schema = "variable_name string, variable_value string"
        df = (
            self.spark.createDataFrame(rows, schema=schema)
            if rows
            else self.spark.createDataFrame([], schema=schema)
        )
        df.createOrReplaceTempView(f"performance_schema_{name}")

    # Full mysql.users grant-table shape (reference src/meta/def/
    # mysql.rs:9-80: 51 CHAR columns, PRIMARY KEY (Host, User)), seeded
    # with root@% all-privileges exactly like the reference's bootstrap
    # (src/meta/initial.rs:1161-1380).
    _MYSQL_USERS_PRIVS = [
        "Select", "Insert", "Update", "Delete", "Create", "Drop", "Reload",
        "Shutdown", "Process", "File", "Grant", "References", "Index",
        "Alter", "Show_db", "Super", "Create_tmp_table", "Lock_tables",
        "Execute", "Repl_slave", "Repl_client", "Create_view", "Show_view",
        "Create_routine", "Alter_routine", "Create_user", "Event",
        "Trigger", "Create_tablespace",
    ]
    _MYSQL_USERS_META = {
        "ssl_type": "", "ssl_cipher": "", "x509_issuer": "",
        "x509_subject": "", "max_questions": "0", "max_updates": "0",
        "max_connections": "0", "max_user_connections": "0",
        "plugin": "mysql_native_password", "authentication_string": "",
        "password_expired": "N", "password_last_changed": "",
        "password_lifetime": "", "account_locked": "N",
        "Create_role_priv": "Y", "Drop_role_priv": "Y",
        "Password_reuse_history": "", "Password_reuse_time": "",
        "Password_require_current": "", "User_attributes": "",
    }

    def _register_mysql_view(self, name: str) -> None:
        if name != "users":
            raise SparrowError(1109, f"Unknown table '{name}' in mysql")
        cols = (
            ["Host", "User"]
            + [f"{p}_priv" for p in self._MYSQL_USERS_PRIVS]
            + list(self._MYSQL_USERS_META)
        )
        row = (
            ["%", "root"]
            + ["Y"] * len(self._MYSQL_USERS_PRIVS)
            + list(self._MYSQL_USERS_META.values())
        )
        schema = ", ".join(f"`{c}` string" for c in cols)
        self.spark.createDataFrame([tuple(row)], schema=schema).createOrReplaceTempView(
            "mysql_users"
        )

    def _register_info_view(self, name: str) -> None:
        # Recomputed on read from the engine catalog (cheap) instead of
        # the reference's write-through system rows (SURVEY §7 risk 5).
        if name == "schemata":
            rows = [("def", s, "utf8mb4", "utf8mb4_general_ci") for s in self.catalog.schemas()]
            schema = (
                "catalog_name string, schema_name string, "
                "default_character_set_name string, default_collation_name string"
            )
        elif name == "tables":
            rows = []
            for s in self.catalog.schemas():
                for t in self.catalog.tables(s):
                    tdef = self.catalog.load(s, t)
                    rows.append(("def", s, t, "BASE TABLE", tdef.engine))
            schema = (
                "table_catalog string, table_schema string, table_name string, "
                "table_type string, engine string"
            )
        elif name == "columns":
            rows = []
            for s in self.catalog.schemas():
                for t in self.catalog.tables(s):
                    tdef = self.catalog.load(s, t)
                    for c in tdef.columns:
                        rows.append(
                            ("def", s, t, c.name, c.ordinal_position,
                             "YES" if c.nullable else "NO", c.sql_type.lower())
                        )
            schema = (
                "table_catalog string, table_schema string, table_name string, "
                "column_name string, ordinal_position long, is_nullable string, "
                "data_type string"
            )
        elif name == "statistics":
            rows = []
            for s in self.catalog.schemas():
                for t in self.catalog.tables(s):
                    tdef = self.catalog.load(s, t)
                    for index_name, cols in tdef.key_sets():
                        for seq, c in enumerate(cols, start=1):
                            rows.append(("def", s, t, 0, index_name, seq, c))
            schema = (
                "table_catalog string, table_schema string, table_name string, "
                "non_unique long, index_name string, seq_in_index long, column_name string"
            )
        else:
            raise SparrowError(1109, f"Unknown table '{name}' in information_schema")
        df = self.spark.createDataFrame(rows, schema=schema) if rows else (
            self.spark.createDataFrame([], schema=schema)
        )
        df.createOrReplaceTempView(f"information_schema_{name}")
