"""Golden end-to-end engine tests, mirroring the reference's test suite
(src/test/base_sql.rs): build an engine against a throwaway warehouse,
issue SQL strings, assert on result rows. Scenario coverage matches the
reference's tests (show_databases, show_tables, insert_into,
delete_from, show_create_table) and extends to the rest of SURVEY §2.1.
"""

import pytest

from sparrow_spark.engine import SparrowError

# Canonical fixture from the reference (src/test/base_sql.rs:255):
USER_DDL = "CREATE TABLE user (id INT, name CHAR, stature FLOAT, PRIMARY KEY (id, name))"


def boot(engine, db="test_db"):
    engine.sql(f"CREATE SCHEMA {db}")
    engine.sql(f"USE {db}")
    return engine


def test_show_databases(engine):
    engine.sql("CREATE SCHEMA db_b")
    engine.sql("CREATE SCHEMA db_a")
    rows = engine.sql("SHOW DATABASES").rows()
    assert [r["Database"] for r in rows] == ["db_a", "db_b"]


def test_show_tables(engine):
    # mirrors base_sql.rs:36-93: create schema, use, 2 tables, show
    boot(engine)
    engine.sql(USER_DDL)
    engine.sql("CREATE TABLE user1 (id INT, name CHAR, stature FLOAT)")
    rows = engine.sql("SHOW TABLES").rows()
    assert [r["Tables_in_test_db"] for r in rows] == ["user", "user1"]
    full = engine.sql("SHOW FULL TABLES").rows()
    assert full[0]["Table_type"] == "BASE TABLE"


def test_insert_select(engine):
    boot(engine)
    engine.sql(USER_DDL)
    r = engine.sql("INSERT INTO user VALUES (1, 'lucy', 160.0)")
    assert r.affected_rows == 1
    r = engine.sql("INSERT INTO user (id, name) VALUES (2, 'tom'), (3, 'bob')")
    assert r.affected_rows == 2
    rows = engine.sql("SELECT id, name, stature FROM user ORDER BY id").rows()
    assert [(r.id, r.name, r.stature) for r in rows] == [
        (1, "lucy", 160.0),
        (2, "tom", None),
        (3, "bob", None),
    ]


def test_insert_duplicate_key_errors(engine):
    # reference: MySQL error 1062 (src/execute_impl/insert.rs:204-218)
    boot(engine)
    engine.sql(USER_DDL)
    engine.sql("INSERT INTO user VALUES (1, 'lucy', 160.0)")
    with pytest.raises(SparrowError) as e:
        engine.sql("INSERT INTO user VALUES (1, 'lucy', 175.0)")
    assert e.value.code == 1062
    # same id, different name → composite key is fine
    engine.sql("INSERT INTO user VALUES (1, 'lily', 155.0)")
    # intra-batch duplicate also rejected
    with pytest.raises(SparrowError):
        engine.sql("INSERT INTO user VALUES (7, 'x', 1.0), (7, 'x', 2.0)")


def test_delete_from(engine):
    # mirrors base_sql.rs:153-234 incl. COUNT(*) == 0 after delete
    boot(engine)
    engine.sql(USER_DDL)
    engine.sql("INSERT INTO user VALUES (1,'lucy',160.0), (2,'tom',170.0), (3,'bob',180.0)")
    r = engine.sql("DELETE FROM user WHERE id = 2")
    assert r.affected_rows == 1
    assert engine.sql("SELECT count(*) AS n FROM user").rows()[0]["n"] == 2
    r = engine.sql("DELETE FROM user")
    assert r.affected_rows == 2
    assert engine.sql("SELECT count(*) AS n FROM user").rows()[0]["n"] == 0


def test_update(engine):
    boot(engine)
    engine.sql(USER_DDL)
    engine.sql("INSERT INTO user VALUES (1,'lucy',160.0), (2,'tom',170.0)")
    r = engine.sql("UPDATE user SET stature = stature + 5 WHERE id = 1")
    assert r.affected_rows == 1
    rows = engine.sql("SELECT id, stature FROM user ORDER BY id").rows()
    assert [(r.id, r.stature) for r in rows] == [(1, 165.0), (2, 170.0)]
    # multi-assignment, no WHERE
    r = engine.sql("UPDATE user SET stature = 0.0, name = upper(name)")
    assert r.affected_rows == 2
    rows = engine.sql("SELECT name, stature FROM user ORDER BY id").rows()
    assert [(r.name, r.stature) for r in rows] == [("LUCY", 0.0), ("TOM", 0.0)]


def test_show_create_table(engine):
    # mirrors base_sql.rs:236-280
    boot(engine)
    engine.sql(USER_DDL)
    rows = engine.sql("SHOW CREATE TABLE user").rows()
    assert rows[0]["Table"] == "user"
    ddl = rows[0]["Create Table"]
    assert "`id` int" in ddl and "`stature` float" in ddl
    assert "PRIMARY KEY (`id`, `name`)" in ddl


def test_show_columns(engine):
    boot(engine)
    engine.sql(USER_DDL)
    rows = engine.sql("SHOW COLUMNS FROM user").rows()
    assert [(r.Field, r.Type, r.Null, r.Key) for r in rows] == [
        ("id", "int", "NO", "PRI"),
        ("name", "char", "NO", "PRI"),
        ("stature", "float", "YES", ""),
    ]


def test_alter_table_add_drop_column(engine):
    boot(engine)
    engine.sql("CREATE TABLE t (id INT)")
    engine.sql("INSERT INTO t VALUES (1)")
    engine.sql("ALTER TABLE t ADD COLUMN note CHAR")
    rows = engine.sql("SELECT id, note FROM t").rows()
    assert [(r.id, r.note) for r in rows] == [(1, None)]
    engine.sql("INSERT INTO t VALUES (2, 'hi')")
    engine.sql("ALTER TABLE t DROP COLUMN note")
    rows = engine.sql("SELECT * FROM t ORDER BY id").rows()
    assert [tuple(r) for r in rows] == [(1,), (2,)]
    cols = engine.sql("SHOW COLUMNS FROM t").rows()
    assert [r.Field for r in cols] == ["id"]


def test_drop_table_and_schema(engine):
    boot(engine)
    engine.sql("CREATE TABLE t (id INT)")
    engine.sql("DROP TABLE t")
    with pytest.raises(SparrowError) as e:
        engine.sql("SELECT * FROM t")
    assert e.value is not None
    engine.sql("DROP SCHEMA test_db")
    assert engine.sql("SHOW DATABASES").rows() == []


def test_unknown_database_errors(engine):
    with pytest.raises(SparrowError) as e:
        engine.sql("USE nope")
    assert e.value.code == 1049
    with pytest.raises(SparrowError) as e:
        engine.sql("SELECT 1").df.collect() and engine.sql("CREATE TABLE t (id INT)")
    assert e.value.code == 1046  # no database selected


def test_variables_and_dual(engine):
    # @@vars and user vars substituted like the reference's VarProvider
    rows = engine.sql("SELECT @@version AS v, @@session.autocommit AS ac FROM dual").rows()
    assert "sparrow-spark" in rows[0]["v"]
    assert rows[0]["ac"] == "ON"
    engine.sql("SET @x = 42")
    assert engine.sql("SELECT @x AS x").rows()[0]["x"] == 42
    engine.sql("SET NAMES utf8mb4")  # accepted and ignored
    engine.sql("SET sql_mode = 'STRICT'")
    assert engine.system_vars["sql_mode"] == "STRICT"
    rows = engine.sql("SHOW VARIABLES LIKE 'vers%'").rows()
    assert {r.Variable_name for r in rows} == {"version", "version_comment"}


def test_database_function(engine):
    boot(engine, "mydb")
    rows = engine.sql("SELECT database() AS db").rows()
    assert rows[0]["db"] == "mydb"


def test_explain_as_resultset(engine):
    boot(engine)
    engine.sql("CREATE TABLE t (id INT)")
    rows = engine.sql("EXPLAIN SELECT * FROM t WHERE id > 1").rows()
    assert len(rows) >= 1 and "Physical Plan" in rows[0][0] or "Scan" in rows[0][0]


def test_explain_analyze_runtime_metrics(engine):
    # EXPLAIN ANALYZE executes and reports actual per-operator metrics
    # (reference src/execute_impl/explain.rs:41-101) — not just plan text.
    boot(engine)
    engine.sql("CREATE TABLE t (id INT)")
    engine.sql("INSERT INTO t VALUES (1), (2), (3), (4), (5)")
    rows = engine.sql("EXPLAIN ANALYZE SELECT * FROM t WHERE id > 1").rows()
    assert len(rows) >= 2  # at least a scan + filter/result chain
    blob = "\n".join(f"{r[0]} {r[1]}" for r in rows)
    # The filter's actual output row count (4 of the 5 seeded rows) must
    # appear as a populated runtime metric.
    assert "numOutputRows=4" in blob
    assert any(op in blob for op in ("Scan", "FileScan"))


def test_tablesample(engine):
    # TABLESAMPLE passes through Engine.sql to Spark's native sampler.
    boot(engine)
    engine.sql("CREATE TABLE ts_t (id INT)")
    engine.sql(
        "INSERT INTO ts_t VALUES " + ", ".join(f"({i})" for i in range(100))
    )
    all_ids = {r.id for r in engine.sql("SELECT id FROM ts_t").rows()}
    rows = engine.sql(
        "SELECT id FROM ts_t TABLESAMPLE (20 PERCENT) REPEATABLE (42)"
    ).rows()
    assert 0 < len(rows) < 100  # Bernoulli sample: strict subset
    assert {r.id for r in rows} <= all_ids
    again = engine.sql(
        "SELECT id FROM ts_t TABLESAMPLE (20 PERCENT) REPEATABLE (42)"
    ).rows()
    assert {r.id for r in rows} == {r.id for r in again}  # seeded => stable
    nrows = engine.sql("SELECT id FROM ts_t TABLESAMPLE (7 ROWS)").rows()
    assert len(nrows) == 7


def test_commit_noop(engine):
    assert engine.sql("COMMIT").kind == "ok"


def test_information_schema(engine):
    boot(engine)
    engine.sql(USER_DDL)
    rows = engine.sql(
        "SELECT table_name FROM information_schema.tables WHERE table_schema = 'test_db'"
    ).rows()
    assert [r.table_name for r in rows] == ["user"]
    cols = engine.sql(
        "SELECT column_name, ordinal_position FROM information_schema.columns "
        "WHERE table_name = 'user' ORDER BY ordinal_position"
    ).rows()
    assert [r.column_name for r in cols] == ["id", "name", "stature"]
    stats = engine.sql(
        "SELECT index_name, seq_in_index, column_name FROM information_schema.statistics "
        "WHERE table_name = 'user' ORDER BY seq_in_index"
    ).rows()
    assert [(r.index_name, r.column_name) for r in stats] == [
        ("PRIMARY", "id"),
        ("PRIMARY", "name"),
    ]


def test_prepared_statements(engine):
    boot(engine)
    engine.sql(USER_DDL)
    stmt_id, n = engine.prepare("INSERT INTO user VALUES (?, ?, ?)")
    assert n == 3
    r = engine.execute_prepared(stmt_id, [5, "sue", 150.5])
    assert r.affected_rows == 1
    qid, qn = engine.prepare("SELECT name FROM user WHERE id = ?")
    assert qn == 1
    rows = engine.execute_prepared(qid, [5]).rows()
    assert rows[0]["name"] == "sue"
    engine.close_prepared(stmt_id)
    with pytest.raises(SparrowError):
        engine.execute_prepared(stmt_id, [1, "a", 2.0])


def test_cross_table_join_via_engine(engine):
    boot(engine)
    engine.sql("CREATE TABLE dept (did INT, dname CHAR, PRIMARY KEY (did))")
    engine.sql("CREATE TABLE emp (eid INT, did INT, ename CHAR)")
    engine.sql("INSERT INTO dept VALUES (1,'eng'), (2,'ops')")
    engine.sql("INSERT INTO emp VALUES (10,1,'a'), (11,1,'b'), (12,2,'c')")
    rows = engine.sql(
        "SELECT d.dname AS dname, count(*) AS n FROM emp e JOIN dept d ON e.did = d.did "
        "GROUP BY d.dname ORDER BY dname"
    ).rows()
    assert [(r.dname, r.n) for r in rows] == [("eng", 2), ("ops", 1)]


def test_unsupported_statement_errors(engine):
    with pytest.raises(SparrowError) as e:
        engine.sql("GRANT ALL ON *.* TO root")
    assert e.value.code == 1105


def test_views(engine):
    engine.sql("CREATE DATABASE IF NOT EXISTS viewdb")
    engine.sql("USE viewdb")
    engine.sql("CREATE TABLE v_src (id INT, name CHAR, PRIMARY KEY(id))")
    engine.sql("INSERT INTO v_src VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    engine.sql("CREATE OR REPLACE TEMPORARY VIEW v_big AS SELECT * FROM v_src WHERE id >= 2")
    rows = engine.sql("SELECT name FROM v_big ORDER BY id").df.collect()
    assert [r.name for r in rows] == ["b", "c"]
    engine.sql("DROP VIEW v_big")
    import pytest as _pytest

    from sparrow_spark.engine import SparrowError

    with _pytest.raises(SparrowError):
        engine.sql("SELECT * FROM v_big")
    engine.sql("DROP TABLE v_src")


def test_ctas(engine):
    engine.sql("CREATE DATABASE IF NOT EXISTS ctasdb")
    engine.sql("USE ctasdb")
    engine.sql("CREATE TABLE src (id INT, grp CHAR, amt FLOAT, PRIMARY KEY(id))")
    engine.sql(
        "INSERT INTO src VALUES (1,'a',10.0), (2,'a',20.0), (3,'b',5.0), (4,'b',15.0)"
    )
    engine.sql(
        "CREATE TABLE grp_totals AS "
        "SELECT grp, sum(amt) AS total, count(*) AS n FROM src GROUP BY grp"
    )
    rows = engine.sql("SELECT * FROM grp_totals ORDER BY grp").df.collect()
    assert [(r.grp, r.total, r.n) for r in rows] == [("a", 30.0, 2), ("b", 20.0, 2)]
    # persists in catalog: SHOW CREATE reflects derived schema
    ddl = engine.sql("SHOW CREATE TABLE grp_totals").df.collect()[0][1]
    assert "total" in ddl and "n" in ddl
    import pytest as _pytest

    from sparrow_spark.engine import SparrowError

    # duplicate CTAS errors; IF NOT EXISTS is a no-op
    with _pytest.raises(SparrowError):
        engine.sql("CREATE TABLE grp_totals AS SELECT 1 AS one")
    engine.sql("CREATE TABLE IF NOT EXISTS grp_totals AS SELECT 1 AS one")
    # unaliased expression columns are rejected with a clear error
    with _pytest.raises(SparrowError, match="aliases"):
        engine.sql("CREATE TABLE bad_cols AS SELECT count(*) FROM src")
    engine.sql("DROP TABLE grp_totals")
    engine.sql("DROP TABLE src")


def test_insert_into_select(engine):
    engine.sql("CREATE DATABASE IF NOT EXISTS insdb")
    engine.sql("USE insdb")
    engine.sql("CREATE TABLE a (id INT, v FLOAT, PRIMARY KEY(id))")
    engine.sql("CREATE TABLE b (id INT, v FLOAT, PRIMARY KEY(id))")
    engine.sql("INSERT INTO a VALUES (1, 1.5), (2, 2.5), (3, 3.5)")
    r = engine.sql("INSERT INTO b SELECT id, v * 2 AS v2 FROM a WHERE id >= 2")
    assert r.affected_rows == 2
    rows = engine.sql("SELECT id, v FROM b ORDER BY id").df.collect()
    assert [(x.id, x.v) for x in rows] == [(2, 5.0), (3, 7.0)]
    import pytest as _pytest

    from sparrow_spark.engine import SparrowError

    # unique-key violation from SELECT source is rejected
    with _pytest.raises(SparrowError, match="Duplicate entry"):
        engine.sql("INSERT INTO b SELECT id, v FROM a WHERE id = 2")
    # column-count mismatch
    with _pytest.raises(SparrowError, match="Column count"):
        engine.sql("INSERT INTO b SELECT id FROM a")
    engine.sql("DROP TABLE a, b")


def test_replace_into(engine):
    engine.sql("CREATE DATABASE IF NOT EXISTS repldb")
    engine.sql("USE repldb")
    engine.sql("CREATE TABLE kv (k INT, v CHAR, PRIMARY KEY(k))")
    engine.sql("INSERT INTO kv VALUES (1,'a'), (2,'b')")
    # replace existing key 2, add new key 3
    r = engine.sql("REPLACE INTO kv VALUES (2,'B'), (3,'c')")
    assert r.affected_rows == 2
    rows = engine.sql("SELECT k, v FROM kv ORDER BY k").df.collect()
    assert [(x.k, x.v) for x in rows] == [(1, "a"), (2, "B"), (3, "c")]
    import pytest as _pytest

    from sparrow_spark.engine import SparrowError

    # intra-batch duplicate still errors
    with _pytest.raises(SparrowError, match="Duplicate entry"):
        engine.sql("REPLACE INTO kv VALUES (5,'x'), (5,'y')")
    # no unique key -> REPLACE rejected
    engine.sql("CREATE TABLE nokey (a INT)")
    with _pytest.raises(SparrowError, match="PRIMARY KEY"):
        engine.sql("REPLACE INTO nokey VALUES (1)")
    engine.sql("DROP TABLE kv, nokey")


def test_describe_alias(engine):
    engine.sql("CREATE DATABASE IF NOT EXISTS descdb")
    engine.sql("USE descdb")
    engine.sql("CREATE TABLE dt (id INT, name CHAR, PRIMARY KEY(id))")
    d1 = [tuple(r) for r in engine.sql("DESCRIBE dt").df.collect()]
    d2 = [tuple(r) for r in engine.sql("SHOW COLUMNS FROM dt").df.collect()]
    assert d1 == d2 and len(d1) == 2
    engine.sql("DROP TABLE dt")


def test_script_multi_statement(engine):
    results = engine.script(
        "CREATE DATABASE IF NOT EXISTS scriptdb; USE scriptdb; "
        "CREATE TABLE st (id INT, s CHAR, PRIMARY KEY(id)); "
        "INSERT INTO st VALUES (1, 'a;b'); "  # semicolon inside literal
        "SELECT s FROM st"
    )
    assert len(results) == 5
    assert results[-1].df.collect()[0].s == "a;b"
    engine.sql("DROP TABLE st")


def test_merge_into(engine):
    engine.sql("CREATE DATABASE IF NOT EXISTS mergedb")
    engine.sql("USE mergedb")
    engine.sql("CREATE TABLE tgt (id INT, v FLOAT, PRIMARY KEY(id))")
    engine.sql("CREATE TABLE src (id INT, v FLOAT, PRIMARY KEY(id))")
    engine.sql("INSERT INTO tgt VALUES (1, 10.0), (2, 20.0)")
    engine.sql("INSERT INTO src VALUES (2, 99.0), (3, 30.0)")
    r = engine.sql(
        "MERGE INTO tgt t USING src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v + 1 "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"
    )
    assert r.affected_rows == 2
    rows = engine.sql("SELECT id, v FROM tgt ORDER BY id").df.collect()
    assert [(x.id, x.v) for x in rows] == [(1, 10.0), (2, 100.0), (3, 30.0)]
    # WHEN MATCHED DELETE
    engine.sql(
        "MERGE INTO tgt t USING (SELECT 1 AS id) s ON t.id = s.id "
        "WHEN MATCHED THEN DELETE"
    )
    rows = engine.sql("SELECT id FROM tgt ORDER BY id").df.collect()
    assert [x.id for x in rows] == [2, 3]
    import pytest as _pytest

    from sparrow_spark.engine import SparrowError

    with _pytest.raises(SparrowError, match="MERGE"):
        engine.sql("MERGE INTO tgt t USING src s ON t.id = s.id")
    engine.sql("DROP TABLE tgt, src")


def test_show_index(engine):
    engine.sql("CREATE DATABASE IF NOT EXISTS idxdb")
    engine.sql("USE idxdb")
    engine.sql(
        "CREATE TABLE it (id INT, name CHAR, email CHAR, "
        "PRIMARY KEY(id, name), UNIQUE(email))"
    )
    rows = engine.sql("SHOW INDEX FROM it").df.collect()
    got = [(r.Key_name, r.Seq_in_index, r.Column_name) for r in rows]
    assert ("PRIMARY", 1, "id") in got and ("PRIMARY", 2, "name") in got
    assert any(k != "PRIMARY" and c == "email" for k, _, c in got)
    engine.sql("DROP TABLE it")


def test_hash_comments(engine):
    r = engine.sql("SELECT 1 AS one # trailing mysql comment")
    assert r.df.collect()[0].one == 1
    r = engine.sql("SELECT '#notacomment' AS s")
    assert r.df.collect()[0].s == "#notacomment"

def test_comments_quote_aware(engine):
    # string literals containing comment markers survive intact
    r = engine.sql("SELECT 'a -- b' AS s")
    assert r.df.collect()[0].s == "a -- b"
    r = engine.sql("SELECT '/*x*/' AS s")
    assert r.df.collect()[0].s == "/*x*/"
    # a block comment containing a quote is still a comment
    r = engine.sql("SELECT 1 AS one /* don't trip on this */")
    assert r.df.collect()[0].one == 1
    # -- needs trailing whitespace in MySQL: 1--2 is double negation
    r = engine.sql("SELECT 1--2 AS x")
    assert r.df.collect()[0].x == 3
    # line comment before the statement end
    r = engine.sql("SELECT 2 AS two -- trailing\n")
    assert r.df.collect()[0].two == 2


def test_merge_multi_match_errors(engine):
    engine.sql("CREATE DATABASE IF NOT EXISTS mmdb")
    engine.sql("USE mmdb")
    engine.sql("CREATE TABLE tgt (id INT, v FLOAT, PRIMARY KEY(id))")
    engine.sql("CREATE TABLE srcm (id INT, v FLOAT)")
    engine.sql("INSERT INTO tgt VALUES (1, 10.0)")
    engine.sql("INSERT INTO srcm VALUES (1, 1.0), (1, 2.0)")
    with pytest.raises(SparrowError, match="multiple source rows"):
        engine.sql(
            "MERGE INTO tgt t USING srcm s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = s.v"
        )
    # table unchanged after the failed merge
    rows = engine.sql("SELECT v FROM tgt").df.collect()
    assert [x.v for x in rows] == [10.0]
    engine.sql("DROP TABLE tgt, srcm")


def test_merge_insert_nested_parens(engine):
    engine.sql("CREATE DATABASE IF NOT EXISTS mpdb")
    engine.sql("USE mpdb")
    engine.sql("CREATE TABLE tgt (id INT, v FLOAT, PRIMARY KEY(id))")
    engine.sql("INSERT INTO tgt VALUES (1, 10.0)")
    engine.sql(
        "MERGE INTO tgt t USING (SELECT 7 AS a, '3.5' AS b) s ON t.id = s.a "
        "WHEN NOT MATCHED THEN INSERT (id, v) "
        "VALUES (CAST(s.a AS INT), CAST(s.b AS FLOAT) + round(0.0, 1))"
    )
    rows = engine.sql("SELECT id, v FROM tgt ORDER BY id").df.collect()
    assert [(x.id, x.v) for x in rows] == [(1, 10.0), (7, 3.5)]
    engine.sql("DROP TABLE tgt")


def test_prepared_backslash_param(engine):
    engine.sql("CREATE DATABASE IF NOT EXISTS ppdb")
    engine.sql("USE ppdb")
    engine.sql("CREATE TABLE bs (id INT, s CHAR, PRIMARY KEY(id))")
    sid, _ = engine.prepare("INSERT INTO bs VALUES (?, ?)")
    engine.execute_prepared(sid, [1, "end\\"])
    engine.execute_prepared(sid, [2, "a'b\\'c"])
    engine.close_prepared(sid)
    rows = engine.sql("SELECT id, s FROM bs ORDER BY id").df.collect()
    assert [(r.id, r.s) for r in rows] == [(1, "end\\"), (2, "a'b\\'c")]
    engine.sql("DROP TABLE bs")


def test_information_schema_literal_untouched(engine):
    r = engine.sql("SELECT 'information_schema.tables' AS s")
    assert r.df.collect()[0].s == "information_schema.tables"
    # while real references still rewrite
    r = engine.sql(
        "SELECT count(*) AS n FROM information_schema.schemata "
        "WHERE schema_name = 'no_such_db'"
    )
    assert r.df.collect()[0].n == 0

def test_session_isolation(engine):
    # Two interleaved "client connections" over one shared engine, each
    # with its own USE / @vars / prepared statements — mirrors the
    # reference's per-client SessionContext (src/core/session_context.rs).
    s1, s2 = engine.new_session(), engine.new_session()
    s1.sql("CREATE DATABASE IF NOT EXISTS iso_a")
    s2.sql("CREATE DATABASE IF NOT EXISTS iso_b")
    s1.sql("USE iso_a")
    s2.sql("USE iso_b")
    assert s1.sql("SELECT database() AS d").df.collect()[0].d == "iso_a"
    assert s2.sql("SELECT database() AS d").df.collect()[0].d == "iso_b"
    # interleaved USE does not clobber the other session
    assert s1.sql("SELECT database() AS d").df.collect()[0].d == "iso_a"
    # distinct user variables
    s1.sql("SET @x = 1")
    s2.sql("SET @x = 2")
    assert s1.sql("SELECT @x AS x").df.collect()[0].x == 1
    assert s2.sql("SELECT @x AS x").df.collect()[0].x == 2
    # unqualified table names resolve in each session's schema
    s1.sql("CREATE TABLE t (id INT, PRIMARY KEY(id))")
    s2.sql("CREATE TABLE t (id INT, PRIMARY KEY(id))")
    s1.sql("INSERT INTO t VALUES (1)")
    s2.sql("INSERT INTO t VALUES (2)")
    assert [r.id for r in s1.sql("SELECT id FROM t").df.collect()] == [1]
    assert [r.id for r in s2.sql("SELECT id FROM t").df.collect()] == [2]
    # per-session prepared-statement caches: same id, different statements
    id1, _ = s1.prepare("SELECT ? AS v")
    id2, _ = s2.prepare("SELECT ? + 100 AS v")
    assert id1 == id2
    assert s1.execute_prepared(id1, [5]).df.collect()[0].v == 5
    assert s2.execute_prepared(id2, [5]).df.collect()[0].v == 105
    # engine's own default session is untouched by either client
    assert engine.sql("SELECT database() AS d").df.collect()[0].d is None
    s1.sql("DROP TABLE t")
    s2.sql("DROP TABLE t")

def test_alternating_sessions_on_one_database_do_not_resync(
    engine, tmp_path, monkeypatch
):
    """Two connections on one database alternate statements without
    re-registering the database() UDF (a registration plus a catalog
    call, twice per statement when every switch re-synced). A second
    engine on the same SparkSession that moves it to another database
    is still followed by a re-sync."""
    from pyspark.sql.udf import UDFRegistration

    from sparrow_spark.engine import Engine

    s1, s2 = engine.new_session(), engine.new_session()
    s1.sql("CREATE DATABASE IF NOT EXISTS alt_db")
    s1.sql("USE alt_db")
    s2.sql("USE alt_db")
    s1.sql("CREATE TABLE t (id INT, PRIMARY KEY(id))")
    s1.sql("INSERT INTO t VALUES (7)")
    registered = []
    register = UDFRegistration.register
    monkeypatch.setattr(
        UDFRegistration,
        "register",
        lambda self, name, *a, **k: (
            registered.append(name) or register(self, name, *a, **k)
        ),
    )
    for s in (s1, s2, s1, s2, s1, s2):
        assert s.sql("SELECT database() AS d").df.collect()[0].d == "alt_db"
        assert [r.id for r in s.sql("SELECT id FROM t").df.collect()] == [7]
    assert registered == []
    other = Engine(engine.spark, str(tmp_path / "other")).new_session()
    other.sql("CREATE DATABASE IF NOT EXISTS alt_other")
    other.sql("USE alt_other")
    assert other.sql("SELECT database() AS d").df.collect()[0].d == "alt_other"
    assert s2.sql("SELECT database() AS d").df.collect()[0].d == "alt_db"
    assert [r.id for r in s2.sql("SELECT id FROM t").df.collect()] == [7]
    s1.sql("DROP TABLE t")

def test_performance_schema_and_mysql_tables(engine):
    # reference hosts these as real system tables
    # (src/meta/def/performance_schema.rs:9, src/meta/def/mysql.rs:9);
    # SHOW VARIABLES desugars to the same SELECT the reference builds
    # (src/execute_impl/show_variables.rs:49-118).
    rows = engine.sql(
        "SELECT variable_name, variable_value "
        "FROM performance_schema.global_variables "
        "WHERE variable_name LIKE 'ver%' ORDER BY variable_name"
    ).df.collect()
    names = [r.variable_name for r in rows]
    assert "version" in names and "version_comment" in names
    # session-scoped: a SET is visible through the table
    engine.sql("SET my_probe_var = 'hello'")
    rows = engine.sql(
        "SELECT variable_value AS v FROM performance_schema.global_variables "
        "WHERE variable_name = 'my_probe_var'"
    ).df.collect()
    assert [r.v for r in rows] == ["hello"]
    # ...and per-session isolated
    s2 = engine.new_session()
    assert (
        s2.sql(
            "SELECT count(*) AS n FROM performance_schema.global_variables "
            "WHERE variable_name = 'my_probe_var'"
        ).df.collect()[0].n
        == 0
    )
    # full 51-column mysql.users grant table (reference mysql.rs shape)
    rows = engine.sql(
        "SELECT Host, User, Select_priv, Create_tablespace_priv, plugin "
        "FROM mysql.users"
    ).df.collect()
    assert [(r.Host, r.User, r.Select_priv, r.Create_tablespace_priv, r.plugin)
            for r in rows] == [("%", "root", "Y", "Y", "mysql_native_password")]
    assert len(engine.sql("SELECT * FROM mysql.users").df.columns) == 51


def _data_files(engine, db, table):
    import os

    d = engine.catalog.data_path(db, table)
    return {f for f in os.listdir(d) if f.endswith(".parquet")}


_MERGE_COW = (
    "MERGE INTO cow t USING (SELECT * FROM VALUES (3, 99), (9, 90) AS v(id, v)) s "
    "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v "
    "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"
)
# statement, affected rows, changed ids (None = deleted)
_COW_CASES = {
    "update": ("UPDATE cow SET v = 99 WHERE id = 3", 1, {3: 99}),
    "delete": ("DELETE FROM cow WHERE id = 3", 1, {3: None}),
    "replace": ("REPLACE INTO cow VALUES (3, 99), (9, 90)", 2, {3: 99, 9: 90}),
    "odku": (
        "INSERT INTO cow VALUES (3, 99), (9, 90) "
        "ON DUPLICATE KEY UPDATE v = VALUES(v)",
        3,
        {3: 99, 9: 90},
    ),
    "merge": (_MERGE_COW, 2, {3: 99, 9: 90}),
    "delete_no_match": ("DELETE FROM cow WHERE id = 999", 0, {}),
    "merge_no_match": (
        "MERGE INTO cow t USING (SELECT 999 AS id) s ON t.id = s.id "
        "WHEN MATCHED THEN DELETE",
        0,
        {},
    ),
}


@pytest.mark.parametrize("case", sorted(_COW_CASES))
def test_row_level_dml_rewrites_only_touched_files(engine, case):
    # File-level copy-on-write for every row-level DML statement:
    # separate INSERTs append separate parquet files; a statement
    # matching a row in one file replaces only that file, every other
    # file stays byte-identical on disk, and inserted rows land in new
    # files of the same commit. A statement matching nothing (and
    # inserting nothing) changes no file at all.
    import os
    from pathlib import Path

    import pyarrow.parquet as pq

    stmt, affected, changes = _COW_CASES[case]
    boot(engine)
    engine.sql("CREATE TABLE cow (id INT, v INT, PRIMARY KEY(id))")
    for i in (1, 3, 5, 7):
        engine.sql(f"INSERT INTO cow VALUES ({i}, {i * 10}), ({i + 1}, {i * 10 + 10})")
    d = engine.catalog.data_path("test_db", "cow")

    def contents():
        return {
            f: Path(d, f).read_bytes()
            for f in _data_files(engine, "test_db", "cow")
        }

    before = contents()
    assert len(before) >= 4
    touched = {
        f
        for f in before
        if set(pq.read_table(os.path.join(d, f), columns=["id"])["id"].to_pylist())
        & set(changes)
    }
    r = engine.sql(stmt)
    assert r.affected_rows == affected
    after = contents()
    for f in set(before) - touched:
        assert after.get(f) == before[f], f"{case} rewrote a file holding no matched row"
    assert not touched & set(after), "touched file should be replaced"
    if not changes:
        assert after == before
    expected = {k: k * 10 for k in range(1, 9)}
    expected.update(changes)
    rows = engine.sql("SELECT id, v FROM cow ORDER BY id").rows()
    assert [(x.id, x.v) for x in rows] == sorted(
        (k, v) for k, v in expected.items() if v is not None
    )


def test_optimize_table_compacts_files(engine):
    # OPTIMIZE TABLE compacts the files accumulated by append-only
    # INSERT + file-level COW into a single fresh write.
    boot(engine)
    engine.sql("CREATE TABLE opt (id INT, PRIMARY KEY(id))")
    for i in range(4):
        engine.sql(f"INSERT INTO opt VALUES ({i})")
    assert len(_data_files(engine, "test_db", "opt")) >= 4
    rows = engine.sql("OPTIMIZE TABLE opt").rows()
    assert [(r.Table, r.Op, r.Msg_text) for r in rows] == [
        ("test_db.opt", "optimize", "OK")
    ]
    assert len(_data_files(engine, "test_db", "opt")) == 1
    got = engine.sql("SELECT id FROM opt ORDER BY id").rows()
    assert [r.id for r in got] == [0, 1, 2, 3]


def test_analyze_table(engine):
    boot(engine)
    engine.sql("CREATE TABLE ana (id INT)")
    engine.sql("INSERT INTO ana VALUES (1), (2)")
    rows = engine.sql("ANALYZE TABLE ana").rows()
    assert [(r.Table, r.Op, r.Msg_text) for r in rows] == [
        ("test_db.ana", "analyze", "OK")
    ]
    # Spark catalog now carries real row-count stats
    stats = engine.spark.sql("DESCRIBE EXTENDED `test_db`.`ana`").collect()
    blob = "\n".join(str(r) for r in stats)
    assert "2 rows" in blob or "rowCount" in blob or "Statistics" in blob


def test_show_processlist(engine):
    rows = engine.sql("SHOW PROCESSLIST").rows()
    assert len(rows) == 1 and rows[0]["Command"] == "Query"


def test_optimize_sorts_by_primary_key(engine):
    import pyarrow.parquet as pq

    boot(engine)
    engine.sql("CREATE TABLE srt (id INT, v INT, PRIMARY KEY(id))")
    engine.sql("INSERT INTO srt VALUES (5, 1), (3, 1)")
    engine.sql("INSERT INTO srt VALUES (9, 1), (1, 1)")
    engine.sql("OPTIMIZE TABLE srt")
    files = sorted(_data_files(engine, "test_db", "srt"))
    assert len(files) == 1
    import os

    path = os.path.join(engine.catalog.data_path("test_db", "srt"), files[0])
    ids = pq.read_table(path, columns=["id"]).column("id").to_pylist()
    assert ids == sorted(ids) == [1, 3, 5, 9]


def test_partitioned_table_pruned_cow(engine):
    # CREATE TABLE ... PARTITIONED BY composes with file-level COW:
    # the touched-file discovery scan carries a PartitionFilters entry
    # for a partition predicate, _matched_files returns only files in
    # the matching directory, and files of other partitions are
    # physically untouched by the UPDATE.
    import os

    from pyspark.sql import functions as F

    boot(engine, "partdb")
    engine.sql(
        "CREATE TABLE ev (id INT, region CHAR, val DOUBLE, PRIMARY KEY(id)) "
        "PARTITIONED BY (region)"
    )
    for r in ("eu", "us", "ap"):
        vals = ", ".join(
            f"({i}, '{r}', {i}.0)" for i in range({"eu": 0, "us": 100, "ap": 200}[r], {"eu": 0, "us": 100, "ap": 200}[r] + 5)
        )
        engine.sql(f"INSERT INTO ev VALUES {vals}")
    data_dir = engine.catalog.data_path("partdb", "ev")
    assert sorted(
        d for d in os.listdir(data_dir) if d.startswith("region=")
    ) == ["region=ap", "region=eu", "region=us"]

    tdef = engine.catalog.load("partdb", "ev")
    assert tdef.partition_by == ["region"]
    pred = F.expr("region = 'us'")

    # 1) the discovery scan prunes at directory level
    scan = engine._read_physical("partdb", "ev", tdef).filter(pred)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "region" in plan.split(
        "PartitionFilters", 1
    )[1][:200]

    # 2) _matched_files returns only files under the matching partition
    n, files = engine._matched_files("partdb", "ev", tdef, lambda d: d.filter(pred))
    assert n == 5
    assert files and all("region=us" in f for f in files)

    # 3) other partitions' files are byte-identical after the UPDATE
    def snapshot(part):
        d = os.path.join(data_dir, part)
        return {
            fn: os.stat(os.path.join(d, fn)).st_mtime_ns
            for fn in os.listdir(d)
            if fn.endswith(".parquet")
        }

    eu_before, ap_before = snapshot("region=eu"), snapshot("region=ap")
    res = engine.sql("UPDATE ev SET val = val + 1000 WHERE region = 'us'")
    assert res.affected_rows == 5
    assert snapshot("region=eu") == eu_before
    assert snapshot("region=ap") == ap_before

    # 4) correctness through the registered Spark table (SELECT path)
    rows = engine.sql(
        "SELECT region, count(*) AS n, min(val) AS lo FROM ev "
        "GROUP BY region ORDER BY region"
    ).rows()
    got = {r["region"]: (r["n"], r["lo"]) for r in rows}
    assert got == {"eu": (5, 0.0), "us": (5, 1100.0), "ap": (5, 200.0)}

    # 5) UPDATE that MOVES a row across partitions relocates its file
    engine.sql("UPDATE ev SET region = 'eu' WHERE id = 200")
    rows = engine.sql(
        "SELECT region, count(*) AS n FROM ev GROUP BY region ORDER BY region"
    ).rows()
    assert {r["region"]: r["n"] for r in rows} == {"eu": 6, "us": 5, "ap": 4}

    # 6) partition column cannot be dropped
    with pytest.raises(SparrowError) as ei:
        engine.sql("ALTER TABLE ev DROP COLUMN region")
    assert ei.value.code == 3855

    # 7) SHOW CREATE TABLE surfaces the clause
    ddl = engine.sql("SHOW CREATE TABLE ev").rows()[0]["Create Table"]
    assert "PARTITIONED BY (`region`)" in ddl

    # 8) DELETE with a partition predicate also prunes + works
    res = engine.sql("DELETE FROM ev WHERE region = 'ap'")
    assert res.affected_rows == 4
    rows = engine.sql("SELECT count(*) AS n FROM ev").rows()
    assert rows[0]["n"] == 11


def test_insert_on_duplicate_key_update(engine):
    engine.sql("CREATE DATABASE IF NOT EXISTS odkudb")
    engine.sql("USE odkudb")
    engine.sql("CREATE TABLE acct (id INT, hits INT, name CHAR, PRIMARY KEY(id))")
    engine.sql("INSERT INTO acct VALUES (1, 10, 'a'), (2, 20, 'b')")
    # key 2 collides -> update in place (VALUES() + stored-column mix);
    # key 3 is new -> plain insert. MySQL affected_rows: 1 + 2 = 3.
    r = engine.sql(
        "INSERT INTO acct VALUES (2, 5, 'B'), (3, 30, 'c') "
        "ON DUPLICATE KEY UPDATE hits = hits + VALUES(hits), "
        "name = VALUES(name)"
    )
    assert r.affected_rows == 3
    rows = engine.sql("SELECT id, hits, name FROM acct ORDER BY id").df.collect()
    assert [(x.id, x.hits, x.name) for x in rows] == [
        (1, 10, "a"),
        (2, 25, "B"),
        (3, 30, "c"),
    ]
    # all-duplicates batch: every row updates, none insert
    r = engine.sql(
        "INSERT INTO acct VALUES (1, 1, 'z'), (2, 1, 'z') "
        "ON DUPLICATE KEY UPDATE hits = hits + VALUES(hits)"
    )
    assert r.affected_rows == 4
    rows = engine.sql("SELECT id, hits FROM acct ORDER BY id").df.collect()
    assert [(x.id, x.hits) for x in rows] == [(1, 11), (2, 26), (3, 30)]
    import pytest as _pytest

    from sparrow_spark.engine import SparrowError

    # intra-batch duplicates fold sequentially (MySQL semantics, r11):
    # 7 inserts as (7,1,'x'), then the second occurrence applies the
    # UPDATE clause -> hits = 2. affected_rows = 1 insert + 2 update.
    r = engine.sql(
        "INSERT INTO acct VALUES (7, 1, 'x'), (7, 2, 'y') "
        "ON DUPLICATE KEY UPDATE hits = VALUES(hits)"
    )
    assert r.affected_rows == 3
    rows = engine.sql("SELECT hits, name FROM acct WHERE id = 7").df.collect()
    assert [(x.hits, x.name) for x in rows] == [(2, "x")]
    # no unique key -> rejected
    engine.sql("CREATE TABLE nokey2 (a INT)")
    with _pytest.raises(SparrowError, match="PRIMARY KEY"):
        engine.sql(
            "INSERT INTO nokey2 VALUES (1) ON DUPLICATE KEY UPDATE a = 2"
        )
    engine.sql("DROP TABLE acct, nokey2")


def test_insert_ignore_and_truncate(engine):
    engine.sql("CREATE DATABASE IF NOT EXISTS igndb")
    engine.sql("USE igndb")
    engine.sql("CREATE TABLE t (id INT, v CHAR, PRIMARY KEY(id))")
    engine.sql("INSERT INTO t VALUES (1, 'a')")
    # stored collision (1) skipped, intra-batch later dup (3,'y')
    # skipped keeping the FIRST, fresh rows land
    r = engine.sql(
        "INSERT IGNORE INTO t VALUES (1, 'X'), (2, 'b'), (3, 'x'), (3, 'y')"
    )
    assert r.affected_rows == 2
    rows = engine.sql("SELECT id, v FROM t ORDER BY id").df.collect()
    assert [(x.id, x.v) for x in rows] == [(1, "a"), (2, "b"), (3, "x")]
    # all-duplicate batch: nothing lands, no error
    r = engine.sql("INSERT IGNORE INTO t VALUES (1, 'z')")
    assert r.affected_rows == 0
    # TRUNCATE: table empties, MySQL reports affected_rows 0
    r = engine.sql("TRUNCATE TABLE t")
    assert r.affected_rows == 0
    assert engine.sql("SELECT count(*) AS n FROM t").df.collect()[0].n == 0
    # table is still writable after truncate
    engine.sql("INSERT INTO t VALUES (9, 'q')")
    assert engine.sql("SELECT count(*) AS n FROM t").df.collect()[0].n == 1
    engine.sql("DROP TABLE t")


def test_rename_table_and_alter_rename(engine):
    import pytest as _pytest

    engine.sql("CREATE DATABASE IF NOT EXISTS rendb")
    engine.sql("USE rendb")
    engine.sql("CREATE TABLE src (id INT, v CHAR, PRIMARY KEY(id))")
    engine.sql("INSERT INTO src VALUES (1, 'a'), (2, 'b')")
    # Plain rename: data, PK enforcement, and SHOW follow the new name.
    engine.sql("RENAME TABLE src TO dst")
    assert engine.sql("SELECT count(*) AS n FROM dst").df.collect()[0].n == 2
    with _pytest.raises(SparrowError, match="cannot be found|doesn't exist"):
        engine.sql("SELECT * FROM src")
    with _pytest.raises(SparrowError) as e:
        engine.sql("INSERT INTO dst VALUES (1, 'x')")
    assert e.value.code == 1062  # PK survived the rename
    names = [r[0] for r in engine.sql("SHOW TABLES").df.collect()]
    assert "dst" in names and "src" not in names
    # Multi-pair swap via a temp name (the MySQL idiom).
    engine.sql("CREATE TABLE other (id INT)")
    engine.sql("INSERT INTO other VALUES (7)")
    engine.sql(
        "RENAME TABLE dst TO tmp_sw, other TO dst, tmp_sw TO other"
    )
    assert engine.sql("SELECT count(*) AS n FROM dst").df.collect()[0].n == 1
    assert engine.sql("SELECT count(*) AS n FROM other").df.collect()[0].n == 2
    # Validation is all-or-nothing: a bad pair leaves everything alone.
    with _pytest.raises(SparrowError) as e:
        engine.sql("RENAME TABLE dst TO dst2, missing TO x")
    assert e.value.code == 1146
    assert engine.sql("SELECT count(*) AS n FROM dst").df.collect()[0].n == 1
    with _pytest.raises(SparrowError) as e:
        engine.sql("RENAME TABLE dst TO other")
    assert e.value.code == 1050
    # ALTER TABLE ... RENAME TO.
    engine.sql("ALTER TABLE dst RENAME TO dst3")
    assert engine.sql("SELECT count(*) AS n FROM dst3").df.collect()[0].n == 1
    # ALTER TABLE ... RENAME COLUMN: data + PK + uniqueness follow.
    engine.sql("ALTER TABLE other RENAME COLUMN v TO label")
    rows = engine.sql("SELECT id, label FROM other ORDER BY id").df.collect()
    assert [(x.id, x.label) for x in rows] == [(1, "a"), (2, "b")]
    with _pytest.raises(SparrowError) as e:
        engine.sql("INSERT INTO other VALUES (2, 'dup')")
    assert e.value.code == 1062
    with _pytest.raises(SparrowError) as e:
        engine.sql("ALTER TABLE other RENAME COLUMN nope TO x")
    assert e.value.code == 1054
    with _pytest.raises(SparrowError) as e:
        engine.sql("ALTER TABLE other RENAME COLUMN id TO label")
    assert e.value.code == 1060
    engine.sql("DROP TABLE dst3, other")


def test_show_warnings_and_errors_empty(engine):
    r = engine.sql("SHOW WARNINGS")
    assert [f.name for f in r.df.schema.fields] == ["Level", "Code", "Message"]
    assert r.df.collect() == []
    assert engine.sql("SHOW ERRORS").df.collect() == []
    r = engine.sql("SHOW COUNT(*) WARNINGS")
    assert [x.Count for x in r.df.collect()] == [0]


def test_optimize_zorder_sorts_by_morton_curve(engine):
    """OPTIMIZE ... ZORDER BY (x, y) lays the single compacted file
    out along the Morton curve of the two axes: re-deriving the
    interleave in plain Python from the file's own min/max must show a
    nondecreasing z sequence in physical row order (and the layout is
    NOT the PK sort, proving the zorder branch actually took over)."""
    import os

    import pyarrow.parquet as pq

    boot(engine)
    engine.sql("CREATE TABLE zo (id INT, x INT, y INT, PRIMARY KEY(id))")
    rows = [(i, (i * 7) % 50, (i * 13) % 50) for i in range(200)]
    engine.sql(
        "INSERT INTO zo VALUES "
        + ", ".join(f"({i}, {x}, {y})" for i, x, y in rows)
    )
    res = engine.sql("OPTIMIZE TABLE zo ZORDER BY (x, y)").rows()
    assert [(r.Msg_type, r.Msg_text) for r in res] == [("status", "OK")]
    files = sorted(_data_files(engine, "test_db", "zo"))
    assert len(files) == 1
    path = os.path.join(engine.catalog.data_path("test_db", "zo"), files[0])
    t = pq.read_table(path, columns=["id", "x", "y"])
    xs, ys = t.column("x").to_pylist(), t.column("y").to_pylist()
    ids = t.column("id").to_pylist()
    mnx, mxx = min(xs), max(xs)
    mny, mxy = min(ys), max(ys)
    bits, n = 16, 2
    nb = 1 << bits

    def bucket(v, mn, mx):
        if mx <= mn:
            return 0
        return min(int((v - mn) / (mx - mn) * nb), nb - 1)

    def z(x, y):
        bx, by = bucket(x, mnx, mxx), bucket(y, mny, mxy)
        out = 0
        for b in range(bits):
            out |= ((bx >> b) & 1) << (b * n)
            out |= ((by >> b) & 1) << (b * n + 1)
        return out

    zs = [z(x, y) for x, y in zip(xs, ys)]
    assert zs == sorted(zs), "file rows are not in Morton order"
    assert ids != sorted(ids), "zorder write degenerated to the PK sort"
    # values survive the rewrite
    got = engine.sql("SELECT count(*) AS n, sum(x) AS sx FROM zo").rows()[0]
    assert (got.n, got.sx) == (200, sum(x for _, x, _ in rows))
    engine.sql("DROP TABLE zo")


def test_optimize_zorder_rejects_bad_axes(engine):
    from sparrow_spark.engine import SparrowError

    boot(engine)
    engine.sql(
        "CREATE TABLE zbad (id INT, name CHAR, region CHAR, PRIMARY KEY(id))"
        " PARTITIONED BY (region)"
    )
    engine.sql("INSERT INTO zbad VALUES (1, 'a', 'eu')")
    with pytest.raises(SparrowError, match="Unknown column"):
        engine.sql("OPTIMIZE TABLE zbad ZORDER BY (nope)")
    with pytest.raises(SparrowError, match="partition column"):
        engine.sql("OPTIMIZE TABLE zbad ZORDER BY (region)")
    with pytest.raises(SparrowError, match="only numeric"):
        engine.sql("OPTIMIZE TABLE zbad ZORDER BY (name)")
    engine.sql("DROP TABLE zbad")


def test_optimize_zorder_partitioned_preserves_z_per_directory(engine):
    """ZORDER on a PARTITIONED table: the dynamic-partition writer
    re-sorts unsorted input by partition keys (unstable), so the
    compaction sort leads with the partition columns — the z order
    must survive into EVERY partition directory's file."""
    import os

    import pyarrow.parquet as pq

    boot(engine)
    engine.sql(
        "CREATE TABLE zp (id INT, region CHAR, x INT, y INT, "
        "PRIMARY KEY(id)) PARTITIONED BY (region)"
    )
    rows = [
        (i, "eu" if i % 2 == 0 else "us", (i * 7) % 40, (i * 13) % 40)
        for i in range(120)
    ]
    engine.sql(
        "INSERT INTO zp VALUES "
        + ", ".join(f"({i}, '{r}', {x}, {y})" for i, r, x, y in rows)
    )
    engine.sql("OPTIMIZE TABLE zp ZORDER BY (x, y)")
    data_dir = engine.catalog.data_path("test_db", "zp")
    # global min/max over the whole table (the normalization basis)
    allx = [x for _, _, x, _ in rows]
    ally = [y for _, _, _, y in rows]
    mnx, mxx, mny, mxy = min(allx), max(allx), min(ally), max(ally)
    bits, n, nb = 16, 2, 1 << 16

    def bucket(v, mn, mx):
        return 0 if mx <= mn else min(int((v - mn) / (mx - mn) * nb), nb - 1)

    def z(x, y):
        bx, by = bucket(x, mnx, mxx), bucket(y, mny, mxy)
        return sum(
            (((bx >> b) & 1) << (b * n)) + (((by >> b) & 1) << (b * n + 1))
            for b in range(bits)
        )

    n_dirs = 0
    for root, _dirs, fns in os.walk(data_dir):
        pfiles = [fn for fn in fns if fn.endswith(".parquet")]
        if not pfiles:
            continue
        n_dirs += 1
        assert "region=" in root
        for fn in pfiles:
            t = pq.read_table(os.path.join(root, fn), columns=["x", "y"])
            zs = [
                z(x, y)
                for x, y in zip(
                    t.column("x").to_pylist(), t.column("y").to_pylist()
                )
            ]
            assert zs == sorted(zs), f"z order broken in {root}/{fn}"
    assert n_dirs == 2
    got = engine.sql("SELECT count(*) AS c FROM zp").rows()[0]
    assert got.c == 120
    engine.sql("DROP TABLE zp")


def test_optimize_zorder_helper_names_cannot_shadow_user_columns(engine):
    """Columns literally named `_z` / `_zb0` / `_mn0` / `_mx0` must
    survive OPTIMIZE ... ZORDER BY untouched: the Morton helper
    columns previously used those fixed names, so withColumn silently
    REPLACED the user's `_z` and the trailing drop destroyed its data
    in the rewritten file (and `_mn0` hit a crossJoin ambiguity)."""
    boot(engine)
    engine.sql(
        "CREATE TABLE zcol (id INT, x INT, `_z` INT, `_zb0` INT, "
        "`_mn0` INT, `_mx0` INT, PRIMARY KEY(id))"
    )
    rows = [(i, (i * 7) % 50, i + 1, i + 2, i + 3, i + 4) for i in range(40)]
    engine.sql(
        "INSERT INTO zcol VALUES "
        + ", ".join(f"({a}, {b}, {c}, {d}, {e}, {f})" for a, b, c, d, e, f in rows)
    )
    res = engine.sql("OPTIMIZE TABLE zcol ZORDER BY (x)").rows()
    assert [(r.Msg_type, r.Msg_text) for r in res] == [("status", "OK")]
    got = engine.sql(
        "SELECT id, `_z`, `_zb0`, `_mn0`, `_mx0` FROM zcol ORDER BY id"
    ).rows()
    assert [(r.id, r["_z"], r["_zb0"], r["_mn0"], r["_mx0"]) for r in got] == [
        (i, i + 1, i + 2, i + 3, i + 4) for i in range(40)
    ]
    engine.sql("DROP TABLE zcol")


def test_optimize_clauses_parse_in_either_order(engine):
    """ZORDER BY and MIN FILES are both trailing clauses and must
    compose in either order — `ZORDER BY (x) MIN FILES 3` previously
    stripped only MIN FILES and handed `t ZORDER BY (x)` to the
    table-name resolver, silently dropping the zorder request."""
    import os

    import pyarrow.parquet as pq

    from sparrow_spark.engine import SparrowError

    boot(engine)
    engine.sql("CREATE TABLE zboth (id INT, x INT, PRIMARY KEY(id))")
    rows = [(i, (i * 31) % 97) for i in range(120)]
    engine.sql(
        "INSERT INTO zboth VALUES " + ", ".join(f"({i}, {x})" for i, x in rows)
    )

    def x_order():
        files = sorted(_data_files(engine, "test_db", "zboth"))
        assert len(files) == 1
        path = os.path.join(
            engine.catalog.data_path("test_db", "zboth"), files[0]
        )
        return pq.read_table(path, columns=["id", "x"]).column("id").to_pylist()

    res = engine.sql("OPTIMIZE TABLE zboth ZORDER BY (x) MIN FILES 1").rows()
    assert [(r.Msg_type, r.Msg_text) for r in res] == [("status", "OK")]
    ids_a = x_order()
    assert ids_a != sorted(ids_a), "ZORDER BY before MIN FILES was ignored"
    res = engine.sql("OPTIMIZE TABLE zboth MIN FILES 1 ZORDER BY (x)").rows()
    assert [(r.Msg_type, r.Msg_text) for r in res] == [("status", "OK")]
    ids_b = x_order()
    assert ids_b != sorted(ids_b)
    # residual clause text anywhere else is a syntax error, not a
    # bogus table name
    with pytest.raises(SparrowError, match="trailing clauses"):
        engine.sql("OPTIMIZE TABLE ZORDER BY (x) zboth")
    got = engine.sql("SELECT count(*) AS n, sum(x) AS sx FROM zboth").rows()[0]
    assert (got.n, got.sx) == (120, sum(x for _, x in rows))
    engine.sql("DROP TABLE zboth")


def test_dunder_column_names_are_reserved(engine):
    """The `__` identifier prefix is reserved for engine-internal
    helper columns (__ord/__rn in INSERT dedup, __file in COW file
    pruning, __new_<c> in ODKU): a user column with one of those names
    would be silently replaced by withColumn mid-plan and its data
    destroyed on the next DML rewrite — rejected at DDL time instead."""
    boot(engine)
    for ddl in (
        "CREATE TABLE resv (`__ord` INT)",
        "CREATE TABLE resv (`__file` INT)",
        "CREATE TABLE resv (id INT, `__new_id` INT, PRIMARY KEY(id))",
        "CREATE TABLE `__resv` (id INT)",
    ):
        with pytest.raises(ValueError, match="reserved"):
            engine.sql(ddl)
    # single leading underscore stays legal (only the dunder prefix is
    # engine-internal)
    engine.sql("CREATE TABLE resv_ok (`_note` CHAR, id INT, PRIMARY KEY(id))")
    engine.sql("INSERT INTO resv_ok VALUES ('a', 1)")
    got = engine.sql("SELECT `_note` FROM resv_ok").rows()
    assert [r["_note"] for r in got] == ["a"]
    engine.sql("DROP TABLE resv_ok")


def test_rename_does_not_carry_the_write_lock(engine):
    """A rename moves the table directory, and the lock file in it, to
    the new name. Once the statement ends the lock under the new name
    must be free, so the next DML there runs at once: ALTER TABLE ...
    RENAME runs under the source's lock and must not wait for it a
    second time, and RENAME TABLE takes it itself."""
    import fcntl
    import os

    boot(engine)
    engine.sql("CREATE TABLE inv (id INT, qty INT, PRIMARY KEY(id))")
    engine.sql("INSERT INTO inv VALUES (1, 10), (2, 20)")

    def lock_is_free(table):
        path = os.path.join(
            engine.catalog.table_path(engine.current_schema, table),
            ".write.lock",
        )
        fd = os.open(path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            return True
        except BlockingIOError:
            return False
        finally:
            os.close(fd)

    engine.sql("ALTER TABLE inv RENAME TO stock")
    assert lock_is_free("stock"), "rename carried a held lock"
    engine.sql("UPDATE stock SET qty = qty + 1 WHERE id = 1")
    engine.sql("RENAME TABLE stock TO stock2")
    assert lock_is_free("stock2"), "rename carried a held lock"
    engine.sql("DELETE FROM stock2 WHERE id = 2")
    rows = engine.sql("SELECT id, qty FROM stock2 ORDER BY id").rows()
    assert [(r.id, r.qty) for r in rows] == [(1, 11)]


def test_rename_column_then_update_under_new_name(engine):
    boot(engine)
    engine.sql("CREATE TABLE inv (id INT, qty INT, PRIMARY KEY(id))")
    engine.sql("INSERT INTO inv VALUES (1, 10)")
    engine.sql("ALTER TABLE inv RENAME COLUMN qty TO quantity")
    engine.sql("UPDATE inv SET quantity = quantity + 5 WHERE id = 1")
    rows = engine.sql("SELECT id, quantity FROM inv").rows()
    assert [(r.id, r.quantity) for r in rows] == [(1, 15)]
    cols = [r["Field"] for r in engine.sql("SHOW COLUMNS FROM inv").rows()]
    assert cols == ["id", "quantity"]


def test_optimize_duplicate_targets_dedupe(engine):
    """OPTIMIZE TABLE t, t (or two spellings of one table) compacts
    once: duplicate resolved targets would rewrite twice and re-contend
    for the statement's own per-target lock."""
    boot(engine)
    engine.sql("CREATE TABLE opt2 (id INT, PRIMARY KEY(id))")
    engine.sql("INSERT INTO opt2 VALUES (1), (2)")
    rows = engine.sql("OPTIMIZE TABLE opt2, opt2").rows()
    assert len(rows) == 1 and rows[0]["Msg_text"] == "OK"
    got = engine.sql("SELECT id FROM opt2 ORDER BY id").rows()
    assert [r.id for r in got] == [1, 2]
    engine.sql("DROP TABLE opt2")
