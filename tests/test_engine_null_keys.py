"""MySQL NULL-key and multi-index upsert semantics (the r10 ADVICE
findings): NULLs never conflict in a unique index, one ODKU row
updates at most one stored row, and INSERT IGNORE / ODKU accept a
SELECT source. Each test pins a case the plain example tests missed."""

import pytest

from sparrow_spark.engine import SparrowError


def test_odku_null_unique_key_inserts_plainly(engine):
    # A stored NULL-key row must NOT pair with an incoming NULL-key row
    # (eqNullSafe would double-write the stored ROWID and spuriously
    # insert); MySQL treats NULLs as never conflicting.
    engine.sql("CREATE DATABASE IF NOT EXISTS nkdb")
    engine.sql("USE nkdb")
    engine.sql("CREATE TABLE odn (id INT, k INT, v INT, PRIMARY KEY(id), UNIQUE(k))")
    engine.sql("INSERT INTO odn VALUES (1, NULL, 10)")
    r = engine.sql(
        "INSERT INTO odn VALUES (2, NULL, 20) "
        "ON DUPLICATE KEY UPDATE v = v + VALUES(v)"
    )
    assert r.affected_rows == 1  # plain insert, no update
    rows = engine.sql("SELECT id, k, v FROM odn ORDER BY id").df.collect()
    assert [(x.id, x.k, x.v) for x in rows] == [(1, None, 10), (2, None, 20)]
    engine.sql("DROP TABLE odn")


def test_odku_intra_batch_null_keys_allowed(engine):
    # Two NULL-keyed rows in one ODKU batch are not "duplicates".
    engine.sql("CREATE DATABASE IF NOT EXISTS nkdb")
    engine.sql("USE nkdb")
    engine.sql("CREATE TABLE odn2 (id INT, k INT, PRIMARY KEY(id), UNIQUE(k))")
    r = engine.sql(
        "INSERT INTO odn2 VALUES (1, NULL), (2, NULL) "
        "ON DUPLICATE KEY UPDATE k = VALUES(k)"
    )
    assert r.affected_rows == 2
    # non-NULL intra-batch duplicates still error (documented deviation)
    with pytest.raises(SparrowError, match="Duplicate entry"):
        engine.sql(
            "INSERT INTO odn2 VALUES (3, 7), (4, 7) "
            "ON DUPLICATE KEY UPDATE k = VALUES(k)"
        )
    engine.sql("DROP TABLE odn2")


def test_odku_multi_index_updates_one_row(engine):
    # Incoming row collides with DIFFERENT stored rows on PK and UNIQUE:
    # only the first key set's match updates; the second stored row
    # stays untouched (MySQL: one update per incoming row).
    engine.sql("CREATE DATABASE IF NOT EXISTS nkdb")
    engine.sql("USE nkdb")
    engine.sql("CREATE TABLE odm (id INT, k INT, v INT, PRIMARY KEY(id), UNIQUE(k))")
    engine.sql("INSERT INTO odm VALUES (1, 100, 10), (2, 200, 20)")
    # (1, 200, ...) hits id=1 via PK and k=200 via UNIQUE
    r = engine.sql(
        "INSERT INTO odm VALUES (1, 200, 99) "
        "ON DUPLICATE KEY UPDATE v = VALUES(v)"
    )
    assert r.affected_rows == 2  # exactly one update
    rows = engine.sql("SELECT id, k, v FROM odm ORDER BY id").df.collect()
    assert [(x.id, x.k, x.v) for x in rows] == [(1, 100, 99), (2, 200, 20)]
    engine.sql("DROP TABLE odm")


def test_insert_ignore_null_keys_all_land(engine):
    # MySQL inserts every NULL-keyed row; the in-batch dedup window
    # must not fold them into one.
    engine.sql("CREATE DATABASE IF NOT EXISTS nkdb")
    engine.sql("USE nkdb")
    engine.sql("CREATE TABLE ign (id INT, k INT, PRIMARY KEY(id), UNIQUE(k))")
    engine.sql("INSERT INTO ign VALUES (1, NULL)")
    r = engine.sql(
        "INSERT IGNORE INTO ign VALUES (2, NULL), (3, NULL), (4, 5), (5, 5)"
    )
    # both NULL rows land; (5,5) is an in-batch dup of (4,5) and drops
    assert r.affected_rows == 3
    rows = engine.sql("SELECT id, k FROM ign ORDER BY id").df.collect()
    assert [(x.id, x.k) for x in rows] == [
        (1, None),
        (2, None),
        (3, None),
        (4, 5),
    ]
    engine.sql("DROP TABLE ign")


def test_insert_ignore_select_source(engine):
    engine.sql("CREATE DATABASE IF NOT EXISTS nkdb")
    engine.sql("USE nkdb")
    engine.sql("CREATE TABLE srca (id INT, v INT, PRIMARY KEY(id))")
    engine.sql("CREATE TABLE dsta (id INT, v INT, PRIMARY KEY(id))")
    engine.sql("INSERT INTO srca VALUES (1, 10), (2, 20), (3, 30)")
    engine.sql("INSERT INTO dsta VALUES (2, 99)")
    r = engine.sql("INSERT IGNORE INTO dsta SELECT id, v FROM srca")
    assert r.affected_rows == 2  # id=2 collides with stored, skipped
    rows = engine.sql("SELECT id, v FROM dsta ORDER BY id").df.collect()
    assert [(x.id, x.v) for x in rows] == [(1, 10), (2, 99), (3, 30)]
    engine.sql("DROP TABLE srca, dsta")


def test_odku_select_source(engine):
    engine.sql("CREATE DATABASE IF NOT EXISTS nkdb")
    engine.sql("USE nkdb")
    engine.sql("CREATE TABLE srcb (id INT, v INT, PRIMARY KEY(id))")
    engine.sql("CREATE TABLE dstb (id INT, v INT, PRIMARY KEY(id))")
    engine.sql("INSERT INTO srcb VALUES (1, 10), (2, 20)")
    engine.sql("INSERT INTO dstb VALUES (1, 1)")
    r = engine.sql(
        "INSERT INTO dstb SELECT id, v FROM srcb "
        "ON DUPLICATE KEY UPDATE v = v + VALUES(v)"
    )
    assert r.affected_rows == 3  # 1 insert + 2 for the update
    rows = engine.sql("SELECT id, v FROM dstb ORDER BY id").df.collect()
    assert [(x.id, x.v) for x in rows] == [(1, 11), (2, 20)]
    engine.sql("DROP TABLE srcb, dstb")


def test_odku_intra_batch_duplicates_fold_sequentially(engine):
    """MySQL applies ODKU sequentially within one batch: the first
    occurrence of a new key inserts, each later one applies the UPDATE
    clause to the accumulated row (the CDC multi-row upsert pattern)."""
    engine.sql("CREATE SCHEMA seqf")
    engine.sql("USE seqf")
    engine.sql("CREATE TABLE t (id INT, name CHAR, bal DOUBLE, PRIMARY KEY(id))")
    engine.sql("INSERT INTO t VALUES (1, 'stored', 100.0)")
    res = engine.sql(
        "INSERT INTO t VALUES (1, 'a', 10.0), (2, 'b', 5.0), (1, 'c', 7.0), "
        "(2, 'd', 3.0), (2, 'e', 1.0) "
        "ON DUPLICATE KEY UPDATE bal = bal + VALUES(bal), name = VALUES(name)"
    )
    # id 1 stored: two updates = 4; id 2 new: 1 insert + two updates = 5
    assert res.affected_rows == 9
    rows = engine.sql("SELECT id, name, bal FROM t ORDER BY id").rows()
    assert rows == [(1, "c", 117.0), (2, "e", 9.0)]
    engine.sql("DROP SCHEMA seqf")


def test_odku_sequential_fold_with_null_keys_and_stored_rows(engine):
    engine.sql("CREATE SCHEMA seqf2")
    engine.sql("USE seqf2")
    engine.sql("CREATE TABLE t (k INT, v INT, UNIQUE KEY uk (k))")
    engine.sql("INSERT INTO t VALUES (7, 1)")
    res = engine.sql(
        "INSERT INTO t VALUES (7, 10), (NULL, 5), (7, 20), (NULL, 6) "
        "ON DUPLICATE KEY UPDATE v = v + VALUES(v)"
    )
    # 7 folds twice (2+2); the NULL-keyed rows never conflict: 2 inserts
    assert res.affected_rows == 6
    rows = engine.sql("SELECT k, v FROM t ORDER BY v").rows()
    assert rows == [(None, 5), (None, 6), (7, 31)]
    engine.sql("DROP SCHEMA seqf2")


def test_odku_duplicates_still_error_outside_the_defined_case(engine):
    import pytest

    from sparrow_spark.engine import SparrowError

    engine.sql("CREATE SCHEMA seqf3")
    engine.sql("USE seqf3")
    # multiple unique indexes: fold stays an error (MySQL discourages it)
    engine.sql(
        "CREATE TABLE multi (id INT, em CHAR, v INT, PRIMARY KEY(id), "
        "UNIQUE KEY uem (em))"
    )
    with pytest.raises(SparrowError) as ei:
        engine.sql(
            "INSERT INTO multi VALUES (1, 'a', 1), (1, 'b', 2) "
            "ON DUPLICATE KEY UPDATE v = VALUES(v)"
        )
    assert ei.value.code == 1062
    # key-mutating assignment: fold stays an error (cascades)
    engine.sql("CREATE TABLE keymut (id INT, v INT, PRIMARY KEY(id))")
    with pytest.raises(SparrowError) as ei2:
        engine.sql(
            "INSERT INTO keymut VALUES (1, 1), (1, 2) "
            "ON DUPLICATE KEY UPDATE id = id + 1"
        )
    assert ei2.value.code == 1062
    engine.sql("DROP SCHEMA seqf3")


def _null_email_table(engine):
    engine.sql("CREATE DATABASE IF NOT EXISTS nkdb")
    engine.sql("USE nkdb")
    engine.sql(
        "CREATE TABLE nk (id INT, email VARCHAR(20), PRIMARY KEY(id), "
        "UNIQUE KEY ue (email))"
    )


def test_insert_null_unique_keys_in_one_batch(engine):
    # Two NULL emails in one INSERT batch are not duplicates (the same
    # batch already lands under INSERT IGNORE and ODKU).
    _null_email_table(engine)
    r = engine.sql("INSERT INTO nk VALUES (1, NULL), (2, NULL)")
    assert r.affected_rows == 2
    rows = engine.sql("SELECT id, email FROM nk ORDER BY id").df.collect()
    assert [(x.id, x.email) for x in rows] == [(1, None), (2, None)]
    with pytest.raises(SparrowError, match="Duplicate entry 'a@x'"):
        engine.sql("INSERT INTO nk VALUES (3, 'a@x'), (4, 'a@x')")
    engine.sql("DROP TABLE nk")


def test_replace_null_unique_keys_in_one_batch(engine):
    _null_email_table(engine)
    engine.sql("INSERT INTO nk VALUES (1, NULL)")
    r = engine.sql("REPLACE INTO nk VALUES (3, NULL), (4, NULL)")
    assert r.affected_rows == 2
    rows = engine.sql("SELECT id, email FROM nk ORDER BY id").df.collect()
    assert [(x.id, x.email) for x in rows] == [(1, None), (3, None), (4, None)]
    with pytest.raises(SparrowError, match="Duplicate entry 'a@x'"):
        engine.sql("REPLACE INTO nk VALUES (5, 'a@x'), (6, 'a@x')")
    engine.sql("DROP TABLE nk")
