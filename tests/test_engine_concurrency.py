"""Concurrent-writer contention on a shared warehouse.

Two Engine instances pointed at ONE warehouse directory model two
server processes mounting the same storage. Statement-level write
serialization comes from an exclusive flock(2) on each table's
`.write.lock` (engine.py:_write_lock): read-modify-write statements
never interleave, giving last-writer-wins over a serial order — the
same non-transactional contract as the reference's KV store under its
global mutex, but at table granularity.

Foreign holders here take the same kernel lock through their own file
descriptor, in this process or in a child process. The kernel frees
the lock when that descriptor closes or its process dies, so the
tests check that the lock is free with a non-blocking flock rather
than by looking for the file.
"""

import fcntl
import os
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

import pytest

from sparrow_spark.engine import Engine, SparrowError

# Takes the lock on argv[1], says so, and holds it for argv[2] seconds.
_HOLDER = (
    "import fcntl, os, sys, time\n"
    "fd = os.open(sys.argv[1], os.O_CREAT | os.O_RDWR)\n"
    "fcntl.flock(fd, fcntl.LOCK_EX)\n"
    "print('held', flush=True)\n"
    "time.sleep(float(sys.argv[2]))\n"
)


def _lock_path(engine, table):
    return os.path.join(engine.catalog.table_path("s", table), ".write.lock")


@contextmanager
def held(engine, table):
    """Hold `table`'s write lock through a descriptor of our own."""
    fd = os.open(_lock_path(engine, table), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        os.close(fd)


def lock_is_free(engine, table):
    fd = os.open(_lock_path(engine, table), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        return True
    except BlockingIOError:
        return False
    finally:
        os.close(fd)


def _start_holder(engine, table, seconds):
    holder = subprocess.Popen(
        [sys.executable, "-c", _HOLDER, _lock_path(engine, table), str(seconds)],
        stdout=subprocess.PIPE,
        text=True,
    )
    assert holder.stdout.readline().strip() == "held"
    return holder


@pytest.fixture()
def shared_warehouse(spark, tmp_path):
    wh = str(tmp_path / "wh")
    e1 = Engine(spark, wh)
    e2 = Engine(spark, wh)
    e1.sql("CREATE SCHEMA s")
    e1.sql("USE s")
    e2.sql("USE s")
    e1.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    e1.sql("INSERT INTO t VALUES (1, 0), (2, 0), (3, 0)")
    return e1, e2


def test_second_engine_sees_first_engines_writes(shared_warehouse):
    e1, e2 = shared_warehouse
    e2.sql("UPDATE t SET v = 5 WHERE id = 2")
    got = {r[0]: r[1] for r in e1.sql("SELECT id, v FROM t").rows()}
    assert got == {1: 0, 2: 5, 3: 0}


def test_interleaved_updates_serialize_to_last_writer_wins(shared_warehouse):
    e1, e2 = shared_warehouse
    # 40 alternating single-row increments from two engines. With the
    # statement lock each read-modify-write is atomic, so the final
    # count equals the number of statements — a lost update would
    # leave it short.
    for i in range(20):
        e1.sql("UPDATE t SET v = v + 1 WHERE id = 1")
        e2.sql("UPDATE t SET v = v + 1 WHERE id = 1")
    (v,) = e1.sql("SELECT v FROM t WHERE id = 1").rows()[0]
    assert v == 40


def test_contended_threads_never_lose_updates(shared_warehouse):
    e1, e2 = shared_warehouse
    errs = []

    def bump(engine, n):
        try:
            for _ in range(n):
                engine.sql("UPDATE t SET v = v + 1 WHERE id = 3")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=bump, args=(e1, 8))
    t2 = threading.Thread(target=bump, args=(e2, 8))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    (v,) = e1.sql("SELECT v FROM t WHERE id = 3").rows()[0]
    assert v == 16


def test_waiting_writer_is_not_starved(shared_warehouse):
    """Three threads of one engine run UPDATE back to back, each
    taking the lock again right after releasing it. A second engine's
    UPDATE waits in the kernel and is woken on the next release, so it
    completes every time instead of timing out with 1205."""
    e1, e2 = shared_warehouse
    stop = threading.Event()
    errs = []

    def hammer():
        try:
            while not stop.is_set():
                e1.sql("UPDATE t SET v = v + 1 WHERE id = 1")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=hammer) for _ in range(3)]
    for t in threads:
        t.start()
    try:
        time.sleep(1.0)
        for trial in range(1, 6):
            e2.sql(f"UPDATE t SET v = {trial} WHERE id = 2")
    finally:
        stop.set()
        for t in threads:
            t.join()
    assert not errs, errs
    (v,) = e1.sql("SELECT v FROM t WHERE id = 2").rows()[0]
    assert v == 5


def test_lock_contention_times_out_with_1205(shared_warehouse, monkeypatch):
    e1, e2 = shared_warehouse
    monkeypatch.setattr(Engine, "_LOCK_TIMEOUT_S", 0.3)
    with held(e1, "t"):
        with pytest.raises(SparrowError) as ei:
            e2.sql("UPDATE t SET v = 9 WHERE id = 1")
        assert ei.value.code == 1205
    (v,) = e1.sql("SELECT v FROM t WHERE id = 1").rows()[0]
    assert v == 0


def test_dead_holder_lock_is_broken(shared_warehouse, monkeypatch):
    """A holder process killed mid-hold frees the lock at once: the
    next UPDATE runs well inside even a short lock timeout."""
    e1, e2 = shared_warehouse
    monkeypatch.setattr(Engine, "_LOCK_TIMEOUT_S", 0.3)
    holder = _start_holder(e1, "t", 60)
    try:
        assert not lock_is_free(e1, "t")
    finally:
        holder.kill()
        holder.wait(timeout=10)
    e2.sql("UPDATE t SET v = 7 WHERE id = 2")
    (v,) = e1.sql("SELECT v FROM t WHERE id = 2").rows()[0]
    assert v == 7


def test_lock_released_after_statement_and_after_error(shared_warehouse):
    e1, _e2 = shared_warehouse
    e1.sql("UPDATE t SET v = 1 WHERE id = 1")
    assert lock_is_free(e1, "t")
    with pytest.raises(SparrowError):
        e1.sql("UPDATE t SET nosuch = 1 WHERE id = 1")
    assert lock_is_free(e1, "t")


def test_waits_for_live_foreign_process_holder(shared_warehouse):
    """A lock held by a DIFFERENT live process blocks the statement
    until released — the cross-process case the threaded tests can't
    exercise."""
    e1, e2 = shared_warehouse
    holder = _start_holder(e1, "t", 1.5)
    try:
        t0 = time.time()
        e2.sql("UPDATE t SET v = 42 WHERE id = 1")
        waited = time.time() - t0
        assert waited >= 0.8, f"did not block on foreign lock ({waited:.2f}s)"
        (v,) = e2.sql("SELECT v FROM t WHERE id = 1").rows()[0]
        assert v == 42
    finally:
        holder.wait(timeout=10)


def test_concurrent_snapshot_writers_linear_history(shared_warehouse):
    """Two engines writing the same ENGINE=SNAPSHOT table: the
    advisory lock serializes statements, so the commit log must come
    out LINEAR (versions 0..N, no gaps, no lost commits), and
    replaying the change feed over the full range must reconstruct
    the live table exactly — the at-scale invariant that makes the
    feed safe to drive downstream replicas from."""
    e1, e2 = shared_warehouse
    e1.sql(
        "CREATE TABLE snapc (id INT, v INT, PRIMARY KEY(id)) ENGINE=SNAPSHOT"
    )
    errs = []

    def work(engine, base):
        try:
            for i in range(4):
                engine.sql(f"INSERT INTO snapc VALUES ({base + i}, {base + i})")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=work, args=(e1, 100))
    t2 = threading.Thread(target=work, args=(e2, 200))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    hist = e1.sql("SHOW VERSIONS FROM snapc").df.collect()
    versions = [r.version for r in hist]
    # create + 8 inserts, strictly consecutive — a lost or duplicated
    # commit would leave a gap or a repeat.
    assert versions == list(range(9))
    # replay the change feed onto an empty state
    state = {}
    feed = e1.sql(
        "SELECT _commit_version AS cv, _change_type AS ct, id, v "
        "FROM snapc CHANGES BETWEEN 0 AND 8 ORDER BY cv"
    ).df.collect()
    for r in feed:
        if r.ct in ("insert", "update_postimage"):
            state[r.id] = r.v
        elif r.ct == "delete":
            del state[r.id]
    live = {r.id: r.v for r in e1.sql("SELECT id, v FROM snapc").df.collect()}
    assert state == live == {i: i for i in list(range(100, 104)) + list(range(200, 204))}
    e1.sql("DROP TABLE snapc")


def test_optimize_respects_the_write_lock(shared_warehouse, monkeypatch):
    """OPTIMIZE compacts via the same COW data-dir swap as UPDATE, so
    it must honor the per-table lock — an unlocked compaction racing a
    DML could drop the DML's file swap."""
    e1, e2 = shared_warehouse
    monkeypatch.setattr(Engine, "_LOCK_TIMEOUT_S", 0.3)
    with held(e1, "t"):
        with pytest.raises(SparrowError) as ei:
            e2.sql("OPTIMIZE TABLE t")
        assert ei.value.code == 1205


def test_truncate_respects_the_write_lock(shared_warehouse, monkeypatch):
    """TRUNCATE is a whole-table COW rewrite and must wait its turn."""
    e1, e2 = shared_warehouse
    monkeypatch.setattr(Engine, "_LOCK_TIMEOUT_S", 0.3)
    with held(e1, "t"):
        with pytest.raises(SparrowError) as ei:
            e2.sql("TRUNCATE TABLE t")
        assert ei.value.code == 1205
    assert len(e1.sql("SELECT id FROM t").rows()) == 3


def test_rename_and_drop_wait_for_the_write_lock(shared_warehouse, monkeypatch):
    """RENAME TABLE moves, and DROP TABLE deletes, the directory a
    concurrent writer is rewriting: both must wait for its lock."""
    e1, e2 = shared_warehouse
    monkeypatch.setattr(Engine, "_LOCK_TIMEOUT_S", 0.3)
    with held(e1, "t"):
        for stmt in ("RENAME TABLE t TO u", "DROP TABLE t"):
            with pytest.raises(SparrowError) as ei:
                e2.sql(stmt)
            assert ei.value.code == 1205, stmt
    assert not e1.catalog.has_table("s", "u")
    assert len(e1.sql("SELECT id FROM t").rows()) == 3


def test_drop_database_waits_for_the_write_lock(shared_warehouse, monkeypatch):
    """DROP DATABASE deletes every table of the schema: it must wait
    for the lock of a table a concurrent writer is rewriting."""
    e1, e2 = shared_warehouse
    monkeypatch.setattr(Engine, "_LOCK_TIMEOUT_S", 0.3)
    with held(e1, "t"):
        with pytest.raises(SparrowError) as ei:
            e2.sql("DROP DATABASE s")
        assert ei.value.code == 1205
    assert len(e1.sql("SELECT id FROM t").rows()) == 3


def test_drop_leaves_no_tree_for_a_polling_writer(shared_warehouse, monkeypatch):
    """A writer waiting for a table's lock reopens the lock file with
    O_CREAT on every poll. A poll that lands while DROP TABLE removes
    the table must find no directory, rather than add a file to the
    tree and make the removal fail."""
    e1, _e2 = shared_warehouse
    lock = _lock_path(e1, "t")
    unlink = os.unlink

    def unlink_then_poll(path, *args, **kwargs):
        unlink(path, *args, **kwargs)
        if os.path.basename(path) == ".write.lock":
            try:
                os.close(os.open(lock, os.O_CREAT | os.O_RDWR))
            except FileNotFoundError:
                pass

    monkeypatch.setattr(os, "unlink", unlink_then_poll)
    e1.sql("DROP TABLE t")
    monkeypatch.undo()
    assert os.listdir(e1.catalog.schema_path("s")) == []


def test_lock_held_across_rename_blocks_new_name(shared_warehouse, monkeypatch):
    """The lock file moves with the table directory, and the kernel
    lock stays on it: while RENAME TABLE t TO u still holds the lock,
    a writer on the new name u waits for it."""
    e1, e2 = shared_warehouse
    monkeypatch.setattr(Engine, "_LOCK_TIMEOUT_S", 0.3)
    codes = []
    register = e1._register_spark_table

    def register_then_contend(tdef):
        register(tdef)
        try:
            e2.sql("UPDATE u SET v = 5 WHERE id = 1")
        except SparrowError as e:
            codes.append(e.code)

    monkeypatch.setattr(e1, "_register_spark_table", register_then_contend)
    e1.sql("RENAME TABLE t TO u")
    assert codes == [1205]
    e2.sql("UPDATE u SET v = 5 WHERE id = 1")
    (v,) = e1.sql("SELECT v FROM u WHERE id = 1").rows()[0]
    assert v == 5


def test_old_format_lock_file_blocks_nobody(shared_warehouse, monkeypatch):
    """A `.write.lock` left by a build that used the file's existence
    as the lock (a JSON holder record) is an ordinary file now: only a
    kernel lock on it blocks a writer."""
    import json

    e1, e2 = shared_warehouse
    monkeypatch.setattr(Engine, "_LOCK_TIMEOUT_S", 0.3)
    with open(_lock_path(e1, "t"), "w") as f:
        json.dump({"pid": os.getpid(), "eid": "old", "ts": time.time()}, f)
    e2.sql("UPDATE t SET v = 3 WHERE id = 3")
    (v,) = e1.sql("SELECT v FROM t WHERE id = 3").rows()[0]
    assert v == 3


def test_directory_rewriting_ops_do_not_orphan_locks(shared_warehouse):
    """RESTORE / OPTIMIZE / VACUUM / TRUNCATE all rewrite or prune
    files UNDER the table directory while the lock file sits at its
    top level; after each op the lock must be free again, so the next
    DML runs without waiting."""
    e1, _e2 = shared_warehouse
    e1.sql("CREATE TABLE mt (id INT, v INT, PRIMARY KEY(id)) ENGINE=SNAPSHOT")
    e1.sql("INSERT INTO mt VALUES (1, 1), (2, 2)")
    e1.sql("INSERT INTO mt VALUES (3, 3)")
    chain = [
        "OPTIMIZE TABLE mt",
        "UPDATE mt SET v = v + 10 WHERE id = 1",
        "RESTORE TABLE mt TO VERSION 2",
        "UPDATE mt SET v = 99 WHERE id = 2",
        "VACUUM mt RETAIN 1 VERSIONS",
        "DELETE FROM mt WHERE id = 3",
        "TRUNCATE TABLE mt",
        "INSERT INTO mt VALUES (7, 7)",
    ]
    for stmt in chain:
        e1.sql(stmt)
        assert lock_is_free(e1, "mt"), f"lock still held after: {stmt}"
    rows = e1.sql("SELECT id, v FROM mt").rows()
    assert [(r.id, r.v) for r in rows] == [(7, 7)]
    e1.sql("DROP TABLE mt")
