"""Concurrency tests — ports of the reference's concurrent_tests.rs
(parallel selects/counts/mixed) and concurrent_write_tests.rs (parallel
writers, snapshot monotonicity) using threads against one catalog."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

from datafusion_ducklake_spark.catalog import DuckLakeSession
from datafusion_ducklake_spark.metadata.writer import CatalogWriter
from tests.ducklake_fixtures import build_users_fixture


@pytest.fixture()
def users_dl(spark, tmp_path):
    fx = build_users_fixture(tmp_path)
    return DuckLakeSession(spark, fx["db_path"])


def test_parallel_reads_consistent(users_dl):
    # ref: concurrent_tests.rs:83-200 — N threads, same snapshot, same answer
    def read(_):
        return sorted(r["id"] for r in users_dl.table("main.users").collect())
    with ThreadPoolExecutor(8) as ex:
        results = list(ex.map(read, range(16)))
    assert all(r == [1, 3, 5, 6] for r in results)


def test_mixed_reads_and_aggregates(users_dl):
    def count(_):
        return users_dl.table("main.users").count()

    def agg(_):
        return users_dl.table("main.users").agg({"id": "sum"}).collect()[0][0]
    with ThreadPoolExecutor(8) as ex:
        counts = list(ex.map(count, range(8)))
        sums = list(ex.map(agg, range(8)))
    assert counts == [4] * 8 and sums == [15] * 8


def test_concurrent_writers_all_commit(spark, tmp_path):
    """ref: concurrent_write_tests.rs:52-273 — N parallel appenders; every
    row lands, snapshots stay strictly monotonic, no lost updates
    (serialization via the catalog DB transaction, BEGIN IMMEDIATE)."""
    db = str(tmp_path / "cat.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.t", spark.createDataFrame([(0,)], "id BIGINT"))

    def append(i):
        # each writer uses its own session (own catalog-writer connection)
        local = DuckLakeSession(spark, db)
        local.insert_into("main.t", spark.createDataFrame([(i,)], "id BIGINT"))
        return i

    with ThreadPoolExecutor(4) as ex:
        done = sorted(ex.map(append, range(1, 9)))
    assert done == list(range(1, 9))

    dl.refresh()
    got = sorted(r["id"] for r in dl.table("main.t").collect())
    assert got == list(range(9))

    snaps = [s.snapshot_id for s in dl.provider.list_snapshots()]
    assert snaps == sorted(set(snaps)), "snapshot ids must be unique+monotonic"


def test_concurrent_snapshot_creation_unique(tmp_path):
    db = str(tmp_path / "cat.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))

    writers = [CatalogWriter.sqlite(db) for _ in range(4)]

    def mk(i):
        return writers[i % 4].create_snapshot()
    with ThreadPoolExecutor(4) as ex:
        ids = list(ex.map(mk, range(20)))
    assert len(set(ids)) == 20, f"duplicate snapshot ids: {sorted(ids)}"
    for x in writers:
        x.close()
    w.close()


def test_concurrent_dml_conflict_detected(spark, tmp_path):
    """Write-write conflict on the same data file's delete state: the
    second DML, whose cumulative delete file was computed WITHOUT the
    first's positions, must abort with TransactionConflict instead of
    silently dropping the first writer's deletions (the abort DuckDB's
    ducklake extension performs; corpus: transaction_conflicts_delete)."""
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.errors import TransactionConflict
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter

    db = str(tmp_path / "c.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "clake"))
    w.close()
    a = DuckLakeSession(spark, db)
    a.create_table("main.t", spark.createDataFrame(
        [(i,) for i in range(20)], "id INT"))

    b = DuckLakeSession(spark, db)          # second writer, same pin
    a.delete_from("main.t", "id < 3")       # first writer commits
    with pytest.raises(TransactionConflict, match="superseded"):
        b.delete_from("main.t", "id >= 15")  # stale read set -> abort
    # the first writer's deletions survived; a retry on a fresh pin works
    b.refresh()
    assert b.delete_from("main.t", "id >= 15") == 5
    assert sorted(r["id"] for r in b.table("main.t").collect()) == \
        list(range(3, 15))


def test_concurrent_dml_disjoint_files_no_conflict(spark, tmp_path):
    """DMLs touching different data files don't conflict: writer B's
    stale pin is fine when its touched file's delete state is unchanged."""
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter

    db = str(tmp_path / "d.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "dlake"))
    w.close()
    a = DuckLakeSession(spark, db)
    a.create_table("main.t", spark.createDataFrame(
        [(i,) for i in range(10)], "id INT"))
    a.insert_into("main.t", spark.createDataFrame(
        [(i,) for i in range(100, 110)], "id INT"))   # second file

    b = DuckLakeSession(spark, db)
    a.delete_from("main.t", "id < 3")        # touches file 1 only
    assert b.delete_from("main.t", "id >= 105") == 5  # file 2 only: ok
    assert sorted(r["id"] for r in b.table("main.t").collect()) == \
        [3, 4, 5, 6, 7, 8, 9, 100, 101, 102, 103, 104]


# --- rewrite/DML write-write conflicts (ref corpus: rewrite_data_files/
# test_rewrite_transaction_conflict.test, compaction/
# compaction_delete_conflict.test) --------------------------------------

def _fresh(spark, tmp_path, name):
    db = str(tmp_path / f"{name}.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / f"{name}_lake"))
    w.close()
    return DuckLakeSession(spark, db)


def test_delete_after_concurrent_compact_conflicts(spark, tmp_path):
    from datafusion_ducklake_spark.errors import TransactionConflict
    dl1 = _fresh(spark, tmp_path, "cc")
    dl1.create_table("main.t", spark.createDataFrame(
        [(i,) for i in range(10)], "id INT"))
    dl2 = DuckLakeSession(spark, dl1.catalog_path)
    dl2.compact("main.t")          # rewrites (ends) dl1's pinned files
    # dl1's stale-pinned DELETE would register positions against the
    # ENDED file — rows would silently resurrect; it must abort instead
    with pytest.raises(TransactionConflict, match="rewritten"):
        dl1.delete_from("main.t", "id < 3")
    dl1.refresh()
    assert dl1.delete_from("main.t", "id < 3") == 3
    assert sorted(r.id for r in dl1.table("main.t").collect()) \
        == list(range(3, 10))


@pytest.mark.slow
@pytest.mark.parametrize("op", ["rewrite_data_files", "compact"])
def test_rewrite_after_concurrent_delete_conflicts(spark, tmp_path, op):
    from datafusion_ducklake_spark.errors import TransactionConflict
    dl1 = _fresh(spark, tmp_path, "rc")
    dl1.create_table("main.t", spark.createDataFrame(
        [(i,) for i in range(10)], "id INT"))
    dl1.delete_from("main.t", "id = 0")     # dl1 sees delete file v1
    dl2 = DuckLakeSession(spark, dl1.catalog_path)
    dl2.delete_from("main.t", "id = 1")     # supersedes -> v2
    # dl1's rewrite computed survivors from v1; folding it now would
    # drop dl2's deletion — abort and retry after refresh
    with pytest.raises(TransactionConflict, match="changed concurrently"):
        getattr(dl1, op)("main.t")
    assert 1 not in {r.id for r in DuckLakeSession(
        spark, dl1.catalog_path).table("main.t").collect()}
    dl1.refresh()
    assert getattr(dl1, op)("main.t") == 8
    assert sorted(r.id for r in dl1.table("main.t").collect()) \
        == list(range(2, 10))


@pytest.mark.slow
@pytest.mark.parametrize("op,path", [("compact", "runs"),
                                     ("compact", "rowid_in_file"),
                                     ("merge_adjacent_files", "runs")])
def test_stale_rewrite_after_concurrent_rewrite_conflicts(spark, tmp_path,
                                                          op, path):
    """Two sessions pinned at the same version rewrite the same clean
    files: the second commit finds its members already ended and aborts,
    so no row is live twice at head."""
    from datafusion_ducklake_spark.errors import TransactionConflict
    dl1 = _fresh(spark, tmp_path, "rr")
    dl1.create_table("main.t", spark.createDataFrame(
        [(i, i) for i in range(6)], "id INT, v INT"))
    dl1.insert_into("main.t", spark.createDataFrame(
        [(i, i) for i in range(6, 12)], "id INT, v INT"))
    if path == "rowid_in_file":
        dl1.update_where("main.t", {"v": "v + 1"}, "id % 2 = 0")
    dl2 = DuckLakeSession(spark, dl1.catalog_path)
    before = sorted((r.id, r.rowid)
                    for r in dl2.table("main.t", with_rowid=True).collect())
    assert len(before) == 12
    getattr(dl2, op)("main.t")
    with pytest.raises(TransactionConflict, match="ended concurrently"):
        getattr(dl1, op)("main.t")
    head = DuckLakeSession(spark, dl1.catalog_path)
    assert sorted((r.id, r.rowid) for r in head.table(
        "main.t", with_rowid=True).collect()) == before


def test_transient_lock_retry_honors_max_retry_count(spark, tmp_path):
    """sql/settings/max_retry_count: the catalog BEGIN retries through
    TRANSIENT cross-process lock contention up to the option; with
    max_retry_count=0 the same contention surfaces immediately.
    (Semantic write-write conflicts are a different seam and never
    retry — test_concurrent_dml_conflict_detected.)"""
    import sqlite3 as _sq

    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter

    db = str(tmp_path / "r.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "rlake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.t", spark.createDataFrame([(1,)], "i INT"))

    # a foreign connection holds the write lock briefly, then releases
    import threading
    import time

    def hold_lock(seconds):
        con = _sq.connect(db, isolation_level=None)
        con.execute("PRAGMA busy_timeout = 0")
        con.execute("BEGIN IMMEDIATE")
        time.sleep(seconds)
        con.execute("ROLLBACK")
        con.close()

    # with retries (default 10) the insert waits the lock out.  The
    # sqlite busy_timeout would also absorb it; drop it to 1ms on the
    # writer's next connection via max_retry_count exercising the loop.
    t = threading.Thread(target=hold_lock, args=(0.4,))
    t.start()
    time.sleep(0.1)
    dl.insert_into("main.t", spark.createDataFrame([(2,)], "i INT"))
    t.join()
    assert sorted(r["i"] for r in dl.table("main.t").collect()) == [1, 2]

    # retry disabled: contention surfaces (needs busy_timeout gone too,
    # so patch the writer factory's product via the option + a 0 pragma)
    dl.set_option("max_retry_count", 0)
    from datafusion_ducklake_spark import table_writer as tw
    orig = tw._catalog_writer_raw

    def no_busy(session):
        w = orig(session)
        w._conn.execute("PRAGMA busy_timeout = 0")
        return w
    tw._catalog_writer_raw = no_busy
    try:
        t = threading.Thread(target=hold_lock, args=(1.5,))
        t.start()
        time.sleep(0.3)
        with pytest.raises(Exception, match="(?i)locked|busy"):
            dl.insert_into("main.t", spark.createDataFrame([(3,)], "i INT"))
    finally:
        tw._catalog_writer_raw = orig
        t.join()


@pytest.mark.slow
def test_parallel_deletes_disjoint_files_all_commit(spark, tmp_path):
    """sql/concurrent/file_level_conflict.test (the concurrentloop
    shape): N threads, each deleting rows that live in its OWN
    partition file, all commit — conflict detection is per data file,
    not per table, so disjoint-file writers never abort."""
    dl = _fresh(spark, tmp_path, "flc")
    dl.create_table("main.t", spark.createDataFrame(
        [(k, k) for k in range(8)], "key INT, grouping INT"))
    dl.sql("ALTER TABLE t SET PARTITIONED BY (grouping)")
    # rewrite into per-partition files
    dl.insert_into("main.t", spark.createDataFrame(
        [(k + 100, k) for k in range(8)], "key INT, grouping INT"))

    def wipe(k):
        local = DuckLakeSession(spark, dl.catalog_path)
        return local.delete_from("main.t", f"key = {k + 100}")

    with ThreadPoolExecutor(4) as ex:
        deleted = list(ex.map(wipe, range(8)))
    assert deleted == [1] * 8
    dl.refresh()
    rows = sorted(r["key"] for r in dl.table("main.t").collect())
    assert rows == list(range(8))


def test_aborted_allocation_never_enters_rollback_scope(spark, tmp_path):
    """ADVICE r5 (medium): a statement inside an explicit BEGIN that
    allocates snapshot id N and then ABORTS (its catalog transaction
    rolls back, N is never persisted) must NOT leave N in the session's
    rollback scope — a concurrent session can commit snapshot N next
    (ids are MAX+1) and this session's ROLLBACK would delete the other
    session's committed snapshot and its data files."""
    db = str(tmp_path / "cat.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    s1 = DuckLakeSession(spark, db)
    s1.create_table("main.t", spark.createDataFrame(
        [(1, "a")], "id INT, tag STRING"))
    s2 = DuckLakeSession(spark, db)

    s1.begin_transaction()
    # a statement whose catalog txn allocates a snapshot id, then aborts
    from datafusion_ducklake_spark.table_writer import _catalog_writer
    w1 = _catalog_writer(s1)
    try:
        with pytest.raises(RuntimeError):
            with w1._txn() as cur:
                aborted_id = w1._next_id(
                    cur, "ducklake_snapshot", "snapshot_id")
                raise RuntimeError("statement aborts after allocation")
    finally:
        w1.close()
    assert aborted_id not in s1._txn_snapshots

    # the concurrent session commits — it gets the SAME id (MAX+1)
    s2.insert_into("main.t", spark.createDataFrame(
        [(2, "b")], "id INT, tag STRING"))
    committed = s2.provider.get_current_snapshot()
    assert committed == aborted_id

    s1.rollback()   # must NOT rewind s2's committed snapshot
    s2.refresh()
    assert sorted(r["id"] for r in s2.table("main.t").collect()) == [1, 2]
    assert s2.provider.get_current_snapshot() == committed
