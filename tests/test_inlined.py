"""Data-inlining READ path + flush (DuckLake data inlining: DuckDB
stores small inserts as rows in catalog tables
``ducklake_inlined_data_{table_id}_{schema_version}`` registered in
``ducklake_inlined_data_tables``; a reader must surface them — corpus:
tests/sqllogictests/sql/data_inlining/).

The ducklake extension is not installable offline, so the fixture writes
the inlined tables exactly as DuckDB lays them out (row_id +
begin/end_snapshot MVCC columns followed by the data columns).
"""

from __future__ import annotations

import sqlite3

import pytest

from datafusion_ducklake_spark.catalog import DuckLakeSession
from datafusion_ducklake_spark.errors import CatalogCorruption, InvalidConfig
from datafusion_ducklake_spark.metadata.writer import CatalogWriter


@pytest.fixture()
def dl(spark, tmp_path):
    """Table with one parquet file (ids 0-4) + live inlined rows 100,101
    written at snapshot 3 (one previously-flushed row 99 ended)."""
    db = str(tmp_path / "catalog.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    session = DuckLakeSession(spark, db)
    df = spark.createDataFrame(
        [(i, f"r{i}", i * 1.5) for i in range(5)],
        "id INT, tag STRING, v DOUBLE")
    session.create_table("main.t", df)
    tid = session.table_handle("main.t").meta.table_id

    con = sqlite3.connect(db)
    # snapshot 2 (the flush point) must exist as a row: pinning at a
    # nonexistent version is rejected (attach_at_snapshot parity)
    con.execute(
        "INSERT INTO ducklake_snapshot (snapshot_id) VALUES (2)")
    con.execute(
        "INSERT INTO ducklake_snapshot (snapshot_id) VALUES (3)")
    con.execute(
        "INSERT INTO ducklake_inlined_data_tables "
        "(table_id, table_name, schema_version) VALUES (?, ?, 0)",
        (tid, f"ducklake_inlined_data_{tid}_0"))
    con.execute(
        f"CREATE TABLE ducklake_inlined_data_{tid}_0 ("
        "row_id BIGINT, begin_snapshot BIGINT, end_snapshot BIGINT, "
        "id INTEGER, tag VARCHAR, v DOUBLE)")
    con.executemany(
        f"INSERT INTO ducklake_inlined_data_{tid}_0 VALUES (?,?,?,?,?,?)",
        [(1000, 3, None, 100, "inline-a", 7.5),
         (1001, 3, None, 101, "inline-b", None),
         (999, 2, 3, 99, "old-flushed", 1.0)])
    con.commit()
    con.close()
    session.refresh()
    return session


def _ids(session, name="main.t"):
    return sorted(r["id"] for r in session.table(name).collect())


def test_scan_surfaces_live_inlined_rows(dl):
    assert _ids(dl) == [0, 1, 2, 3, 4, 100, 101]
    rows = {r["id"]: (r["tag"], r["v"])
            for r in dl.table("main.t").collect()}
    assert rows[100] == ("inline-a", 7.5)
    assert rows[101] == ("inline-b", None)


def test_inlined_rows_version_with_snapshots(dl):
    old = DuckLakeSession(dl.spark, dl.catalog_path, snapshot_id=2)
    assert sorted(r["id"] for r in old.table("main.t").collect()) == \
        [0, 1, 2, 3, 4, 99]            # sees the since-ended row, not 100s


def test_inlined_rowid_scan(dl):
    got = {r["id"]: r["rowid"]
           for r in dl.table("main.t", with_rowid=True).collect()}
    assert got[100] == 1000 and got[101] == 1001


def test_sql_sees_inlined_rows(dl):
    dl.register_views()
    n = dl.sql("SELECT count(*) AS n FROM t").collect()[0]["n"]
    assert n == 7


def test_dml_over_inlined_rows(dl):
    """DELETE/UPDATE address live inlined rows directly (sql/
    data_inlining/data_inlining_delete.test — no flush required); the
    matched inlined row MVCC-ends in the catalog. compact() still
    requires a flush (it rewrites parquet only)."""
    pre_snap = dl.provider.get_current_snapshot()
    with pytest.raises(InvalidConfig, match="flush_inlined_data"):
        dl.compact("main.t")            # compact still needs the flush
    assert dl.delete_from("main.t", "id = 100") == 1
    assert _ids(dl) == [0, 1, 2, 3, 4, 101]
    assert dl.update_where("main.t", {"tag": "'patched'"}, "id = 101") == 1
    assert sorted((r["id"], r["tag"])
                  for r in dl.table("main.t").collect())[-1] == \
        (101, "patched")
    # time travel still sees the pre-DML inlined rows
    old = DuckLakeSession(dl.spark, dl.catalog_path, snapshot_id=pre_snap)
    assert sorted(r["id"] for r in old.table("main.t").collect()) == \
        [0, 1, 2, 3, 4, 100, 101]
    # after the DMLs consumed every inlined row, compact is unblocked
    assert dl.table_handle("main.t").inlined_rows() == []


def test_flush_moves_rows_to_parquet(dl):
    before = sorted((r["id"], r["tag"]) for r in
                    dl.table("main.t").collect())
    pre_snap = dl.provider.get_current_snapshot()
    n = dl.flush_inlined_data("main.t")
    assert n == 2
    after = sorted((r["id"], r["tag"]) for r in
                   dl.table("main.t").collect())
    assert after == before                        # state unchanged
    handle = dl.table_handle("main.t")
    assert handle.inlined_rows() == []            # no live inlined rows
    assert len(handle._raw_files) == 2            # new data file registered
    # older snapshot still time-travels to the inlined form
    old = DuckLakeSession(dl.spark, dl.catalog_path, snapshot_id=pre_snap)
    assert sorted(r["id"] for r in old.table("main.t").collect()) == \
        [0, 1, 2, 3, 4, 100, 101]
    # DML works after the flush
    assert dl.delete_from("main.t", "id = 100") == 1
    assert _ids(dl) == [0, 1, 2, 3, 4, 101]


def test_flush_noop_without_inlined_rows(spark, tmp_path):
    db = str(tmp_path / "plain.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake2"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.p", spark.createDataFrame([(1,)], "id INT"))
    assert dl.flush_inlined_data("main.p") == 0


def test_malicious_inlined_table_name_rejected(dl):
    con = sqlite3.connect(dl.catalog_path)
    con.execute(
        "INSERT INTO ducklake_inlined_data_tables "
        "(table_id, table_name) VALUES "
        "(999, 'x; DROP TABLE ducklake_table')")
    con.commit()
    con.close()
    with pytest.raises(CatalogCorruption):
        dl.provider.get_inlined_tables(999)


def test_virtual_columns_over_inlined_rows(dl):
    """Inlined rows surface through the virtual-column scan with
    filename = the inlined-data table's name (the reference's surface
    shape) and their insertion snapshot."""
    df = dl.table("main.t", with_virtual=True)
    rows = {r["id"]: r for r in df.collect()}
    assert sorted(rows) == [0, 1, 2, 3, 4, 100, 101]
    assert rows[100]["filename"].startswith("ducklake_inlined_data_")
    assert rows[100]["snapshot_id"] == 3
    assert rows[100]["rowid"] == 1000
    assert rows[0]["filename"].endswith(".parquet")


def test_virtual_file_index_spans_plain_and_hive_files(spark, tmp_path):
    """file_index is one enumeration over the table's files: a plain file
    and two hive add_files'd files (same basename) get three indexes."""
    import duckdb
    db = str(tmp_path / "cat.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.h", spark.sql(
        "SELECT CAST(0 AS INT) p, CAST('a' AS STRING) v"))
    for p in (1, 2):
        d = tmp_path / f"hv/p={p}"
        d.mkdir(parents=True)
        duckdb.connect().execute(
            f"COPY (SELECT 'b' v) TO '{d}/f.parquet'")
    dl.add_files("main.h", [f"{tmp_path}/hv/**/*.parquet"])
    dl.refresh()
    rows = dl.table("main.h", with_virtual=True).collect()
    assert sorted(r["file_index"] for r in rows) == [0, 1, 2]
    assert len({r["filename"] for r in rows}) == 3
    assert sorted(r["file_row_number"] for r in rows) == [0, 0, 0]


class TestWriteSideInlining:
    """data_inlining_row_limit: small appends store rows in the catalog
    DB instead of parquet (DuckDB's DATA_INLINING_ROW_LIMIT; corpus:
    sql/data_inlining/basic_data_inlining.test)."""

    @pytest.fixture()
    def wdl(self, spark, tmp_path):
        db = str(tmp_path / "w.sqlite")
        w = CatalogWriter.sqlite(db)
        w.initialize_schema(data_path=str(tmp_path / "wlake"))
        w.close()
        session = DuckLakeSession(spark, db)
        session.create_table("main.w", spark.createDataFrame(
            [(i, f"r{i}") for i in range(4)], "id INT, s STRING"))
        session.set_option("data_inlining_row_limit", 10)
        return session

    def test_small_append_inlines(self, wdl, spark):
        files_before = len(wdl.table_handle("main.w")._raw_files)
        n = wdl.insert_into("main.w", spark.createDataFrame(
            [(100, "inline"), (101, None)], "id INT, s STRING"))
        assert n == 2
        handle = wdl.table_handle("main.w")
        assert len(handle._raw_files) == files_before  # no new parquet
        assert len(handle.inlined_rows()) == 2
        got = sorted(r["id"] for r in wdl.table("main.w").collect())
        assert got == [0, 1, 2, 3, 100, 101]

    def test_large_append_takes_parquet_path(self, wdl, spark):
        files_before = len(wdl.table_handle("main.w")._raw_files)
        wdl.insert_into("main.w", spark.createDataFrame(
            [(200 + i, "x") for i in range(11)], "id INT, s STRING"))
        handle = wdl.table_handle("main.w")
        assert len(handle._raw_files) == files_before + 1
        assert handle.inlined_rows() == []

    def test_inlined_rowids_continue_sequence(self, wdl, spark):
        wdl.insert_into("main.w", spark.createDataFrame(
            [(100, "a")], "id INT, s STRING"))           # inlined: rowid 4
        wdl.set_option("data_inlining_row_limit", None)  # off
        wdl.insert_into("main.w", spark.createDataFrame(
            [(300, "p")], "id INT, s STRING"))           # parquet: rowid 5
        got = {r["id"]: r["rowid"] for r in
               wdl.table("main.w", with_rowid=True).collect()}
        assert got[100] == 4 and got[300] == 5

    def test_inlined_append_honors_not_null(self, wdl, spark):
        wdl.sql("ALTER TABLE w ALTER s SET NOT NULL")
        with pytest.raises(InvalidConfig, match="NOT NULL"):
            wdl.insert_into("main.w", spark.createDataFrame(
                [(1, None)], "id INT, s STRING"))

    def test_flush_after_write_side_inlining(self, wdl, spark):
        wdl.insert_into("main.w", spark.createDataFrame(
            [(100, "a"), (101, "b")], "id INT, s STRING"))
        before = sorted(r["id"] for r in wdl.table("main.w").collect())
        assert wdl.flush_inlined_data("main.w") == 2
        assert sorted(r["id"] for r in wdl.table("main.w").collect()) == \
            before
        assert wdl.table_handle("main.w").inlined_rows() == []

    def test_sql_insert_inlines_and_time_travels(self, wdl, spark):
        wdl.register_views()
        pre = wdl.provider.get_current_snapshot()
        wdl.sql("INSERT INTO w VALUES (500, 'v')")
        assert len(wdl.table_handle("main.w").inlined_rows()) == 1
        old = DuckLakeSession(spark, wdl.catalog_path, snapshot_id=pre)
        assert 500 not in [r["id"] for r in old.table("main.w").collect()]


def test_rollback_sweeps_inlined_rows(spark, tmp_path):
    """A rolled-back inlined insert must not resurrect when the next
    snapshot reuses the deleted snapshot id (regression: rollback swept
    MVCC tables but not inlined-data rows)."""
    db = str(tmp_path / "rb.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "rblake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.r", spark.createDataFrame(
        [(1, "a")], "id INT, s STRING"))
    dl.set_option("data_inlining_row_limit", 10)
    dl.sql("BEGIN")
    dl.insert_into("main.r", spark.createDataFrame(
        [(2, "b")], "id INT, s STRING"))       # inlined
    assert sorted(r["id"] for r in dl.table("main.r").collect()) == [1, 2]
    dl.sql("ROLLBACK")
    assert sorted(r["id"] for r in dl.table("main.r").collect()) == [1]
    # next snapshot reuses the rolled-back id — the phantom must not return
    dl.insert_into("main.r", spark.createDataFrame(
        [(3, "c")], "id INT, s STRING"))
    assert sorted(r["id"] for r in dl.table("main.r").collect()) == [1, 3]


def test_cdc_sees_inlined_inserts(spark, tmp_path):
    """table_changes must surface inlined inserts — they register no
    data file, so the CDC log reads the inlined tables too."""
    db = str(tmp_path / "cdc.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "cdclake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.c", spark.createDataFrame(
        [(1, "a")], "id INT, s STRING"))
    dl.set_option("data_inlining_row_limit", 10)
    start = dl.provider.get_current_snapshot()
    dl.insert_into("main.c", spark.createDataFrame(
        [(2, "b"), (3, "c")], "id INT, s STRING"))     # inlined
    end = dl.provider.get_current_snapshot()
    ch = dl.table_changes("main.c", start, end).collect()
    assert sorted(r["id"] for r in ch) == [2, 3]
    assert all(r["change_type"] == "insert" for r in ch)
    assert all(r["snapshot_id"] == end for r in ch)
    # range excluding the inlined snapshot sees nothing
    assert dl.table_changes("main.c", end, end).collect() == []


def test_flush_is_cdc_silent_and_preserves_rowids(spark, tmp_path):
    """Upstream contract (sql/data_inlining/data_inlining_flush.test):
    a flush is pure STORAGE migration — ``table_changes`` over the flush
    window is EMPTY (like compaction), history windows still surface the
    original inlined inserts at their own snapshots, and both rowid and
    the per-row virtual snapshot_id survive the migration."""
    db = str(tmp_path / "cf.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "cflake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.f", spark.createDataFrame(
        [(1, "a")], "id INT, s STRING"))
    dl.set_option("data_inlining_row_limit", 10)
    dl.insert_into("main.f", spark.createDataFrame(
        [(2, "b")], "id INT, s STRING"))              # inlined
    ins_snap = dl.provider.get_current_snapshot()
    pre_virtual = sorted(
        (r["id"], r["rowid"], r["snapshot_id"]) for r in
        dl.table_handle("main.f").to_df(with_virtual=True)
        .select("id", "rowid", "snapshot_id").collect())
    dl.flush_inlined_data("main.f")
    post = dl.provider.get_current_snapshot()
    # the flush window is silent on both feeds
    assert dl.table_changes("main.f", ins_snap, post).collect() == []
    assert dl.table_deletions("main.f", ins_snap, post).collect() == []
    # history windows still replay the original inserts, at their
    # ORIGINAL snapshots, exactly once
    ch = dl.table_changes("main.f", 0, post).collect()
    assert sorted(r["id"] for r in ch) == [1, 2]
    assert all(r["change_type"] == "insert" for r in ch)
    assert {r["id"]: r["snapshot_id"] for r in ch}[2] == ins_snap
    assert dl.table_deletions("main.f", 0, post).collect() == []
    # rowid AND per-row snapshot_id survive the storage migration
    post_virtual = sorted(
        (r["id"], r["rowid"], r["snapshot_id"]) for r in
        dl.table_handle("main.f").to_df(with_virtual=True)
        .select("id", "rowid", "snapshot_id").collect())
    assert post_virtual == pre_virtual


def test_sql_call_flush(spark, tmp_path):
    db = str(tmp_path / "sf.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "sflake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.s", spark.createDataFrame([(1,)], "id INT"))
    dl.set_option("data_inlining_row_limit", 10)
    dl.insert_into("main.s", spark.createDataFrame([(2,)], "id INT"))
    out = dl.sql("CALL ducklake_flush_inlined_data('main.s')").collect()
    assert out[0]["count"] == 1
    assert dl.table_handle("main.s").inlined_rows() == []
    assert sorted(r["id"] for r in dl.table("main.s").collect()) == [1, 2]


def test_cdc_over_inlined_rows_after_add_column(spark, tmp_path):
    """Inlined rows written before an ADD COLUMN lack the new column in
    their inlined table: the change feed reads it as NULL on both the
    insert and the delete side, like the table read does."""
    db = str(tmp_path / "ac.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "aclake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.c", spark.createDataFrame(
        [(1, "a")], "id INT, s STRING"))
    dl.set_option("data_inlining_row_limit", 10)
    start = dl.provider.get_current_snapshot()
    dl.insert_into("main.c", spark.createDataFrame(
        [(2, "b"), (3, "c")], "id INT, s STRING"))     # inlined
    ins = dl.provider.get_current_snapshot()
    dl.sql("ALTER TABLE c ADD COLUMN x INTEGER")
    alter = dl.provider.get_current_snapshot()
    for hi in (ins, alter):
        ch = dl.table_changes("main.c", start, hi).collect()
        assert sorted((r.id, r.s, r.change_type, r.snapshot_id)
                      for r in ch) == [(2, "b", "insert", ins),
                                       (3, "c", "insert", ins)]
    assert [r.x for r in dl.table_changes("main.c", start, alter)
            .collect()] == [None, None]
    dl.sql("DELETE FROM c WHERE id = 2")
    end = dl.provider.get_current_snapshot()
    ch = dl.table_changes("main.c", alter, end).collect()
    assert [(r.id, r.s, r.x, r.change_type, r.snapshot_id) for r in ch] == \
        [(2, "b", None, "delete", end)]
