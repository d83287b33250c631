"""Old-catalog migration reads (corpus: sql/migration/): a catalog
written by an earlier DuckLake version — no view/macro/tag/partition/
inlined tables, no default-value columns on ducklake_column — must read
unchanged. The catalog's shape says what it lacks: an absent table
reads empty and an absent column reads NULL, without a failing
statement."""

from __future__ import annotations

import os
import sqlite3
import uuid

import pytest

from datafusion_ducklake_spark.catalog import DuckLakeSession
from datafusion_ducklake_spark.metadata.writer import CatalogWriter

_V01_DDL = """
CREATE TABLE ducklake_metadata (key VARCHAR NOT NULL, value VARCHAR NOT NULL);
CREATE TABLE ducklake_snapshot (
    snapshot_id INTEGER PRIMARY KEY,
    snapshot_time TIMESTAMP DEFAULT CURRENT_TIMESTAMP);
CREATE TABLE ducklake_schema (
    schema_id INTEGER PRIMARY KEY, schema_name VARCHAR NOT NULL,
    path VARCHAR NOT NULL DEFAULT '', path_is_relative BOOLEAN NOT NULL DEFAULT 1,
    begin_snapshot INTEGER NOT NULL, end_snapshot INTEGER);
CREATE TABLE ducklake_table (
    table_id INTEGER PRIMARY KEY, schema_id INTEGER NOT NULL,
    table_name VARCHAR NOT NULL, path VARCHAR NOT NULL DEFAULT '',
    path_is_relative BOOLEAN NOT NULL DEFAULT 1,
    begin_snapshot INTEGER NOT NULL, end_snapshot INTEGER);
CREATE TABLE ducklake_column (
    column_id INTEGER NOT NULL, table_id INTEGER NOT NULL,
    column_name VARCHAR NOT NULL, column_type VARCHAR NOT NULL,
    column_order INTEGER NOT NULL, nulls_allowed BOOLEAN DEFAULT 1,
    parent_column INTEGER,
    begin_snapshot INTEGER NOT NULL, end_snapshot INTEGER);
CREATE TABLE ducklake_data_file (
    data_file_id INTEGER PRIMARY KEY, table_id INTEGER NOT NULL,
    path VARCHAR NOT NULL, path_is_relative BOOLEAN NOT NULL DEFAULT 1,
    file_size_bytes INTEGER NOT NULL, footer_size INTEGER,
    encryption_key VARCHAR, record_count INTEGER, row_id_start INTEGER,
    mapping_id INTEGER, begin_snapshot INTEGER NOT NULL, end_snapshot INTEGER);
CREATE TABLE ducklake_delete_file (
    delete_file_id INTEGER PRIMARY KEY, data_file_id INTEGER NOT NULL,
    table_id INTEGER NOT NULL, path VARCHAR NOT NULL,
    path_is_relative BOOLEAN NOT NULL DEFAULT 1,
    file_size_bytes INTEGER NOT NULL, footer_size INTEGER,
    encryption_key VARCHAR, delete_count INTEGER,
    begin_snapshot INTEGER NOT NULL, end_snapshot INTEGER);
"""


@pytest.fixture()
def old_catalog(tmp_path):
    """Minimal v0.1-era catalog: NO ducklake_view / _macro / _tag /
    _partition_info / _inlined_data_tables / _file_column_stats tables and
    NO initial_default/default_value columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "oldlake")
    os.makedirs(os.path.join(root, "main", "t"))
    db = str(tmp_path / "old.sqlite")
    con = sqlite3.connect(db)
    con.executescript(_V01_DDL)
    con.execute("INSERT INTO ducklake_metadata VALUES ('data_path', ?)",
                (root,))
    con.execute("INSERT INTO ducklake_snapshot (snapshot_id) VALUES (1)")
    con.execute(
        "INSERT INTO ducklake_schema (schema_id, schema_name, path, "
        "path_is_relative, begin_snapshot) VALUES (1, 'main', 'main', 1, 1)")
    con.execute(
        "INSERT INTO ducklake_table (table_id, schema_id, table_name, path, "
        "path_is_relative, begin_snapshot) VALUES (1, 1, 't', 't', 1, 1)")
    for cid, cname, ctype, order in ((1, "id", "int32", 0),
                                     (2, "s", "varchar", 1)):
        con.execute(
            "INSERT INTO ducklake_column (column_id, table_id, column_name, "
            "column_type, column_order, begin_snapshot) "
            "VALUES (?, 1, ?, ?, ?, 1)", (cid, cname, ctype, order))
    fname = f"ducklake-{uuid.uuid4()}.parquet"
    fpath = os.path.join(root, "main", "t", fname)
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int32()),
                             "s": pa.array(["a", "b", "c"])}), fpath)
    con.execute(
        "INSERT INTO ducklake_data_file (data_file_id, table_id, path, "
        "path_is_relative, file_size_bytes, record_count, row_id_start, "
        "begin_snapshot) VALUES (1, 1, ?, 1, ?, 3, 0, 1)",
        (fname, os.path.getsize(fpath)))
    con.commit()
    con.close()
    return db


def test_old_catalog_reads(spark, old_catalog):
    dl = DuckLakeSession(spark, old_catalog)
    rows = sorted((r["id"], r["s"]) for r in dl.table("main.t").collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c")]


def test_old_catalog_sql_and_views(spark, old_catalog):
    dl = DuckLakeSession(spark, old_catalog)
    assert dl.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 3


def test_old_catalog_feature_fallbacks(spark, old_catalog):
    dl = DuckLakeSession(spark, old_catalog)
    handle = dl.table_handle("main.t")
    assert handle.inlined_tables == []                  # no registry table
    assert dl.provider.list_macros(1) == []             # no macro tables
    assert dl.provider.get_partition_columns(1, 1) == []
    assert dl.provider.get_tag(1, "comment", 1) is None
    assert handle.prune_files([("id", ">=", 0)])        # stats-less: keep
    cols = handle.columns
    assert all(c.initial_default is None for c in cols)  # legacy col query


def test_old_catalog_rowid_and_virtual(spark, old_catalog):
    dl = DuckLakeSession(spark, old_catalog)
    got = {r["id"]: r["rowid"]
           for r in dl.table("main.t", with_rowid=True).collect()}
    assert got == {1: 0, 2: 1, 3: 2}
    v = dl.table("main.t", with_virtual=True).collect()
    assert {r["snapshot_id"] for r in v} == {1}


def test_old_catalog_issues_no_failing_statement(spark, old_catalog):
    dl = DuckLakeSession(spark, old_catalog)
    dl.sql("SELECT count(*) FROM t").collect()
    log = []
    fetch = dl.provider._fetchall

    def spy(query, params=()):
        try:
            rows = fetch(query, params)
        except Exception as e:
            log.append((query, e))
            raise
        log.append((query, None))
        return rows

    dl.provider._fetchall = spy
    dl.refresh()
    assert dl.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 3
    assert log and [q for q, e in log if e is not None] == []


def test_old_catalog_shape_grows_under_a_live_session(spark, old_catalog):
    """Session B's CREATE VIEW creates ducklake_view; session A, open
    since before, sees the view after its refresh."""
    a = DuckLakeSession(spark, old_catalog)
    b = DuckLakeSession(spark, old_catalog)
    assert a.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 3
    assert a.provider.list_views(1, a.catalog.snapshot_id) == []
    b.sql("CREATE VIEW v AS SELECT id FROM t WHERE id > 1")
    a.refresh()
    assert a.sql("SELECT count(*) AS n FROM v").collect()[0]["n"] == 2



def test_old_catalog_partition_spec_creates_its_tables(spark, old_catalog):
    dl = DuckLakeSession(spark, old_catalog)
    dl.sql("ALTER TABLE t SET PARTITIONED BY (s)")
    assert dl.provider.get_partition_columns(1, dl.catalog.snapshot_id)


def test_old_catalog_comment_creates_the_tag_table(spark, old_catalog):
    dl = DuckLakeSession(spark, old_catalog)
    dl.sql("COMMENT ON TABLE t IS 'old'")
    dl.sql("COMMENT ON COLUMN t.id IS 'key'")
    assert dl.table_comment("main.t") == "old"
    assert dl.column_comment("main.t", "id") == "key"


def test_old_catalog_inlined_rows_create_the_registry(spark, old_catalog):
    w = CatalogWriter.sqlite(old_catalog)
    try:
        with w._txn():
            sid = w.create_snapshot(["inserted_into_table:1"])
            w.insert_inlined_rows(1, sid, ["id", "s"], ["int32", "varchar"],
                                  [(4, "d")])
    finally:
        w.close()
    dl = DuckLakeSession(spark, old_catalog)
    assert len(dl.table_handle("main.t").inlined_rows()) == 1
    assert sorted(r["id"] for r in dl.table("main.t").collect()) == \
        [1, 2, 3, 4]
