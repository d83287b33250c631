"""One commit per write: every write stages its files first and then
commits the snapshot, its column versions, the end of replaced files and
every registration in one catalog transaction. A write that fails or
conflicts leaves no snapshot and no rows behind, and a snapshot never
changes after a reader could pin it."""

from __future__ import annotations

import glob
import os
import sqlite3

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from datafusion_ducklake_spark import table_writer
from datafusion_ducklake_spark.catalog import DuckLakeSession
from datafusion_ducklake_spark.errors import (InvalidConfig,
                                              TransactionConflict)
from datafusion_ducklake_spark.metadata.writer import CatalogWriter
from datafusion_ducklake_spark.operators import dml


@pytest.fixture()
def db(tmp_path):
    path = str(tmp_path / "cat.sqlite")
    w = CatalogWriter.sqlite(path)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    return path


def _ids(dl, name="main.t"):
    return sorted(r["id"] for r in dl.table(name).collect())


def _count(db, sql):
    con = sqlite3.connect(db)
    try:
        return con.execute(sql).fetchone()[0]
    finally:
        con.close()


def test_failed_overwrite_keeps_every_row(spark, db):
    """An INSERT OVERWRITE whose staging job raises changes nothing: the
    replaced files end only in the commit, which never runs."""
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.t", spark.range(10).selectExpr("id"))
    head = dl.provider.get_current_snapshot()
    bad = spark.range(3).select(
        F.when(F.col("id") == 2, F.raise_error(F.lit("staging fails")))
        .otherwise(F.col("id")).alias("id"))
    with pytest.raises(Exception, match="staging fails"):
        dl.insert_into("main.t", bad, overwrite=True)
    dl.refresh()
    assert dl.provider.get_current_snapshot() == head
    assert _ids(dl) == list(range(10))


def test_snapshot_is_unchanged_once_a_reader_can_pin_it(spark, db,
                                                        monkeypatch):
    """A reader that pins the head while an append is staging sees the
    old head, and that snapshot reads the same rows after the commit."""
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.t", spark.range(10).selectExpr("id"))
    head = dl.provider.get_current_snapshot()
    seen = {}
    finalize = table_writer._finalize_local

    def pin_during_staging(*a, **kw):
        out = finalize(*a, **kw)
        reader = DuckLakeSession(spark, db)
        seen["snapshot"] = reader.provider.get_current_snapshot()
        seen["rows"] = reader.table("main.t").count()
        return out

    monkeypatch.setattr(table_writer, "_finalize_local", pin_during_staging)
    dl.insert_into("main.t", spark.range(10, 15).selectExpr("id"))
    assert seen == {"snapshot": head, "rows": 10}
    pinned = DuckLakeSession(spark, db, snapshot_id=seen["snapshot"])
    assert pinned.table("main.t").count() == 10
    dl.refresh()
    assert _ids(dl) == list(range(15))


def test_conflicting_delete_commits_nothing(spark, db, monkeypatch):
    """A DELETE across two files, racing a concurrent DELETE on the
    second, raises TransactionConflict and leaves neither its delete
    file on the first file nor a snapshot of its own."""
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.t", spark.range(5).selectExpr("id"))
    dl.insert_into("main.t", spark.range(5, 10).selectExpr("id"))
    other = DuckLakeSession(spark, db)
    write = dml._write_delete_parquets
    raced = []

    def race(*a, **kw):
        out = write(*a, **kw)
        if not raced:
            raced.append(None)
            other.delete_from("main.t", "id = 9")
            raced[0] = other.provider.get_current_snapshot()
        return out

    monkeypatch.setattr(dml, "_write_delete_parquets", race)
    with pytest.raises(TransactionConflict):
        dl.delete_from("main.t", "id IN (0, 5)")
    dl.refresh()
    assert dl.provider.get_current_snapshot() == raced[0]
    assert _ids(dl) == [i for i in range(10) if i != 9]
    assert _count(db, "SELECT count(*) FROM ducklake_delete_file") == 1


def test_failure_after_staging_leaves_only_orphans(spark, db, tmp_path,
                                                  monkeypatch):
    """A write that fails once its files are staged leaves them
    unregistered and the catalog as it was; delete_orphaned_files
    reclaims exactly those files."""
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.t", spark.range(10).selectExpr("id"))
    head = dl.provider.get_current_snapshot()
    before = set(glob.glob(f"{tmp_path}/lake/**/*.parquet", recursive=True))

    def refuse(self, *a, **kw):
        raise RuntimeError("registration fails")

    with monkeypatch.context() as m:
        m.setattr(CatalogWriter, "register_data_file", refuse)
        with pytest.raises(RuntimeError, match="registration fails"):
            dl.insert_into("main.t", spark.range(10, 15).selectExpr("id"))
    dl.refresh()
    assert dl.provider.get_current_snapshot() == head
    assert _ids(dl) == list(range(10))
    staged = set(glob.glob(f"{tmp_path}/lake/**/*.parquet",
                           recursive=True)) - before
    assert len(staged) == 1
    reclaimed = dl.delete_orphaned_files(cleanup_all=True)
    assert {os.path.realpath(p) for p in reclaimed} == \
        {os.path.realpath(p) for p in staged}
    assert not any(os.path.exists(p) for p in staged)
    assert _ids(dl) == list(range(10))


def test_write_whose_column_ids_change_while_staging_is_refused(
        spark, db, monkeypatch):
    """An append that adds a column stages its files with the planned
    field id. A concurrent CREATE TABLE takes that id first, so the
    commit would allocate another one: it raises TransactionConflict and
    commits nothing; a retry succeeds."""
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.t", spark.range(3).selectExpr("id"))
    head = dl.provider.get_current_snapshot()
    other = DuckLakeSession(spark, db)
    finalize = table_writer._finalize_local
    raced = []

    def create_during_staging(*a, **kw):
        out = finalize(*a, **kw)
        if not raced:
            raced.append(True)
            other.create_empty_table("main.u", "a INTEGER, b INTEGER")
        return out

    monkeypatch.setattr(table_writer, "_finalize_local",
                        create_during_staging)
    wider = spark.range(3, 5).selectExpr(
        "id", "CAST(NULLIF(id, -1) AS INT) AS extra")
    with pytest.raises(TransactionConflict):
        dl.insert_into("main.t", wider)
    dl.refresh()
    assert dl.provider.get_current_snapshot() == head + 1
    assert dl.table("main.t").columns == ["id"]
    assert _ids(dl) == [0, 1, 2]
    dl.insert_into("main.t", wider)
    assert _ids(dl) == [0, 1, 2, 3, 4]
    assert [r["extra"] for r in dl.table("main.t").orderBy("id")
            .collect()] == [None, None, None, 3, 4]


def test_appends_with_unchanged_schema_add_no_column_rows(spark, db):
    """Column rows are versioned only when the columns change: appends
    with the table's schema (nested fields included) write none."""
    dl = DuckLakeSession(spark, db)
    df = spark.createDataFrame(
        [(1, "a", (1, "x"))], "id BIGINT, s STRING, st STRUCT<k: INT, v: STRING>")
    dl.create_table("main.t", df)
    rows = _count(db, "SELECT count(*) FROM ducklake_column")
    for _ in range(3):
        dl.insert_into("main.t", df)
    assert _count(db, "SELECT count(*) FROM ducklake_column") == rows
    assert dl.table("main.t").count() == 4
    # a changed schema still versions the columns
    dl.insert_into("main.t", df.withColumn("extra", F.lit(None).cast("int")))
    assert _count(db, "SELECT count(*) FROM ducklake_column "
                      "WHERE end_snapshot IS NULL") == rows + 1


def test_explicit_null_after_add_column_default_survives_later_appends(
        spark, db):
    """A column's begin_snapshot stays the ALTER that added it, so rows
    appended after the ALTER keep their own values; only rows older than
    the column read its initial default. Re-versioning the column at
    every append moved begin_snapshot forward and filled a later
    append's explicit NULL with the default."""
    dl = DuckLakeSession(spark, db)
    dl.sql("CREATE TABLE t (id INTEGER)")
    dl.sql("INSERT INTO t VALUES (1)")
    dl.sql("ALTER TABLE t ADD COLUMN c INTEGER DEFAULT 5")
    dl.sql("INSERT INTO t VALUES (2, NULL)")
    dl.sql("INSERT INTO t VALUES (3, 7)")
    assert sorted(tuple(r) for r in dl.sql("SELECT id, c FROM t")
                  .collect()) == [(1, 5), (2, None), (3, 7)]


def test_add_files_with_a_bad_file_adds_nothing(spark, db, tmp_path):
    """add_files validates every file before it touches the catalog: a
    file missing a column refuses the whole call, including the good
    files before it."""
    dl = DuckLakeSession(spark, db)
    dl.create_empty_table("main.t", "a INTEGER, b INTEGER")
    head = dl.provider.get_current_snapshot()
    good, bad = str(tmp_path / "good.parquet"), str(tmp_path / "bad.parquet")
    pq.write_table(pa.table({"a": pa.array(range(5), pa.int32()),
                             "b": pa.array(range(5), pa.int32())}), good)
    pq.write_table(pa.table({"a": pa.array(range(3), pa.int32())}), bad)
    with pytest.raises(InvalidConfig, match="not found in file"):
        dl.add_files("main.t", [good, bad])
    dl.refresh()
    assert dl.provider.get_current_snapshot() == head
    assert dl.table("main.t").count() == 0
    assert _count(db, "SELECT count(*) FROM ducklake_data_file") == 0


def test_failed_drop_table_keeps_the_table(spark, db, monkeypatch):
    """DROP TABLE ends the table and clears its clustering replicas in
    one catalog transaction: when the second step fails the table is
    still live with its rows."""
    dl = DuckLakeSession(spark, db)
    dl.sql("CREATE TABLE t (id INT)")
    dl.sql("INSERT INTO t VALUES (1), (2)")

    def boom(*args, **kwargs):
        raise sqlite3.OperationalError("disk I/O error")

    monkeypatch.setattr(CatalogWriter, "set_option", boom)
    with pytest.raises(sqlite3.OperationalError, match="disk I/O"):
        dl.sql("DROP TABLE t")
    monkeypatch.undo()
    dl.refresh()
    assert _ids(dl) == [1, 2]
