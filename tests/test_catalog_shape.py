"""The catalog's shape decides every generation question once.

A catalog table or column that the shape lacks reads empty (or NULL);
any other catalog error is a fault and propagates — it never reads as
"this catalog has no views / no partitions / no name mappings"."""

from __future__ import annotations

import re
import sqlite3

import pytest

from datafusion_ducklake_spark.catalog import DuckLakeSession
from datafusion_ducklake_spark.metadata.writer import CatalogWriter


@pytest.fixture()
def dl(spark, tmp_path):
    db = str(tmp_path / "cat.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    return DuckLakeSession(spark, db)


_OPTIONAL = re.compile(r"ducklake_(view|partition_info|name_mapping)\b")


def _lock_optional_tables(provider) -> None:
    """Make every query on the view, partition and name-mapping tables
    fail the way a locked SQLite catalog does."""
    fetch = provider._fetchall

    def locked(query, params=()):
        if _OPTIONAL.search(query):
            raise sqlite3.OperationalError("database is locked")
        return fetch(query, params)

    provider._fetchall = locked


def test_a_fault_in_an_optional_table_propagates(dl, spark):
    dl.sql("CREATE TABLE t (id INT, s STRING)")
    dl.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    dl.sql("CREATE VIEW v AS SELECT id FROM t")
    assert dl.sql("SELECT count(*) AS n FROM v").collect()[0]["n"] == 2
    dl.refresh()
    snap = dl.catalog.snapshot_id
    schema = dl.provider.get_schema_by_name("main", snap)
    table = dl.provider.get_table_by_name(schema.schema_id, "t", snap)
    _lock_optional_tables(dl.provider)
    with pytest.raises(sqlite3.OperationalError, match="locked"):
        dl.provider.list_views(schema.schema_id, snap)
    with pytest.raises(sqlite3.OperationalError, match="locked"):
        dl.provider.get_partition_columns(table.table_id, snap)
    with pytest.raises(sqlite3.OperationalError, match="locked"):
        dl.provider.get_name_mappings(table.table_id)
    # a session that has not bound the view yet
    other = DuckLakeSession(spark, dl.catalog_path)
    _lock_optional_tables(other.provider)
    with pytest.raises(sqlite3.OperationalError, match="locked"):
        other.sql("SELECT count(*) FROM v").collect()


class _Recording:
    """A connection that records each statement and whether it raised."""

    def __init__(self, conn):
        self._conn, self.log = conn, []

    def execute(self, sql, params=()):
        try:
            out = self._conn.execute(sql, params)
        except Exception as e:
            self.log.append((sql, e))
            raise
        self.log.append((sql, None))
        return out

    def close(self):
        self._conn.close()


def test_set_snapshot_audit_issues_no_failing_statement(tmp_path):
    db = str(tmp_path / "cat.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    sid = w.create_snapshot()
    w._conn = rec = _Recording(w._conn)
    w.set_snapshot_audit(sid, "ann", "first")
    w.close()
    assert rec.log and [s for s, e in rec.log if e is not None] == []
    assert not any("ALTER" in s for s, _e in rec.log)
    con = sqlite3.connect(db)
    assert con.execute(
        "SELECT author, commit_message FROM ducklake_snapshot "
        "WHERE snapshot_id = ?", (sid,)).fetchall() == [("ann", "first")]
    con.close()


def test_current_catalog_reads_its_shape_once(dl, spark):
    """Every table and column the reads ask for is there, so refreshes
    never re-read the shape."""
    dl.sql("CREATE TABLE t (id INT)")
    dl.sql("INSERT INTO t VALUES (1)")
    seen = []
    fetch = dl.provider._fetchall

    def spy(query, params=()):
        seen.append(query)
        return fetch(query, params)

    dl.provider._fetchall = spy
    for _ in range(3):
        dl.refresh()
        dl.sql("SELECT count(*) FROM t").collect()
        dl.snapshots().collect()
    assert not any("sqlite_master" in q for q in seen)


def test_writer_starts_from_the_providers_shape(dl, spark, monkeypatch):
    """The provider's present answers never go stale, so a statement's
    catalog writer takes them instead of probing the shape again."""
    from datafusion_ducklake_spark import table_writer
    dl.sql("CREATE TABLE t (id INT)")
    dl.sql("INSERT INTO t VALUES (1)")
    probes = []
    raw = table_writer._catalog_writer_raw

    def spy(session):
        w = raw(session)
        probe = w._shape._probe
        w._shape._probe = lambda: probes.append(1) or probe()
        return w

    monkeypatch.setattr(table_writer, "_catalog_writer_raw", spy)
    dl.sql("INSERT INTO t VALUES (2)")
    assert probes == []
    assert dl.sql("SELECT count(*) FROM t").collect()[0][0] == 2
