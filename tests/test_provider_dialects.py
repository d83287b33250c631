"""Dialect-conformance tests for the Postgres/MySQL providers' SQL shim.

The real drivers aren't in this container (the reference ships full impls
plus ~20-test conformance suites per backend,
tests/sqlite_metadata_provider_test.rs family); what IS testable offline
is the shared-SQL + param-rewrite layer: a fake DB-API driver captures
every statement the provider emits, asserts the qmark→%s rewrite is
total and literal-safe, and executes the rewritten SQL against a real
SQLite fixture (after reverse-mapping placeholders) so every provider
method's results are pinned equal to SqliteMetadataProvider's.
"""

from __future__ import annotations

import re
import sqlite3
import sys
import types

import pytest

from datafusion_ducklake_spark.metadata import sql as Q
from datafusion_ducklake_spark.metadata.provider import (
    PostgresMetadataProvider, SqliteMetadataProvider)
from tests.ducklake_fixtures import build_users_fixture

QUERY_CONSTANTS = {
    name: getattr(Q, name) for name in dir(Q)
    if name.isupper() and isinstance(getattr(Q, name), str)
}


class _FakeCursor:
    def __init__(self, conn, log):
        self._conn = conn
        self._log = log
        self._rows = []

    def execute(self, sql, params=()):
        self._log.append((sql, tuple(params)))
        assert "?" not in sql, f"unrewritten qmark placeholder in: {sql}"
        assert sql.count("%s") == len(params), \
            f"placeholder/param mismatch: {sql.count('%s')} vs {len(params)}"
        if sql == Q.CATALOG_SHAPE["postgres"]:
            # the backing store is SQLite: answer the dialect's shape
            # probe with SQLite's own
            sql = Q.CATALOG_SHAPE["sqlite"]
        self._rows = self._conn.execute(
            sql.replace("%s", "?"), params).fetchall()

    def fetchall(self):
        return self._rows

    def close(self):
        pass

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False


class _FakeConn:
    def __init__(self, db_path, log):
        self._conn = sqlite3.connect(db_path, check_same_thread=False)
        self._log = log

    def cursor(self):
        return _FakeCursor(self._conn, self._log)

    def close(self):
        self._conn.close()


@pytest.fixture()
def fake_psycopg(monkeypatch, tmp_path):
    fx = build_users_fixture(str(tmp_path))
    log: list[tuple[str, tuple]] = []
    mod = types.ModuleType("psycopg")
    mod.connect = lambda dsn: _FakeConn(fx["db_path"], log)
    monkeypatch.setitem(sys.modules, "psycopg", mod)
    return fx, log


def test_all_query_constants_rewrite_cleanly():
    """The 15+ shared query constants contain no literal '?' (so the
    naive qmark→%s rewrite is semantics-preserving) and no %-sequences
    that %s-style paramstyles would misparse."""
    assert len(QUERY_CONSTANTS) >= 15
    for name, sql in QUERY_CONSTANTS.items():
        # no '?' inside string literals — every ? is a parameter
        literals = re.findall(r"'(?:[^']|'')*'", sql)
        for lit in literals:
            assert "?" not in lit, f"{name}: qmark inside literal"
        assert "%" not in sql.replace("%s", ""), \
            f"{name}: stray % would break %-style paramstyle"


def test_postgres_provider_matches_sqlite_results(fake_psycopg):
    fx, log = fake_psycopg
    pg = PostgresMetadataProvider("postgresql://fake/dl")
    lite = SqliteMetadataProvider(fx["db_path"])
    snap = lite.get_current_snapshot()

    assert pg.get_current_snapshot() == snap
    assert pg.list_snapshots() == lite.list_snapshots()
    assert pg.list_schemas(snap) == lite.list_schemas(snap)
    schema = lite.get_schema_by_name("main", snap)
    assert pg.get_schema_by_name("main", snap) == schema
    assert pg.list_tables(schema.schema_id, snap) == \
        lite.list_tables(schema.schema_id, snap)
    table = lite.get_table_by_name(schema.schema_id, "users", snap)
    assert pg.get_table_by_name(schema.schema_id, "users", snap) == table
    assert pg.table_exists(schema.schema_id, "users", snap) is True
    assert pg.table_exists(schema.schema_id, "ghost", snap) is False
    assert pg.get_table_columns(table.table_id, snap) == \
        lite.get_table_columns(table.table_id, snap)
    assert pg.get_data_files(table.table_id, snap) == \
        lite.get_data_files(table.table_id, snap)
    assert pg.get_data_path() == lite.get_data_path()
    assert pg.get_data_files_added_between(table.table_id, 0, snap) == \
        lite.get_data_files_added_between(table.table_id, 0, snap)
    assert pg.get_delete_files_added_between(table.table_id, 0, snap) == \
        lite.get_delete_files_added_between(table.table_id, 0, snap)
    assert pg.list_all_tables(snap) == lite.list_all_tables(snap)
    assert pg.list_all_columns(snap) == lite.list_all_columns(snap)
    assert pg.list_all_files(snap) == lite.list_all_files(snap)
    # round-4 addition: nested struct-field defaults read path
    assert pg.get_nested_field_defaults(table.table_id, snap) == \
        lite.get_nested_field_defaults(table.table_id, snap)

    assert len(log) >= 15  # every method actually went through the shim
