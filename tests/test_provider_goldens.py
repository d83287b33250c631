"""Recorded-wire conformance goldens for the Postgres/MySQL providers.

The reference ships live-server conformance suites per backend
(tests/sqlite_metadata_provider_test.rs:482-832 family ×3); no server or
driver exists in this container, so the strongest offline pin is the
exact WIRE TRAFFIC: for a canonical sequence covering every catalog read
method, the (method, sql, params) triples each backend emits are
recorded against committed golden files. Any drift in SQL text,
placeholder style, or parameter order fails here — making a live server
a connection-string change, not a code change.

Regenerate after an intentional SQL change with:
    REGEN_WIRE_GOLDENS=1 python -m pytest tests/test_provider_goldens.py
"""

from __future__ import annotations

import os
import re
import sys
import types
from pathlib import Path

import pytest

from datafusion_ducklake_spark.metadata import sql as Q
from tests.ducklake_fixtures import build_users_fixture

GOLDEN_DIR = Path(__file__).parent / "goldens"


class _RecordingCursor:
    def __init__(self, conn, log, method_ref, style):
        self._conn, self._log = conn, log
        self._method_ref, self._style = method_ref, style
        self._rows = []

    def execute(self, sql, params=()):
        assert "?" not in sql, f"unrewritten qmark placeholder in: {sql}"
        assert sql.count(self._style) == len(params), \
            f"placeholder/param mismatch in: {sql}"
        self._log.append((self._method_ref[0], sql, tuple(params)))
        if sql in (Q.CATALOG_SHAPE["postgres"], Q.CATALOG_SHAPE["mysql"]):
            # the backing store is SQLite: answer the dialect's shape
            # probe with SQLite's own
            sql = Q.CATALOG_SHAPE["sqlite"]
        self._rows = self._conn.execute(
            sql.replace(self._style, "?"), params).fetchall()

    def fetchall(self):
        return self._rows

    def close(self):
        pass

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False


class _RecordingConn:
    def __init__(self, db_path, log, method_ref, style):
        import sqlite3
        self._db = sqlite3.connect(db_path)
        self._log, self._method_ref, self._style = log, method_ref, style

    def execute(self, sql, params):
        return self._db.execute(sql, params)

    def cursor(self):
        return _RecordingCursor(self, self._log, self._method_ref,
                                self._style)

    def close(self):
        self._db.close()


def _install_fake_driver(monkeypatch, name, db_path, log, method_ref):
    mod = types.ModuleType(name)
    mod.connect = lambda *a, **kw: _RecordingConn(db_path, log, method_ref,
                                                  "%s")
    if name == "mysql.connector":
        pkg = types.ModuleType("mysql")
        pkg.connector = mod
        monkeypatch.setitem(sys.modules, "mysql", pkg)
    monkeypatch.setitem(sys.modules, name, mod)


def _canonical_sequence(provider, method_ref):
    """Every catalog read method, fixed argument order — the golden's
    line order IS the parameter-order assertion."""
    calls = [
        ("get_current_snapshot", lambda p: p.get_current_snapshot()),
        ("list_snapshots", lambda p: p.list_snapshots()),
        ("list_schemas", lambda p: p.list_schemas(2)),
        ("get_schema_by_name", lambda p: p.get_schema_by_name("main", 2)),
        ("list_tables", lambda p: p.list_tables(0, 2)),
        ("get_table_by_name", lambda p: p.get_table_by_name(0, "users", 2)),
        ("table_exists", lambda p: p.table_exists(0, "users", 2)),
        ("get_table_columns", lambda p: p.get_table_columns(1, 2)),
        ("get_data_files", lambda p: p.get_data_files(1, 2)),
        ("get_data_path", lambda p: p.get_data_path()),
        ("get_option", lambda p: p.get_option("data_inlining_row_limit")),
        ("get_scoped_option",
         lambda p: p.get_scoped_option("auto_compact", 0, 1)),
        ("get_data_files_added_between",
         lambda p: p.get_data_files_added_between(1, 0, 2)),
        ("get_delete_files_added_between",
         lambda p: p.get_delete_files_added_between(1, 0, 2)),
        ("list_all_tables", lambda p: p.list_all_tables(2)),
        ("list_all_columns", lambda p: p.list_all_columns(2)),
        ("list_all_files", lambda p: p.list_all_files(2)),
        ("get_nested_field_defaults",
         lambda p: p.get_nested_field_defaults(1, 2)),
        ("snapshot_exists", lambda p: p.snapshot_exists(1)),
        ("get_inlined_tables", lambda p: p.get_inlined_tables(1)),
    ]
    for name, fn in calls:
        method_ref[0] = name
        try:
            fn(provider)
        except Exception:
            # method availability varies by fixture content, never by
            # backend: the golden records whatever wire traffic happened
            pass


def _render(log):
    out = []
    for method, sql, params in log:
        flat = re.sub(r"\s+", " ", sql).strip()
        out.append(f"{method} | {flat} | params={params!r}")
    return "\n".join(out) + "\n"


def _check_golden(name, text):
    GOLDEN_DIR.mkdir(exist_ok=True)
    path = GOLDEN_DIR / name
    if os.environ.get("REGEN_WIRE_GOLDENS") == "1" or not path.exists():
        path.write_text(text)
        if os.environ.get("REGEN_WIRE_GOLDENS") != "1" and not path.exists():
            pytest.fail(f"golden {name} was missing — wrote it; re-run")
        return
    assert text == path.read_text(), (
        f"wire traffic drifted from {path} — if the SQL change is "
        f"intentional, regenerate with REGEN_WIRE_GOLDENS=1")


@pytest.fixture()
def fixture_db(tmp_path):
    return build_users_fixture(tmp_path)["db_path"]


def test_postgres_wire_golden(monkeypatch, fixture_db):
    from datafusion_ducklake_spark.metadata.provider import \
        PostgresMetadataProvider
    log, method_ref = [], [""]
    _install_fake_driver(monkeypatch, "psycopg", fixture_db, log, method_ref)
    pg = PostgresMetadataProvider("postgresql://fake/dl")
    _canonical_sequence(pg, method_ref)
    assert len(log) >= 18
    _check_golden("postgres_wire.golden", _render(log))


def test_mysql_wire_golden(monkeypatch, fixture_db):
    from datafusion_ducklake_spark.metadata.provider import \
        MySqlMetadataProvider
    log, method_ref = [], [""]
    _install_fake_driver(monkeypatch, "mysql.connector", fixture_db, log,
                         method_ref)
    my = MySqlMetadataProvider(host="fake", database="dl")
    _canonical_sequence(my, method_ref)
    assert len(log) >= 18
    _check_golden("mysql_wire.golden", _render(log))


def test_backends_emit_identical_logical_queries(monkeypatch, fixture_db):
    """Postgres and MySQL must send the SAME SQL text (both use %s): a
    divergence means a backend-specific fork crept into the shared shim.
    The one deliberate fork is the catalog-shape probe, scoped to each
    backend's own schema (sql.CATALOG_SHAPE): each sends exactly its own
    probe, at the same point of the sequence."""
    from datafusion_ducklake_spark.metadata.provider import (
        MySqlMetadataProvider, PostgresMetadataProvider)
    log_pg, ref_pg = [], [""]
    _install_fake_driver(monkeypatch, "psycopg", fixture_db, log_pg, ref_pg)
    _canonical_sequence(PostgresMetadataProvider("postgresql://f/d"), ref_pg)
    log_my, ref_my = [], [""]
    _install_fake_driver(monkeypatch, "mysql.connector", fixture_db, log_my,
                         ref_my)
    _canonical_sequence(MySqlMetadataProvider(host="f", database="d"), ref_my)

    def probes(log, dialect):
        return [m for m, sql, _p in log if sql == Q.CATALOG_SHAPE[dialect]]

    def unified(log, dialect):
        return [(m, "<shape probe>" if sql == Q.CATALOG_SHAPE[dialect]
                 else sql, p) for m, sql, p in log]

    assert probes(log_pg, "postgres") == probes(log_my, "mysql") == \
        ["list_snapshots"]
    assert _render(unified(log_pg, "postgres")) == \
        _render(unified(log_my, "mysql"))
